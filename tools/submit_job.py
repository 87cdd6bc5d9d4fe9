"""spark-submit entry point for the extraction pipeline.

The north-rule deployment shape: the engine ships as a zip via
``--py-files`` and this script is the job file (from the repo root) —

    zip -qr /tmp/engine.zip readabilityimproved_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        tools/submit_job.py <input_parquet> <output_dir> [num_parts]

On a real cluster swap the master for YARN/K8s; nothing else changes
(the package is pure Python, no native deps). The session comes from
``build_session()``, so the job runs under the engine's settings (Arrow
batches, AQE, byte-packed scan splits) while the master and driver
memory stay the launcher's. Prints one JSON line of run stats; exit
code 0 iff the job completed.
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    input_path, output_dir = sys.argv[1], sys.argv[2]
    num_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from readabilityimproved_spark.plans.pipeline import run_extraction
    from readabilityimproved_spark.plans.session import build_session

    spark = build_session(app_name="readability-extraction")
    stats = run_extraction(
        spark, input_path, output_dir, num_parts=num_parts, resume=True
    )
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
