"""Command-line entry point: ``synth``, ``extract`` and ``stream``.

    python -m readabilityimproved_spark.cli synth   --n 100000 --out /data/corpus
    python -m readabilityimproved_spark.cli extract --input /data/corpus --output /data/out

Under spark-submit, ship the package with ``--py-files`` and submit
``tools/submit_job.py``, which runs the extraction job. This module uses
relative imports, so it cannot be the job file itself:

    spark-submit --py-files engine.zip tools/submit_job.py /data/corpus /data/out

The extraction job resumes from the lineage table by default; pass
--no-resume to reprocess everything.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="readabilityimproved-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth", help="write a deterministic synth corpus")
    p_synth.add_argument("--n", type=int, required=True)
    p_synth.add_argument("--out", required=True)

    p_ex = sub.add_parser("extract", help="run the checkpointed extraction job")
    p_ex.add_argument("--input", required=True)
    p_ex.add_argument("--output", required=True)
    p_ex.add_argument("--parts", type=int, default=64)
    p_ex.add_argument("--waves", type=int, default=4)
    p_ex.add_argument("--parallelism", type=int, default=None)
    p_ex.add_argument("--no-resume", action="store_true")

    p_st = sub.add_parser("stream", help="run the streaming extraction")
    p_st.add_argument("--input", required=True)
    p_st.add_argument("--output", required=True)
    p_st.add_argument("--checkpoint", required=True)

    args = parser.parse_args(argv)

    from .plans.session import build_session

    spark = build_session(app_name=f"readability-{args.cmd}")
    try:
        if args.cmd == "synth":
            from .sources.synth import write_synth_corpus

            write_synth_corpus(spark, args.n, args.out)
            print(json.dumps({"written": args.n, "path": args.out}))
        elif args.cmd == "extract":
            from .plans.pipeline import run_extraction

            stats = run_extraction(
                spark,
                args.input,
                args.output,
                num_parts=args.parts,
                waves=args.waves,
                parallelism=args.parallelism,
                resume=not args.no_resume,
            )
            print(json.dumps(stats))
        elif args.cmd == "stream":
            from .streaming.stream import streaming_extraction

            q = streaming_extraction(
                spark, args.input, args.output, args.checkpoint, available_now=True
            )
            q.awaitTermination()
            print(json.dumps({"streamed": True, "output": args.output}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
