"""The session policy of ``plans/session.py``: every entry point builds
its session there, scan splits are packed by bytes under its defaults,
and under ``spark-submit`` it keeps the launcher's master."""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import subprocess

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from readabilityimproved_spark.plans.session import OPEN_COST_BYTES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_only_build_session_builds_sessions():
    """No module of the package or of ``tools/`` builds its own session."""
    builders = []
    for top in ("readabilityimproved_spark", "tools"):
        for path in glob.glob(os.path.join(REPO, top, "**", "*.py"),
                              recursive=True):
            with open(path) as f:
                if "SparkSession.builder" in f.read():
                    builders.append(os.path.relpath(path, REPO))
    assert builders == [os.path.join("readabilityimproved_spark", "plans",
                                     "session.py")]


def _write_corpus(root: str) -> None:
    """64 one-row files, shaped like the perfbench ``extract`` corpus: 54
    small pages of ~12 KB and 10 planted giants of 40-112 KB. Bodies are
    random bytes written uncompressed, so a file's size is its body's."""
    rng = random.Random(16)
    sizes = [12_000] * 54 + [40_000 + 8_000 * i for i in range(10)]
    os.makedirs(root)
    for i, n in enumerate(sizes):
        table = pa.table({
            "giant": [n >= 40_000],
            "body": pa.array([rng.randbytes(n)], pa.binary()),
        })
        pq.write_table(table, os.path.join(root, f"f{i:02d}.parquet"),
                       compression="none")


def test_scan_splits_pack_giants_by_bytes(spark, tmp_path):
    """Under the 4 MB Spark default every file costs the same, so the
    first of the 4 splits takes the 16 largest files: all 10 giants and
    58% of the bytes. Byte packing must spread them."""
    corpus = str(tmp_path / "corpus")
    _write_corpus(corpus)
    splits = (
        spark.read.parquet(corpus)
        .select("giant", "_metadata.file_size")
        .groupBy(F.spark_partition_id().alias("split"))
        .agg(
            F.sum("file_size").alias("bytes"),
            F.sum(F.col("giant").cast("int")).alias("giants"),
        )
        .collect()
    )
    total = sum(r.bytes for r in splits)
    shares = sorted((r.bytes / total for r in splits), reverse=True)
    assert shares[0] <= 0.4, shares
    assert sum(r.giants for r in splits) == 10
    assert sum(1 for r in splits if r.giants) >= 2, splits


_PROBE = """
import json
from readabilityimproved_spark.plans.session import build_session
spark = build_session(app_name="submit-probe")
conf = spark.sparkContext.getConf()
print(json.dumps({
    "master": spark.sparkContext.master,
    "open_cost": spark.conf.get("spark.sql.files.openCostInBytes"),
    "daemon": conf.get("spark.python.daemon.module", None),
}))
spark.stop()
"""


def test_spark_submit_keeps_launcher_master(tmp_path):
    """Under ``spark-submit --master local[2]`` the session runs on
    ``local[2]`` (not ``local[$SPARK_GRAFT_CPUS]``) with the engine's
    byte-packing open cost in force and the stock Python daemon."""
    submit = shutil.which("spark-submit")
    assert submit, "spark-submit not on PATH"
    job = tmp_path / "probe.py"
    job.write_text(_PROBE)
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="3")
    proc = subprocess.run(
        [submit, "--master", "local[2]", str(job)],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {
        "master": "local[2]",
        "open_cost": str(OPEN_COST_BYTES),
        "daemon": None,
    }
