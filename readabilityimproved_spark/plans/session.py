"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched Python UDF transfer,
AQE with skew handling for the relational shell (lineage joins, metrics
rollups), and conservative Arrow batch sizes so giant documents cannot
blow the Python worker (SURVEY.md §7 "per-doc recursion depth / giant
docs").

On a real cluster these same configs apply unchanged; only
``master``/executor sizing differs (spark-submit --py-files, see
README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: docs per Arrow batch; small enough that a batch of giant documents
#: stays well under worker memory at ~1 MB/doc.
ARROW_BATCH_SIZE = 256


def _enable_preload_daemon(master: str) -> bool:
    """Make the worker fork-server preload importable, then opt in.

    Local masters only: on a cluster the package ships with
    ``--py-files``, which is not on the path the daemon is started
    with, so ``python -m`` of the preload module would fail and take
    every Python worker down with it.

    The daemon process (``spark.python.daemon.module``) is what every
    Python worker forks from. plans/preload_daemon.py first drops
    Spark's own archives (pyspark.zip, the py4j zip, the jars) from its
    ``sys.path`` when the installed pyspark/py4j match them, then imports
    pandas + the Arrow serializers + this package's kernel there ONCE so
    all workers inherit them copy-on-write. Measured on 4 cores: the
    daemon's imports take ~1 s instead of ~2 s (no compiling pyspark
    from the zip), and each Python task skips ~0.24 s of
    ``importlib.invalidate_caches()`` re-reading those archives; the
    extract benchmark's ``setup_s`` fell from 2.36 to 1.11 s (medians,
    10 pairs). The preload alone (before the path fix) measured no gain
    in setup or first-job time, but keeps worker RSS ~16% lower than a
    stock ``pyspark.daemon`` fork (ROADMAP item 3). The daemon is
    launched with ``python -m``, so the package parent directory must be on the
    PYTHONPATH the JVM passes down — ensured here from ``__file__``
    before the JVM starts. Best-effort: if the path cannot be resolved
    the stock ``pyspark.daemon`` is kept.
    """
    if not master.startswith("local"):
        return False
    try:
        pkg_root = os.path.dirname(  # .../repo (parent of the package)
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        if not os.path.isdir(
            os.path.join(pkg_root, "readabilityimproved_spark", "plans")
        ):
            return False
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + existing if existing else "")
            )
        return True
    except Exception:  # pragma: no cover - never block session creation
        return False


def build_session(
    app_name: str = "readability-extract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE)
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if _enable_preload_daemon(master):
        builder = builder.config(
            "spark.python.daemon.module",
            "readabilityimproved_spark.plans.preload_daemon",
        )
        # second belt for `python -m` resolution: the os.environ change
        # above only reaches a JVM launched AFTER it — if some earlier
        # code started the JVM first, the worker factory still merges
        # executorEnv.PYTHONPATH into the daemon's environment
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
