"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched Python UDF transfer,
AQE with skew handling for the relational shell (lineage joins, metrics
rollups), and conservative Arrow batch sizes so giant documents cannot
blow the Python worker (SURVEY.md §7 "per-doc recursion depth / giant
docs").

Scan splits are packed by bytes. Extraction has no shuffle before the
kernel, so the scan's file splits are its only skew control. Spark
sorts files largest first and charges each one ``openCostInBytes`` on
top of its size when it fills a split. At Spark's 4 MB default, files
far smaller than that are packed by count: on the perfbench ``extract``
corpus of seed 1 (64 files of 2-85 KB, 4 cores), split 0 took the 16
largest files and all 10 giant documents, and that one task set the
job's wall time. ``OPEN_COST_BYTES`` (16 KB, the value ``bench.py``
already used) packs by bytes. Measured on 4 cores (1-minute load
2.4-4.0), in 10 interleaved perfbench pairs against the 4 MB default:
``extract`` ``docs_per_s`` rose from 630 to 751 (median; the change won
9 of 10 pairs), ``resume_s`` fell from 1.59 to 1.33 s and the worker's
peak RSS from 111 to 106 MB. The traced ``extract`` task skew fell from
1.34 to 1.06. In a 3-pair sweep of 4, 16, 64 and 256 KB every value
gained; 4 KB and 16 KB won all 3 pairs and cut the worker RSS, 64 KB
and 256 KB won 2 of 3 and left it near 111 MB.

Every entry point (perfbench, ``cli``, ``tools/``, the tests) builds
its session here. On a real cluster these same configs apply
unchanged; only ``master``/executor sizing differs (spark-submit
--py-files, see README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: docs per Arrow batch; small enough that a batch of giant documents
#: stays well under worker memory at ~1 MB/doc.
ARROW_BATCH_SIZE = 256

#: bytes a file is charged when scan splits are packed (Spark's
#: ``openCostInBytes``, default 4 MB); see the module docstring.
OPEN_COST_BYTES = 16384


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
    """The engine's one session policy (see the module docstring).

    ``master=None`` means ``local[$SPARK_GRAFT_CPUS]`` when this process
    launches the JVM. Under ``spark-submit`` the JVM is already running
    (it started this process and passed ``PYSPARK_GATEWAY_PORT``), so
    ``master=None`` keeps the launcher's ``--master``, the launcher's
    driver memory stands, and the preload daemon stays off.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    launched = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not launched:
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE)
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", str(OPEN_COST_BYTES))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    if not launched:
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
        )
        if _enable_preload_daemon(master):
            builder = builder.config(
                "spark.python.daemon.module",
                "readabilityimproved_spark.plans.preload_daemon",
            )
            # second belt for `python -m` resolution: the os.environ
            # change above only reaches a JVM launched AFTER it -- if some
            # earlier code started the JVM first, the worker factory
            # still merges executorEnv.PYTHONPATH into the daemon's
            # environment
            builder = builder.config(
                "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
