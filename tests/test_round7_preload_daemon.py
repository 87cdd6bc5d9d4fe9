"""Round-7: the worker fork-server preload must be wired and harmless.

The custom daemon module (plans/preload_daemon.py) fronts
``pyspark.daemon`` so every forked worker inherits pandas/pyarrow/the
kernel via copy-on-write instead of importing them per worker on the
cold first task wave. These tests pin the wiring, not the timing:

  * importing the module preloads the heavy modules and still exposes
    the stock ``manager`` entry point (so ``python -m`` behaves exactly
    like ``python -m pyspark.daemon``);
  * ``build_session`` requests the module and makes the package
    importable for the launched daemon (PYTHONPATH);
  * a real mapInPandas job runs correctly through the preloaded daemon
    (the shared-session fixture already uses build_session).
"""

from __future__ import annotations

import importlib
import os
import sys


def test_preload_daemon_imports_and_delegates():
    mod = importlib.import_module(
        "readabilityimproved_spark.plans.preload_daemon"
    )
    # the heavy modules are resident after import ...
    for name in ("pandas", "pyarrow", "numpy",
                 "pyspark.sql.pandas.serializers",
                 "readabilityimproved_spark.kernel.readability"):
        assert name in sys.modules, name
    # ... and the stock daemon entry point is what would run
    from pyspark.daemon import manager

    assert mod.manager is manager


def test_build_session_requests_preload_daemon(spark):
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "readabilityimproved_spark.plans.preload_daemon"
    )
    # the daemon is launched with `python -m`, so the package parent dir
    # must be on the PYTHONPATH the JVM hands down
    import readabilityimproved_spark

    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(readabilityimproved_spark.__file__))
    )
    assert pkg_root in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_mapinpandas_runs_through_preloaded_daemon(spark):
    df = spark.range(64, numPartitions=8)

    def double(batches):
        for pdf in batches:
            pdf["id"] = pdf["id"] * 2
            yield pdf

    got = sorted(
        r["id"] for r in df.mapInPandas(double, "id long").collect()
    )
    assert got == [2 * i for i in range(64)]


def test_preload_daemon_only_on_local_masters(monkeypatch):
    """With ``--py-files`` on a cluster the daemon module is not
    importable and every worker would die: keep the stock daemon."""
    from readabilityimproved_spark.plans.session import _enable_preload_daemon

    monkeypatch.setenv("PYTHONPATH", "")
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert not _enable_preload_daemon(master)
        assert os.environ["PYTHONPATH"] == ""  # nothing exported either
    assert _enable_preload_daemon("local[2]")
