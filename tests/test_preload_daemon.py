"""The worker fork server (plans/preload_daemon.py) must be wired,
harmless, and fork workers that import the installed pyspark.

The custom daemon module fronts ``pyspark.daemon``: it drops Spark's own
archives (pyspark.zip, the py4j zip, the jars) from ``sys.path`` when the
installed pyspark and py4j match them, then preloads pandas/pyarrow/the
kernel so every forked worker inherits them. These tests pin the wiring
and the path, not the timing:

  * importing the module preloads the heavy modules and still exposes
    the stock ``manager`` entry point (so ``python -m`` behaves exactly
    like ``python -m pyspark.daemon``);
  * ``build_session`` requests the module and makes the package
    importable for the launched daemon (PYTHONPATH);
  * a real mapInPandas job runs correctly through the daemon (the
    shared-session fixture already uses build_session), its tasks import
    pyspark from outside any archive and hold no zipimporter under
    SPARK_HOME, and a user zip from ``addPyFile`` still imports;
  * on a version mismatch or with no installed copy, the path is kept.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile


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


def _task_report(spark, fn, schema):
    """One row per task of a 4-task mapInPandas job running ``fn()``."""
    import pandas as pd

    def probe(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([fn()])

    return spark.range(4, numPartitions=4).mapInPandas(probe, schema).collect()


def test_tasks_import_installed_pyspark_not_spark_archives(spark):
    """Every task's ``importlib.invalidate_caches()`` re-reads each cached
    zipimporter's archive on CPython 3.11: the workers must hold none for
    Spark's own archives and run the installed (byte-compiled) pyspark."""
    import pyspark

    def worker_imports():
        import sys
        import zipimport

        import pyspark

        home = os.path.realpath(os.environ.get("SPARK_HOME") or "/nonexistent")
        zipped = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.realpath(k).startswith(home + os.sep)
        ]
        return {"pyspark_file": pyspark.__file__, "spark_zipimporters": len(zipped)}

    rows = _task_report(
        spark, worker_imports, "pyspark_file string, spark_zipimporters int"
    )
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r["pyspark_file"], r["pyspark_file"]
        assert r["pyspark_file"] == pyspark.__file__
        assert r["spark_zipimporters"] == 0


def _fake_spark(tmp_path, zip_version, py4j_zip_version, installed):
    """A SPARK_HOME with pyspark.zip, a py4j zip and a jar, plus a site
    dir holding ``installed`` = {package: version}; returns
    (spark_home, path as the JVM would hand it to the daemon)."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    jars = home / "jars"
    lib.mkdir(parents=True)
    jars.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j_zip = lib / f"py4j-{py4j_zip_version}-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(jars / "spark-core.jar", "w") as z:
        z.writestr("org/x.class", "")
    site = tmp_path / "site"
    for package, version in installed.items():
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("")
        (site / package / "version.py").write_text(f"__version__ = '{version}'\n")
    path = ["", str(lib / "pyspark.zip"), str(py4j_zip),
            str(jars / "spark-core.jar"), str(tmp_path / "repo"), str(site)]
    return str(home), path


def test_archive_choice_keeps_path_on_mismatch_or_no_installed_copy(tmp_path):
    from readabilityimproved_spark.plans.preload_daemon import _archives_to_drop

    both = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}
    cases = {
        "match": ("4.1.2", "0.10.9.9", both),
        "pyspark_mismatch": ("4.1.1", "0.10.9.9", both),
        "py4j_mismatch": ("4.1.2", "0.10.9.7", both),
        "no_installed_pyspark": ("4.1.2", "0.10.9.9", {"py4j": "0.10.9.9"}),
        "no_installed_py4j": ("4.1.2", "0.10.9.9", {"pyspark": "4.1.2"}),
        "nothing_installed": ("4.1.2", "0.10.9.9", {}),
    }
    for name, (zv, pv, installed) in cases.items():
        home, path = _fake_spark(tmp_path / name, zv, pv, installed)
        drop = _archives_to_drop(list(path), home)
        assert drop == (path[1:4] if name == "match" else []), name
    assert _archives_to_drop(list(path), None) == []  # no SPARK_HOME
    # a symlinked SPARK_HOME still names the same archives (by realpath)
    home, path = _fake_spark(tmp_path / "linked", "4.1.2", "0.10.9.9", both)
    os.symlink(home, tmp_path / "spark-link")
    assert _archives_to_drop(path, str(tmp_path / "spark-link")) == path[1:4]


def test_add_py_file_zip_importable_in_tasks(spark, tmp_path):
    """User archives ride the task's spark-files dir, not the daemon's
    path: a zip shipped with addPyFile must still import in a task."""
    archive = tmp_path / "preload_user_dep.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("preload_user_dep.py", "ANSWER = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def answer():
        import preload_user_dep

        return {"answer": preload_user_dep.ANSWER,
                "origin": preload_user_dep.__file__}

    rows = _task_report(spark, answer, "answer int, origin string")
    assert [r["answer"] for r in rows] == [42] * 4
    assert all("preload_user_dep.zip" in r["origin"] for r in rows)
