"""Fork server for PySpark workers on local masters.

``spark.python.daemon.module`` points here instead of ``pyspark.daemon``.
The daemon process is the fork server every Python worker is forked
from, so what happens HERE is inherited by all workers. It does two
things before handing over to the stock ``pyspark.daemon.manager``:

1. **Import pyspark from the installed package, not from Spark's
   archives.** The JVM starts the daemon with ``SPARK_HOME``'s
   ``python/lib/pyspark.zip``, the py4j source zip and the spark-core jar
   at the front of ``sys.path``. The zip holds no ``.pyc``, so the daemon
   compiles pyspark from source (about 2 s for the worker's imports,
   against about 1 s from the installed package). Worse, every task's
   ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()``, and on CPython 3.11 each cached
   ``zipimporter`` (16 of them: pyspark.zip and its sub-packages, the
   jar, the py4j zip) re-reads its archive's central directory then:
   0.17-0.33 s of every Python task. ``_drop_spark_archives`` removes
   those archives from ``sys.path`` and ``sys.path_importer_cache`` --
   only when the installed pyspark and py4j have the archives' versions;
   otherwise the path stays as the JVM set it. User archives
   (``--py-files``, ``addPyFile``) live in the task's spark-files dir,
   which ``setup_spark_files`` adds per task, and are never touched.
2. **Preload** pandas, pyarrow, the Arrow serializers and this package's
   kernel, so each forked worker inherits them copy-on-write instead of
   importing them lazily on its first task.

Import order matters: ``pyspark.daemon`` resolves its worker entry point
from ``sys.argv`` at module-import time, so this module mirrors being
run as ``python -m pyspark.daemon`` exactly -- same argv, same
``manager()`` call -- with the path fix and the preloads done first.
Nothing here may write to stdout: the daemon reports its port there.

The kernel preload is best-effort: if this package is not importable in
the worker interpreter (different PYTHONPATH), the daemon still starts
and workers simply pay the import lazily as before.
"""

import glob
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\b[^=]*=\s*['"]([^'"]+)['"]""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` from the ``version.py`` of the first regular
    ``package`` directory on ``path``, or None when there is none."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), encoding="utf-8") as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def _archives_to_drop(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives --
    ``{spark_home}/python/lib/pyspark.zip``, the ``py4j-*-src.zip``
    beside it and ``{spark_home}/jars/*.jar``, compared by realpath --
    provided the first pyspark and py4j package directories on the rest
    of ``path`` have the archives' versions. Otherwise, or without a
    ``spark_home``, nothing: the path stays as it is."""
    if not spark_home:
        return []
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    pyspark_zip = os.path.join(lib, "pyspark.zip")
    py4j_zips = {
        os.path.realpath(z): os.path.basename(z)[len("py4j-") : -len("-src.zip")]
        for z in glob.glob(os.path.join(lib, "py4j-*-src.zip"))
    }
    drop, keep, py4j_versions = [], [], set()
    for entry in path:
        real = os.path.realpath(entry) if entry else entry
        if real in py4j_zips:
            py4j_versions.add(py4j_zips[real])
        elif real != pyspark_zip and not (
            os.path.dirname(real) == jars and real.endswith(".jar")
        ):
            keep.append(entry)
            continue
        drop.append(entry)
    if not drop:
        return []
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            zip_version = _version(z.read("pyspark/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return []
    installed_py4j = _installed_version("py4j", keep)
    if (
        zip_version is None
        or _installed_version("pyspark", keep) != zip_version
        or installed_py4j is None
        or any(v != installed_py4j for v in py4j_versions)
    ):
        return []
    return drop


def _drop_spark_archives() -> None:
    """Apply ``_archives_to_drop`` to this interpreter: remove the
    archives from ``sys.path`` and every importer cached for a path in
    or under them. A no-op once pyspark or py4j is imported, so modules
    already loaded never mix with the other copy."""
    if "pyspark" in sys.modules or "py4j" in sys.modules:
        return
    drop = _archives_to_drop(sys.path, os.environ.get("SPARK_HOME"))
    if not drop:
        return
    sys.path[:] = [e for e in sys.path if e not in drop]
    roots = tuple(os.path.realpath(e) for e in drop)
    for key in list(sys.path_importer_cache):
        real = os.path.realpath(key)
        if any(real == r or real.startswith(r + os.sep) for r in roots):
            del sys.path_importer_cache[key]


_drop_spark_archives()

# The heavy third-party modules every mapInPandas/pandas-UDF worker
# needs. numpy is already pulled in by ``pyspark.worker`` itself; pandas
# and the Arrow serializer chain are normally imported lazily per worker.
import numpy  # noqa: E402,F401
import pandas  # noqa: E402,F401
import pyarrow  # noqa: E402,F401
import pyspark.sql.pandas.serializers  # noqa: E402,F401
import pyspark.sql.pandas.types  # noqa: E402,F401

try:  # this package (kernel + DOM + patterns): best-effort
    from readabilityimproved_spark.kernel import (  # noqa: F401
        htmldates,
        readability,
        title,
    )
    from readabilityimproved_spark.operators import extract  # noqa: F401
except Exception:  # pragma: no cover - package not on the worker path
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
