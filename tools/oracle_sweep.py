"""Driver-faithful oracle sweep: run every `queries()` entry on Spark
and its `oracle_sql()` twin on DuckDB over the same parquet tables,
then compare row count, sorted column names, and sorted values —
the same three gates the round driver records in CORRECTNESS_r{N}.json.

Usage:
    python tools/oracle_sweep.py [SF_DIR] [--only name1,name2] [--cpus N]
                                 [--conf key=value ...]

Defaults to /root/testdata/sf0.01 (the driver's correctness scale).
The Spark side runs on a ``build_session()`` session; each ``--conf``
overrides one setting of it, e.g. ``--conf
spark.sql.files.openCostInBytes=4194304`` checks the queries under
Spark's default split layout. Exits non-zero if any query mismatches or
errors.
"""

from __future__ import annotations

import argparse
import importlib.util
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _canon(v):
    """Canonicalize a cell the way a value-hash compare would: floats
    rounded, Decimals to float, timestamps to ISO, arrays recursed."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _rows_sorted(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return out


def _conf_pair(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    ap.add_argument("--conf", action="append", default=[], type=_conf_pair,
                    metavar="KEY=VALUE")
    args = ap.parse_args()

    import duckdb

    from readabilityimproved_spark.plans.session import build_session

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    qs = m.queries()
    oracles = m.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    names = [n for n in qs if not only or n in only]

    spark = build_session(
        app_name="oracle-sweep",
        master=f"local[{args.cpus}]",
        shuffle_partitions=32,
        extra_conf={
            "spark.sql.session.timeZone": "UTC",
            "spark.driver.memory": "12g",
            **dict(args.conf),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    bad = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
            sql = oracles.get(name)
            if sql is None:
                print(f"{name}: ROWS-ONLY rows={len(s_rows)} "
                      f"({time.time()-t0:.1f}s)")
                continue
            cur = con.execute(sql)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
            ok_rows = len(s_rows) == len(d_rows)
            ok_schema = sorted(s_cols) == sorted(d_cols)
            ok_vals = (
                ok_rows
                and ok_schema
                and _rows_sorted(s_cols, s_rows)
                == _rows_sorted(d_cols, d_rows)
            )
            status = "MATCH" if (ok_rows and ok_schema and ok_vals) else (
                "MISMATCH"
            )
            print(
                f"{name}: {status} rows={len(s_rows)}/{len(d_rows)} "
                f"schema={'ok' if ok_schema else (s_cols, d_cols)} "
                f"({time.time()-t0:.1f}s)"
            )
            if status != "MATCH":
                bad.append(name)
                if ok_rows and ok_schema:
                    a = _rows_sorted(s_cols, s_rows)
                    b = _rows_sorted(d_cols, d_rows)
                    diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    for x, y in diffs:
                        print(f"  spark={x}\n  duck ={y}")
        except Exception as e:  # noqa: BLE001 — report-and-continue sweep
            bad.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}")
        sys.stdout.flush()

    spark.stop()
    print(f"\n{len(names) - len(bad)}/{len(names)} OK"
          + (f", failing: {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
