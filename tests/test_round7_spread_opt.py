"""Round-7: single-file scans must not serialize the DOM kernel.

``documents.parquet`` at the check scale factors is one parquet file
with one row group, so the scan's byte-range tasks are all empty except
the one covering the row-group midpoint — a mapInPandas kernel over it
runs single-threaded regardless of cores. ``_spread`` round-robin
repartitions ONLY when the scan has fewer input files than cores
(guide §2.5 input skew); with many input files it must be a no-op so a
production-scale corpus is never shuffled.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_ENTRY = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location("entry_spread_test", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["entry_spread_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_spread_repartitions_single_file_scan(spark, entry, tmp_path):
    one = str(tmp_path / "one")
    spark.range(500).selectExpr(
        "id as doc_id", "repeat('x', 50) as text"
    ).coalesce(1).write.parquet(one)
    df = spark.read.parquet(one)
    assert len(df.inputFiles()) == 1
    spread = entry._spread(df, spark)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    # rows unchanged (the whole point: placement only)
    assert sorted(r["doc_id"] for r in spread.collect()) == list(range(500))


def test_spread_counts_files_without_listing_them(
    spark, entry, tmp_path, monkeypatch
):
    """The guard counts input files on the JVM side: ``DataFrame.inputFiles``
    would ship every file name through py4j into a Python list just to
    take its length."""
    one = str(tmp_path / "one")
    spark.range(50).selectExpr("id as doc_id").coalesce(1).write.parquet(one)
    df = spark.read.parquet(one)

    def no_listing(self):
        raise AssertionError("inputFiles() listed every file name")

    monkeypatch.setattr(type(df), "inputFiles", no_listing)
    spread = entry._spread(df, spark)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()


def test_spread_noop_for_many_files(spark, entry, tmp_path):
    many = str(tmp_path / "many")
    n_files = spark.sparkContext.defaultParallelism
    spark.range(500).selectExpr("id as doc_id").repartition(
        n_files
    ).write.parquet(many)
    df = spark.read.parquet(many)
    assert len(df.inputFiles()) >= n_files
    spread = entry._spread(df, spark)
    assert spread is df  # no shuffle injected at scale


def test_spread_noop_for_in_memory_frame(spark, entry):
    """No input files means an unknown layout, not a small one: an
    in-memory DataFrame is returned as is, with no shuffle."""
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    assert df.inputFiles() == []
    spread = entry._spread(df, spark)
    assert spread is df
    assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()


def test_shaped_docs_rows_unchanged_by_spread(spark, entry):
    sf = "/root/testdata/sf0.001"
    shaped = entry._shaped_docs(spark, sf)
    raw = entry._docs(spark, sf)
    assert shaped.count() == raw.count()
    got = {r["doc_id"] for r in shaped.select("doc_id").collect()}
    want = {str(r["doc_id"]) for r in raw.select("doc_id").collect()}
    assert got == want
