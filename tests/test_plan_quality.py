"""Plan-quality regressions: the things .explain() must keep showing.

These guard the 100 TB story: column pruning reaching the scan, no
shuffle on the extraction hot path, broadcast on the small join side.
"""

import os

from pyspark.sql import functions as F

from readabilityimproved_spark.operators.extract import extract_spans
from readabilityimproved_spark.operators.similarity import (
    ann_bucketed_topk,
    ann_multiprobe_topk,
    cosine_topk,
)
from readabilityimproved_spark.sources.synth import synth_corpus_df

_ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_extraction_path_has_no_shuffle(spark, tmp_path):
    path = str(tmp_path / "c")
    synth_corpus_df(spark, 20, 2).write.parquet(path)
    out = extract_spans(spark.read.parquet(path))
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_wave_write_has_one_part_exchange(spark, tmp_path, monkeypatch):
    """A wave's extracted write shuffles once, hashing rows by ``part``
    onto the writer tasks; the scan -> kernel path before it has no
    exchange."""
    from pyspark.sql.readwriter import DataFrameWriter

    from readabilityimproved_spark.plans.pipeline import run_extraction
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 20, corpus)
    plans = []
    orig = DataFrameWriter.parquet

    def capturing(self, path, *a, **kw):
        if path.rstrip("/").endswith("/extracted"):
            plans.append(plan_of(self._df))
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", capturing)
    run_extraction(spark, corpus, str(tmp_path / "out"), waves=2, resume=False)
    assert len(plans) == 2
    for plan in plans:
        assert plan.count("Exchange (") == 1, plan
        assert "hashpartitioning(part#" in plan, plan
        assert "MapInPandas" in plan, plan


def test_flagship_scan_prunes_columns(spark):
    import importlib.util, sys

    spec = importlib.util.spec_from_file_location("spark_entry_pq", _ENTRY)
    m = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_pq"] = m
    spec.loader.exec_module(m)
    df = m.queries()["extract_article_spans"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # only doc_id and text may reach the parquet scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    # r07: exactly ONE exchange is allowed — the round-robin _spread of
    # the single-file scan (input skew, guide §2.5); anything keyed
    # (hash/range) would mean an accidental shuffle crept in
    assert plan.count("Exchange (") <= 1, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    if "Exchange (" in plan:
        assert "RoundRobinPartitioning" in plan, plan


def test_similarity_broadcasts_queries(spark):
    """Each top-k operator broadcasts its query side, and its only
    shuffle is the per-query top-k."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for operator in (cosine_topk, ann_bucketed_topk, ann_multiprobe_topk):
        out = operator(emb, k=3, num_queries=5)
        plan = plan_of(out)
        assert "BroadcastExchange" in plan or "Broadcast" in plan
        executed = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in executed, (operator.__name__, executed)
        assert executed.count("Exchange hashpartitioning") == 1, (
            operator.__name__, executed,
        )
        assert "Exchange hashpartitioning(query_id#" in executed, executed


def test_incremental_dedup_plan_shape(spark, tmp_path):
    """Cross-crawl dedup: the history join is a LEFT ANTI on the
    fingerprint (never a cartesian), and text does not travel through
    it -- only (id, fingerprint) columns reach the join."""
    from readabilityimproved_spark.operators.dedup import (
        build_fingerprint_index,
        dedup_against_index,
    )

    idx = str(tmp_path / "fpq")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    build_fingerprint_index(docs, idx, num_files=2)
    plan = plan_of(dedup_against_index(spark, docs, idx))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    # the anti-join input projects only id + fingerprint (text stays
    # behind until the final semi-join back to full rows)
    assert "LeftSemi" in plan, plan


def test_corpus_stats_partial_aggregation(spark):
    """The per-source profile partial-aggregates map-side: one final
    exchange on the (tiny) group key, scan pruned to the 3 used cols."""
    from readabilityimproved_spark.operators.curation import corpus_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = corpus_stats(docs)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("Exchange hashpartitioning") == 1, tree
    plan = plan_of(df)
    assert "partial_" in plan, plan  # map-side combine before the exchange
    assert "ReadSchema: struct<text:string,source:string,n_chars:bigint>" in plan, plan


def test_aqe_splits_skewed_join(spark):
    """The AQE config actually handles skew at runtime: a
    97%-one-key join replans to SortMergeJoin(skew=true) in the final
    adaptive plan (the north rule's 'AQE shuffle tuning' made
    observable). Thresholds are lowered (and restored) on the SHARED
    session so local-mode data volumes trip the skew detector — never
    build_session + stop() here: stopping a session kills the shared
    SparkContext for the rest of the suite."""
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 97, F.lit(0))
            .otherwise(F.col("id") % 64)
            .alias("k"),
            F.concat(F.lit("x" * 60), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 64).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
