"""Round-5 pins: pipeline metadata-job elision, lineage schema
back-compat."""

import pytest
from pyspark.sql import functions as F


def _count_distinct_calls(monkeypatch):
    # patch the CLASSIC class: pyspark.sql.DataFrame is an abstract base
    # in Spark 4 and instances override its methods, so patching the
    # base intercepts nothing
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"distinct": 0}
    orig = DataFrame.distinct

    def counting(self):
        calls["distinct"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "distinct", counting)
    return calls


def test_run_extraction_part_discovery_no_job_on_partitioned(
    spark, tmp_path, monkeypatch
):
    """On a part=N-partitioned corpus the part inventory comes from the
    wave-sizing filesystem listing -- run_extraction must not launch a
    distinct job (round-5: was one extra Spark job per run)."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 40, corpus)
    calls = _count_distinct_calls(monkeypatch)
    stats = P.run_extraction(
        spark, corpus, str(tmp_path / "out"), num_parts=8, waves=2,
        resume=False,
    )
    assert stats["docs"] == 40
    assert calls["distinct"] == 0, calls


def test_run_extraction_part_discovery_unpartitioned_layouts(
    spark, tmp_path, monkeypatch
):
    """Unpartitioned layout with a STORED part column: one bounded
    distinct discovers the inventory (values can exceed num_parts).
    No part column at all: the derived pmod range is exact, so again
    no distinct -- a full-corpus scan to rediscover 0..n-1 is the
    anti-pattern the round-4 comment wrongly claimed never happened."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    # stored part column, flat layout -> exactly one distinct
    corpus = str(tmp_path / "flat")
    write_synth_corpus(spark, 40, corpus, partition_by_part=False)
    calls = _count_distinct_calls(monkeypatch)
    stats = P.run_extraction(
        spark, corpus, str(tmp_path / "out1"), num_parts=8, waves=2,
        resume=False,
    )
    assert stats["docs"] == 40
    assert calls["distinct"] == 1, calls

    # no part column -> derived range, zero distinct jobs
    bare = str(tmp_path / "bare")
    spark.read.parquet(corpus).drop("part").write.parquet(bare)
    calls2 = _count_distinct_calls(monkeypatch)
    stats2 = P.run_extraction(
        spark, bare, str(tmp_path / "out2"), num_parts=8, waves=2,
        resume=False,
    )
    assert stats2["docs"] == 40
    assert calls2["distinct"] == 0, calls2


def test_run_extraction_rejects_null_parts_loudly(spark, tmp_path):
    """Null-part rows land on disk under part=__HIVE_DEFAULT_PARTITION__,
    which the listing-derived inventory cannot represent -- the run
    must refuse with a clear error instead of silently extracting
    nothing for those documents while reporting success."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    write_synth_corpus(spark, 30, src, partition_by_part=False)
    broken = str(tmp_path / "broken")
    (
        spark.read.parquet(src)
        .withColumn(
            "part",
            F.when(F.xxhash64("doc_id") % 7 == 0, F.lit(None)).otherwise(
                F.col("part")
            ),
        )
        .write.partitionBy("part")
        .parquet(broken)
    )
    with pytest.raises(ValueError, match="NULL part"):
        P.run_extraction(
            spark, broken, str(tmp_path / "out"), num_parts=8, waves=2,
            resume=False,
        )


def test_metrics_rollup_counts_wave_wall_once(spark, tmp_path):
    """The persisted metrics table must apply the same once-per-wave
    wall_ms discipline as job_summary -- summing the per-part repeated
    value would inflate wall_ms_sum by the parts-per-wave factor."""
    import os

    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 60, corpus)
    out = str(tmp_path / "out")
    P.run_extraction(spark, corpus, out, num_parts=16, waves=2, resume=False)
    metrics = {
        r["attempt"]: r
        for r in spark.read.parquet(os.path.join(out, "metrics")).collect()
    }
    summary = {
        r["attempt"]: r for r in P.job_summary(spark, out).collect()
    }
    assert metrics.keys() == summary.keys()
    for attempt, mrow in metrics.items():
        assert mrow["wall_ms_sum"] == summary[attempt]["wall_ms_sum"]
        assert mrow["docs"] == summary[attempt]["docs"]


def test_job_summary_tolerates_pre_wave_lineage(spark, tmp_path):
    """A pre-round-4 lineage (no wave column) mixed with new-schema
    rows must not break job_summary: schemas merge and old rows land
    in wave -1 (parquet infers from ONE footer without mergeSchema)."""
    import os

    from readabilityimproved_spark.plans.pipeline import job_summary

    lineage = str(tmp_path / "run" / "lineage")
    # legacy attempt with THREE waves (wall 800/900/700, repeated per
    # part row of each wave): all land in wave -1, but wall_ms must
    # still sum per wave, not max() across the attempt
    old = spark.createDataFrame(
        [
            (0, 10, 50, 5, 0, "ok", 111, 800),
            (1, 4, 20, 2, 0, "ok", 111, 800),
            (2, 6, 30, 3, 0, "ok", 111, 900),
            (3, 8, 40, 4, 0, "ok", 111, 700),
        ],
        "part int, doc_count bigint, span_count bigint, image_count bigint,"
        " error_count bigint, status string, attempt int, wall_ms int",
    )
    old.write.mode("append").parquet(lineage)
    new = spark.createDataFrame(
        [(1, 20, 90, 9, 1, "ok", 222, 0, 900)],
        "part int, doc_count bigint, span_count bigint, image_count bigint,"
        " error_count bigint, status string, attempt int, wave int,"
        " wall_ms int",
    )
    new.write.mode("append").parquet(lineage)
    rows = {r["attempt"]: r for r in job_summary(
        spark, str(tmp_path / "run"), num_parts=4
    ).collect()}
    assert rows[111]["docs"] == 28 and rows[222]["docs"] == 20
    # 800 + 900 + 700, NOT max(800, 900, 700)
    assert rows[111]["wall_ms_sum"] == 2400
    assert rows[111]["waves"] == 3
