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


def test_clusters_pre_contract_identical_labels(spark):
    """The per-partition union-find contraction is a pure plan
    optimization: labels (including cluster_id = global component min)
    must be identical with and without it, across random graphs and
    partitionings."""
    import random

    from readabilityimproved_spark.operators.graph import neardup_clusters

    rng = random.Random(5150)
    edges = set()
    for _ in range(150):
        a, b = rng.sample(range(300), 2)
        edges.add((min(a, b), max(a, b)))
    edges |= {(i, i + 1) for i in range(200, 260)}  # a long chain
    edges |= {(7, t) for t in range(270, 281)}      # a star
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    for layout in (df, df.repartition(11), df.coalesce(1)):
        on = {tuple(r) for r in neardup_clusters(layout).collect()}
        off = {
            tuple(r)
            for r in neardup_clusters(layout, pre_contract=False).collect()
        }
        assert on == off


def test_clusters_pre_contract_cuts_rounds_on_colocated_chains(spark, monkeypatch):
    """The point of the star contraction: when a component's edges are
    co-located (as bucketed pair generators emit them), intra-partition
    diameter collapses to 1 and the iteration needs strictly fewer
    rounds. Count convergence actions (one per round) both ways over a
    long chain packed into one partition."""
    from pyspark.sql.classic.dataframe import DataFrame

    from readabilityimproved_spark.operators.graph import neardup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "id_a long, id_b long"
    ).coalesce(1)

    def rounds_for(**kw):
        calls = {"collect": 0}
        orig = DataFrame.collect

        def counting(self):
            calls["collect"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "collect", counting)
        try:
            res = neardup_clusters(chain, **kw)
            labels = {tuple(r) for r in orig(res)}
        finally:
            monkeypatch.setattr(DataFrame, "collect", orig)
        assert labels == {(i, 0) for i in range(601)}
        return calls["collect"]

    contracted, raw = rounds_for(), rounds_for(pre_contract=False)
    # diameter 600: raw needs ~log2(600) pointer-jump rounds; the
    # contracted star converges in ~2
    assert contracted <= 3 < raw


def test_contract_local_plan_is_shuffle_free(spark):
    """The star contraction must ride the pair generator's existing
    partitioning: exactly one MapInPandas, zero exchanges."""
    from readabilityimproved_spark.operators.graph import _contract_local

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    plan = (
        _contract_local(pairs, "id_a", "id_b")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") == 0, plan


def test_clusters_pre_contract_selfpair_and_id_typing(spark):
    """Degenerate self-pairs keep their node in the output (the star
    emits a (root, root) edge), and non-numeric ids fail FAST with
    hashing guidance -- the label-sum convergence invariant is only
    exact for numbers, so a string id must not reach the iteration."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    pairs = spark.createDataFrame(
        [(9, 9), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    got = {tuple(r) for r in neardup_clusters(pairs).collect()}
    assert got == {(9, 9), (2, 2), (3, 2), (4, 2)}

    strings = spark.createDataFrame(
        [("a", "b")], "id_a string, id_b string"
    )
    with pytest.raises(TypeError, match="xxhash64"):
        neardup_clusters(strings)

    # fractional ids are rejected too: the decimal(38,0) convergence
    # sums would ROUND them, letting distinct label sets compare equal
    # and return a silently wrong closure
    doubles = spark.createDataFrame(
        [(1.45, 1.4), (1.4, 0.6)], "id_a double, id_b double"
    )
    with pytest.raises(TypeError, match="integral"):
        neardup_clusters(doubles)


def test_clusters_survive_hashed_near_max_ids(spark):
    """The numeric-id guidance says 'xxhash64 your string ids' -- such
    ids sit near +/-2^63, and a bigint convergence sum overflows after
    a handful of rows (ANSI mode, on by default, turns that into a
    mid-job error). The decimal(38,0) sums must keep hashed id spaces
    working."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    big = 2 ** 62
    pairs = spark.createDataFrame(
        [(big + 1, big + 2), (big + 2, big + 3), (-big - 5, -big - 4)],
        "id_a long, id_b long",
    )
    got = {tuple(r) for r in neardup_clusters(pairs).collect()}
    assert got == {
        (big + 1, big + 1), (big + 2, big + 1), (big + 3, big + 1),
        (-big - 5, -big - 5), (-big - 4, -big - 5),
    }


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


def test_clusters_checkpoint_interval_validated_and_dir_cleared(
    spark, tmp_path
):
    """The retired reliable-checkpoint options (checkpoint_dir,
    checkpoint_interval, contract_node_cap) fail fast on the driver
    instead of being silently ignored, and when no checkpoint dir was
    set before the call, a durable run leaves the session with none
    afterwards (not permanently pointed at a caller-owned directory)."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    for retired in (
        dict(checkpoint_interval=0),
        dict(checkpoint_dir=str(tmp_path / "ck")),
        dict(contract_node_cap=4),
    ):
        with pytest.raises(TypeError, match=next(iter(retired))):
            neardup_clusters(pairs, **retired)
    assert not (tmp_path / "ck").exists()

    spark.sparkContext._jsc.sc().setCheckpointDir(None)
    got = {
        tuple(r)
        for r in neardup_clusters(
            pairs, state_dir=str(tmp_path / "state")
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def test_clusters_incremental_matches_full_recompute(spark):
    """Folding new pairs into an existing clustering via the label
    edges must equal re-clustering old + new pairs from scratch --
    including a new pair that BRIDGES two old components."""
    from readabilityimproved_spark.operators.graph import (
        neardup_clusters,
        neardup_clusters_incremental,
    )

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    prev = neardup_clusters(old_pairs)
    # new crawl: extends a component, bridges 3~10, adds a fresh one
    new_pairs = spark.createDataFrame(
        [(3, 4), (3, 10), (30, 31)], "id_a long, id_b long"
    )
    inc = {
        tuple(r)
        for r in neardup_clusters_incremental(prev, new_pairs).collect()
    }
    full = {
        tuple(r)
        for r in neardup_clusters(old_pairs.unionByName(new_pairs)).collect()
    }
    assert inc == full
    assert (10, 1) in inc and (11, 1) in inc  # bridge merged components


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
