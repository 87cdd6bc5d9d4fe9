"""Round-6 pins: bounded-memory star contraction, loud metrics-rollup
failures, and the ADVICE r5 hardening items (legacy-lineage metrics
rollup, id-column validation). The state_dir pins live in
test_graph.py."""

import logging
import os

import pytest


# ---------------------------------------------------------------------------
# bounded-memory contraction (_star_batches node cap)
# ---------------------------------------------------------------------------

def test_star_batches_flushes_at_node_cap():
    """The union-find dict must never exceed the node cap (a skewed
    pair file that lands one giant family in one partition used to grow
    it without bound), and the flushed partial stars must still stitch
    into the same single component."""
    import pandas as pd

    from readabilityimproved_spark.operators.graph import _star_batches

    chain = pd.DataFrame(
        {"a": list(range(0, 30)), "b": list(range(1, 31))}
    )
    stats = {}
    outs = list(_star_batches(iter([chain]), "a", "b", 6, stats=stats))
    assert stats["peak_nodes"] <= 6
    assert len(outs) > 1  # the cap actually forced mid-batch flushes

    # python-side union-find over the emitted stars: one component,
    # rooted at the global min
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for pdf in outs:
        for a, b in zip(pdf["a"], pdf["b"]):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    assert set(parent) == set(range(31))
    assert {find(n) for n in parent} == {0}

    with pytest.raises(ValueError, match="max_nodes"):
        list(_star_batches(iter([chain]), "a", "b", 1))


def test_clusters_identical_labels_under_tiny_contract_cap(spark, monkeypatch):
    """Flushing partial stars is a pure memory bound: labels through
    neardup_clusters must be identical with an absurdly small cap, a
    production-size cap, and contraction off."""
    import random

    from readabilityimproved_spark.operators import graph as G
    from readabilityimproved_spark.operators.graph import neardup_clusters

    rng = random.Random(606)
    edges = {(i, i + 1) for i in range(80)}  # chain
    edges |= {(5, t) for t in range(100, 120)}  # star
    for _ in range(60):
        a, b = rng.sample(range(200), 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    for layout in (df.coalesce(1), df.repartition(7)):
        with monkeypatch.context() as m:
            m.setattr(G, "_CONTRACT_NODE_CAP", 4)
            tiny = {tuple(r) for r in neardup_clusters(layout).collect()}
        off = {
            tuple(r)
            for r in neardup_clusters(layout, pre_contract=False).collect()
        }
        assert tiny == off


def test_clusters_missing_id_column_raises_value_error(spark):
    """A misspelled id column must fail with the same helpful error
    style as every other invalid argument -- naming the missing column
    and what IS available -- not a raw schema KeyError."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match=r"id_aa.*id_a"):
        neardup_clusters(pairs, id_a="id_aa")


def test_dom_attr_names_with_quotes_roundtrip_stable():
    """Regression (hypothesis, round 6): a quote inside an attribute
    NAME used to serialize into a tag the tokenizer cannot re-parse
    (the quote opens an unterminated quoted run), so html() was not a
    fixed point. Quote-bearing names are now dropped at parse time."""
    from readabilityimproved_spark.dom import parse

    for s in ("<a'='>", '<a"="">', "<a '='x'>hello</a>"):
        once = parse(s).body().html()
        assert parse(once).body().html() == once, s
    # legit attributes are untouched
    doc = parse("<a href='x' data-k=\"v'w\">t</a>")
    assert doc.body().html() == '<a href="x" data-k="v\'w">t</a>'


# ---------------------------------------------------------------------------
# pipeline metrics rollup: loud failures, legacy-schema tolerance
# ---------------------------------------------------------------------------

def test_metrics_rollup_failure_is_logged_not_swallowed(
    spark, tmp_path, monkeypatch, caplog
):
    """A failing metrics write (permissions, schema clash, disk) must
    leave a diagnosable trace while the run itself still succeeds --
    lineage is the committed source of truth."""
    import readabilityimproved_spark.plans.pipeline as P
    from pyspark.sql.readwriter import DataFrameWriter
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 40, corpus)
    out = str(tmp_path / "out")

    orig = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        # match only the rollup target (the tmpdir name itself contains
        # the test name, so a substring check would hit every write)
        if path.rstrip("/").endswith("/metrics"):
            raise RuntimeError("injected: metrics disk full")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    caplog.set_level(logging.WARNING, logger=P.__name__)
    stats = P.run_extraction(
        spark, corpus, out, num_parts=8, waves=2, resume=False
    )
    assert stats["docs"] == 40
    assert "metrics rollup" in caplog.text and "injected" in caplog.text
    # lineage landed; only the derived rollup is missing
    assert spark.read.parquet(os.path.join(out, "lineage")).count() > 0
    assert not os.path.exists(os.path.join(out, "metrics"))


def test_metrics_rollup_tolerates_pre_wave_lineage(spark, tmp_path):
    """Resuming a pre-round-4 output_dir (lineage without a wave
    column) must still produce the metrics table: the rollup merges
    schemas and backfills wave -1 exactly like job_summary, instead of
    raising into the old silent except."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 40, corpus)
    out = str(tmp_path / "out")
    P.run_extraction(spark, corpus, out, num_parts=8, waves=2, resume=False)

    # inject a legacy attempt: same columns minus wave
    legacy = spark.createDataFrame(
        [
            (90, 7, 30, 3, 0, "ok", 111, 800),
            (91, 5, 20, 2, 0, "ok", 111, 900),
        ],
        "part int, doc_count bigint, span_count bigint, image_count bigint,"
        " error_count bigint, status string, attempt int, wall_ms int",
    )
    legacy.write.mode("append").parquet(os.path.join(out, "lineage"))

    # resume run: all real parts done, so only the rollup has work
    P.run_extraction(spark, corpus, out, num_parts=8, waves=2, resume=True)
    metrics = {
        r["attempt"]: r
        for r in spark.read.parquet(os.path.join(out, "metrics")).collect()
    }
    assert 111 in metrics and metrics[111]["docs"] == 12
    assert metrics[111]["wall_ms_sum"] == 1700  # 800 + 900, once per wave
    real = [r for a, r in metrics.items() if a != 111]
    assert sum(r["docs"] for r in real) == 40


def test_clusters_contract_cap_validated_eagerly(spark, monkeypatch):
    """A contraction node cap < 2 must raise on the DRIVER before any
    job launches, like every other argument check -- not as an opaque
    executor-side PythonException mid-job."""
    from pyspark.sql.classic.dataframe import DataFrame

    from readabilityimproved_spark.operators import graph as G
    from readabilityimproved_spark.operators.graph import (
        _contract_local,
        neardup_clusters,
    )

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_nodes"):
        _contract_local(pairs, "id_a", "id_b", max_nodes=1)

    actions = {"n": 0}
    orig_collect = DataFrame.collect

    def counting(self):
        actions["n"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    monkeypatch.setattr(G, "_CONTRACT_NODE_CAP", 1)
    with pytest.raises(ValueError, match="max_nodes"):
        neardup_clusters(pairs)
    assert actions["n"] == 0, "the cap check ran after a job launched"


# ---------------------------------------------------------------------------
# temporal joins    assert sum(r["docs"] for r in real) == 40


# ---------------------------------------------------------------------------
# temporal joins: asof_join + range_join (operators/relational.py)
# ---------------------------------------------------------------------------

def _temporal_case(seed: int):
    """Seeded random (key, ts) point set + unique-per-(key,ts) right
    rows, engineered to hit the edges: exact-tie timestamps, keys with
    no right rows, points before any right row."""
    import datetime as dt
    import random

    rng = random.Random(seed)
    base = dt.datetime(2024, 3, 1)
    left, right = [], []
    seen = set()
    for i in range(300):
        k = rng.randrange(8)  # key 7 gets no right rows below
        ts = base + dt.timedelta(seconds=rng.randrange(0, 360000, 30))
        left.append((i, k, ts))
    for j in range(150):
        k = rng.randrange(7)
        ts = base + dt.timedelta(seconds=rng.randrange(0, 360000, 30))
        if (k, ts) in seen:  # determinism needs unique right (key, ts)
            continue
        seen.add((k, ts))
        right.append((k, ts, 1000 + j))
    # force exact ties: right rows at exactly some left timestamps
    for i, k, ts in left[:20]:
        if (k, ts) not in seen:
            seen.add((k, ts))
            right.append((k, ts, 2000 + i))
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("tol_s", [None, 3600])
def test_asof_join_matches_pandas_merge_asof(spark, direction, tol_s):
    """Value parity with pandas.merge_asof (an independent
    implementation of the same semantics: inclusive match, tolerance
    NULLs-out rather than falls back)."""
    import pandas as pd

    from readabilityimproved_spark.operators.relational import asof_join

    left, right = _temporal_case(seed=42)
    ldf = spark.createDataFrame(left, "lid long, k long, ts timestamp")
    rdf = spark.createDataFrame(right, "k long, ts timestamp, rv long")
    out = asof_join(
        ldf,
        rdf,
        on="k",
        value_cols=("rv",),
        tolerance_us=None if tol_s is None else tol_s * 1_000_000,
        matched_ts_col="rts",
        direction=direction,
    ).toPandas()

    lpd = pd.DataFrame(left, columns=["lid", "k", "ts"]).sort_values("ts")
    rpd = (
        pd.DataFrame(right, columns=["k", "rts", "rv"]).sort_values("rts")
    )
    exp = pd.merge_asof(
        lpd,
        rpd,
        left_on="ts",
        right_on="rts",
        by="k",
        direction=direction,
        tolerance=None if tol_s is None else pd.Timedelta(seconds=tol_s),
    )
    got = out.sort_values("lid").reset_index(drop=True)
    exp = exp.sort_values("lid").reset_index(drop=True)
    assert got["rts"].isna().sum() == exp["rts"].isna().sum()
    pd.testing.assert_frame_equal(
        got[["lid", "k", "ts", "rts", "rv"]],
        exp[["lid", "k", "ts", "rts", "rv"]],
        check_dtype=False,
    )


def test_asof_join_validates_arguments(spark):
    import datetime as dt

    from readabilityimproved_spark.operators.relational import asof_join

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    r = spark.createDataFrame([(1, t, 3)], "k long, ts timestamp, v long")
    with pytest.raises(ValueError, match="direction"):
        asof_join(l, r, on="k", direction="nearest")
    with pytest.raises(ValueError, match="missing column"):
        asof_join(l, r, on="k", value_cols=("nope",))
    with pytest.raises(ValueError, match="collide"):
        asof_join(l, r, on="k", value_cols=("v",), matched_ts_col="ts")


def test_asof_join_single_exchange(spark):
    """The union+window shape must stay ONE hash exchange on the key —
    the whole point over an inequality join (which would plan a
    nested-loop per key)."""
    import datetime as dt

    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.relational import asof_join

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    r = spark.createDataFrame([(1, t, 5)], "k long, ts timestamp, v long")
    import re

    plan = plan_of(asof_join(l, r, on="k", value_cols=("v",)))
    # formatted mode: exactly one "Exchange (n)" tree node, and it is a
    # hash partitioning on the key (not SinglePartition / range)
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1, plan
    assert "hashpartitioning(k" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_range_join_matches_bruteforce(spark):
    """Binned equi-join == brute-force O(n*m) containment, including
    multi-bin intervals, bin-boundary-exact points, inclusive ends and
    degenerate (t1 < t0) intervals."""
    import datetime as dt
    import random

    from readabilityimproved_spark.operators.relational import range_join

    rng = random.Random(7)
    base = dt.datetime(2024, 3, 1)
    BIN_US = 3_600_000_000  # 1 h bins
    pts = [
        (i, rng.randrange(5), base + dt.timedelta(seconds=rng.randrange(0, 200000, 10)))
        for i in range(250)
    ]
    # bin-boundary-exact points (midnight + exact hours)
    pts += [(1000 + h, 1, base + dt.timedelta(hours=h)) for h in range(6)]
    ivs = []
    for j in range(60):
        t0 = base + dt.timedelta(seconds=rng.randrange(0, 200000, 10))
        dur = rng.choice([-600, 0, 900, 3600, 4 * 3600, 11 * 3600])  # multi-bin + degenerate
        ivs.append((j, rng.randrange(5), t0, t0 + dt.timedelta(seconds=dur)))
    # interval with exact-boundary ends matching point 1001
    ivs.append((100, 1, base + dt.timedelta(hours=1), base + dt.timedelta(hours=1)))

    p = spark.createDataFrame(pts, "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(ivs, "iid long, k long, t0 timestamp, t1 timestamp")
    got = {
        (r.pid, r.iid)
        for r in range_join(p, iv, on="k", bin_us=BIN_US).collect()
    }
    exp = {
        (pid, iid)
        for pid, pk, ts in pts
        for iid, ik, t0, t1 in ivs
        if pk == ik and t0 <= ts <= t1
    }
    assert got == exp
    assert (1001, 100) in got  # inclusive on both exact boundaries


def test_range_join_plan_and_span_guard(spark):
    import datetime as dt

    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.relational import range_join

    base = dt.datetime(2024, 3, 1)
    p = spark.createDataFrame([(1, 1, base)], "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(
        [(1, 1, base, base + dt.timedelta(days=400))],
        "iid long, k long, t0 timestamp, t1 timestamp",
    )
    out = range_join(p, iv, on="k", bin_us=3_600_000_000, max_span_bins=100)
    plan = plan_of(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    # 400 days of 1h bins >= 100-bin cap -> loud executor-side error,
    # not a silent million-row explode
    with pytest.raises(Exception, match="range_join"):
        out.collect()
    # within the cap it runs
    ok = range_join(
        p, iv, on="k", bin_us=3_600_000_000, max_span_bins=10_000
    ).collect()
    assert len(ok) == 1


def test_range_join_validates_arguments(spark):
    import datetime as dt

    from readabilityimproved_spark.operators.relational import range_join

    base = dt.datetime(2024, 3, 1)
    p = spark.createDataFrame([(1, 1, base)], "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(
        [(1, 1, base, base)], "pid long, k long, t0 timestamp, t1 timestamp"
    )
    with pytest.raises(ValueError, match="collision"):
        range_join(p, iv, on="k")  # pid on both sides
    with pytest.raises(ValueError, match="missing column"):
        range_join(p.drop("ts"), iv.drop("pid"), on="k")
    with pytest.raises(ValueError, match="positive"):
        range_join(p, iv.drop("pid"), on="k", bin_us=0)


def test_corpus_diff_tags_set_membership(spark):
    from readabilityimproved_spark.operators.relational import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "doc_id long, fp string"
    )
    got = {(r.doc_id, r.fp, r.status) for r in corpus_diff(old, new).collect()}
    assert got == {
        (2, "b", "both"),
        (1, "a", "only_old"),
        (3, "c", "only_old"),  # changed fingerprint = removed + added
        (3, "CHANGED", "only_new"),
        (4, "d", "only_new"),
    }


def test_corpus_rollup_levels_and_gid(spark):
    """ROLLUP emits (lang,source), per-lang, and grand-total levels with
    the gid bitmask disambiguating subtotal NULLs; sums are exact."""
    from readabilityimproved_spark.operators.relational import corpus_rollup

    docs = spark.createDataFrame(
        [("en", "web", 10), ("en", "web", 5), ("en", "book", 1), ("de", "web", 2)],
        "lang string, source string, n_chars long",
    )
    rows = {
        (r.lang, r.source, r.gid): (r.n_docs, r.sum_chars)
        for r in corpus_rollup(docs).collect()
    }
    assert rows[("en", "web", 0)] == (2, 15)
    assert rows[("en", None, 1)] == (3, 16)  # per-lang subtotal
    assert rows[(None, None, 3)] == (4, 18)  # grand total
    assert len(rows) == 6


def test_asof_join_null_rows_never_match(spark):
    """Code-review r6 regression: a NULL-timestamp right row used to
    sort first (asc NULLS FIRST) and leak its values into every left
    row with no real predecessor — matched_ts NULL but value_cols
    populated. NULL right keys/timestamps must never match; NULL left
    keys/timestamps must get a NULL match."""
    import datetime as dt

    from readabilityimproved_spark.operators.relational import asof_join

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame(
        [(1, 1, t), (2, None, t), (3, 1, None)],
        "lid long, k long, ts timestamp",
    )
    r = spark.createDataFrame(
        [(1, None, 99), (None, t, 88), (1, t - dt.timedelta(hours=1), 7)],
        "k long, ts timestamp, v long",
    )
    rows = {
        row.lid: (row.rts, row.v)
        for row in asof_join(
            l, r, on="k", value_cols=("v",), matched_ts_col="rts"
        ).collect()
    }
    assert rows[1] == (t - dt.timedelta(hours=1), 7)  # the only real match
    assert rows[2] == (None, None)  # NULL left key
    assert rows[3] == (None, None)  # NULL left ts
    # forward direction: NULL left ts must not pick up the "last" row
    fwd = {
        row.lid: (row.rts, row.v)
        for row in asof_join(
            l, r, on="k", value_cols=("v",), matched_ts_col="rts",
            direction="forward",
        ).collect()
    }
    assert fwd[3] == (None, None)


def test_temporal_joins_reject_reserved_and_mixed_flavors(spark):
    import datetime as dt

    from readabilityimproved_spark.operators.relational import (
        asof_join,
        range_join,
    )

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    l_shadow = spark.createDataFrame([(1, t, 0)], "k long, ts timestamp, _side long")
    r = spark.createDataFrame([(1, t, 5)], "k long, ts timestamp, v long")
    r_ntz = spark.createDataFrame([(1, t, 5)], "k long, ts timestamp_ntz, v long")
    with pytest.raises(ValueError, match="shadow internal"):
        asof_join(l_shadow, r, on="k", value_cols=("v",))
    with pytest.raises(TypeError, match="flavor mismatch"):
        asof_join(l, r_ntz, on="k", value_cols=("v",))
    with pytest.raises(ValueError, match="collides with value_cols"):
        asof_join(l, r, on="k", value_cols=("v",), matched_ts_col="v")
    iv = spark.createDataFrame(
        [(1, 1, t, t)], "iid long, k long, t0 timestamp, t1 timestamp_ntz"
    )
    with pytest.raises(TypeError, match="flavor mismatch"):
        range_join(l, iv, on="k", point_ts="ts")


def test_temporal_joins_ntz_inputs(spark):
    """Both joins must work on TIMESTAMP_NTZ columns (the engine's
    native event-time flavor) with identical results."""
    import datetime as dt

    from readabilityimproved_spark.operators.relational import (
        asof_join,
        range_join,
    )

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame(
        [(1, 1, t + dt.timedelta(minutes=30))], "lid long, k long, ts timestamp_ntz"
    )
    r = spark.createDataFrame([(1, t, 5)], "k long, ts timestamp_ntz, v long")
    out = asof_join(
        l, r, on="k", value_cols=("v",), tolerance_us=3_600_000_000
    ).collect()
    assert out[0].v == 5 and out[0].matched_ts == t
    iv = spark.createDataFrame(
        [(9, 1, t, t + dt.timedelta(hours=1))],
        "iid long, k long, t0 timestamp_ntz, t1 timestamp_ntz",
    )
    p = spark.createDataFrame(
        [(1, 1, t + dt.timedelta(minutes=30))], "pid long, k long, ts timestamp_ntz"
    )
    assert len(range_join(p, iv, on="k").collect()) == 1


def test_range_join_far_future_bin_boundaries_exact(spark):
    """Code-review r6 regression: DOUBLE floor division is only exact
    below 2^53 micros (~year 2255); BIGINT div must bin a year-9999
    boundary point into the same bin as its covering interval."""
    import datetime as dt

    from readabilityimproved_spark.operators.relational import range_join

    BIN_US = 3_600_000_000
    # exact bin boundaries near the top of the timestamp range
    base = dt.datetime(9999, 12, 30)
    pts, ivs = [], []
    for h in range(0, 24):
        ts = base + dt.timedelta(hours=h)
        pts.append((h, 1, ts))
        ivs.append((h, 1, ts, ts))  # zero-length interval exactly at the point
    p = spark.createDataFrame(pts, "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(ivs, "iid long, k long, t0 timestamp, t1 timestamp")
    got = {(r.pid, r.iid) for r in range_join(p, iv, on="k", bin_us=BIN_US).collect()}
    assert got == {(h, h) for h in range(24)}


def test_asof_join_validates_rts_shadow_and_negative_tolerance(spark):
    """Code-review r6 round 2: a right column named _rts would duplicate
    the payload struct field (opaque ambiguous-field analysis error),
    and a negative tolerance silently NULLed every match."""
    import datetime as dt

    from readabilityimproved_spark.operators.relational import asof_join

    t = dt.datetime(2024, 3, 1)
    l = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    r_shadow = spark.createDataFrame(
        [(1, t, 5)], "k long, ts timestamp, _rts long"
    )
    with pytest.raises(ValueError, match="shadow internal"):
        asof_join(l, r_shadow, on="k", value_cols=("_rts",))
    r = spark.createDataFrame([(1, t, 5)], "k long, ts timestamp, v long")
    with pytest.raises(ValueError, match="tolerance_us"):
        asof_join(l, r, on="k", value_cols=("v",), tolerance_us=-1)


def test_ntz_epoch_micros_quotes_awkward_column_names(spark):
    """The shared helper backtick-quotes its identifier: a column named
    't-0' must not parse as subtraction (it used to silently compute
    t - 0 for numeric t, or throw for others)."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType, TimestampNTZType

    from readabilityimproved_spark.functions.eventtime import (
        ntz_epoch_micros,
    )

    schema = StructType([StructField("t-0", TimestampNTZType())])
    df = spark.createDataFrame(
        [(dt.datetime(1970, 1, 1, 0, 0, 1),)], schema
    )
    assert df.select(ntz_epoch_micros("t-0").alias("us")).collect()[0].us == 1_000_000


def test_profit_by_nation_plan_broadcasts_all_dims(spark):
    """The Q9-shaped snowflake must never shuffle the fact table: three
    BroadcastHashJoins (part pruned before broadcast), and the only
    hash exchange is the final small aggregation."""
    import re

    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.relational import (
        profit_by_nation,
    )

    sfd = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sfd}/lineitem.parquet")
    out = profit_by_nation(
        li,
        spark.read.parquet(f"{sfd}/part.parquet"),
        spark.read.parquet(f"{sfd}/supplier.parquet"),
        spark.read.parquet(f"{sfd}/nation.parquet"),
    )
    plan = plan_of(out)
    # formatted mode lists each node once in the tree and once in the
    # details -- count the numbered detail headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "hashpartitioning(n_name" in plan, plan
    # the part-type filter reaches the part SCAN (pruned before its
    # broadcast), not the fact side
    assert "EqualTo(p_type,PROMO)" in plan, plan


# --- repetition metrics + fused quality prune (round 6 additions) -----------

REPETITION_SAMPLES = [
    "a b a b a b",
    "one two three",
    "",
    "  ",
    "x",
    "a a a a a a a a a a a",
    "the quick brown fox the quick brown fox",
    "Tab\tand  space",
    "CASE case CaSe",  # lowercasing folds these into duplicates
    "word " * 50,      # pathological full repetition
    None,
]


def test_dup_ngram_frac_dialect_parity(spark):
    """Spark and DuckDB renderings of the repetition metrics must agree
    value-for-value on adversarial strings (empties, tabs, case folds,
    NULL, pathological repetition) -- the same invariant the driver's
    hash check enforces on the corpus, pinned here on the edge cases the
    synth corpus doesn't contain."""
    import duckdb

    from readabilityimproved_spark.functions import sqlgen as G

    df = spark.createDataFrame([(s,) for s in REPETITION_SAMPLES], "s string")
    df.createOrReplaceTempView("rep_samples")
    con = duckdb.connect()
    con.execute("CREATE TABLE rep_samples(s VARCHAR)")
    con.executemany(
        "INSERT INTO rep_samples VALUES (?)", [(s,) for s in REPETITION_SAMPLES]
    )
    for n in (1, 2, 3):
        s_expr = G.dup_ngram_frac_sql("s", n, G.SPARK)
        d_expr = G.dup_ngram_frac_sql("s", n, G.DUCKDB)
        got = [r[0] for r in spark.sql(f"SELECT {s_expr} FROM rep_samples").collect()]
        want = [r[0] for r in con.execute(f"SELECT {d_expr} FROM rep_samples").fetchall()]
        assert got == want, (n, got, want)
    s_flag = [
        r[0]
        for r in spark.sql(
            f"SELECT {G.repetition_flag_sql('s', G.SPARK)} FROM rep_samples"
        ).collect()
    ]
    d_flag = [
        r[0]
        for r in con.execute(
            f"SELECT {G.repetition_flag_sql('s', G.DUCKDB)} FROM rep_samples"
        ).fetchall()
    ]
    assert s_flag == d_flag, (s_flag, d_flag)
    # the pathological full-repeat doc must trip the gate; clean prose not
    by_sample = dict(zip(REPETITION_SAMPLES, s_flag))
    assert by_sample["word " * 50] is True
    assert by_sample["one two three"] is False


def test_repetition_and_prune_queries_are_narrow_maps(spark):
    """Both new contract queries are pure per-row expressions over one
    scan: no Exchange may appear (at 100 TB the quality gates must ride
    the ingest scan, never force a shuffle)."""
    import importlib.util

    from tests.test_plan_quality import plan_of

    spec = importlib.util.spec_from_file_location("entry6", "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    for name in ("repetition_stats", "quality_prune"):
        plan = plan_of(qs[name](spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, (name, plan[:2000])
        assert "BatchScan" in plan or "Scan parquet" in plan, (name, plan[:500])


# --- passage-level dedup + token rarity (round 6, late batch) ---------------

_PASSAGE_CORPUS = [
    # grams(n=2) of d1 all reappear in d5 -> whole doc duplicated
    ("d1", "a b c d e"),
    # only "b c" is corpus-duplicated -> interior span
    ("d2", "x b c y"),
    # self-repetition within one doc counts (total occurrences >= 2)
    ("d3", "q q q"),
    # shorter than n -> no postings, must survive untouched
    ("d4", "z"),
    # three disjoint maximal spans with gaps > n between them
    ("d5", "a b c d e k k a b w b c"),
]


def _passage_df(spark):
    return spark.createDataFrame(_PASSAGE_CORPUS, "doc_id string, text string")


def test_duplicate_passage_spans_semantics(spark):
    """Hand-checked maximal-span semantics at n=2: overlap/adjacency
    merge, self-repetition, short-doc guard, multi-span docs."""
    from readabilityimproved_spark.operators.passages import (
        duplicate_passage_spans,
    )

    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_passage_spans(_passage_df(spark), n=2).collect()
    }
    want = {
        ("d1", 1, 5),
        ("d2", 2, 3),
        ("d3", 1, 3),
        ("d5", 1, 5),
        ("d5", 8, 9),
        ("d5", 11, 12),
    }
    assert got == want


def test_strip_duplicate_passages_reconstruction(spark):
    """clean_text keeps exactly the uncovered tokens, space-joined; an
    entirely-duplicated doc comes back EMPTY rather than disappearing,
    and a doc with no spans keeps all tokens."""
    from readabilityimproved_spark.operators.passages import (
        strip_duplicate_passages,
    )

    out = strip_duplicate_passages(_passage_df(spark), n=2)
    got = {r.doc_id: r.clean_text for r in out.collect()}
    assert got == {
        "d1": "",
        "d2": "x y",
        "d3": "",
        "d4": "z",
        "d5": "k k w",
    }
    # every input column survives alongside clean_text
    assert set(out.columns) == {"doc_id", "text", "clean_text"}


def test_passage_min_count_raises_threshold(spark):
    """min_count=3 drops grams seen only twice: d2's span vanishes and
    d5/d1 keep only the >=3x grams ("a b" x3, "b c" x4)."""
    from readabilityimproved_spark.operators.passages import (
        duplicate_passage_spans,
    )

    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_passage_spans(
            _passage_df(spark), n=2, min_count=3
        ).collect()
    }
    # dup grams now: "a b" (d1:1, d5:1, d5:8), "b c" (d1:2, d2:2, d5:2,
    # d5:11). d1 pos 1,2 -> [1,3]; d2 pos 2 -> [2,3]; d5 pos 1,2 ->
    # [1,3], pos 8 -> [8,9], pos 11 -> [11,12].
    assert got == {
        ("d1", 1, 3),
        ("d2", 2, 3),
        ("d5", 1, 3),
        ("d5", 8, 9),
        ("d5", 11, 12),
    }


def test_passage_ops_validate_arguments(spark):
    from readabilityimproved_spark.operators.passages import (
        duplicate_passage_spans,
        strip_duplicate_passages,
    )

    df = _passage_df(spark)
    with pytest.raises(ValueError, match="n must be"):
        duplicate_passage_spans(df, n=0)
    with pytest.raises(ValueError, match="min_count must be"):
        duplicate_passage_spans(df, min_count=1)
    with pytest.raises(ValueError, match="min_count must be"):
        strip_duplicate_passages(df, min_count=0)


def test_passage_plans_hash_only_shuffle_no_python(spark):
    """Scale pins: the corpus-wide frequency leg keys on xxhash64 (the
    shuffle moves longs, never gram text), nothing goes cartesian, and
    the reconstruction stays JVM-side (no Python eval anywhere)."""
    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.passages import (
        duplicate_passage_spans,
        strip_duplicate_passages,
    )

    df = _passage_df(spark)
    for out in (
        duplicate_passage_spans(df, n=2),
        strip_duplicate_passages(df, n=2),
    ):
        plan = plan_of(out)
        assert "xxhash64" in plan, plan[:2000]
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan, plan[:2000]  # Batch/ArrowEvalPython


def test_token_rarity_exact_values(spark):
    """Integer-exact rarity on a hand computation: vocab a:2 b:2 c:1,
    total 5 -> rb(a)=rb(b)=bitlen(5)-bitlen(2)=1, rb(c)=3-1=2."""
    from readabilityimproved_spark.operators.curation import (
        token_rarity_scores,
    )

    df = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "b c")], "doc_id string, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.rarity_bits)
        for r in token_rarity_scores(df).collect()
    }
    assert got == {"d1": (3, 1.0), "d2": (2, 1.5)}


# --- training export: shuffle_shards + hash_split (round 6, late batch) -----

def _ids(spark, n=400):
    return spark.range(0, n).withColumnRenamed("id", "doc_id")


@pytest.mark.parametrize("mix", ["xxhash64", "portable"])
def test_shuffle_shards_is_a_balanced_dense_permutation(spark, mix):
    """Every row lands in exactly one shard, positions are dense 0..k-1
    per shard, and the assignment is identical under a different input
    partitioning (the reproducibility contract)."""
    from readabilityimproved_spark.operators.export import shuffle_shards

    df = _ids(spark)
    out = shuffle_shards(df, 8, seed=3, mix=mix)
    rows = out.collect()
    assert len(rows) == 400
    assert {r.doc_id for r in rows} == set(range(400))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    again = shuffle_shards(df.repartition(13), 8, seed=3, mix=mix)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_shuffle_shards_seed_changes_order(spark):
    from readabilityimproved_spark.operators.export import shuffle_shards

    df = _ids(spark)
    a = sorted(map(tuple, shuffle_shards(df, 4, seed=0).collect()))
    b = sorted(map(tuple, shuffle_shards(df, 4, seed=1).collect()))
    assert a != b


def test_shuffle_shards_validates_arguments(spark):
    from readabilityimproved_spark.operators.export import shuffle_shards

    df = _ids(spark, 10)
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shards(df, 0)
    with pytest.raises(ValueError, match="id column"):
        shuffle_shards(df, 4, id_col="nope")
    with pytest.raises(ValueError, match="mix must be"):
        shuffle_shards(df, 4, mix="md5")


def test_hash_split_stable_under_corpus_growth(spark):
    """A document's split depends only on (id, seed): adding new rows
    must not move any existing row — the property randomSplit lacks."""
    from readabilityimproved_spark.operators.export import hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = {
        r.doc_id: r.split
        for r in hash_split(_ids(spark, 200), fr, seed=1).collect()
    }
    big = {
        r.doc_id: r.split
        for r in hash_split(_ids(spark, 400), fr, seed=1).collect()
    }
    assert all(big[k] == v for k, v in small.items())
    # proportions land near the targets at n=400 (deterministic check)
    from collections import Counter

    c = Counter(big.values())
    assert abs(c["train"] / 400 - 0.8) < 0.08
    assert set(c) == {"train", "val", "test"}


def test_hash_split_validates_arguments(spark):
    from readabilityimproved_spark.operators.export import hash_split

    df = _ids(spark, 10)
    with pytest.raises(ValueError, match="non-empty"):
        hash_split(df, {})
    with pytest.raises(ValueError, match="negative"):
        hash_split(df, {"a": 1.5, "b": -0.5})
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="id column"):
        hash_split(df, {"a": 1.0}, id_col="nope")


def test_export_plan_shapes(spark):
    """hash_split is a pure narrow map (no Exchange — it must ride the
    ingest scan at 100 TB); shuffle_shards pays exactly ONE exchange,
    on the shard key, for the per-shard position sort."""
    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.export import (
        hash_split,
        shuffle_shards,
    )

    df = _ids(spark, 50)
    split_plan = plan_of(hash_split(df, {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in split_plan, split_plan[:2000]
    shard_plan = plan_of(shuffle_shards(df, 4))
    import re as _re

    # formatted plans name each node twice (tree "Exchange (4)" + detail
    # header "(4) Exchange"); count the detail headers
    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", shard_plan))
    assert n_exchanges == 1, shard_plan[:2000]


# --- outlink extraction + host link graph (round 6, late batch) -------------

def _page_df(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("base_uri", T.StringType()),
            T.StructField(
                "spans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("kind", T.StringType()),
                            T.StructField("text", T.StringType()),
                            T.StructField("media_ref", T.StringType()),
                            T.StructField("offset", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _span(text):
    return [{"kind": "html", "text": text, "media_ref": None, "offset": 0}]


def test_extract_outlinks_resolution_and_edge_cases(spark):
    """Relative hrefs resolve against the base (jsoup absUrl), anchors
    without href are skipped, relative hrefs with NO base are dropped as
    unresolvable, fragments resolve onto the page URL, and rel comes
    through raw."""
    from readabilityimproved_spark.operators.links import extract_outlinks

    df = _page_df(
        spark,
        [
            (
                "d1",
                "http://news.example.com/2019/story1.html",
                _span(
                    '<a href="/rel.html">Rel</a>'
                    '<a href="http://ext.org/p" rel="nofollow">Ext</a>'
                    "<a name=x>no href</a>"
                    '<a href="#frag">frag</a>'
                ),
            ),
            (
                "d2",
                None,
                _span(
                    '<a href="/only-relative">x</a>'
                    '<a href="https://abs.example.net/q">Abs</a>'
                ),
            ),
        ],
    )
    got = sorted(map(tuple, extract_outlinks(df).collect()))
    assert got == sorted(
        [
            ("d1", 0, "http://news.example.com/rel.html", "Rel", ""),
            ("d1", 1, "http://ext.org/p", "Ext", "nofollow"),
            (
                "d1",
                2,
                "http://news.example.com/2019/story1.html#frag",
                "frag",
                "",
            ),
            ("d2", 0, "https://abs.example.net/q", "Abs", ""),
        ]
    )


def test_extract_outlinks_cap_and_validation(spark):
    from readabilityimproved_spark.operators.links import extract_outlinks

    many = "".join(f'<a href="/p{i}">l{i}</a>' for i in range(20))
    df = _page_df(spark, [("d1", "http://h.example.com/", _span(many))])
    got = extract_outlinks(df, max_links_per_doc=5).collect()
    assert [r.link_no for r in got] == [0, 1, 2, 3, 4]
    assert [r.url for r in got] == [
        f"http://h.example.com/p{i}" for i in range(5)
    ]
    with pytest.raises(ValueError, match="max_links_per_doc"):
        extract_outlinks(df, max_links_per_doc=0)


def test_host_link_graph_parses_and_drops_unparsable(spark):
    from readabilityimproved_spark.operators.links import host_link_graph

    links = spark.createDataFrame(
        [
            ("d1", "http://A.Example.com/x", "http://B.example.org/y"),
            ("d1", "http://a.example.com/x", "http://b.EXAMPLE.org/z"),
            ("d1", "http://a.example.com/x", "mailto:someone"),  # no host
            ("d2", "not a url", "http://c.example.net/"),  # no src host
        ],
        "doc_id string, base_uri string, url string",
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_link_graph(links).collect()
    }
    assert got == {("a.example.com", "b.example.org"): 2}


def test_filter_blocked_domains_suffix_and_modes(spark):
    """Registrable-domain matching: blocking example.com drops every
    subdomain of it but not lookalike hosts; unparsable URLs are kept
    under 'drop' and dropped under 'keep'; mode/shape validation."""
    from readabilityimproved_spark.operators.links import (
        filter_blocked_domains,
        registrable_domain,
    )

    df = spark.createDataFrame(
        [
            ("a", "http://www.Example.com/x"),
            ("b", "http://example.com/y"),
            ("c", "http://notexample.com/z"),
            ("d", "http://safe.example.org/w"),
            ("e", "not a url"),
        ],
        "id string, url string",
    )
    blocked = spark.createDataFrame([(" Example.COM ",)], "domain string")
    dropped = {r.id for r in filter_blocked_domains(df, blocked).collect()}
    assert dropped == {"c", "d", "e"}
    kept = {
        r.id
        for r in filter_blocked_domains(df, blocked, mode="keep").collect()
    }
    assert kept == {"a", "b"}
    with pytest.raises(ValueError, match="mode must be"):
        filter_blocked_domains(df, blocked, mode="invert")
    with pytest.raises(ValueError, match="exactly one column"):
        filter_blocked_domains(df, df, mode="drop")
    with pytest.raises(ValueError, match="url column"):
        filter_blocked_domains(df, blocked, url_col="nope")
    with pytest.raises(ValueError, match="labels must be"):
        registrable_domain("url", labels=0)


def test_filter_blocked_domains_is_broadcast_only(spark):
    """The corpus side must never shuffle: one BroadcastHashJoin
    (LeftAnti), zero Exchange on the probe side."""
    import re as _re

    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.links import (
        filter_blocked_domains,
    )

    df = spark.createDataFrame([("a", "http://x.com/")], "id string, url string")
    blocked = spark.createDataFrame([("x.com",)], "domain string")
    plan = plan_of(filter_blocked_domains(df, blocked))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the only exchange allowed is the broadcast of the blocklist
    bad = [
        m
        for m in _re.findall(r"\(\d+\) \w*Exchange\w*", plan)
        if "Broadcast" not in m
    ]
    assert not bad, (bad, plan[:2000])


# --- anchor-text top-k + crawl frontier (round 6, third batch) ---------------

def test_anchor_text_topk_counts_ties_and_modes(spark):
    """Counts aggregate per (dst, anchor); ties rank anchor-ascending;
    by='url' keeps exact targets; empty anchors and unparsable targets
    are dropped; k/by validated eagerly."""
    from readabilityimproved_spark.operators.links import anchor_text_topk

    links = spark.createDataFrame(
        [
            ("d1", 0, "http://A.example.com/x", "Widgets", ""),
            ("d2", 0, "http://a.example.com/y", "Widgets", ""),
            ("d3", 0, "http://a.example.com/x", "Gadgets", ""),
            ("d4", 0, "http://a.example.com/x", "  Widgets  ", ""),  # trims
            ("d5", 0, "http://a.example.com/x", "Apparatus", ""),
            ("d6", 0, "http://b.example.org/", "", ""),  # empty anchor
            ("d7", 0, "mailto:someone", "no host", ""),  # unparsable dst
        ],
        "doc_id string, link_no int, url string, anchor string, rel string",
    )
    got = {
        (r.dst, r.anchor): (r.n_links, r.rank)
        for r in anchor_text_topk(links, k=2).collect()
    }
    # host mode folds case + paths: Widgets 3x, then the Apparatus /
    # Gadgets 1x tie resolves alphabetically -> Apparatus at rank 2
    assert got == {
        ("a.example.com", "Widgets"): (3, 1),
        ("a.example.com", "Apparatus"): (1, 2),
    }

    by_url = {
        (r.dst, r.anchor): (r.n_links, r.rank)
        for r in anchor_text_topk(links, k=1, by="url").collect()
    }
    assert by_url == {
        ("http://A.example.com/x", "Widgets"): (1, 1),
        ("http://a.example.com/x", "Apparatus"): (1, 1),  # tie: asc anchor
        ("http://a.example.com/y", "Widgets"): (1, 1),
        # url mode: the raw URL is the target -- no host parse, so a
        # mailto target still counts (host mode drops it)
        ("mailto:someone", "no host"): (1, 1),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        anchor_text_topk(links, k=0)
    with _pytest.raises(ValueError, match="by must be"):
        anchor_text_topk(links, by="domain")


def test_crawl_frontier_normalizes_dedups_and_caps(spark):
    """Fragment/port/case variants collapse onto one canonical URL;
    already-crawled pages (under the same normalization) drop out; the
    per-host cap keeps the highest-in-link URLs, URL-ascending on
    ties; unparsable candidates are dropped; args validated."""
    from readabilityimproved_spark.operators.links import crawl_frontier

    links = spark.createDataFrame(
        [
            # three variants of one URL -> n_inlinks 3
            ("d1", 0, "http://News.example.com:80/a.html#s1", "x", ""),
            ("d2", 0, "http://news.example.com/a.html#s2", "x", ""),
            ("d3", 0, "http://news.example.com/a.html", "x", ""),
            # two singles on the same host (tie -> url asc)
            ("d1", 1, "http://news.example.com/b.html", "x", ""),
            ("d1", 2, "http://news.example.com/c.html", "x", ""),
            # a crawled page, linked again via fragment -> excluded
            ("d2", 1, "http://news.example.com/seen.html#top", "x", ""),
            # another host, survives independently of the cap
            ("d3", 1, "https://Other.example.org:443/p", "x", ""),
            # unparsable: no host after normalization
            ("d3", 2, "not a url", "x", ""),
        ],
        "doc_id string, link_no int, url string, anchor string, rel string",
    )
    crawled = spark.createDataFrame(
        [("http://NEWS.example.com:80/seen.html",)], "page string"
    )
    got = {
        r.url: (r.host, r.n_inlinks, r.rank)
        for r in crawl_frontier(
            links, crawled, crawled_url_col="page", per_host_cap=2
        ).collect()
    }
    assert got == {
        "http://news.example.com/a.html": ("news.example.com", 3, 1),
        "http://news.example.com/b.html": ("news.example.com", 1, 2),
        # c.html lost the tie at rank 3 -> capped away
        "https://other.example.org/p": ("other.example.org", 1, 1),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="per_host_cap"):
        crawl_frontier(links, crawled, crawled_url_col="page", per_host_cap=0)
    with _pytest.raises(ValueError, match="crawled url column"):
        crawl_frontier(links, crawled, crawled_url_col="nope")


def test_crawl_frontier_plan_no_broadcast_of_crawled_payload(spark):
    """The anti-join must key on the canonical URL only and must never
    degenerate to a nested-loop/cartesian; the candidate side
    pre-aggregates (partial count) before its exchange."""
    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.links import crawl_frontier

    links = spark.createDataFrame(
        [("d1", 0, "http://x.example.com/a", "x", "")],
        "doc_id string, link_no int, url string, anchor string, rel string",
    )
    crawled = spark.createDataFrame([("http://x.example.com/",)], "url string")
    plan = plan_of(crawl_frontier(links, crawled))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    # map-side combine: a partial count precedes the url exchange
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )


# --- host PageRank (round 6, final batch) ------------------------------------

def test_host_pagerank_matches_power_method(spark):
    """Weighted ranks equal a pure-Python power method with uniform
    dangling redistribution; sum(pr) == 1; unweighted mode counts each
    distinct pair once; empty edges yield an empty frame."""
    from readabilityimproved_spark.operators.links import host_pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "a", 1), ("a", "b", 1)],
        "src_host string, dst_host string, n_links bigint",
    )

    def ref(weights, iters, d=0.85):
        nodes = sorted({u for u, _ in weights} | {v for _, v in weights})
        outs = {u: sum(w for (s, _), w in weights.items() if s == u)
                for u in {s for s, _ in weights}}
        n = len(nodes)
        pr = {v: 1 / n for v in nodes}
        for _ in range(iters):
            dang = sum(pr[v] for v in nodes if v not in outs)
            pr = {
                v: (1 - d) / n
                + d * (
                    sum(pr[u] * w / outs[u]
                        for (u, x), w in weights.items() if x == v)
                    + dang / n
                )
                for v in nodes
            }
        return pr

    # parallel (a,b) edges fold: weight 3
    got = {r.host: r.pr
           for r in host_pagerank(edges, iterations=6).collect()}
    exp = ref({("a", "b"): 3, ("a", "c"): 1, ("b", "a"): 1}, 6)
    assert got.keys() == exp.keys()
    assert all(abs(got[k] - exp[k]) < 1e-12 for k in exp), (got, exp)
    assert abs(sum(got.values()) - 1.0) < 1e-9

    unw = {r.host: r.pr
           for r in host_pagerank(edges, weight_col=None,
                                  iterations=3).collect()}
    exp_unw = ref({("a", "b"): 1, ("a", "c"): 1, ("b", "a"): 1}, 3)
    assert all(abs(unw[k] - exp_unw[k]) < 1e-12 for k in exp_unw)

    empty = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links bigint"
    )
    out = host_pagerank(empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["host", "pr"]


def test_host_pagerank_drops_invalid_and_validates(spark):
    """NULL/empty hosts and non-positive weights drop before the graph
    builds; bad args raise eagerly with named parameters."""
    import pytest as _pytest

    from readabilityimproved_spark.operators.links import host_pagerank

    edges = spark.createDataFrame(
        [
            ("a", "b", 1),
            (None, "b", 5),
            ("a", "", 5),
            ("a", "c", 0),     # zero weight: no edge
            ("a", "d", None),  # null weight: no edge
        ],
        "src_host string, dst_host string, n_links bigint",
    )
    got = {r.host: r.pr for r in host_pagerank(edges, iterations=2).collect()}
    # only a->b survives: nodes {a, b}
    assert set(got) == {"a", "b"}
    assert abs(sum(got.values()) - 1.0) < 1e-9

    with _pytest.raises(ValueError, match="damping"):
        host_pagerank(edges, damping=1.0)
    with _pytest.raises(ValueError, match="iterations"):
        host_pagerank(edges, iterations=0)
    with _pytest.raises(ValueError, match="checkpoint_every"):
        host_pagerank(edges, checkpoint_every=0)
    with _pytest.raises(ValueError, match="column 'missing'"):
        host_pagerank(edges, weight_col="missing")


def test_host_pagerank_plan_bounded_and_no_data_nlj(spark):
    """Lineage truncates every round (default checkpoint_every=1), so
    the 10-iteration plan stays O(rounds) instead of doubling per
    round; the only nested-loop build sides are the one-row dangling
    aggregates; contrib aggregation is partial before its exchange."""
    from tests.test_plan_quality import plan_of

    from readabilityimproved_spark.operators.links import host_pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 1)],
        "src_host string, dst_host string, n_links bigint",
    )
    plan10 = plan_of(host_pagerank(edges, iterations=10))
    tree10 = plan10.split("\n\n")[0]
    assert len(tree10.splitlines()) < 60, tree10
    assert "CartesianProduct" not in plan10
    assert "partial_sum" in plan10 or "partial sum" in plan10.lower(), (
        plan10[:3000]
    )
    # un-checkpointed rounds double the plan: 4 rounds at
    # checkpoint_every=4 must still stay a real plan, just bigger
    plan4 = plan_of(host_pagerank(edges, iterations=4, checkpoint_every=4))
    assert len(plan4.split("\n\n")[0].splitlines()) > len(
        tree10.splitlines()
    )
