"""`operators/graph.py`: near-dup clustering (`neardup_clusters`), its
per-partition star contraction (`_contract_local`, `_star_batches`),
representative dedup and incremental fold-in, and its one durable mode,
`state_dir` parquet snapshots -- resume after driver loss, the
fingerprint directory, the `_SUCCESS` commit rule and snapshot
pruning."""

import logging

import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators import graph as G
from readabilityimproved_spark.operators.graph import neardup_clusters

PAIRS = "id_a long, id_b long"


@pytest.fixture
def warnings_log(caplog):
    caplog.set_level(logging.WARNING, logger=G.__name__)
    return caplog


@pytest.fixture
def raw_edges(monkeypatch):
    """Contraction cap 2: every edge is flushed as its own star, so the
    iteration runs over the raw edge set and a chain keeps its
    diameter (and its many rounds)."""
    monkeypatch.setattr(G, "_CONTRACT_NODE_CAP", 2)


def _chain(spark, n, start=0, parts=8):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(start, start + n)], PAIRS
    ).repartition(parts)


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _fp_dirs(state):
    return [p for p in state.iterdir() if p.name.startswith("fp_")]


def _files(root):
    return {str(p.relative_to(root)) for p in root.rglob("*") if p.is_file()}


# ---------------------------------------------------------------------------
# the durable mode: snapshots, not checkpoints
# ---------------------------------------------------------------------------

def test_clusters_state_dir_cap_raise_leaves_no_cached_residue(
    spark, tmp_path, raw_edges
):
    """Any exit path -- here the round-cap raise -- leaves the
    CacheManager clean, not just the convergence path."""
    with pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(
            _chain(spark, 500), max_rounds=3,
            state_dir=str(tmp_path / "state"),
        )
    assert _cache_empty(spark)


def test_clusters_state_dir_resumes_after_driver_loss(
    spark, tmp_path, monkeypatch, raw_edges
):
    """state_dir = driver-loss recovery: a run killed by the round cap
    leaves parquet snapshots; a rerun with the same state_dir resumes
    from the newest snapshot (strictly fewer propagation rounds than a
    fresh run) and converges to identical labels."""
    from pyspark.sql.classic.dataframe import DataFrame

    # long chain, contraction at cap 2 (the raw edges) and spread out,
    # so the run genuinely needs many rounds
    chain = _chain(spark, 400)
    state = str(tmp_path / "state")

    with pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(chain, max_rounds=6, state_dir=state)

    def collects(**kw):
        calls = {"n": 0}
        orig = DataFrame.collect

        def counting(self):
            calls["n"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "collect", counting)
        try:
            res = neardup_clusters(chain, **kw)
            labels = {tuple(r) for r in orig(res)}
        finally:
            monkeypatch.setattr(DataFrame, "collect", orig)
        return labels, calls["n"]

    resumed_labels, resumed_actions = collects(state_dir=state)
    fresh_labels, fresh_actions = collects()
    want = {(i, 0) for i in range(401)}
    assert resumed_labels == want and fresh_labels == want
    assert resumed_actions < fresh_actions, (resumed_actions, fresh_actions)


def test_clusters_state_dir_rerun_same_cap_progresses(spark, tmp_path, raw_edges):
    """max_rounds bounds the rounds of THIS run: rerunning with the
    SAME arguments after a cap raise continues from the snapshot and
    eventually converges, instead of re-raising forever."""
    chain = _chain(spark, 400)
    kw = dict(max_rounds=4, state_dir=str(tmp_path / "state"))
    labels = None
    for _ in range(6):  # each rerun advances 4 snapshot rounds
        try:
            labels = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
            break
        except RuntimeError:
            continue
    assert labels == {(i, 0) for i in range(401)}


def test_clusters_state_dir_pruned_to_two_snapshots(spark, tmp_path, raw_edges):
    """Snapshots must not accumulate one label-table copy per round:
    only the newest two survive, and resume still works off them."""
    chain = _chain(spark, 400)
    state = tmp_path / "state"
    kw = dict(state_dir=str(state))
    got = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert got == {(i, 0) for i in range(401)}
    (fp,) = _fp_dirs(state)
    snaps = sorted(
        p.name for p in fp.iterdir() if p.name.startswith("labels_r")
    )
    assert len(snaps) == 2, snaps
    # resume from the pruned directory still converges
    again = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert again == got


# ---------------------------------------------------------------------------
# the input fingerprint directory and the _SUCCESS commit rule
# ---------------------------------------------------------------------------

def test_clusters_state_dir_rejects_foreign_pairs(
    spark, tmp_path, warnings_log, raw_edges
):
    """Resuming a state_dir built from a DIFFERENT pairs input must not
    silently import foreign labels / drop nodes: the other input's
    fingerprint directory is never read, the run warns, and the result
    is correct for the NEW input."""
    state = tmp_path / "state"
    kw = dict(state_dir=str(state))
    chain_a = _chain(spark, 60, parts=4)
    neardup_clusters(chain_a, **kw).collect()
    warnings_log.clear()

    chain_b = _chain(spark, 60, start=1000, parts=4)
    got = {tuple(r) for r in neardup_clusters(chain_b, **kw).collect()}
    assert got == {(i, 1000) for i in range(1000, 1061)}
    assert "DIFFERENT pairs input" in warnings_log.text

    # the stale content was DELETED, not left behind to hold a full
    # label table per input ever clustered: only B's directory
    # survives, and rerunning A starts fresh again -- correctly
    assert len(_fp_dirs(state)) == 1
    warnings_log.clear()
    got_a = {tuple(r) for r in neardup_clusters(chain_a, **kw).collect()}
    assert got_a == {(i, 0) for i in range(61)}
    assert "DIFFERENT pairs input" in warnings_log.text


def test_clusters_fingerprint_is_layout_invariant(
    spark, tmp_path, monkeypatch, warnings_log
):
    """The fingerprint hashes the RAW pairs, not the contracted stars:
    the same input rerun at a different partitioning (different flush
    boundaries, different local roots) must RESUME, not false-mismatch
    -- that is the whole driver-loss scenario state_dir exists for."""
    state = str(tmp_path / "state")
    rows = [(i, i + 1) for i in range(80)] + [(200, 201)]
    a = spark.createDataFrame(rows, PAIRS).repartition(2)
    # reversed orientation + different layout + different contract cap:
    # same logical input
    b = spark.createDataFrame([(y, x) for x, y in rows], PAIRS).repartition(9)
    want = {(i, 0) for i in range(81)} | {(200, 200), (201, 200)}

    got = {tuple(r) for r in neardup_clusters(a, state_dir=state).collect()}
    assert got == want
    warnings_log.clear()
    monkeypatch.setattr(G, "_CONTRACT_NODE_CAP", 5)
    got2 = {tuple(r) for r in neardup_clusters(b, state_dir=state).collect()}
    assert got2 == want
    assert "DIFFERENT pairs input" not in warnings_log.text, warnings_log.text


def test_clusters_torn_snapshot_is_never_resumed(spark, tmp_path, raw_edges):
    """A snapshot is committed by its own _SUCCESS file. The newest
    snapshot without one (a write torn by driver loss) must never be
    resumed, even when its files read fine: the rerun resumes from the
    newest COMMITTED snapshot and the labels are still correct."""
    chain = _chain(spark, 400)
    state = tmp_path / "state"
    with pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(chain, max_rounds=4, state_dir=str(state))
    (fp,) = _fp_dirs(state)
    # a round past every committed one, holding labels that are wrong
    # for every node (10000 is not a node), with no _SUCCESS file
    torn = fp / "labels_r99"
    spark.createDataFrame(
        [(i, 10_000) for i in range(401)], "node long, label long"
    ).write.parquet(str(torn))
    (torn / "_SUCCESS").unlink()

    got = {
        tuple(r)
        for r in neardup_clusters(chain, state_dir=str(state)).collect()
    }
    assert got == {(i, 0) for i in range(401)}


def test_clusters_listing_failure_keeps_every_snapshot(
    spark, tmp_path, monkeypatch, warnings_log
):
    """A failed state listing is not proof of corruption -- an object
    store throttle lands in the same except path -- so the run must
    warn and start fresh WITHOUT deleting anything: not even another
    input's directory, which a working listing would delete."""
    state = tmp_path / "state"
    neardup_clusters(
        _chain(spark, 60, start=1000, parts=4), state_dir=str(state)
    ).collect()
    before = _files(state)
    assert any("/labels_r" in f for f in before), before

    def failing(spark, state_dir):
        raise OSError("listing throttled")

    monkeypatch.setattr(G, "_committed", failing)
    warnings_log.clear()
    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], PAIRS)
    got = {
        tuple(r)
        for r in neardup_clusters(chain, state_dir=str(state)).collect()
    }
    assert got == {(i, 0) for i in range(61)}  # fresh recompute is correct
    assert "WITHOUT clearing" in warnings_log.text, warnings_log.text
    assert before <= _files(state), before - _files(state)


def test_clusters_marker_table_layout_is_not_resumed(spark, tmp_path):
    """A state_dir in the older layout -- a marker table in `state/`,
    `edges` and `labels_r{N}` at the root -- is not read: the run
    recomputes from round 1 and the labels are correct, although the
    old marker matches this input and its snapshot's labels are wrong.
    The old files are left as they were."""
    state = tmp_path / "state"
    chain = _chain(spark, 60, parts=4)
    lo, hi = F.least("id_a", "id_b"), F.greatest("id_a", "id_b")
    cnt, hsum = chain.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(lo, hi).cast("decimal(38,0)"))
    ).first()
    spark.createDataFrame(
        [(7, str(61 * 10_000), f"{cnt}:{hsum}")],
        "round int, label_sum string, edge_fp string",
    ).write.parquet(str(state / "state"))
    spark.createDataFrame(
        [(i, 10_000) for i in range(61)], "node long, label long"
    ).write.parquet(str(state / "labels_r7"))
    chain.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).write.parquet(
        str(state / "edges")
    )
    before = _files(state)

    got = {
        tuple(r)
        for r in neardup_clusters(chain, state_dir=str(state)).collect()
    }
    assert got == {(i, 0) for i in range(61)}
    assert before <= _files(state), before - _files(state)
    assert len(_fp_dirs(state)) == 1


# ---------------------------------------------------------------------------
# labels: correctness, driver actions and the round cap
# ---------------------------------------------------------------------------

def test_neardup_clusters_transitive(spark):
    """Chained pairs merge into one component labeled by the min id;
    disjoint pairs stay separate; convergence needs multiple rounds on
    a path graph (9-8-7-...-1 propagates the min along the chain)."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    # path 1-2-...-9 (diameter 8) + disjoint pair (100, 200)
    path = [(i, i + 1) for i in range(1, 9)]
    pairs = spark.createDataFrame(
        path + [(100, 200)], "id_a long, id_b long"
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in neardup_clusters(pairs).collect()
    }
    want = {(i, 1) for i in range(1, 10)} | {(100, 100), (200, 100)}
    assert got == want

    # cache hygiene: every round localCheckpoints, never persist()s
    spark.catalog.clearCache()
    neardup_clusters(pairs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_neardup_clusters_single_action_per_round(spark, monkeypatch):
    """Driver-action discipline (round-5 fix): every round issues ONE
    blocking action -- the lazy checkpoint is materialized by the same
    job that computes the convergence aggregate. Round 4 ran an eager
    localCheckpoint *plus* a separate aggregate per round; pin that no
    eager checkpoint ever happens and the action count stays bounded
    by rounds, not 2x rounds."""
    # the CLASSIC class: patching the pyspark.sql.DataFrame abstract
    # base intercepts nothing in Spark 4
    from pyspark.sql.classic.dataframe import DataFrame

    from readabilityimproved_spark.operators.graph import neardup_clusters

    calls = {"collect": 0, "eager": 0}
    orig_collect, orig_local = DataFrame.collect, DataFrame.localCheckpoint

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_local(self, eager=True):
        if eager:
            calls["eager"] += 1
        return orig_local(self, eager=eager)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "localCheckpoint", counting_local)
    # path of 9 (diameter 8): needs several pointer-jump rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    got = {tuple(r) for r in orig_collect(neardup_clusters(pairs))}
    assert got == {(i, 1) for i in range(1, 10)}
    assert calls["eager"] == 0, "eager checkpoint = a second action per round"
    # fused round 1 + jump-doubling: well under the old 2-actions/round
    assert calls["collect"] <= 6, calls


def test_neardup_clusters_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """state_dir = the durability mode: same labels, the edge table and
    per-round label snapshots actually land in the input's fingerprint
    directory (``fp_<count>_<hashsum>``, the only entry), NO
    localCheckpoint anywhere (a local checkpoint truncates lineage onto
    executor-local blocks -- executor loss would then be fatal, the
    exact failure the mode exists to survive), no cached residue
    afterwards, and the session's prior checkpoint dir is left as it
    was."""
    from pyspark.sql.classic.dataframe import DataFrame

    from readabilityimproved_spark.operators.graph import neardup_clusters

    local_calls = {"n": 0}
    orig_local = DataFrame.localCheckpoint

    def counting_local(self, eager=True):
        local_calls["n"] += 1
        return orig_local(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting_local)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(100, 200)],
        "id_a long, id_b long",
    )
    prior_dir = str(tmp_path / "prior")
    spark.sparkContext.setCheckpointDir(prior_dir)
    state = tmp_path / "state"
    got = {
        tuple(r)
        for r in neardup_clusters(pairs, state_dir=str(state)).collect()
    }
    assert got == {(i, 1) for i in range(1, 10)} | {(100, 100), (200, 100)}
    (fp,) = state.iterdir()
    assert fp.name.startswith("fp_") and ":" not in fp.name, fp.name
    names = {p.name for p in fp.iterdir()}
    assert "edges" in names, names
    assert any(n.startswith("labels_r") for n in names), names
    written = [p for p in (fp / "edges").rglob("*.parquet")]
    assert written, "no edge snapshot files were written"
    assert local_calls["n"] == 0, "the durable mode must not truncate lineage"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "the durable mode leaked persisted rounds"
    )
    restored = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert restored.isDefined() and prior_dir in restored.get()


def test_neardup_clusters_round_cap_raises(spark):
    """Hitting the round cap must raise, not return a partial closure
    (silent under-merging would under-deduplicate the corpus)."""
    import pytest as _pytest

    from readabilityimproved_spark.operators.graph import neardup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(pairs, max_rounds=2)


def test_dedup_keep_representative(spark):
    """Only component min-ids survive among clustered docs; documents
    in no pair pass through untouched."""
    from readabilityimproved_spark.operators.graph import (
        dedup_keep_representative,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 5, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in dedup_keep_representative(docs, pairs).collect()}
    assert kept == {1, 5, 7}


def test_clusters_match_python_union_find_on_random_graphs(spark):
    """Randomized cross-check of connected components against a
    pure-Python union-find, including long paths, stars, and cliques."""
    import random

    from readabilityimproved_spark.operators.graph import neardup_clusters

    for seed in (7, 99):
        rng = random.Random(seed)
        nodes = list(range(200))
        edges = set()
        # random edges + one long path + a star
        for _ in range(120):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        edges |= {(i, i + 1) for i in range(150, 199)}
        edges |= {(50, t) for t in range(60, 70)}

        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {n for e in edges for n in e}
        want = {(n, find(n)) for n in in_graph}

        df = spark.createDataFrame(
            sorted(edges), "id_a long, id_b long"
        )
        got = {tuple(r) for r in neardup_clusters(df).collect()}
        assert got == want, seed


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


# ---------------------------------------------------------------------------
# star contraction (_contract_local, _star_batches node cap) and id checks
# ---------------------------------------------------------------------------

def test_clusters_contraction_identical_labels_to_cap_2(spark, monkeypatch):
    """The per-partition union-find contraction is a pure plan
    optimization: labels (including cluster_id = global component min)
    must be identical at the default cap and at cap 2, where every
    edge is flushed as its own star (the raw edge set), across random
    graphs and partitionings."""
    import random

    from readabilityimproved_spark.operators import graph as G
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
        with monkeypatch.context() as m:
            m.setattr(G, "_CONTRACT_NODE_CAP", 2)
            raw = {tuple(r) for r in neardup_clusters(layout).collect()}
        assert on == raw


def test_clusters_contraction_cuts_rounds_vs_cap_2(spark, monkeypatch):
    """The point of the star contraction: when a component's edges are
    co-located (as bucketed pair generators emit them), intra-partition
    diameter collapses to 1 and the iteration needs strictly fewer
    rounds than over the raw edge set (cap 2). Count convergence
    actions (one per round) both ways over a long chain packed into
    one partition."""
    from pyspark.sql.classic.dataframe import DataFrame

    from readabilityimproved_spark.operators import graph as G
    from readabilityimproved_spark.operators.graph import neardup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "id_a long, id_b long"
    ).coalesce(1)

    def rounds_for(cap):
        monkeypatch.setattr(G, "_CONTRACT_NODE_CAP", cap)
        calls = {"collect": 0}
        orig = DataFrame.collect

        def counting(self):
            calls["collect"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "collect", counting)
        try:
            res = neardup_clusters(chain)
            labels = {tuple(r) for r in orig(res)}
        finally:
            monkeypatch.setattr(DataFrame, "collect", orig)
        assert labels == {(i, 0) for i in range(601)}
        return calls["collect"]

    contracted, raw = rounds_for(G._CONTRACT_NODE_CAP), rounds_for(2)
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


def test_clusters_contraction_selfpair_and_id_typing(spark):
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
    outs = list(_star_batches(iter([chain]), "a", "b", 6))
    # a flush emits every node the dict holds: no frame exceeds the cap
    assert max(len(pdf) for pdf in outs) <= 6
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
    neardup_clusters must be identical with an absurdly small cap and
    at cap 2, where every edge is flushed as its own star."""
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
        with monkeypatch.context() as m:
            m.setattr(G, "_CONTRACT_NODE_CAP", 2)
            raw = {tuple(r) for r in neardup_clusters(layout).collect()}
        assert tiny == raw


def test_clusters_missing_id_column_raises_value_error(spark):
    """A misspelled id column must fail with the same helpful error
    style as every other invalid argument -- naming the missing column
    and what IS available -- not a raw schema KeyError."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match=r"id_aa.*id_a"):
        neardup_clusters(pairs, id_a="id_aa")


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
    monkeypatch.setattr(G, "_CONTRACT_NODE_CAP", 1)
    with pytest.raises(ValueError, match="max_nodes"):
        _contract_local(pairs, "id_a", "id_b")

    actions = {"n": 0}
    orig_collect = DataFrame.collect

    def counting(self):
        actions["n"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    with pytest.raises(ValueError, match="max_nodes"):
        neardup_clusters(pairs)
    assert actions["n"] == 0, "the cap check ran after a job launched"
