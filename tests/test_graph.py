"""`operators/graph.py`: near-dup clustering (`neardup_clusters`) and its
one durable mode, `state_dir` parquet snapshots -- resume after driver
loss, input fingerprinting and snapshot pruning."""

import logging

import pytest

from readabilityimproved_spark.operators import graph as G
from readabilityimproved_spark.operators.graph import neardup_clusters

PAIRS = "id_a long, id_b long"


@pytest.fixture
def warnings_log(caplog):
    caplog.set_level(logging.WARNING, logger=G.__name__)
    return caplog


def _chain(spark, n, start=0, parts=8):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(start, start + n)], PAIRS
    ).repartition(parts)


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# the durable mode: snapshots, not checkpoints
# ---------------------------------------------------------------------------

def test_clusters_state_dir_cap_raise_leaves_no_cached_residue(spark, tmp_path):
    """Any exit path -- here the round-cap raise -- leaves the
    CacheManager clean, not just the convergence path."""
    with pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(
            _chain(spark, 500), pre_contract=False, max_rounds=3,
            state_dir=str(tmp_path / "state"),
        )
    assert _cache_empty(spark)


def test_clusters_state_dir_resumes_after_driver_loss(spark, tmp_path, monkeypatch):
    """state_dir = driver-loss recovery: a run killed by the round cap
    leaves parquet snapshots; a rerun with the same state_dir resumes
    from the newest snapshot (strictly fewer propagation rounds than a
    fresh run) and converges to identical labels."""
    from pyspark.sql.classic.dataframe import DataFrame

    # long chain, pre-contraction disabled and spread out, so the run
    # genuinely needs many rounds
    chain = _chain(spark, 400)
    state = str(tmp_path / "state")

    with pytest.raises(RuntimeError, match="converge"):
        neardup_clusters(
            chain, max_rounds=6, pre_contract=False, state_dir=state
        )

    def collects(**kw):
        calls = {"n": 0}
        orig = DataFrame.collect

        def counting(self):
            calls["n"] += 1
            return orig(self)

        monkeypatch.setattr(DataFrame, "collect", counting)
        try:
            res = neardup_clusters(chain, pre_contract=False, **kw)
            labels = {tuple(r) for r in orig(res)}
        finally:
            monkeypatch.setattr(DataFrame, "collect", orig)
        return labels, calls["n"]

    resumed_labels, resumed_actions = collects(state_dir=state)
    fresh_labels, fresh_actions = collects()
    want = {(i, 0) for i in range(401)}
    assert resumed_labels == want and fresh_labels == want
    assert resumed_actions < fresh_actions, (resumed_actions, fresh_actions)


def test_clusters_state_dir_rerun_same_cap_progresses(spark, tmp_path):
    """max_rounds bounds the rounds of THIS run: rerunning with the
    SAME arguments after a cap raise continues from the snapshot and
    eventually converges, instead of re-raising forever."""
    chain = _chain(spark, 400)
    kw = dict(max_rounds=4, pre_contract=False, state_dir=str(tmp_path / "state"))
    labels = None
    for _ in range(6):  # each rerun advances 4 snapshot rounds
        try:
            labels = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
            break
        except RuntimeError:
            continue
    assert labels == {(i, 0) for i in range(401)}


def test_clusters_state_dir_pruned_to_two_snapshots(spark, tmp_path):
    """Snapshots must not accumulate one label-table copy per round:
    only the newest two survive, and resume still works off them."""
    chain = _chain(spark, 400)
    state = tmp_path / "state"
    kw = dict(pre_contract=False, state_dir=str(state))
    got = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert got == {(i, 0) for i in range(401)}
    snaps = sorted(
        p.name for p in state.iterdir() if p.name.startswith("labels_r")
    )
    assert len(snaps) == 2, snaps
    # the MARKER table is compacted alongside: markers are append-only
    # one-row parquet files, so without compaction every resume's
    # mergeSchema read opens one footer per lifetime snapshot. After
    # pruning, only rows for the surviving rounds remain.
    kept_rounds = {int(s[len("labels_r"):]) for s in snaps}
    marker_rounds = {
        r["round"]
        for r in spark.read.parquet(str(state / "state")).collect()
    }
    assert marker_rounds <= kept_rounds, (marker_rounds, kept_rounds)
    # resume from the pruned directory still converges
    again = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert again == got


# ---------------------------------------------------------------------------
# input fingerprint and marker robustness
# ---------------------------------------------------------------------------

def test_clusters_state_dir_rejects_foreign_pairs(spark, tmp_path, warnings_log):
    """Resuming a state_dir built from a DIFFERENT pairs input must not
    silently import foreign labels / drop nodes: the fingerprint
    mismatch warns and starts fresh, and the result is correct for the
    NEW input."""
    state = str(tmp_path / "state")
    kw = dict(pre_contract=False, state_dir=state)
    chain_a = _chain(spark, 60, parts=4)
    neardup_clusters(chain_a, **kw).collect()
    warnings_log.clear()

    chain_b = _chain(spark, 60, start=1000, parts=4)
    got = {tuple(r) for r in neardup_clusters(chain_b, **kw).collect()}
    assert got == {(i, 1000) for i in range(1000, 1061)}
    assert "DIFFERENT pairs input" in warnings_log.text

    # the stale content was CLEARED, not left to poison later reruns:
    # every surviving marker carries B's fingerprint only (mixed rounds
    # from two inputs could tie-break a future resume onto the wrong
    # labels table), and rerunning A starts fresh again -- correctly
    fps = {
        r["edge_fp"]
        for r in spark.read.parquet(f"{state}/state").collect()
    }
    assert len(fps) == 1
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


def test_clusters_legacy_marker_resumes_with_warning(spark, tmp_path, warnings_log):
    """Pre-round-6 state markers carry no fingerprint column: they must
    still resume (back-compat), but loudly marked UNVERIFIED."""
    state = str(tmp_path / "state")
    kw = dict(pre_contract=False, state_dir=state)
    chain = _chain(spark, 60, parts=4)
    neardup_clusters(chain, **kw).collect()

    # strip the fingerprint column, emulating a round-5 marker table
    rows = [
        (r["round"], r["label_sum"])
        for r in spark.read.parquet(f"{state}/state").collect()
    ]
    spark.createDataFrame(
        rows, "round int, label_sum string"
    ).write.mode("overwrite").parquet(f"{state}/state")
    warnings_log.clear()

    got = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert got == {(i, 0) for i in range(61)}
    assert "UNVERIFIED" in warnings_log.text


def test_clusters_corrupt_marker_read_preserves_snapshots(
    spark, tmp_path, warnings_log
):
    """A marker READ failure is not proof of corruption -- an object
    store throttle lands in the same except path -- so resume must warn
    and start fresh WITHOUT deleting the (possibly valid) snapshots.
    Only a verified fingerprint mismatch may clear the directory."""
    state = tmp_path / "state"
    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], PAIRS)
    want = {(i, 0) for i in range(61)}
    kw = dict(state_dir=str(state))
    assert {tuple(r) for r in neardup_clusters(chain, **kw).collect()} == want
    snaps_before = sorted(
        p.name for p in state.iterdir() if p.name.startswith("labels_r")
    )
    assert snaps_before
    # corrupt the marker table: a garbage file makes the parquet read
    # raise a non-AnalysisException error
    for f in (state / "state").iterdir():
        if f.name.endswith(".parquet"):
            f.write_bytes(b"not a parquet file")
    warnings_log.clear()
    got = {tuple(r) for r in neardup_clusters(chain, **kw).collect()}
    assert got == want  # fresh recompute is still correct
    assert "WITHOUT clearing" in warnings_log.text, warnings_log.text
    snaps_after = sorted(
        p.name for p in state.iterdir() if p.name.startswith("labels_r")
    )
    # the label snapshots survived the unreadable-marker episode
    assert set(snaps_before) <= set(snaps_after), (snaps_before, snaps_after)
