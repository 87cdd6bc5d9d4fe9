"""Round-3 additions: relational tier plan quality + exact-arithmetic
aggregate discipline.

The correctness of the relational queries themselves is covered by
tests/test_entry_contract.py (every queries() entry runs against its
DuckDB oracle); these tests pin the SCALE properties the oracle can't
see: broadcast joins on the dimension side, pushed-down scan filters,
and single-exchange aggregation plans.
"""

from __future__ import annotations

import importlib.util
import sys

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_r3", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_r3"] = mod
    spec.loader.exec_module(mod)
    return mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_rollup_broadcasts_dims(spark, entry_mod):
    """Both dimension joins must be BroadcastHashJoin (the fact table
    never shuffles on a join key); the only hash exchange is the final
    low-cardinality aggregation."""
    plan = _plan(entry_mod.queries()["tpch_star_rollup"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2, plan[:3000]
    assert "SortMergeJoin" not in plan
    hash_exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_topk_per_segment_broadcasts_customer(spark, entry_mod):
    plan = _plan(entry_mod.queries()["tpch_topk_per_segment"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_pushes_shipdate_filter(spark, entry_mod):
    """The ship-date predicate must reach the parquet scan, and the scan
    must not read columns the query doesn't touch (l_orderkey etc.)."""
    plan = _plan(entry_mod.queries()["tpch_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "l_orderkey" not in scan, scan
    assert "l_partkey" not in scan, scan


def test_customers_without_orders_is_anti_join(spark, entry_mod):
    plan = _plan(
        entry_mod.queries()["tpch_customers_no_orders"](spark, SF_DIR)
    )
    assert "LeftAnti" in plan
    # non-empty at every driver scale: a 0-row result would be a
    # trivially-matching correctness signal
    n = entry_mod.queries()["tpch_customers_no_orders"](spark, SF_DIR).count()
    assert n > 0


def test_exact_cents_arithmetic_is_partitioning_invariant(spark, entry_mod):
    """The scaled-integer sums must not change when the data is
    re-partitioned (the property that round(sum(double)) lacks)."""
    from readabilityimproved_spark.operators.relational import pricing_summary

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    a = {tuple(r) for r in pricing_summary(li).collect()}
    b = {tuple(r) for r in pricing_summary(li.repartition(17)).collect()}
    assert a == b


def test_fresh_run_clears_stale_attempt_and_restores_conf(spark, tmp_path):
    """resume=False must not mix attempts: stale extracted partitions and
    lineage rows from a previous attempt are cleared, and the session-
    global partitionOverwriteMode conf is restored after the run."""
    import os

    from readabilityimproved_spark.plans.pipeline import run_extraction

    corpus = str(tmp_path / "corpus")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    shaped = docs.limit(50).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("http://h/2019-06/18/a.html").alias("base_uri"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.concat(
                    F.lit('<div class="content"><p>'),
                    F.col("text"),
                    F.lit(", one, two, three.</p></div>"),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    shaped.write.parquet(corpus)
    out = str(tmp_path / "out")
    run_extraction(spark, corpus, out, num_parts=4, waves=1, resume=False)

    # plant a stale partition dir + verify conf restoration
    stale = os.path.join(out, "extracted", "part=999")
    os.makedirs(stale, exist_ok=True)
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    run_extraction(spark, corpus, out, num_parts=4, waves=1, resume=False)
    assert not os.path.exists(stale)
    assert spark.conf.get(key) == "static"
    spark.conf.unset(key)

    # lineage holds exactly one attempt's rows after the fresh rerun
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.select("attempt").distinct().count() == 1
    assert lineage.count() == 4  # one row per part, empty parts included


def test_lineage_counts_error_documents(spark, tmp_path):
    """A pathological document (oversize nesting) must land in the
    extracted output with a non-ok status AND be counted in the lineage
    error_count — errors are data, not silent drops."""
    import os

    from readabilityimproved_spark.plans.pipeline import run_extraction

    deep = "<div>" * 700 + "text" + "</div>" * 700
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            ("good", '<div class="content"><p>fine, long, text here.</p></div>'),
            ("bad", deep),
        ],
        "doc_id string, text string",
    ).select(
        "doc_id",
        F.lit("http://h/a.html").alias("base_uri"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    ).write.parquet(corpus)

    out = str(tmp_path / "out")
    stats = run_extraction(spark, corpus, out, num_parts=2, waves=1, resume=False)
    assert stats["docs"] == 2
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    agg = lineage.agg(
        F.sum("doc_count").alias("d"), F.sum("error_count").alias("e")
    ).collect()[0]
    assert agg["d"] == 2
    assert agg["e"] == 1
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    statuses = {r["doc_id"]: r["status"] for r in extracted.collect()}
    assert statuses["good"] == "ok"
    assert statuses["bad"] != "ok"


def test_wave_observe_is_constant_size(spark):
    """The lineage observe must not grow with the wave's partition count
    (O(parts) conditional sums were a codegen bottleneck at 10^4+ parts):
    pinned by reading the pipeline source, which is the contract."""
    import inspect

    from readabilityimproved_spark.plans import pipeline

    src = inspect.getsource(pipeline.run_extraction)
    # the per-part loop building observe expressions is gone
    assert "for p in wave_parts" not in src.split("Observation")[1].split(
        "observe("
    )[0]
    assert src.count(".observe(") == 1


def test_decontaminate_broadcasts_benchmark(spark, entry_mod):
    """The benchmark gram table must broadcast (eval sets are tiny vs a
    10^12-doc corpus); the corpus side never shuffles on gram keys."""
    plan = _plan(entry_mod.queries()["decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_has_no_global_sort(spark, entry_mod):
    """Packing must parallelize across streams: a hash exchange on
    `stream` is expected, a range exchange (global sort) is a scale bug."""
    plan = _plan(entry_mod.queries()["pack_sequences"](spark, SF_DIR))
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange hashpartitioning(stream" in plan


def test_pack_sequences_boundary_semantics(spark):
    """A document belongs to the pack its FIRST token lands in: packs
    are contiguous per stream, start at 0, and every pack's starting
    offset is below the next budget boundary."""
    from readabilityimproved_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (20 + i % 50))) for i in range(200)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, token_budget=100, num_streams=4).collect()
    by_stream: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["stream"], r["doc_id"])):
        by_stream.setdefault(r["stream"], []).append(r)
    for stream, rs in by_stream.items():
        running = 0
        for r in rs:
            assert r["pack_id"] == running // 100, (stream, r)
            running += r["n_tokens"]
        packs = [r["pack_id"] for r in rs]
        assert packs[0] == 0
        # every doc here is < budget tokens, so pack ids are contiguous
        assert all(b - a in (0, 1) for a, b in zip(packs, packs[1:]))


def test_salted_topk_matches_python_reference_on_random_data(spark):
    """Randomized cross-check against a pure-Python reference: skewed
    group sizes, duplicate order keys, several seeds."""
    import random

    from readabilityimproved_spark.operators.relational import salted_topk

    for seed in (7, 23):
        rng = random.Random(seed)
        rows = []
        for gid, size in enumerate([1, 3, 50, 200]):
            for _ in range(size):
                rows.append((f"g{gid}", rng.randrange(10_000), rng.randrange(20)))
        df = spark.createDataFrame(rows, "grp string, id long, score long")
        k = rng.choice((1, 4, 9))
        got = {
            tuple(r)
            for r in salted_topk(
                df, "grp",
                [F.col("score").desc(), F.col("id").asc()],
                k, "id", salt_buckets=8,
            ).select("grp", "id", "score", "rank").collect()
        }
        want = set()
        by_grp: dict[str, list] = {}
        for g, i, s in rows:
            by_grp.setdefault(g, []).append((i, s))
        for g, members in by_grp.items():
            members.sort(key=lambda t: (-t[1], t[0]))
            for rank, (i, s) in enumerate(members[:k], start=1):
                want.add((g, i, s, rank))
        assert got == want, (seed, k)


def test_pack_sequences_matches_python_reference_on_random_data(spark):
    """Randomized cross-check of the pack-id rule (floor of exclusive
    running token sum / budget) against a pure-Python reference,
    including docs larger than the budget (pack-id jumps). Streams are
    hash-bucketed (round 4): the portable md5-slice rule is replicated
    here byte-for-byte in Python."""
    import hashlib
    import random

    from readabilityimproved_spark.operators.curation import pack_sequences

    rng = random.Random(41)
    rows = [(i, " ".join(["tok"] * rng.choice((1, 5, 80, 150)))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budget, streams = 100, 4

    def stream_of(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}_pk".encode()).hexdigest()[:15]
        return int(h, 16) % streams

    got = {
        (r["doc_id"], r["stream"], r["n_tokens"], r["pack_id"])
        for r in pack_sequences(
            df, token_budget=budget, num_streams=streams, portable_hash=True
        ).collect()
    }
    want = set()
    per_stream: dict[int, int] = {}
    for doc_id, text in sorted(rows):
        n = len(text.split())
        stream = stream_of(doc_id)
        running = per_stream.get(stream, 0)
        want.add((doc_id, stream, n, running // budget))
        per_stream[stream] = running + n
    assert got == want


def test_salted_topk_equals_plain_window(spark):
    """The two-phase salted top-k must return EXACTLY the plain
    window's rows and ranks (it's an optimization, not an
    approximation), at several k and salt widths."""
    from pyspark.sql import Window

    from readabilityimproved_spark.operators.relational import salted_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    for k in (1, 5):
        for buckets in (1, 4, 64):
            got = {
                tuple(r)
                for r in salted_topk(
                    docs, "source", order, k, "doc_id", buckets
                ).select("source", "doc_id", "rank").collect()
            }
            w = Window.partitionBy("source").orderBy(*order)
            want = {
                tuple(r)
                for r in docs.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("source", "doc_id", "rank")
                .collect()
            }
            assert got == want, (k, buckets)


def test_deterministic_sample_is_partitioning_invariant(spark):
    """The same ids must survive at ANY partitioning — the property
    df.sample lacks (its per-partition RNG stream changes with layout)."""
    from readabilityimproved_spark.operators.curation import (
        deterministic_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"] for r in deterministic_sample(docs, 0.4).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(13), 0.4).collect()
    }
    assert a == b
    assert 0.2 < len(a) / docs.count() < 0.6  # rate near the target


def test_mixture_expand_epoch_counts(spark):
    """floor(weight) guaranteed epochs, +1 with probability frac(weight);
    every expanded doc carries contiguous epochs 0..n_repeats-1."""
    from readabilityimproved_spark.operators.curation import mixture_expand

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), F.lit(1.5).alias("weight")
    )
    rows = mixture_expand(docs).collect()
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
        assert r["n_repeats"] in (1, 2)
    assert len(per_doc) == 300  # floor(1.5) >= 1: every doc appears
    for epochs in per_doc.values():
        assert sorted(epochs) == list(range(len(epochs)))
    upsampled = sum(1 for e in per_doc.values() if len(e) == 2)
    assert 0.3 < upsampled / 300 < 0.7  # Bernoulli(0.5) rate


def test_minhash_verified_releases_cached_blocks(spark):
    """minhash_verified_pairs must not pin blocks in the session
    CacheManager: the candidate table is localCheckpointed (cleaner-
    managed), not persist()ed (session-lifetime)."""
    from readabilityimproved_spark.operators.dedup import minhash_verified_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    # start from a clean CacheManager (the session is shared across the
    # suite and other tests may legitimately cache)
    spark.catalog.clearCache()
    minhash_verified_pairs(docs, threshold=0.1, portable_hash=True).collect()
    # persist() registers in the session CacheManager until an explicit
    # unpersist; localCheckpoint does not (its blocks are GC/cleaner-managed)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """A duplicated event stream dedups to the batch-distinct result;
    the plan uses the watermark-bounded operator, not unbounded
    dropDuplicates state."""
    from readabilityimproved_spark.streaming.stream import streaming_dedup

    events_dir = str(tmp_path / "ev")
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(400)
    base.union(base).write.parquet(events_dir)  # every event twice
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    deduped = streaming_dedup(stream, id_cols=("event_id",))
    logical = deduped._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in logical, logical[:1500]
    out = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 400
    assert got.select("event_id").distinct().count() == 400
    # batch twin: same call on a batch frame = plain distinct-by-id
    batch = streaming_dedup(
        spark.read.parquet(events_dir), id_cols=("event_id",)
    )
    assert batch.count() == 400


def test_spark_submit_py_files_deployment(spark, tmp_path):
    """The north rule's deployment shape end-to-end: package the engine
    as a zip, run the pipeline through `spark-submit --py-files` in a
    separate JVM, and check the extracted output."""
    import json
    import os
    import shutil
    import subprocess
    import zipfile

    corpus = str(tmp_path / "corpus")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    shaped = docs.limit(40).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("http://h/2019-06/18/a.html").alias("base_uri"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.concat(
                    F.lit('<div class="content"><p>'),
                    F.col("text"),
                    F.lit(", one, two, three.</p></div>"),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    shaped.write.parquet(corpus)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "engine.zip")
    pkg_root = os.path.join(repo, "readabilityimproved_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))

    submit = shutil.which("spark-submit")
    assert submit, "spark-submit not on PATH"
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(repo, "tools", "submit_job.py"),
            corpus, out_dir, "4",
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["docs"] == 40
    extracted = spark.read.parquet(os.path.join(out_dir, "extracted"))
    assert extracted.count() == 40
    assert extracted.filter(F.col("status") == "ok").count() == 40


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed on the same key must join with ZERO exchanges
    (the write-time shuffle replaces every query-time shuffle)."""
    from readabilityimproved_spark.sources.io import write_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # disable broadcast so the test exercises the bucketed (sort-merge)
    # path -- at 10^12 rows neither side broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(docs, "t_docs_b", "doc_id", 8, sort_col="doc_id")
        write_bucketed(emb, "t_emb_b", "doc_id", 8, sort_col="doc_id")
        joined = spark.table("t_docs_b").join(spark.table("t_emb_b"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:3000]
        assert joined.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_emb_b")


def test_sessionize_gap_compares_microseconds(spark):
    """An event 0.5s inside/outside the 30-min gap must sessionize by
    its MICROSECOND distance (second-truncated compare would merge the
    1800.5s gap)."""
    from readabilityimproved_spark.streaming.stream import (
        sessionize_events_batch,
    )

    rows = [
        (1, "2024-01-01 00:00:00.000000", 1.0),
        (1, "2024-01-01 00:30:00.500000", 1.0),  # gap 1800.5s -> NEW session
        (2, "2024-01-01 00:00:00.500000", 1.0),
        (2, "2024-01-01 00:30:00.000000", 1.0),  # gap 1799.5s -> SAME session
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["user_id"], r["session_id"], r["n_events"])
        for r in sessionize_events_batch(events).collect()
    }
    assert got == {(1, 1, 1), (1, 2, 1), (2, 1, 2)}
