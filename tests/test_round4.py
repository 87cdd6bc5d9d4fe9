"""Round-4 regression pins: VERDICT/ADVICE r3 items.

Covers: ngram_jaccard cache-leak fix, sign-aware money rounding,
hash-bucketed pack streams, batched wave FS listing in the pipeline,
and the bucketed co-located join driver row.
"""

from pyspark.sql import functions as F


def test_ngram_jaccard_releases_cached_blocks(spark):
    """ngram_jaccard_pairs must not pin blocks in the session
    CacheManager (round-3 leak: `_shingles(...).cache()` with no
    unpersist). localCheckpoint blocks are cleaner-managed instead."""
    from readabilityimproved_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cents_sign_aware_rounding(spark):
    """floor(x*100+0.5) rounds negative halves toward +inf (-1.005 ->
    -100); money rounding must be half-away-from-zero (-101)."""
    from readabilityimproved_spark.operators.relational import _cents

    df = spark.createDataFrame(
        [(-1.005,), (-2.675,), (-0.004,), (0.0,), (1.005,), (2.675,)],
        "x double",
    )
    got = [r[0] for r in df.select(_cents("x")).collect()]
    # IEEE products: 1.005*100 = 100.4999... -> 100; 2.675*100 = exactly
    # 267.5 -> half rounds AWAY (268) on both signs
    assert got == [-100, -268, 0, 0, 100, 268]
    # the invariant that matters: symmetry (half-away-from-zero); the
    # round-3 formula gave floor(-267.0) = -267 vs +268
    assert got[0] == -got[4] and got[1] == -got[5]


def test_pack_streams_hash_bucketed(spark):
    """pack_sequences must bucket streams by HASH of the id, not
    pmod(id, n): ids striding by a multiple of num_streams collapse
    into one stream under pmod (single-window-task straggler), and
    string ids yield NULL pmod entirely."""
    from readabilityimproved_spark.operators.curation import pack_sequences

    # ids all ≡ 0 (mod 4): pmod bucketing would put ALL docs in stream 0
    docs = spark.createDataFrame(
        [(i * 4, "w " * 8) for i in range(64)], "doc_id long, text string"
    )
    out = pack_sequences(docs, token_budget=16, num_streams=4)
    n_streams = out.select("stream").distinct().count()
    assert n_streams >= 3, f"ids striding by 4 collapsed to {n_streams} streams"

    # string ids must work (round-3 version produced NULL pmod -> no rows)
    sdocs = spark.createDataFrame(
        [(f"doc-{i}", "w " * 8) for i in range(16)], "doc_id string, text string"
    )
    sout = pack_sequences(sdocs, token_budget=16, num_streams=4)
    assert sout.filter(F.col("stream").isNull()).count() == 0
    assert sout.count() == 16

    # portable twin == production twin modulo hash choice: both must
    # cover every doc exactly once with exact running-sum pack ids
    pout = pack_sequences(docs, token_budget=16, num_streams=4,
                          portable_hash=True)
    assert pout.count() == 64
    assert pout.filter(F.col("stream").isNull()).count() == 0


def _mkblocks(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, page int, block_id int, x0 double, y0 double,"
        " x1 double, y1 double, text string",
    )


def test_reading_order_uninterleaves_columns(spark):
    """Newspaper order: title band, whole left column, then right
    column — NOT naive y-order (which interleaves L/R)."""
    from readabilityimproved_spark.operators.layout import reading_order

    blocks = _mkblocks(spark, [
        (1, 0, 0, 36.0, 40.0, 576.0, 60.0, "title"),
        (1, 0, 1, 36.0, 100.0, 288.0, 280.0, "L1"),
        (1, 0, 2, 324.0, 100.0, 576.0, 280.0, "R1"),
        (1, 0, 3, 36.0, 300.0, 288.0, 480.0, "L2"),
        (1, 0, 4, 324.0, 300.0, 576.0, 480.0, "R2"),
    ])
    got = [
        r["text"]
        for r in reading_order(blocks).orderBy("order_idx").collect()
    ]
    assert got == ["title", "L1", "L2", "R1", "R2"]


def test_reading_order_full_width_block_opens_band(spark):
    """A mid-page full-width block (section rule / figure) closes the
    column band above it: columns do NOT flow across it."""
    from readabilityimproved_spark.operators.layout import reading_order

    blocks = _mkblocks(spark, [
        (7, 0, 1, 36.0, 100.0, 288.0, 200.0, "L-above"),
        (7, 0, 2, 324.0, 100.0, 576.0, 200.0, "R-above"),
        (7, 0, 3, 36.0, 300.0, 576.0, 320.0, "divider"),
        (7, 0, 4, 36.0, 400.0, 288.0, 500.0, "L-below"),
        (7, 0, 5, 324.0, 400.0, 576.0, 500.0, "R-below"),
        # page order beats geometry
        (7, 1, 6, 36.0, 100.0, 288.0, 200.0, "p2"),
    ])
    got = [
        r["text"]
        for r in reading_order(blocks).orderBy("order_idx").collect()
    ]
    assert got == ["L-above", "R-above", "divider", "L-below", "R-below", "p2"]


def test_strip_repeated_furniture_normalizes_page_numbers(spark):
    """'Page 3' == 'Page 17' after digit collapsing; repeated footers
    drop, body text at other y positions survives, and a single-page
    doc keeps its footer (nothing recurs)."""
    from readabilityimproved_spark.operators.layout import (
        strip_repeated_furniture,
    )

    blocks = _mkblocks(spark, [
        (1, 0, 1, 36.0, 100.0, 288.0, 200.0, "body one"),
        (1, 0, 90, 36.0, 770.0, 576.0, 790.0, "Page 3"),
        (1, 1, 2, 36.0, 100.0, 288.0, 200.0, "body two"),
        (1, 1, 91, 36.0, 772.0, 576.0, 792.0, "Page 17"),
        (2, 0, 1, 36.0, 100.0, 288.0, 200.0, "solo body"),
        (2, 0, 90, 36.0, 770.0, 576.0, 790.0, "Page 1"),
    ])
    kept = {
        (r["doc_id"], r["text"])
        for r in strip_repeated_furniture(blocks).collect()
    }
    assert kept == {
        (1, "body one"), (1, "body two"),
        (2, "solo body"), (2, "Page 1"),
    }


def test_layout_spans_dense_offsets_and_plumbing(spark):
    """End-to-end fake decode -> strip -> order -> span shape: offsets
    dense from 0 per doc; multi-page docs lose their footers."""
    import pytest as _pytest

    from readabilityimproved_spark.operators.layout import (
        decode_pdf_blocks,
        fake_pdf_blocks,
        layout_spans,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(60))),  # 15 blocks, 3 pages
         (2, "a b c")],                              # 1 block, 1 page
        "doc_id long, text string",
    )
    spans = layout_spans(fake_pdf_blocks(docs)).collect()
    by_doc: dict[int, list[int]] = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r["span_offset"])
    for offsets in by_doc.values():
        assert sorted(offsets) == list(range(len(offsets)))
    texts1 = {r["text"] for r in spans if r["doc_id"] == 1}
    assert not any("confidential" in t for t in texts1)  # furniture gone
    texts2 = {r["text"] for r in spans if r["doc_id"] == 2}
    assert any("confidential" in t for t in texts2)  # single page keeps it

    with _pytest.raises(NotImplementedError, match="pdfminer|PyMuPDF"):
        decode_pdf_blocks(docs)


def test_reading_order_single_exchange(spark):
    """Both layout windows share the doc_id partitioning: ONE exchange
    in the plan (the tier's whole shuffle budget per query)."""
    from readabilityimproved_spark.operators.layout import (
        fake_pdf_blocks,
        reading_order,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = reading_order(
        fake_pdf_blocks(docs, with_footer=False)
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_new_tiers_partitioning_invariant(spark):
    """Reading order, cluster labels, and incremental-dedup survivors
    must not depend on the input's physical layout (the cluster-size /
    repartition invariance every deterministic operator claims)."""
    from readabilityimproved_spark.operators.graph import neardup_clusters
    from readabilityimproved_spark.operators.layout import (
        fake_pdf_blocks,
        layout_spans,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    spans = lambda d: {
        tuple(r) for r in layout_spans(fake_pdf_blocks(d)).collect()
    }
    assert spans(docs) == spans(docs.repartition(17))

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)] + [(100, 200), (7, 300)],
        "id_a long, id_b long",
    )
    labels = lambda p: {tuple(r) for r in neardup_clusters(p).collect()}
    assert labels(pairs) == labels(pairs.repartition(13))


def test_tokens_to_ids_order_and_oov(spark):
    """Ids come back in DOCUMENT order (not id order), OOV tokens map
    to -1 and are counted, vocab ids are dense by (count desc, token)."""
    from readabilityimproved_spark.operators.curation import (
        build_vocab_ids,
        tokens_to_ids,
    )

    docs = spark.createDataFrame(
        [(1, "b a b c b a"), (2, "zz a")], "doc_id long, text string"
    )
    vocab = build_vocab_ids(docs, top_n=2)  # b(3)->0, a(3)->1 (tie: a<b?)
    v = {r["token"]: r["id"] for r in vocab.collect()}
    # counts: b=3, a=3 -> tie broken by token asc: a->0, b->1
    assert v == {"a": 0, "b": 1}
    got = {r["doc_id"]: r for r in tokens_to_ids(docs, vocab).collect()}
    assert got[1]["token_ids"] == "1 0 1 -1 1 0"  # c is OOV
    assert got[1]["n_oov"] == 1
    assert got[2]["token_ids"] == "-1 0" and got[2]["n_oov"] == 1


def test_stratified_sample_rates_and_invariance(spark):
    """Per-group fractions apply (0 drops a group, 1 keeps all of it),
    unknown groups get the default, and the kept set is invariant
    under repartitioning."""
    from readabilityimproved_spark.operators.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "a" if i < 40 else ("b" if i < 80 else "c")) for i in range(120)],
        "doc_id long, source string",
    )
    kept = lambda d: {
        r["doc_id"]
        for r in stratified_sample(
            d, {"a": 1.0, "b": 0.0}, default_fraction=0.5
        ).collect()
    }
    k = kept(docs)
    assert {i for i in k if i < 40} == set(range(40))  # a: all kept
    assert not any(40 <= i < 80 for i in k)            # b: none
    c_kept = sum(1 for i in k if i >= 80)
    assert 0 < c_kept < 40                             # c: ~half
    assert k == kept(docs.repartition(7))


def test_corpus_stats_exact_and_approx(spark):
    """Exact path interpolates the even-count median; the approx
    (t-digest) default returns a real value within the group's range."""
    from readabilityimproved_spark.operators.curation import corpus_stats

    docs = spark.createDataFrame(
        [("a", "x y", 10), ("a", "x", 20), ("a", "x", 30), ("a", "x", 40),
         ("b", "x y z", 5)],
        "source string, text string, n_chars long",
    )
    exact = {
        r["source"]: r
        for r in corpus_stats(docs, exact_quantiles=True).collect()
    }
    assert exact["a"]["median_chars"] == 25.0  # (20+30)/2 interpolated
    assert exact["a"]["n_docs"] == 4 and exact["a"]["sum_tokens"] == 5
    assert exact["b"]["median_chars"] == 5.0
    approx = {
        r["source"]: r for r in corpus_stats(docs).collect()
    }
    assert 10 <= approx["a"]["median_chars"] <= 40


def test_redact_pii_rules(spark):
    """Each PII rule fires on its shape and leaves prose alone."""
    from readabilityimproved_spark.operators.curation import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk now"),
            (2, "call 555-123-4567 today"),
            (3, "host 192.168.0.1 up"),
            (4, "card 4111 1111 1111 1111 used"),
            (5, "version 1.2 of 3 things"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in redact_pii(docs).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> today"
    assert got[3] == "host <IP> up"
    assert got[4] == "card <CARD> used"
    assert got[5] == "version 1.2 of 3 things"


def test_redact_pii_spark_duckdb_parity_fuzz(spark):
    """Fuzz the Java-regex / RE2 parity claim: random strings mixing
    PII-shaped fragments, near-misses, and noise must redact
    IDENTICALLY in Spark and DuckDB (the oracle dialect)."""
    import random

    import duckdb

    from readabilityimproved_spark.functions import sqlgen

    rng = random.Random(2024)
    frags = [
        "a.b+c@ex.co", "x@y.z", "@nope", "no@tld", "a@b.c2",
        "555-123-4567", "55-123-4567", "555.123.4567", "555 123 4567",
        "5551234567", "1.2.3.4", "10.0.300.1", "1.2.3", "1.2.3.4.5",
        "4111 1111 1111 1111", "4111-1111-1111-1111", "4111 1111 1111",
        "v1.2", "p. 44", "word", "a-b_c", "..", "@@", "12345",
    ]
    rows = []
    for i in range(300):
        s = " ".join(rng.choice(frags) for _ in range(rng.randint(1, 8)))
        rows.append((i, s))
    sdf = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: r["red"]
        for r in sdf.select(
            "i",
            __import__("pyspark.sql.functions", fromlist=["expr"]).expr(
                sqlgen.redact_pii_sql("text", sqlgen.SPARK)
            ).alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    expr = sqlgen.redact_pii_sql("text", sqlgen.DUCKDB)
    want = dict(con.execute(f"SELECT i, {expr} FROM t").fetchall())
    assert got == want


def test_fingerprint_index_incremental_roundtrip(spark, tmp_path):
    """Cross-crawl dedup contract: batch docs whose content is in the
    persisted index drop; within-batch dups keep min id; after
    update_fingerprint_index, re-running the SAME batch drops
    everything (exactly-once ingest)."""
    from readabilityimproved_spark.operators.dedup import (
        build_fingerprint_index,
        dedup_against_index,
        update_fingerprint_index,
    )

    idx = str(tmp_path / "fp_index")
    history = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    build_fingerprint_index(history, idx, num_files=2)

    batch = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),   # normalizes to history doc 1 -> drop
            (11, "epsilon zeta"),   # fresh -> keep
            (12, "epsilon zeta"),   # within-batch dup of 11 -> drop
            (13, "eta theta"),      # fresh -> keep
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"] for r in dedup_against_index(spark, batch, idx).collect()
    }
    assert kept == {11, 13}

    update_fingerprint_index(spark, batch, idx)
    again = dedup_against_index(spark, batch, idx).count()
    assert again == 0
    # the index holds each distinct fingerprint exactly once
    n_fp = spark.read.parquet(idx).count()
    n_distinct = spark.read.parquet(idx).distinct().count()
    assert n_fp == n_distinct == 4  # 2 history + epsilon-zeta + eta-theta


def test_plan_waves_balances_bytes():
    """LPT packing: one giant partition gets a wave of its own; without
    sizes the legacy even count split applies; determinism holds."""
    from readabilityimproved_spark.plans.pipeline import plan_waves

    sizes = {0: 1000, 1: 10, 2: 10, 3: 10}
    groups = plan_waves([0, 1, 2, 3], 2, sizes)
    assert sorted(map(tuple, groups)) == [(0,), (1, 2, 3)]
    # no sizes -> even count split, order preserved
    assert plan_waves([5, 6, 7, 8], 2) == [[5, 6], [7, 8]]
    # more waves than parts collapses; empty input is empty
    assert plan_waves([1], 4, {1: 5}) == [[1]]
    assert plan_waves([], 4) == []
    assert plan_waves([0, 1, 2, 3], 2, sizes) == groups  # deterministic


def test_pipeline_waves_isolate_giant_partition(spark, tmp_path):
    """End to end: a corpus where one partition holds ~10x the bytes
    runs with that partition isolated in its own wave (read back from
    the lineage wave column), and all documents are still processed."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import synth_corpus_df

    docs = synth_corpus_df(spark, 60, num_slices=4).drop("part")
    num = F.regexp_extract("doc_id", r"(\d+)", 1).cast("int")
    skewed = docs.withColumn(
        "part",
        F.when(num < 40, F.lit(0))  # 2/3 of docs in part 0
        .otherwise(F.pmod(num, F.lit(3)) + 1)
        .cast("int"),
    )
    corpus = str(tmp_path / "c")
    skewed.repartition(4, "part").write.partitionBy("part").parquet(corpus)
    out = str(tmp_path / "o")
    stats = P.run_extraction(
        spark, corpus, out, num_parts=4, waves=2, resume=False
    )
    assert stats["docs"] == 60
    lineage = spark.read.parquet(f"{out}/lineage")
    wave_of = {r["part"]: r["wave"] for r in lineage.collect()}
    others = {wave_of[p] for p in (1, 2, 3)}
    assert len(others) == 1 and wave_of[0] not in others


def test_job_summary_reports_run_health(spark, tmp_path):
    """job_summary totals match run_extraction's returned stats; wave
    wall time is counted once per wave, not once per part row; the
    completion fraction reflects num_parts."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 40, corpus)
    # strip the stored part column so num_parts=8 drives the derivation
    corpus8 = str(tmp_path / "corpus8")
    spark.read.parquet(corpus).drop("part").write.parquet(corpus8)
    out = str(tmp_path / "out")
    stats = P.run_extraction(
        spark, corpus8, out, num_parts=8, waves=2, resume=False
    )
    rows = P.job_summary(spark, out, num_parts=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["docs"] == stats["docs"] == 40
    assert r["parts_done"] == 8 and r["waves"] == 2
    assert r["completion"] == 1.0
    # per-wave wall counted once: sum over lineage rows would be
    # parts-per-wave times larger
    lineage = spark.read.parquet(f"{out}/lineage")
    naive = lineage.agg(F.sum("wall_ms")).collect()[0][0]
    assert r["wall_ms_sum"] <= naive


def test_run_extraction_covers_stored_parts_beyond_num_parts(spark, tmp_path):
    """A corpus carrying a stored part column wider than num_parts must
    still be processed COMPLETELY: the job iterates the partitions that
    exist, not range(num_parts) (which silently skipped parts >=
    num_parts and reported success on a fraction of the corpus)."""
    import readabilityimproved_spark.plans.pipeline as P
    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "c")  # synth stores part in 0..63
    write_synth_corpus(spark, 40, corpus)
    out = str(tmp_path / "o")
    stats = P.run_extraction(
        spark, corpus, out, num_parts=8, waves=2, resume=False
    )
    assert stats["docs"] == 40
    extracted = spark.read.parquet(f"{out}/extracted")
    assert extracted.count() == 40


def test_corpus_format_roundtrip_drives_kernel(spark, tmp_path):
    """ORC and JSON corpus roundtrips feed the extraction kernel with
    results identical to the parquet path (format breadth of the
    source/sink edge; json needs the explicit span schema on read)."""
    from readabilityimproved_spark.operators.extract import extract_spans
    from readabilityimproved_spark.sources.io import read_corpus, write_corpus
    from readabilityimproved_spark.sources.synth import synth_corpus_df

    docs = synth_corpus_df(spark, 20, num_slices=2)
    schema = docs.schema  # StructType; json can't infer struct nulls
    def canon(df):
        return {
            (r["doc_id"], r["n_spans"], r["n_images"], r["status"],
             tuple(tuple(s) for s in r["spans"]))
            for r in df.collect()
        }

    baseline = canon(extract_spans(docs))
    assert baseline
    for fmt in ("parquet", "orc", "json"):
        p = str(tmp_path / f"c_{fmt}")
        write_corpus(docs, p, mode="overwrite", fmt=fmt)
        back = read_corpus(
            spark, p, fmt=fmt, schema=schema if fmt == "json" else None
        )
        assert canon(extract_spans(back)) == baseline, fmt


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
    per-round label snapshots actually land in the directory, NO
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
    names = {p.name for p in state.iterdir()}
    assert "edges" in names and "state" in names, names
    assert any(n.startswith("labels_r") for n in names), names
    written = [p for p in (state / "edges").rglob("*.parquet")]
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


def test_contains_markup_guard_is_sound_on_random_docs():
    """The serialize-skip guard's one-way contract, judged against the
    ACTUAL rewrite regexes (not a re-typed needle list): whenever
    contains_markup says False, applying REGEX_REPLACE_BRS and
    REGEX_REPLACE_FONTS to the serialized HTML must be the identity.
    Random docs mix br/font elements, PREFIX tags the regexes also
    match (<font-face>, <brand> — the second round-5 soundness fix:
    exact tag-name membership missed them), needles in comments / attr
    values / attr KEYS (html.parser yields names like 'a<br'), a
    close-font token with no open ('</font'), and '<br' in TEXT
    (escapes to &lt;br and must NOT force a serialize)."""
    import random

    from readabilityimproved_spark import patterns as P
    from readabilityimproved_spark.dom import parse
    from readabilityimproved_spark.kernel.readability import _PREP_NEEDLES

    rng = random.Random(77)
    pieces = [
        "<p>plain text</p>",
        "<p>a &lt;br&gt; as text</p>",
        "<p>literal <br> element</p>",
        "<font size=2>f</font>",
        "<font-face>svg-style prefix tag</font-face>",
        "<brand>prefix of br</brand>",
        "<xfont>not a needle (no leading bracket match)</xfont>",
        "<!-- a <BR> inside a comment -->",
        "<!-- stray close </font inside a comment -->",
        '<div title="has <br> in attr">d</div>',
        '<div title="close </Font > in attr">d</div>',
        '<div a<br="attr key needle">d</div>',
        "<p>text with < stray bracket br</p>",
        "<div><p>nested</p><span>s</span></div>",
    ]
    for _ in range(150):
        html = "<body>" + "".join(
            rng.choice(pieces) for _ in range(rng.randint(1, 6))
        ) + "</body>"
        doc = parse(html)
        body = doc.body()
        claims = body.contains_markup(_PREP_NEEDLES)
        serialized = body.html()
        rewritten = P.REGEX_REPLACE_FONTS.sub(
            r"<\1span>", P.REGEX_REPLACE_BRS.sub("</p><p>", serialized)
        )
        if not claims:
            # False must PROVE the rewrites are a no-op
            assert rewritten == serialized, html
        if rewritten != serialized:
            assert claims, html  # a real rewrite must be detected


def test_reading_order_matches_python_reference_on_random_layouts(spark):
    """Randomized cross-check of the banded two-column ordering rule
    against a pure-Python reference: random pages of full-width /
    left / right blocks at random y positions (with ties)."""
    import random

    from readabilityimproved_spark.operators.layout import reading_order

    rng = random.Random(1234)
    rows = []
    for doc in range(30):
        bid = 0
        for page in range(rng.randint(1, 3)):
            for _ in range(rng.randint(1, 12)):
                kind = rng.choice(("full", "left", "right"))
                y0 = float(rng.choice((40, 100, 100, 300, 500, 500)))
                x0, x1 = {
                    "full": (36.0, 576.0),
                    "left": (36.0, 288.0),
                    "right": (324.0, 576.0),
                }[kind]
                rows.append((doc, page, bid, x0, y0, x1, y0 + 20.0))
                bid += 1
    df = spark.createDataFrame(
        [r + (f"t{r[2]}",) for r in rows],
        "doc_id long, page int, block_id int, x0 double, y0 double,"
        " x1 double, y1 double, text string",
    )
    got = {
        (r["doc_id"], r["block_id"]): r["order_idx"]
        for r in reading_order(df).collect()
    }

    # pure-Python reference of the documented rule
    mid = 306.0
    by_doc: dict[int, list] = {}
    for doc, page, bid, x0, y0, x1, _ in rows:
        by_doc.setdefault(doc, []).append((page, bid, x0, y0, x1))
    want = {}
    for doc, blocks in by_doc.items():
        # band = cumulative count of full-width blocks in (page,y0,x0,bid)
        # order; full blocks carry col -1, left 0, right 1
        seq = sorted(blocks, key=lambda b: (b[0], b[3], b[2], b[1]))
        band = 0
        keyed = []
        for page, bid, x0, y0, x1 in seq:
            is_full = x0 < mid < x1
            if is_full:
                band += 1
            col = -1 if is_full else (0 if x1 <= mid else 1)
            keyed.append(((page, band, col, y0, x0, bid), bid))
        for idx, (_, bid) in enumerate(sorted(keyed), start=1):
            want[(doc, bid)] = idx
    assert got == want


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


def test_pipeline_wave_listing_batched(spark, tmp_path, monkeypatch):
    """The committed-wave existence check must issue ONE filesystem
    listing per wave, not one exists() probe per partition (O(parts)
    serial driver RPCs at 10^5 parts on S3)."""
    import readabilityimproved_spark.plans.pipeline as P

    calls = {"exists": 0, "list": 0}
    orig_exists = P._fs_exists
    orig_list = P._fs_list_part_dirs

    def counting_exists(spark_, path):
        calls["exists"] += 1
        return orig_exists(spark_, path)

    def counting_list(spark_, path):
        calls["list"] += 1
        return orig_list(spark_, path)

    monkeypatch.setattr(P, "_fs_exists", counting_exists)
    monkeypatch.setattr(P, "_fs_list_part_dirs", counting_list)

    from readabilityimproved_spark.sources.synth import write_synth_corpus

    corpus = str(tmp_path / "corpus")
    write_synth_corpus(spark, 60, corpus)
    out = str(tmp_path / "out")
    stats = P.run_extraction(
        spark,
        corpus,
        out,
        num_parts=16,
        waves=2,
        resume=False,
    )
    assert stats["docs"] > 0
    assert calls["list"] == 2, f"expected one listing per wave, got {calls}"
    # _fs_exists is still used for lineage existence / clear-output
    # bookkeeping, but never per-partition: far fewer calls than parts
    assert calls["exists"] < 16, f"per-part probes still present: {calls}"
