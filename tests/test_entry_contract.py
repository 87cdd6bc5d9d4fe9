"""Emulates the driver's correctness gate: every queries() entry runs on
Spark, and where an oracle_sql() entry exists its DuckDB result must
match value-for-value (order-insensitive, column-name-sorted)."""

import glob
import hashlib
import importlib.util
import math
import os
import subprocess
import sys

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry"] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def canon(rows, cols):
    """Order-insensitive canonical form: sort columns by name, stringify."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v:.9g}"
        return str(v)

    return sorted(tuple(cell(row[i]) for i in order) for row in rows)


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "span_offset"}


def test_all_queries_run_and_match_oracles(spark, entry_mod, duck):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(queries)
    failures = []
    for name, fn in queries.items():
        sdf = fn(spark, SF_DIR)
        spark_rows = [tuple(r) for r in sdf.collect()]
        assert spark_rows is not None, name
        if name not in oracles:
            # rows-only check: stable schema, no exceptions
            assert len(sdf.columns) > 0, name
            continue
        rel = duck.sql(oracles[name])
        duck_rows = rel.fetchall()
        duck_cols = [d[0] for d in rel.description]
        a = canon(spark_rows, sdf.columns)
        b = canon(duck_rows, duck_cols)
        if len(a) != len(b):
            failures.append(f"{name}: row count {len(a)} vs {len(b)}")
        elif a != b:
            diff = next(
                (i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y
            )
            failures.append(f"{name}: first diff at {diff}")
    assert not failures, "\n".join(failures)


def test_every_query_is_oracle_checked(entry_mod):
    """All contract queries currently have a DuckDB oracle — the strong
    (rows+schema+hash) driver check. A new operator that is genuinely
    non-SQL-expressible must be added to the allowlist here explicitly,
    so weaker rows-only coverage is always a recorded decision, never
    an oversight."""
    rows_only_allowlist = set()  # nothing exempted as of round 6
    missing = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    assert missing <= rows_only_allowlist, (
        f"queries without an oracle_sql entry: {sorted(missing)}"
    )


#: sha256 of every oracle_sql() entry. The oracle text is frozen (the
#: correctness gate checks queries() against the DuckDB rows it yields)
#: and rendered from shared templates (functions.sqlgen, patterns.py),
#: so an edit there must not change a byte of it.
ORACLE_SQL_SHA256 = {
    "extract_article_spans": "03f91daa0b258d204d80728c32da55230fa6df64c661503c5d0ced30c049b564",
    "extract_text_variant": "8bbf9364f52b1a77eb6b8d58732278d44a4d93c82ad38d7167e145ea4494efa7",
    "extract_rejects_boilerplate": "315870f7dea01b7afeb341cfa1bd52f2956c7fb28c212c408af0bf0f61ed840e",
    "top_content_score": "b9541a8d8672dab3f390caeb23e014a461686f8083a02a8a6e33cb6856c1e0e8",
    "title_extract": "8857df7eaf91516426495938768a86799e53b983afa27c5505f5e4d5ed4c9b91",
    "pub_date_extract": "5fb58c4f21f3ad497d5a93dd1a09d0fa4e49310b72be7376394003247a90dd8d",
    "scored_dom_nodes": "22de7e52294dd2ac8ae226a7e9e9b21b830cd328e670378d64000a9eedcdf109",
    "similarity_ann_lsh": "5e49b019147177c8c61f6521e136fc3dfcf590c8130f96a79cc159198e72ec87",
    "similarity_ann_multiprobe": "37e4cfb8122e47c8df479c1e323bbe00ace3c037dbf09ec88d371f881707761b",
    "embedding_neardup": "c471d1ca74b7e9dc107f06f94b2e8dd57b1425c6948d1f350cde6607ad90807f",
    "similarity_ivf": "abb30aa61f6550a7c19f2d7c020bb8c43dffd4faa5fb4688b4adaac1e3d69079",
    "similarity_ivf_index": "abb30aa61f6550a7c19f2d7c020bb8c43dffd4faa5fb4688b4adaac1e3d69079",
    "event_window_agg": "82edadf7cc4050120f7cab9275f0000c8c51abf496eaa6ea0c29740832d2e8e5",
    "sessionize_events": "f38b1f58aa1adc36748f2afb54251823bbd10e13c52a235832bcbadb4b1d708d",
    "asof_join_events": "50b05eacc9dc266104c944d74d18c6c92ddc12082d5e90098791c589d11e0eea",
    "range_join_events": "2a1e8fdd2fa1765781bb7d60cf065e4134d2aee423bd0e9f262bc849c32021c6",
    "json_props_agg": "c192ee0346f8f47b755d866729cc22705c3cde974b6c5017ffd8e6b2987c85a2",
    "corpus_rollup": "d46e1c13977b470fbc291d4fecbabc05903563e5c31de3c7febba48d5df59a2a",
    "snapshot_diff": "b6b8463f48cb3592c432f21cc3ff1dd84e9da01c660b3c57ad79106c5b14cddf",
    "tpch_profit_by_nation": "8212d1f509663afdc10bc1327a6d3985393c0c948807238d95cc9ef145c1034a",
    "tpch_star_rollup": "867a9f09009303b70399edd3fac56a2f5e5dfe631905a3897467e1eb8253a315",
    "tpch_topk_per_segment": "1a2e6e59cd4f2720a229fa97c92ce3d8b2c3b202435805a2989cc9f2bae29e94",
    "tpch_customers_no_orders": "cc45a115a19708c9ee21bfe42d5b05dbcdf4d33c780397ed9c429f3deeb15945",
    "tpch_pricing_summary": "5b7bd56f7e05b7629bf04d443d2c7990534a14ebeadb60fefd6bfef537a5e61e",
    "bucketed_join": "3bc6d0212642e2d3c36d63f11a5a38934897357996ebebff74f0745238035761",
    "stream_dedup_twin": "7d7c7f1209b0776e6243a38797b7377defc7b858d8e143bd95b59727a34688d0",
    "layout_reading_order": "5e5cab8563ec06f40931a376c3d2bbe76e2ab5c3a7fd87af7f529e01f9844999",
    "layout_spans": "deaba3ff270b432542a05641ffb3a14bd5134de305346014ef099c0df0e63971",
    "media_features": "225c9ae294d18f0d528b91fa2f1a8ed7d978622a031fb660312e88c2d1c220cd",
    "media_resize": "58bb558831120921e0e5d4a383eb7589d6472223f057b2fcf7c918fcf83ae184",
    "media_frames": "d9e8e582e1a9ed44dceb4f566486cbfeef9dcfd2a20a4ce7c3b782b1feba6a87",
    "media_attach": "fbefe94d1e52f9f20a43b39994c84f4cfbe7001c9c560bb92d709e14986645b1",
    "date_from_url": "e98003c6bc5d0db64e5f003b01d3797d42103a17775b2fa669dddbf5471bbf44",
    "normalize_ws": "f0efb8bd171d94ef9fa6d3887b517bf96640fa3d1d5ecdf6284ff97f1c30f703",
    "redact_pii": "8b3aae90c7b393474c7b1d1b446528d2ff577b7b4005c8e18ab5021f342023d1",
    "comma_segments": "963725f2b73152d7cac91a9a184333b528ba3e08a1bf777e67ad6a0e0000ff73",
    "class_weight": "076048a35a3562bdb910111698e36badb2b0cc1b62d571c617a682657d34e179",
    "token_count": "f8c105f5e6edfe87a523e07b0ffe377abf8585bcd2919db8b0b997b1312c7722",
    "quality_score": "78ebbb8b75cabbb282552c9cbb44e92df4bf83d30ae6fc6b14a4b1cd9e6dc39d",
    "lang_id": "120773df4c34cb951d133abd76af22dc9dc75962ab2bf2778b8a818e732ff054",
    "doc_fingerprint": "2bd9b068c8167e9309b520f19ac8bebcbb6711444c3dc2dc1ae5e1f490ed838b",
    "bpe_token_count": "e78f43e65dd6015d008dbdb98e3c953f3d20a73df52ae505c5e84804a08f59ed",
    "rolling_hash": "f6d8fb151ffec21b65813c104293cf321726486ee94378027eee2bc2316ebdf2",
    "url_normalize": "83128445e2bde7806ea4c006863ccad11b7e0b358fde304be5c75c348ae7705b",
    "repetition_stats": "9f584642e7e98f32cdd91d63220929a44c735dd69d21d6e979d9f3053a372a5e",
    "quality_prune": "9d86c0c98ef656114609208af9271bdec91a1a604e2a354f305fe40dacca4a42",
    "dup_passage_spans": "b00df01352781f10629781a560efecc9308306311b716520ccea6563dac39ef7",
    "passage_dedup_text": "7733499c4a7d7782bd8aa20a3b20efa6e583677ed2462e7bb6357f4b9cc1330d",
    "token_rarity": "4706e827cc08759aaf4d330d048a165c6e7b4ea39bab13aec893b4b2b518fcdd",
    "shuffle_shards": "972ae3498bdec0bf849b6f15859c8f156e9109971557f2b112a04b11b5335bec",
    "hash_split": "349ce7e860235d8b88864d7e85ada506ba083adf55e3543a3b546476409f3d64",
    "outlink_extract": "4dc61081b011cb1323c0644cea02faf3e4c96e18063ecce4aa7dc896182626e0",
    "host_link_graph": "e9409dab0dfaa5fe529a640e2656ec250411bf765f2b855ba97e58892d738cc8",
    "domain_blocklist": "f716b87874e176b6d92f23f7889ff4f996a29a90b5c6af0cfd2d8fa21c125adb",
    "anchor_topk": "a06009f56ecf05b52b19a3c43f7bf45ee84ee7194275addfff255c69c5a6ca4e",
    "crawl_frontier": "daacc92afe0788e2751e5453a6b8182cd8567881730e9c601ad8b7dc69840d50",
    "host_pagerank": "7d7e132d740ca790dc68ca363bec84cdd0119ce6c43cf3cb805a876b37786e42",
    "decontaminate": "6b57f261d65e2b1dac0869271791f11e8590cd059da9efb53c192293bec22ebc",
    "keep_per_source": "708e2c394cd41d8af242f8dc0990df6f5dcd04e948b1820559e4fa31e76e6dce",
    "pack_sequences": "1343d2a5b93e22fda68043f91556a2bb4d3c29d60ccc515284d50b047b75e6ff",
    "deterministic_sample": "0d14dc43ef664fb9b72b7b28836d465e422330602a9d9a5bce8da80766fe8170",
    "mixture_expand": "cde97645e0bfa00b987d5b81ac966b879b5c140a2058d379cc081ec5ae00a009",
    "vocab_topk": "f281ff2b4487e296a5804f337b36ebbb93f17a3035a7a48a7998ed9e3f03188a",
    "inverted_index": "55e35f96fb6972f2a8d54f7dac766347cafb444b534daeb2bb923a87571f0ce2",
    "materialize_packs": "938022eccab468924f8f060f7c73322a83cc28427ab771ce8d680082b0a1e44e",
    "dedup_exact": "d3c2ed66ba8a8dddcf09e1663e669823f48bdfac10f81f9bb5191218343ae288",
    "dedup_keep_first": "1305a0576a67eba637f6a71271ce628a8f1eb2f1926409f62d02e7f462cd6fc1",
    "dedup_incremental": "7bd0bf1c6249b1f0f4653ba12c80a0eb33e1b5825c3928654c40f123e5abc335",
    "corpus_stats": "6cd542e981a52376a35c641f2dd1673663cd75ab7e084570c738495740cf0183",
    "stratified_sample": "a7e22cc3b9627997ec7c64e1b10008a833a9e7f44b074a092c982efe572685ec",
    "tokens_to_ids": "9dbe5abb53fd40a214b6edd465d527cd1cf02135b9e4e4de1ddb16f4f1c6e8f1",
    "ngram_jaccard": "08a837a7393f2e97f976ac8cae774ea7b8ea294241d35336eca328a8fff3541a",
    "similarity_topk": "430a9496e105106f39b51e5d55899542f9a31d362f90d4f987555105bceaa07f",
    "minhash_lsh": "5d7225e88a55b413dbacf81c59b07c4147e6b81bf2859de429c64f722929b66b",
    "minhash_verified": "bff5272c6097977383515d5b6918674eae9510235e2db4121b0b03d9b7832005",
    "simhash": "e0c1add86ec1b6571b6684668b9dfd0dd08dc3bc3f88b80ee89ef7dd6728fc08",
    "simhash_neardup": "1c99513045a6ecd3a8fb48274ced9648ba3549b328b4306fe7b576cefc929281",
    "neardup_clusters": "683fcca96cd679c614467b7726b164167d01181768f61154f2f230b03e725fa4",
    "neardup_incremental": "683fcca96cd679c614467b7726b164167d01181768f61154f2f230b03e725fa4",
    "dedup_representatives": "3c74b0dcb283cce3258f07e15cba05c1715102ffd4033fca3f27d9f9c5d0d557",
}


def test_oracle_sql_text_is_frozen(entry_mod):
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in entry_mod.oracle_sql().items()
    }
    changed = sorted(
        n for n in set(got) | set(ORACLE_SQL_SHA256)
        if got.get(n) != ORACLE_SQL_SHA256.get(n)
    )
    assert not changed, f"oracle_sql() text changed for: {changed}"


_BUILD_INDEXES = """
import glob, importlib.util, os, sys, tempfile
from readabilityimproved_spark.plans.session import build_session
spec = importlib.util.spec_from_file_location("e", sys.argv[1])
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
spark = build_session(app_name="index-dirs", master="local[2]")
for name in ("dedup_incremental", "similarity_ivf_index"):
    m.queries()[name](spark, sys.argv[2]).collect()
app_id = spark.sparkContext.applicationId
spark.stop()
pattern = os.path.join(tempfile.gettempdir(), "*_index_*_" + app_id)
print(app_id, len(glob.glob(pattern)))
"""


def test_query_index_dirs_removed_at_exit(tmp_path):
    """dedup_incremental and similarity_ivf_index persist an index under
    the temp dir; it must not outlive the process that built it (every
    test run, oracle sweep and bench used to leave two behind)."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [
            sys.executable, "-c", _BUILD_INDEXES,
            os.path.join(REPO, "__spark_entry__.py"), SF_DIR,
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    app_id, n_built = proc.stdout.split()[-2:]
    assert n_built == "2"  # both indexes existed while the process ran
    assert glob.glob(str(tmp_path / f"*_index_*_{app_id}")) == []


# ``_spread``: documents.parquet at the check scale factors is one parquet
# file with one row group, so a per-row kernel over the raw scan runs in
# one task. ``_spread`` round-robin repartitions only when the scan has
# fewer input files than cores; with many files it is a no-op, so a
# production-scale corpus is never shuffled.


@pytest.mark.parametrize("n_files", [1, 2])
def test_spread_repartitions_single_file_scan(spark, entry_mod, tmp_path, n_files):
    """One single-file read, and a union of two, both spread."""
    reads = []
    for i in range(n_files):
        one = str(tmp_path / f"one{i}")
        spark.range(500).selectExpr(
            "id as doc_id", "repeat('x', 50) as text"
        ).coalesce(1).write.parquet(one)
        reads.append(spark.read.parquet(one))
    df = reads[0] if n_files == 1 else reads[0].union(reads[1])
    assert len(df.inputFiles()) == n_files
    spread = entry_mod._spread(df, spark)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()
    # rows unchanged (the whole point: placement only)
    got = sorted(r["doc_id"] for r in spread.collect())
    assert got == sorted(list(range(500)) * n_files)


def test_spread_counts_files_without_listing_them(
    spark, entry_mod, tmp_path, monkeypatch
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
    spread = entry_mod._spread(df, spark)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString()


def test_spread_noop_for_many_files(spark, entry_mod, tmp_path):
    many = str(tmp_path / "many")
    n_files = spark.sparkContext.defaultParallelism
    spark.range(500).selectExpr("id as doc_id").repartition(
        n_files
    ).write.parquet(many)
    df = spark.read.parquet(many)
    assert len(df.inputFiles()) >= n_files
    spread = entry_mod._spread(df, spark)
    assert spread is df  # no shuffle injected at scale


def test_spread_noop_for_in_memory_frame(spark, entry_mod):
    """No input files means an unknown layout, not a small one: an
    in-memory DataFrame is returned as is, with no shuffle."""
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    assert df.inputFiles() == []
    spread = entry_mod._spread(df, spark)
    assert spread is df
    assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()


def test_shaped_docs_rows_unchanged_by_spread(spark, entry_mod):
    sf = "/root/testdata/sf0.001"
    shaped = entry_mod._shaped_docs(spark, sf)
    raw = entry_mod._docs(spark, sf)
    assert shaped.count() == raw.count()
    got = {r["doc_id"] for r in shaped.select("doc_id").collect()}
    want = {str(r["doc_id"]) for r in raw.select("doc_id").collect()}
    assert got == want


def test_spread_sites_are_pinned(spark, entry_mod):
    """The spread sites kept by a cold-inclusive A/B: the constructed
    pages and the two MinHash queries plan round-robin exchanges, the
    two similarity scans, where the spread lost, plan none.
    ``minhash_verified`` reads its one spread scan on both sides of its
    pair join, so it plans two (AQE reuses the broadcast above them, so
    one runs)."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"

    def round_robins(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("RoundRobinPartitioning")

    pages = entry_mod._pages(spark, sf, [entry_mod._span("html", F.col("text"))])
    assert round_robins(pages) == 1
    queries = entry_mod.queries()
    expected = {
        "minhash_lsh": 1,
        "minhash_verified": 2,
        "similarity_topk": 0,
        "similarity_ann_lsh": 0,
    }
    got = {name: round_robins(queries[name](spark, sf)) for name in expected}
    assert got == expected
