"""Deduplication operators for the training-data pipeline tier.

All Spark-native (built-in functions only -- no Python in the hot path):

  * exact_dedup        -- md5-fingerprint groupBy (exact duplicates)
  * ngram_jaccard_pairs-- word-shingle explode + self-join + Jaccard
  * minhash_lsh_pairs  -- per-row minhash signatures (one base hash per
                          shingle + a universal-hash family folded in a
                          single aggregate pass: NO shuffle before the
                          fixed-width band-bucket table), window-count
                          hot-bucket cap, in-row pair explode (no
                          self-join)
  * minhash_verified_pairs -- LSH candidates + exact Jaccard verification
                          of candidate docs only
  * simhash64          -- 64-bit simhash from token-hash bit-majority

Every hash takes ``portable_hash=True`` to swap xxhash64 (production
default) for a 15-hex md5 slice that DuckDB reproduces bit-exactly --
that is what makes the LSH family oracle-checkable by the driver.

Scale notes: the all-pairs shingle self-join (ngram_jaccard_pairs)
shuffles on the shingle key -- at 10^12 docs use minhash_verified_pairs:
signature computation is a pure map, the only wide ops touch the
(id, band, bucket) table, and the verification explodes shingles for
candidate docs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 over lower-cased, whitespace-collapsed text."""
    return df.withColumn(
        "fingerprint",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")),
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content: representative id + duplicate count."""
    return (
        fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative"),
            F.count("*").alias("dup_count"),
        )
    )


def build_fingerprint_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    num_files: int = 64,
) -> None:
    """Persist the corpus's DISTINCT content fingerprints, hash-laid-out
    by fingerprint, as the history side of cross-crawl incremental
    dedup (build-once / query-many, same design as the persisted IVF
    index in operators/similarity.py).

    A recurring crawl pipeline must drop documents already ingested by
    ANY previous run without re-reading past corpora: the index is the
    narrow distinct-fingerprint table (one 32-char md5 per distinct
    content -- at 10^12 docs, ~3% the corpus' bytes), written
    repartitioned + sorted by fingerprint so each file covers a tight
    fingerprint range (min/max footer stats make the anti-join's scan
    prunable, and the layout is Iceberg's bucket(N, fingerprint)
    shape)."""
    fps = fingerprint(docs, text_col).select("fingerprint").distinct()
    (
        fps.repartition(num_files, "fingerprint")
        .sortWithinPartitions("fingerprint")
        .write.mode("overwrite")
        .parquet(index_path)
    )


#: refuse to build a prefilter slot table bigger than this many slots
#: (2^28 longs ~ 2 GiB raw in the broadcast hash relation): beyond it
#: the broadcast costs more than the anti-join exchange it skips, and
#: the caller should shard by fingerprint prefix or skip the prefilter
_PREFILTER_MAX_SLOTS = 1 << 28


def dedup_against_index(
    spark,
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter_slots: int | None = None,
) -> DataFrame:
    """Incremental dedup of a new crawl batch: drop every document whose
    content fingerprint is already in the persisted index, then keep
    one representative (min id) per fingerprint WITHIN the batch.

    The only wide ops key on the fingerprint: the history anti-join
    (the batch side shuffles; the index was laid out by fingerprint at
    build time) and the within-batch min-id aggregation (map-side
    partial). Text never travels: joins carry (id, fingerprint) only,
    and the surviving ids semi-join back to the full rows.

    ``prefilter_slots``: optional EXACT-preserving prefilter. In
    steady-state crawling most batch documents are fresh, yet every one
    pays the history exchange. With ``prefilter_slots = m`` set, one
    distinct-aggregation pass projects the index onto ``pmod(
    xxhash64(fingerprint), m)`` slots -- a table of AT MOST m longs
    regardless of index size -- which broadcasts, and the batch splits
    on a broadcast semi-join against it: rows whose slot is absent are
    PROVABLY not in the index (a Bloom filter with k=1 has no false
    negatives) and bypass the anti-join entirely; slot hits (real dups
    + ~n/m false positives) continue into the exact anti-join. Results
    are byte-identical with the prefilter on or off. Everything stays
    JVM-side builtins (Spark 4.1 does not expose ``bloom_filter_agg``
    publicly; a broadcast hash relation of slots trades ~64 bits/slot
    for staying inside Tungsten with zero Python).

    Sizing: false-positive rate ~ 1 - e^(-n/m) for n distinct index
    fingerprints, so m = 8n gives ~12%, m = 32n ~3%; the slot table
    caps at min(n, m) rows. Past :data:`_PREFILTER_MAX_SLOTS` this
    raises rather than building a broadcast that costs more than the
    exchange it skips -- at 10^12-doc scale, shard the index (one slot
    table each) by fingerprint prefix, or skip the prefilter."""
    index = spark.read.parquet(index_path)
    batch_fp = fingerprint(new_docs, text_col).select(
        F.col(id_col), "fingerprint"
    )
    if prefilter_slots is not None:
        if prefilter_slots < 1:
            raise ValueError(
                f"prefilter_slots must be >= 1, got {prefilter_slots}"
            )
        if prefilter_slots > _PREFILTER_MAX_SLOTS:
            raise ValueError(
                f"prefilter_slots={prefilter_slots} exceeds the broadcast "
                f"cap {_PREFILTER_MAX_SLOTS}; shard the index by "
                "fingerprint prefix or skip the prefilter"
            )
        slot = F.pmod(F.xxhash64("fingerprint"), F.lit(prefilter_slots))
        slots = index.select(slot.alias("slot")).distinct()
        tagged = batch_fp.withColumn("slot", slot)
        # broadcast semi/anti pair on the slot table: the anti side is
        # provably fresh and never reaches the history exchange
        definitely_fresh = tagged.join(
            F.broadcast(slots), "slot", "left_anti"
        ).select(F.col(id_col), "fingerprint")
        maybe = tagged.join(F.broadcast(slots), "slot", "left_semi").select(
            F.col(id_col), "fingerprint"
        )
        fresh = definitely_fresh.unionByName(
            maybe.join(index, "fingerprint", "left_anti")
        )
    else:
        fresh = batch_fp.join(index, "fingerprint", "left_anti")
    reps = (
        fresh.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return new_docs.join(reps, id_col, "left_semi")


def update_fingerprint_index(
    spark,
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    num_files: int = 8,
) -> None:
    """Fold a new batch's UNSEEN fingerprints into the index (append
    mode -- the write is new files only, never a rewrite of history;
    periodically compact by rebuilding via build_fingerprint_index).
    After this, re-running dedup_against_index on the same batch drops
    everything -- the exactly-once ingest contract."""
    index = spark.read.parquet(index_path)
    unseen = (
        fingerprint(new_docs, text_col)
        .select("fingerprint")
        .distinct()
        .join(index, "fingerprint", "left_anti")
    )
    (
        unseen.repartition(num_files, "fingerprint")
        .sortWithinPartitions("fingerprint")
        .write.mode("append")
        .parquet(index_path)
    )


def _bind(expr: "F.Column", fn) -> "F.Column":
    """Evaluate ``expr`` ONCE per row and pass the value to ``fn`` as a
    lambda variable (1-element array transform). Without this, every
    textual reference to ``expr`` inside a lambda is re-evaluated per
    array ELEMENT -- e.g. element_at(split(text), i) re-tokenizes the
    whole document for every shingle, turning gram construction O(len^2)
    (measured: 6s of an 8s signature stage at sf0.1)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _gram_array(text_col: str, n: int) -> "F.Column":
    """Word n-gram shingles of a text column as array<string>.

    Built from ``n`` shifted slices of the token array zipped with
    concat: the text is split exactly once per row (see _bind), not once
    per gram. Documents with fewer than ``n`` tokens yield an EMPTY
    array: without the guard, slice lengths go non-positive and the job
    dies on any corpus containing short/empty docs.
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")

    def grams_from(t):
        m = F.size(t) - (n - 1)
        acc = F.slice(t, 1, m)
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(t, 1 + j, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return acc

    return _bind(
        tokens,
        lambda t: F.when(F.size(t) >= n, grams_from(t)).otherwise(
            F.array().cast("array<string>")
        ),
    )


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per document (id, shingle)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_gram_array(text_col, n)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold.

    Self-join on the shingle key (shuffle-heavy; see module docstring for
    the LSH alternative at scale). Pairs are emitted once (id_a < id_b).

    The shingle table feeds both the self-join branches and the per-doc
    counts, so it is materialized ONCE via localCheckpoint -- NOT
    persist()/cache(), whose blocks live in the session CacheManager
    until an explicit unpersist no lazy consumer can trigger (the same
    leak fixed in minhash_verified_pairs; checkpoint blocks are
    ContextCleaner-managed and released on GC of the DataFrame).

    Durability note: localCheckpoint truncates lineage onto
    EXECUTOR-LOCAL blocks -- an executor loss mid-query fails the job
    instead of recomputing. That is the right trade for this one-shot
    two-stage query (the window is seconds); an iterative job with a
    long exposure window should snapshot to durable storage instead
    (see graph.neardup_clusters' state_dir).
    """
    sh = _shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The pipeline-facing dedup: keep only the representative (minimum
    id) row of every exact-duplicate group -- the deduplicated corpus."""
    reps = exact_dedup(df, id_col, text_col).select(
        F.col("representative").alias(id_col)
    )
    return df.join(reps, id_col, "left_semi")


#: universal-hash modulus (Mersenne prime 2^31-1): keeps every
#: a*h+b product inside int64 with no overflow in either engine
MINHASH_P = (1 << 31) - 1


def _uh_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i*x + b_i) mod P -- derived from md5 so the DuckDB
    oracle can regenerate the identical constants."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def _base_hash(col, portable: bool):
    """64-bit base hash of a string column, reduced mod MINHASH_P.

    portable=False: xxhash64 (JVM-native, the production default).
    portable=True:  15-hex-char slice of md5 -- bit-identical in DuckDB
    (``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)``), which is what
    lets the driver hash-check the LSH operators against an oracle.
    """
    if portable:
        h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(col)
    return F.pmod(h, F.lit(MINHASH_P))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash signature per doc, computed entirely per-row.

    One base hash per shingle + a universal-hash family for the
    ``num_hashes`` slots, folded in a single ``aggregate`` pass over the
    in-row gram array: NO explode, NO distinct, NO shuffle -- the
    signature stage is a pure map, so at 10^12 docs nothing moves until
    the (fixed-width) band-bucket join. Min over duplicated shingles
    equals min over the distinct set, so skipping DISTINCT is exact.
    Docs with zero shingles (< shingle_n tokens) are dropped, matching
    the explode-based formulation.
    """
    params = _uh_params(num_hashes)
    base = (
        df.select(
            F.col(id_col).alias("id"), _gram_array(text_col, shingle_n).alias("_g")
        )
        .filter(F.size("_g") > 0)
        .withColumn(
            "_hb", F.transform(F.col("_g"), lambda s: _base_hash(s, portable_hash))
        )
        # single pass over the base hashes: running elementwise min of all
        # num_hashes universal hashes at once (vs num_hashes array_min sweeps)
        .withColumn(
            "_sig",
            F.aggregate(
                F.col("_hb"),
                F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes),
                lambda acc, h: F.zip_with(
                    acc,
                    F.array(*[(h * a + b) % MINHASH_P for a, b in params]),
                    lambda x, y: F.least(x, y),
                ),
            ),
        )
    )
    return base.select(
        "id",
        *[F.element_at("_sig", i + 1).alias(f"mh{i}") for i in range(num_hashes)],
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, band, bucket) rows: one per band per doc (narrow map +
    a ``bands``-wide explode -- still shuffle-free)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, portable_hash
    )
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable_hash:
            bucket = F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])), 1, 15
                ),
                16,
                10,
            ).cast("long")
        else:
            bucket = F.xxhash64(*cols)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 100,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band bucket become a candidate pair. Emitted once
    (id_a < id_b) with the number of matching bands.

    The only shuffles in the plan are on the (id, band, bucket) table --
    3 fixed-width columns regardless of document size; signatures are
    computed per-row upstream (see minhash_signatures).

    Hot-bucket capping: buckets larger than ``max_bucket_size`` are
    dropped before the self-join. On low-entropy corpora (and at 10^12
    docs, inevitably) some band buckets collect an outsized share of
    documents; such buckets carry no near-dup signal but cost O(B^2)
    pairs -- capping bounds the join output to
    buckets * max_bucket_size^2 (the standard production LSH guard).
    The cap is applied as a WINDOW count over (band, bucket) rather than
    a groupBy+join-back (one shuffle, no second pass, and -- crucially --
    no risk of materializing an unbounded hot bucket: the count streams).
    A broadcast of the surviving-bucket list would NOT survive 10^12 docs
    -- that list is O(corpus).

    Pair generation is an IN-ROW combination explode over the per-bucket
    id list, not a self-join: a self-join's two branches re-evaluate the
    whole scan->signature->window subtree (Spark's exchange reuse does
    not fire once AQE broadcast-converts one side), doubling the most
    expensive stage. collect_list here is safe EXACTLY because it runs
    after the cap -- every list is <= max_bucket_size by construction --
    and the groupBy reuses the window's (band, bucket) partitioning, so
    the whole plan is: scan -> signatures (pure map) -> ONE exchange on
    (band, bucket) -> window + group + pair explode -> ONE exchange on
    the pair key.
    """
    return _bucket_pairs(
        lsh_buckets(
            df, id_col, text_col, num_hashes, bands, shingle_n, portable_hash
        ),
        max_bucket_size,
    )


def _bucket_pairs(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """(id, band, bucket) -> once-emitted candidate pairs with the number
    of matching bands; window cap + in-row combination explode."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    capped = (
        buckets.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    grouped = (
        capped.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select("band", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.countDistinct("band").alias("matching_bands"))
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """The scale path end-to-end: LSH candidate generation followed by
    exact Jaccard verification of ONLY the candidate pairs. At 10^12 docs
    this replaces the all-pairs shingle self-join: distinct gram SETS are
    computed for CANDIDATE DOCS ONLY (left-semi against the candidate-id
    list, whose size is bounded by the LSH hot-bucket cap), and the
    intersection is an in-row ``array_intersect`` -- no shingle explode,
    no shingle-key shuffle; the only joins key on candidate ids, which
    Catalyst/AQE broadcasts against the corpus scan."""
    # localCheckpoint (NOT persist): the candidate table feeds BOTH the
    # id-list semi-join and the final pair join -- without materializing
    # it the whole LSH DAG evaluates twice. persist() blocks live in the
    # session CacheManager until an explicit unpersist (which no lazy
    # consumer can trigger), leaking cache across repeated invocations;
    # localCheckpoint blocks are ContextCleaner-managed and released when
    # the DataFrame is garbage-collected. Tradeoff: checkpoint blocks are
    # not recomputable, so an executor loss fails the query instead of
    # recomputing (acceptable for a bounded candidate table).
    candidates = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n,
        portable_hash=portable_hash,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        df.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(_gram_array(text_col, shingle_n)).alias("gs"),
        )
        .withColumn("n_sh", F.size("gs"))
    )
    return (
        candidates.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("gs").alias("ga"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("gs").alias("gb"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """64-bit SimHash: per-token hash, bitwise majority vote.

    One explode + one groupBy -- stays entirely in whole-stage codegen.
    portable_hash=True swaps xxhash64 for the md5-slice hash (60
    effective bits; bits 60-62 then lose every majority vote and stay
    0) so a DuckDB oracle can reproduce the value exactly.

    The per-bit majority needs 63 counters, but 63 separate sum
    aggregates dominated both the codegen time (the bench's cold run)
    and the per-row aggregate update. Counters for bits b and b+31 are
    PACKED into one long (low field bits 0..30, high field bits
    31..61), halving the aggregate count to 31 packed + 1 (bit 62) + 1
    row count. Exactness: a per-document token count is bounded by
    2^31 - 1 (the tokens come from split() of one JVM string, and a JVM
    array cannot exceed Integer.MAX_VALUE elements), so the low-field
    count can never carry into bit 31 and the packed sum stays under
    2^62. The old +/-1 vote ``sum > 0`` is equivalent to
    ``2 * ones_count > n`` -- pinned against the unpacked formulation
    in tests/test_round7_dedup_opt.py.
    """
    if portable_hash:
        tok_hash = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        tok_hash = F.xxhash64("tok")
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", tok_hash)
    one = F.lit(1).cast("long")
    packed_sums = [
        F.sum(
            F.shiftright("h", j).bitwiseAND(one)
            + F.shiftright("h", j + 31).bitwiseAND(one) * F.lit(1 << 31)
        ).alias(f"p{j}")
        for j in range(31)  # bit 63 is the sign bit; bit 62 is separate
    ]
    agg = tokens.groupBy("id").agg(
        *packed_sums,
        F.sum(F.shiftright("h", 62).bitwiseAND(one)).alias("p62"),
        F.count(F.lit(1)).alias("n"),
    )
    low_mask = F.lit((1 << 31) - 1)
    n2 = F.col("n")  # majority: 2 * ones > n  <=>  old sum(+/-1) > 0
    sim = None
    for b in range(63):
        if b == 62:
            cnt = F.col("p62")
        elif b < 31:
            cnt = F.col(f"p{b}").bitwiseAND(low_mask)
        else:
            cnt = F.shiftright(f"p{b - 31}", 31)
        term = F.when(cnt * 2 > n2, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("id", sim.cast("long").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 100,
    portable_hash: bool = False,
) -> DataFrame:
    """Pairs whose 64-bit simhashes differ in <= ``max_hamming`` bits.

    Pigeonhole banding: the hash splits into ``bands`` equal chunks; any
    pair within hamming distance d < bands must agree on at least one
    whole chunk, so candidates are generated by a per-chunk bucket join
    (complete for max_hamming <= bands-1) and verified exactly with
    ``bit_count(xor)``. The same window-count hot-bucket cap as
    minhash_lsh_pairs bounds the self-join at 10^12 docs; the pair table
    carries only (id, band, chunk, simhash) fixed-width columns.
    """
    if max_hamming > bands - 1:
        raise ValueError("completeness requires max_hamming <= bands - 1")
    from pyspark.sql import Window

    sims = simhash64(df, id_col, text_col, portable_hash)
    width = 64 // bands
    mask = (1 << width) - 1
    chunk_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias(
                "chunk"
            ),
        )
        for b in range(bands)
    ]
    buckets = sims.select(
        "id", "simhash", F.explode(F.array(*chunk_cols)).alias("bc")
    ).select(
        "id", "simhash",
        F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"),
    )
    # window cap + in-row combination explode over (id, simhash) structs:
    # single scan, no self-join (see _bucket_pairs); lists are bounded by
    # the cap, so collect_list cannot blow on a hot chunk
    w = Window.partitionBy("band", "chunk")
    grouped = (
        buckets.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .groupBy("band", "chunk")
        .agg(
            F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("xs")
        )
        .filter(F.size("xs") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x, i: F.transform(
                F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                        "hamming"
                    ),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can collide in several chunks
    )
