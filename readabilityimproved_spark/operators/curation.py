"""Training-corpus curation operators: the steps between "extracted
web documents" and "training-ready data" that the extraction engine's
users run next. No reference analogue (the reference stops at span
extraction); these are the engine's Spark-first additions, shaped by
the same scale rules as the dedup tier.

* ``decontaminate`` — benchmark n-gram overlap (test-set contamination
  screening): the benchmark side is SMALL by definition (eval sets are
  thousands of docs, the corpus is 10^12), so its distinct gram table is
  broadcast and the corpus side NEVER shuffles on gram keys — the only
  exchange is the final per-doc hit count (partial-aggregated map-side).
* ``keep_per_group`` — per-domain/source caps (crawl-style frequency
  capping): one window over (group, priority), a single hash exchange
  on the group key; skewed giant domains cost one task each, bounded by
  the cap's early filter.
* ``pack_sequences`` — fixed-token-budget sequence packing for training
  batches: documents are split across ``num_streams`` independent
  streams (hash of the id), packed by running token count WITHIN each
  stream — the window parallelizes across streams, so no global sort
  exists anywhere; the pack boundary rule (a document belongs to the
  pack its first token lands in, packs may overshoot the budget by at
  most one document) is deterministic and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sqlgen, text

#: hash-fraction denominator for deterministic sampling / mixture weights
SAMPLE_M = 1_000_000


def _salted_hash64(col: F.Column, salt: str, portable: bool) -> F.Column:
    """Deterministic 64-bit hash of a column + salt (functions.text.hash64:
    ``portable=True`` is the oracle-checkable md5 slice)."""
    salted = F.concat(col.cast("string"), F.lit(f"_{salt}"))
    return text.hash64(salted, portable)


def _hash_bucket(col: F.Column, salt: str, portable: bool) -> F.Column:
    """Deterministic bucket in [0, SAMPLE_M) from a column + salt."""
    return F.pmod(_salted_hash64(col, salt, portable), F.lit(SAMPLE_M))


def deterministic_sample(
    docs: DataFrame,
    fraction: float,
    salt: str = "s0",
    id_col: str = "doc_id",
    portable_hash: bool = False,
) -> DataFrame:
    """Reproducible corpus sampling: keep a row iff hash(id, salt) lands
    below ``fraction`` — the same ids survive on every run, cluster size,
    and partitioning (``df.sample`` is seed-AND-partitioning-dependent,
    which silently changes the sample when the input layout changes).
    A pure narrow filter: no shuffle, pushes past the scan's columns."""
    threshold = int(fraction * SAMPLE_M)
    return docs.filter(
        _hash_bucket(F.col(id_col), salt, portable_hash) < threshold
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    group_col: str = "source",
    salt: str = "st0",
    id_col: str = "doc_id",
    portable_hash: bool = False,
) -> DataFrame:
    """Per-group deterministic sampling: keep a row iff its hash lands
    below its GROUP's fraction — how a mixture recipe downsamples
    overrepresented sources in one pass. Same reproducibility contract
    as deterministic_sample (partitioning/cluster-size invariant, unlike
    ``df.sampleBy``); groups absent from ``fractions`` get
    ``default_fraction``.

    The fraction lookup is a literal CASE over the (small, by
    definition) mixture map — a pure narrow filter, no join, no
    shuffle, pushed past column pruning."""
    threshold = F.lit(int(default_fraction * SAMPLE_M))
    for grp, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(group_col) == grp, F.lit(int(frac * SAMPLE_M))
        ).otherwise(threshold)
    return docs.filter(
        _hash_bucket(F.col(id_col), salt, portable_hash) < threshold
    )


def mixture_expand(
    docs: DataFrame,
    weight_col: str = "weight",
    id_col: str = "doc_id",
    salt: str = "mix",
    portable_hash: bool = False,
) -> DataFrame:
    """Data-mixture upsampling: each document appears
    floor(weight) + Bernoulli(frac(weight)) times — the standard way a
    training pipeline realizes fractional per-source epoch counts. The
    Bernoulli draw is the deterministic hash fraction, so the expansion
    is reproducible and partitioning-invariant.

    Scale: a per-row map plus an explode bounded by ceil(max weight);
    zero shuffles. Weights arrive as a column (join a tiny broadcast
    mixture table upstream for per-source weights)."""
    w = F.col(weight_col)
    base = F.floor(w).cast("int")
    frac_threshold = ((w - F.floor(w)) * SAMPLE_M).cast("bigint")
    bern = (
        _hash_bucket(F.col(id_col), salt, portable_hash) < frac_threshold
    ).cast("int")
    n = (base + bern).alias("n_repeats")
    return (
        docs.select(F.col(id_col), n)
        .filter(F.col("n_repeats") > 0)
        .select(
            id_col,
            "n_repeats",
            F.explode(
                F.sequence(F.lit(0), F.col("n_repeats") - 1)
            ).alias("epoch"),
        )
    )


def materialize_packs(
    docs: DataFrame,
    token_budget: int = 512,
    num_streams: int = 8,
    sep: str = " ",
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """Turn pack assignments (pack_sequences) into training rows: one
    row per (stream, pack_id) holding the documents' concatenated text
    in id order, the exact token total, and the member count.

    The collect_list is bounded by pack membership (a pack holds at
    most budget/min_doc_tokens + 1 documents), so the aggregation is
    safe at any corpus size; one shuffle on the (stream, pack_id) key."""
    packed = pack_sequences(
        docs, token_budget=token_budget, num_streams=num_streams,
        id_col=id_col, text_col=text_col, portable_hash=portable_hash,
    )
    joined = docs.select(F.col(id_col), F.col(text_col)).join(packed, id_col)
    members = F.array_sort(F.collect_list(F.struct(id_col, text_col)))
    return joined.groupBy("stream", "pack_id").agg(
        F.array_join(
            F.transform(members, lambda s: s[text_col]), sep
        ).alias("pack_text"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def vocab_topk(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` whitespace tokens by global
    count (ties broken by token for a deterministic boundary).

    Scale: token explode is narrow; the groupBy partial-aggregates
    map-side so the exchange carries one row per (task, distinct token);
    the global top-N plans as TakeOrderedAndProject (per-partition
    top-N + a driver merge of N-row lists), never a full sort."""
    toks = docs.select(F.explode(text.tokens(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_n)


def build_vocab_ids(
    docs: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """(token, id) for the corpus's ``top_n`` tokens: ids are dense from
    0 in (count desc, token asc) order — the deterministic id
    assignment ``tokens_to_ids`` consumes. The final ranking window runs
    over top_n rows only (vocabularies are small by definition — the
    corpus-wide counting above it is the distributed part)."""
    counts = vocab_topk(docs, top_n=top_n, text_col=text_col)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.select(
        "token", (F.row_number().over(w) - 1).cast("int").alias("id")
    )


def tokens_to_ids(
    docs: DataFrame,
    vocab_ids: DataFrame,
    oov_id: int = -1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize each document to its id sequence (space-joined string —
    scalar, driver-hashable): whitespace tokens looked up in the
    (token, id) vocabulary, misses becoming ``oov_id``.

    Scale: the vocabulary is broadcast (even 10^6 entries are a few MB);
    the token explode is narrow; the only exchange is the per-doc
    regroup, whose collect_list is bounded by document length (the same
    bound materialize_packs relies on). Order is restored from the
    explode position, not sort order of ids."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(text.tokens(text_col)).alias("pos", "token"),
    ).filter(F.col("token") != "")
    mapped = toks.join(F.broadcast(vocab_ids), "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("id"), F.lit(oov_id)).cast("int").alias("tid"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
        lambda s: s["tid"].cast("string"),
    )
    return mapped.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("token_ids"),
        F.sum((F.col("tid") == oov_id).cast("int")).alias("n_oov"),
    )


def inverted_index(
    docs: DataFrame,
    max_postings: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """token -> (df, sorted posting list), dropping tokens whose
    document frequency exceeds ``max_postings``.

    The cap is applied with a window count BEFORE collect_list (the
    same hot-key discipline as the LSH bucket caps): a stopword's
    posting list is unbounded at corpus scale and carries no retrieval
    signal, so it must never reach the list aggregation -- a post-agg
    filter would have already materialized it. One shuffle on token,
    reused by both the window and the groupBy."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(text.tokens(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("token")
    return (
        toks.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= max_postings)
        .groupBy("token", "df")
        .agg(F.sort_array(F.collect_list(id_col)).alias("postings"))
    )


def corpus_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    chars_col: str = "n_chars",
    exact_quantiles: bool = False,
) -> DataFrame:
    """Per-source corpus profile: doc count, total tokens, min/max and
    median document length — the summary every mixture/curation
    decision starts from.

    Count/sum/min/max partial-aggregate map-side (the exchange carries
    one row per task x source). The median is ``approx_percentile``
    (t-digest sketch, mergeable, bounded memory) by default — the only
    choice at 10^12 rows; ``exact_quantiles=True`` switches to exact
    ``percentile`` (per-group value buffering) for oracle parity and
    small-corpus use."""
    n_tokens = F.expr(sqlgen.token_count_sql(text_col, sqlgen.SPARK)).cast(
        "bigint"
    )
    med = F.expr(
        f"percentile({chars_col}, 0.5)"
        if exact_quantiles
        else f"approx_percentile({chars_col}, 0.5)"
    )
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("sum_tokens"),
        F.min(chars_col).alias("min_chars"),
        F.max(chars_col).alias("max_chars"),
        med.cast("double").alias("median_chars"),
    )


def redact_pii(
    docs: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Replace emails, 16-digit card-shaped runs, IPv4 addresses, and
    NNN-NNN-NNNN phone shapes with typed placeholder tokens
    (functions.sqlgen.PII_RULES; the same template renders the DuckDB
    oracle). A pure per-row regexp chain: no shuffle, pushes past
    column pruning, whole-stage codegen."""
    out_col = out_col or text_col
    return docs.withColumn(
        out_col, F.expr(sqlgen.redact_pii_sql(text_col, sqlgen.SPARK))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document count of DISTINCT word n-grams shared with the
    benchmark set: (id, n_hits) for every contaminated training doc.

    Consumers drop rows above a hit threshold or anti-join the id list;
    emitting the count (not just a flag) lets the threshold be chosen
    downstream without recomputing."""
    bench_grams = benchmark.select(
        F.explode(F.array_distinct(text.ngrams(text_col, n))).alias("g")
    ).distinct()
    train_grams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(text.ngrams(text_col, n))).alias("g"),
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def keep_per_group(
    docs: DataFrame,
    group_col: str = "source",
    per_group: int = 10,
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``per_group`` documents per group, highest
    ``order_col`` first (ties broken by id for determinism): the
    domain-frequency cap every crawl-derived corpus applies.

    Uses the exact salted two-phase top-k (relational.salted_topk): a
    giant domain would otherwise pass through ONE window task."""
    from .relational import salted_topk

    return salted_topk(
        docs,
        group_col,
        [F.col(order_col).desc(), F.col(id_col).asc()],
        per_group,
        salt_key_col=id_col,
        salt_buckets=salt_buckets,
    ).select(group_col, id_col, "rank")


def pack_sequences(
    docs: DataFrame,
    token_budget: int = 512,
    num_streams: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """Assign each document a (stream, pack_id) so every pack holds a
    contiguous run of documents whose combined whitespace-token count
    first crosses ``token_budget`` at its last member.

    Token semantics match functions.sqlgen.token_count_sql exactly, so
    the operator is oracle-checkable; integer division keeps pack ids
    exact at any scale (no float accumulation). ``num_streams`` bounds
    the packing parallelism (one window task per stream) — size it to
    ~4x the cluster's cores in production; the default 8 is the
    oracle-parity test setting.

    Streams are bucketed by a HASH of the id (never ``pmod(id, n)``:
    string ids would yield NULL pmod, and numeric ids striding by a
    multiple of ``num_streams`` would collapse into one stream — the
    single-window-task straggler this operator exists to avoid);
    ``portable_hash=True`` uses the md5-slice hash so the assignment is
    bit-identical in the DuckDB oracle."""
    n_tokens = F.expr(sqlgen.token_count_sql(text_col, sqlgen.SPARK)).cast("int")
    stream = F.pmod(
        _salted_hash64(F.col(id_col), "pk", portable_hash), F.lit(num_streams)
    ).cast("int")
    t = docs.select(
        F.col(id_col), stream.alias("stream"), n_tokens.alias("n_tokens")
    )
    w = Window.partitionBy("stream").orderBy(F.col(id_col).asc())
    return (
        t.withColumn("_running", F.sum("n_tokens").over(w).cast("bigint"))
        .select(
            id_col,
            "stream",
            "n_tokens",
            F.expr(f"CAST((_running - n_tokens) div {token_budget} AS INT)").alias(
                "pack_id"
            ),
        )
    )


def token_rarity_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram-rarity score — the cheap, model-free stand-in
    for the perplexity bucketing CCNet-style pipelines run with a KenLM:
    ``(id, n_tokens, rarity_bits)`` where ``rarity_bits`` is the mean,
    over the document's tokens, of

        bitlen(total_corpus_tokens) - bitlen(corpus_count(token))

    i.e. each token's -log2 unigram probability rounded DOWN to whole
    bits (``bitlen(x) = len(bin(x))`` — pure integer math). Documents of
    rare tokens score high (head candidates for quality review or
    upsampling); boilerplate of stopwords scores low. The integer-bucket
    formulation is deliberate: a float ``ln()`` pipeline is not
    bit-portable across engines (JVM vs libm last-ulp drift), while
    bit lengths and an exact int sum / count division are — the driver's
    DuckDB oracle matches to the last digit by construction, not by
    rounding luck.

    Scale shape: one groupBy(token) with map-side combine builds the
    vocab (hot stopwords absorbed by partial aggregation), the grand
    total is ONE broadcast row, and the postings→vocab join keys on the
    token with AQE skew handling; the final per-doc mean is a narrow
    (id, int) aggregation. Nothing is collected to the driver and no
    Python runs per row.

    Tokens are functions.text.tokens (an all-space document contributes
    one empty-string token, so every input row comes back scored).
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(text.tokens(text_col)).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    bitlen = lambda c: F.length(F.bin(c))  # noqa: E731
    return (
        toks.join(vocab, "tok")
        .join(F.broadcast(total))
        .select(
            "id", (bitlen(F.col("total")) - bitlen(F.col("cnt"))).alias("rb")
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("rb"), 6).alias("rarity_bits"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "rarity_bits")
    )
