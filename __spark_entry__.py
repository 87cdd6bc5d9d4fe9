"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction on sf0.001; ``queries()``
exposes every implemented operator (SURVEY.md §2 + the training-data
tier); ``oracle_sql()`` gives the DuckDB-equivalent SQL for EVERY query
(31/31 as of round 2): scalar functions, dedup, similarity, streaming
parity, multimodal plumbing, the FLAGSHIP DOM-kernel queries (outputs
analytically predictable for the constructed pages), and the LSH family
-- made oracle-checkable by ``portable_hash=True`` (md5-slice base hash
+ md5-derived universal-hash constants, bit-identical across engines).

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL (driver hashes values after sorting
columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readabilityimproved_spark.functions import sqlgen
from readabilityimproved_spark.operators.dedup import (
    dedup_keep_first,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from readabilityimproved_spark.operators.extract import extract_spans
from readabilityimproved_spark.operators.similarity import (
    ann_bucketed_topk,
    ann_multiprobe_topk,
    cosine_topk,
    ivf_topk,
)

SPARK, DUCKDB = sqlgen.SPARK, sqlgen.DUCKDB


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# flagship: end-to-end DOM extraction with an analytically-known oracle
# ---------------------------------------------------------------------------
# Each document becomes a well-formed page: POSITIVE-class content div
# holding one paragraph (the doc text + a comma'd tail) and one dated
# inline image, plus UNLIKELY-class boilerplate. The kernel provably
# (tests/test_entry_contract.py) reduces this to exactly two spans:
# the paragraph text and the image ref -- which the oracle states directly.

_TAIL = ", extra tail alpha beta gamma delta."
_IMG_PREFIX = "http://img.example.com/2019-06/18/photo"
_BASE_PREFIX = "http://news.example.com/2019-06/18/story"
_PAGE_OPEN = '<html><body><div class="article content">'
_PAGE_CLOSE = (
    '</div><div class="sidebar"><ul><li><a href="/a">most read</a></li>'
    "</ul></div></body></html>"
)


def q_extract_article_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = extract_spans(_shaped_docs(spark, sf_dir))
    s = F.explode("spans").alias("s")
    return extracted.select(F.col("doc_id"), s).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("span_offset"),
    )


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a small scan across the cluster before the opaque per-row
    kernel (guide §2.5 input skew): ``documents.parquet`` is ONE file
    with one row group at the check scale factors, so every row lands
    in the single scan task that covers the row-group midpoint — the
    DOM kernel runs single-threaded no matter how many cores exist
    (the partition COUNT lies: the other byte-range tasks are empty,
    which is why the guard keys on the file count, not
    getNumPartitions). Round-robin repartition ONLY when the scan has
    fewer files than cores — at production scale the input is many
    files/splits and this is a no-op (no shuffle of a 10^12-doc
    corpus). An empty ``inputFiles()`` (an in-memory or otherwise
    non-file source) means the layout is unknown, not small: no-op too.
    The file count is the JVM array's length, so no file name crosses
    py4j. Result rows are unchanged (pure per-row kernel; the oracle
    check compares sorted rows)."""
    target = spark.sparkContext.defaultParallelism
    if 0 < len(df._jdf.inputFiles()) < target:
        return df.repartition(target)
    return df


def _shaped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text wrapped into the constructed flagship pages."""
    docs = _spread(_docs(spark, sf_dir), spark)
    ptext = F.concat(F.col("text"), F.lit(_TAIL))
    src = F.concat(F.lit(_IMG_PREFIX), F.col("doc_id").cast("string"), F.lit(".jpg"))
    base = F.concat(F.lit(_BASE_PREFIX), F.col("doc_id").cast("string"), F.lit(".html"))

    def span(kind, text, media_ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    nulls = F.lit(None).cast("string")
    spans = F.array(
        span("html", F.lit(_PAGE_OPEN), nulls, 0),
        span("html", F.concat(F.lit("<p>"), ptext, F.lit("</p>")), nulls, 1),
        span("image", nulls, src, 2),
        span("html", F.lit(_PAGE_CLOSE), nulls, 3),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        base.alias("base_uri"),
        spans.alias("spans"),
    )


def q_extract_text_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Readability.java text-only variant (C12 retry path included):
    same constructed pages, but no image spans are emitted."""
    extracted = extract_spans(_shaped_docs(spark, sf_dir), variant="text")
    s = F.explode("spans").alias("s")
    return extracted.select(F.col("doc_id"), s).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.offset").alias("span_offset"),
    )


def _oracle_extract_text_variant() -> str:
    return f"""
SELECT doc_id, 'text' AS kind, text || '{_TAIL}' AS text, 0 AS span_offset
FROM documents
"""


def q_top_content_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/C5/C6/C8 scoring arithmetic surfaced as a column: for the
    constructed pages the top candidate's score is analytically
    30 (div prior + POSITIVE class) + 1 + 2 comma segments +
    min(len/100, 3), link density 0."""
    extracted = extract_spans(_shaped_docs(spark, sf_dir))
    return extracted.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("top_score").cast("int").alias("top_score"),
    )


def _oracle_top_content_score() -> str:
    tail_len = len(_TAIL)
    return f"""
SELECT doc_id,
       cast(33 + least((n_chars + {tail_len}) // 100, 3) as int) AS top_score
FROM documents
"""


_TITLE_PREFIX = "Story "


def q_title_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T0 title extraction (Extractor.java:28-76) over constructed pages
    covering: h1 == title, h1 contains title, no h1, unrelated h1."""
    docs = _spread(_docs(spark, sf_dir), spark)
    title = F.concat(F.lit(_TITLE_PREFIX), F.col("doc_id").cast("string"))
    h1 = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("<h1>"), title, F.lit("</h1>")))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("<h1>Breaking: "), title, F.lit(" today</h1>")),
        )
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.lit("<h1>Unrelated Headline</h1>"))
    )
    page = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body>"),
        h1, F.lit("<p>body text</p></body></html>"),
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            page.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    shaped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    from readabilityimproved_spark.operators.textops import extract_titles

    return extract_titles(shaped).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.col("title")
    )


def _oracle_title_extract() -> str:
    t = f"'{_TITLE_PREFIX}' || cast(doc_id as varchar)"
    return f"""
SELECT doc_id,
       CASE cast(doc_id % 4 as int)
         WHEN 0 THEN {t}
         WHEN 1 THEN 'Breaking: ' || {t} || ' today'
         WHEN 2 THEN {t}
         ELSE NULL
       END AS title
FROM documents
"""


_DATE_CASES = [
    "2019-06-18",          # L1 numeric
    "2019年6月18日",        # ChL1
    "January 15, 2019",    # EnL1
    "2019-03-04 10:30:25", # L1 datetime (time preserved in output)
    "19.06.18",            # tier-2 L2
    "",                    # no date -> NULL
]
_DATE_EXPECT = [
    "2019-06-18", "2019-06-18", "2019-01-15",
    "2019-03-04 10:30:25", "2019-06-18", None,
]


def q_pub_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 weighted HTML date extraction (TimeUtil.getDateFromHtml) over
    constructed pages covering numeric/Chinese/English/datetime/yy/none."""
    docs = _spread(_docs(spark, sf_dir), spark)
    datestr = F.element_at(
        F.array(*[F.lit(c) for c in _DATE_CASES]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    page = F.concat(
        F.lit("<html><head><title>T</title></head><body><h1>Headline</h1><p>"),
        datestr,
        F.lit("</p><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            page.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    shaped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    from readabilityimproved_spark.operators.textops import extract_pub_dates

    return extract_pub_dates(shaped).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.col("pub_date")
    )


def _oracle_pub_date_extract() -> str:
    whens = " ".join(
        f"WHEN {i} THEN " + (f"'{e}'" if e is not None else "cast(NULL as varchar)")
        for i, e in enumerate(_DATE_EXPECT)
    )
    return f"""
SELECT doc_id, CASE cast(doc_id % 6 as int) {whens} END AS pub_date
FROM documents
"""


def _oracle_ann_lsh() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    return f"""
WITH scaled AS (
  SELECT vec_id, cast({bucket} as int) AS bucket,
         [cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)
          for x in embedding] AS vec
  FROM embeddings
), normed AS (
  SELECT vec_id, bucket, vec, list_dot_product(vec, vec) AS norm2 FROM scaled
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.vec, c.vec)
               / (sqrt(q.norm2) * sqrt(c.norm2)), 6) AS cosine
  FROM normed q JOIN normed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_TOPK_QUERIES}
), ranked AS (
  SELECT query_id, cand_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id ASC) as int)
             AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
"""


_MULTIPROBE_BITS = 8


def _oracle_ann_multiprobe() -> str:
    from readabilityimproved_spark.operators.similarity import hyperplane_pairs

    pairs = hyperplane_pairs(1, _MULTIPROBE_BITS, 64)[0]
    bucket = " + ".join(
        f"(CASE WHEN embedding[{p1 + 1}] - embedding[{p2 + 1}] >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, (p1, p2) in enumerate(pairs)
    )
    probes = ", ".join(
        ["bucket0"] + [f"xor(bucket0, {1 << i})" for i in range(_MULTIPROBE_BITS)]
    )
    return f"""
WITH scaled AS (
  SELECT vec_id, cast({bucket} as int) AS bucket0,
         [cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)
          for x in embedding] AS vec
  FROM embeddings
), normed AS (
  SELECT vec_id, bucket0, vec, list_dot_product(vec, vec) AS norm2 FROM scaled
), probes AS (
  SELECT vec_id AS query_id, vec AS qvec, norm2 AS qnorm,
         unnest([{probes}]) AS bucket
  FROM normed WHERE vec_id < {_TOPK_QUERIES}
), scored AS (
  SELECT p.query_id, c.vec_id AS cand_id,
         round(list_dot_product(p.qvec, c.vec)
               / (sqrt(p.qnorm) * sqrt(c.norm2)), 6) AS cosine
  FROM probes p JOIN normed c ON c.bucket0 = p.bucket
  WHERE c.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, cand_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id ASC) as int)
             AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
"""


def q_scored_dom_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the scored-DOM intermediate for the constructed pages. Both
    scored nodes are analytically known: the content div carries
    30 + (1 + 2 commas + min(len/100,3)) pre-scaling; the body
    (grandparent) carries half the paragraph score (Java int division)."""
    from readabilityimproved_spark.operators.textops import scored_dom_nodes

    return scored_dom_nodes(_shaped_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "tag", "cls", "node_id",
        F.col("score").cast("int").alias("score"),
    )


def _oracle_scored_dom_nodes() -> str:
    tail_len = len(_TAIL)
    cs = f"(3 + least((n_chars + {tail_len}) // 100, 3))"
    return f"""
SELECT doc_id, 'div' AS tag, 'article content' AS cls, '' AS node_id,
       cast(30 + {cs} as int) AS score
FROM documents
UNION ALL
SELECT doc_id, 'body', '', '', cast({cs} // 2 as int) FROM documents
"""


def q_extract_rejects_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-path oracle: the constructed page carries a tiny REMOVE_IMG
    logo, a duplicated photo, and a data-uri image -- the kernel must emit
    the text span ONLY (I5 size buckets, I11 count==1 dedup, I1 data-uri
    skip, C1 sidebar pruning all verified by hash equality)."""
    docs = _spread(_docs(spark, sf_dir), spark)
    # 5 paragraphs so the img>p conditional-clean rule (correctly) does
    # not fire on this 4-image page
    words = ["alpha", "bravo", "charlie", "delta", "echo"]
    paras = [
        F.concat(F.lit(f"<p>{w}: "), F.col("text"), F.lit(_TAIL + "</p>"))
        for w in words
    ]
    dup = F.concat(
        F.lit("http://img.example.com/2019-06/18/photo"),
        F.col("doc_id").cast("string"),
        F.lit("_dup.jpg"),
    )
    page = F.concat(
        F.lit(_PAGE_OPEN),
        *paras,
        F.lit('<img src="'), dup, F.lit('" width="640" height="420">'),
        F.lit('<img src="'), dup, F.lit('" width="640" height="420">'),
        F.lit('<img src="http://img.example.com/static/logo.png"'
              ' width="80" height="80">'),
        F.lit('<img src="data:image/gif;base64,R0lGODlh" width="600"'
              ' height="600">'),
        F.lit(_PAGE_CLOSE),
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            page.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    base = F.concat(
        F.lit(_BASE_PREFIX), F.col("doc_id").cast("string"), F.lit(".html")
    )
    shaped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        base.alias("base_uri"),
        spans.alias("spans"),
    )
    extracted = extract_spans(shaped)
    s = F.explode("spans").alias("s")
    return extracted.select(F.col("doc_id"), s).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.offset").alias("span_offset"),
    )


def _oracle_extract_rejects_boilerplate() -> str:
    words = ["alpha", "bravo", "charlie", "delta", "echo"]
    selects = " UNION ALL ".join(
        f"SELECT doc_id, 'text' AS kind,"
        f" '{w}: ' || text || '{_TAIL}' AS text, {i} AS span_offset"
        f" FROM documents"
        for i, w in enumerate(words)
    )
    return selects


def q_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (batch form of the streaming operator)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from readabilityimproved_spark.streaming.stream import windowed_event_metrics

    out = windowed_event_metrics(events, "1 hour")
    # timestamp_ntz matches DuckDB's naive TIMESTAMP in type and value
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value_micros",
    )  # approx_count_distinct is engine-specific -> excluded from the oracle


def _oracle_event_window_agg() -> str:
    # sum over BIGINT is HUGEINT in DuckDB -> cast back to Spark's width
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(abs(value) * 1000000 + 0.5) * sign(value) AS BIGINT)) AS BIGINT)
           AS sum_value_micros
FROM events GROUP BY 1, 2
"""


_SESSION_GAP_MIN = 30


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity twin of the applyInPandasWithState sessionizer
    (streaming/stream.py): gap sessionization is SQL-expressible, which
    gives the stateful operator a driver-visible correctness row."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from readabilityimproved_spark.streaming.stream import (
        sessionize_events_batch,
    )

    out = sessionize_events_batch(events, gap_minutes=_SESSION_GAP_MIN)
    return out.select(
        "user_id",
        "session_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "sum_value_micros",
    )


def _oracle_sessionize_events() -> str:
    # three width/precision disciplines (r2 verdict adjudication):
    # * epoch_us, not epoch: the Spark twin and the stateful operator
    #   compare sub-second event times; fractional-DOUBLE epoch() would
    #   flip any gap within 1s of the threshold;
    # * CAST(session_id AS BIGINT): DuckDB windowed sum() yields HUGEINT,
    #   Spark BIGINT -- the driver's value hash is width-sensitive;
    # * exact micros-scaled BIGINT sum instead of round(sum(double)).
    return f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {_SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
             AS session_id
  FROM o
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(floor(abs(value) * 1000000 + 0.5) * sign(value) AS BIGINT)) AS BIGINT)
           AS sum_value_micros
FROM s GROUP BY 1, 2
"""


_ASOF_TOL_US = 24 * 3600 * 1_000_000  # half the clicks match at sf0.01
_RANGE_IV_HOURS = 12
_RANGE_BIN_US = _RANGE_IV_HOURS * 3600 * 1_000_000  # bin == interval length


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of attribution: each click joined to the user's most recent
    view at-or-before it, within 24 h (operators/relational.asof_join —
    union + single-exchange window, no inequality join). The view side
    is pre-aggregated per (user, ts) so duplicate-timestamp winners are
    deterministic (same contract as DuckDB ASOF / pandas merge_asof)."""
    from readabilityimproved_spark.operators.relational import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = asof_join(
        clicks,
        views,
        on="user_id",
        value_cols=("view_event_id",),
        tolerance_us=_ASOF_TOL_US,
        matched_ts_col="view_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        "view_event_id",
    )


def _oracle_asof_join_events() -> str:
    # DuckDB ASOF picks the greatest view.ts <= click.ts (inclusive);
    # outside-tolerance matches become NULL (no farther candidate can be
    # closer), exactly the operator's tolerance contract. CASE is
    # NULL-safe for unmatched rows.
    return f"""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN epoch_us(c.ts) - epoch_us(v.ts) <= {_ASOF_TOL_US}
            THEN v.ts END AS view_ts,
       CASE WHEN epoch_us(c.ts) - epoch_us(v.ts) <= {_ASOF_TOL_US}
            THEN v.view_event_id END AS view_event_id
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment: clicks landing within 12 h after an error
    by the same user (operators/relational.range_join — binned
    equi-join on (user, epoch-bin), no nested-loop theta join)."""
    from readabilityimproved_spark.operators.relational import range_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errs = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr(f"INTERVAL {_RANGE_IV_HOURS} HOURS")).alias("t1"),
    )
    out = range_join(
        clicks, errs, on="user_id", bin_us=_RANGE_BIN_US
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "err_id",
        F.col("t0").cast("timestamp_ntz").alias("err_t0"),
    )


def _oracle_range_join_events() -> str:
    return f"""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errs AS (
  SELECT event_id AS err_id, user_id, ts AS t0,
         ts + INTERVAL {_RANGE_IV_HOURS} HOUR AS t1
  FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id, c.ts, e.err_id, e.t0 AS err_t0
FROM clicks c JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.t0 AND c.ts <= e.t1
"""


def q_json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-function coverage (SURVEY §2.7): per-event-type rollup of a
    field extracted from the JSON ``props`` payload — all JVM-side
    built-ins (``get_json_object`` codegens; for MANY keys from the
    same payload, ``from_json`` once into a struct is the cheaper form,
    one parse instead of one per key)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


def _oracle_json_props_agg() -> str:
    # sums/count-distinct over BIGINT widen to HUGEINT in DuckDB ->
    # cast back to Spark's widths (the driver hash is width-sensitive)
    return """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
       CAST(count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
           AS n_distinct_k
FROM events GROUP BY 1
"""


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage (SURVEY §2.7): ROLLUP(lang, source)."""
    from readabilityimproved_spark.operators.relational import corpus_rollup

    return corpus_rollup(_docs(spark, sf_dir))


def _oracle_corpus_rollup() -> str:
    return """
SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage (SURVEY §2.7): diff two deterministic
    crawl-snapshot views of the corpus (doc_id mod filters) by md5
    fingerprint — intersect/except over narrow (id, fp) pairs only."""
    from readabilityimproved_spark.operators.relational import corpus_diff

    docs = _docs(spark, sf_dir)
    fp = F.md5(F.col("text")).alias("fp")
    a = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", fp)
    b = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", fp)
    return corpus_diff(a, b)


def _oracle_snapshot_diff() -> str:
    return """
WITH a AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 <> 0),
     b AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0)
SELECT doc_id, fp, 'both' AS status FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT doc_id, fp, 'only_old' AS status FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT doc_id, fp, 'only_new' AS status FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
"""


# ---------------------------------------------------------------------------
# curation tier: training-corpus operators (operators/curation.py)
# ---------------------------------------------------------------------------

_DECON_MOD, _DECON_N = 19, 3


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap screening: docs with doc_id % 19 == 0 act as
    the held-out benchmark; every other doc is scored by how many
    distinct 3-grams it shares with them."""
    from readabilityimproved_spark.operators.curation import decontaminate

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == 0)
    train = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    return decontaminate(train, bench, n=_DECON_N)


def _oracle_decontaminate() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {_DECON_N}
              THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                    for i in range(1, len(w) - 1)]
              ELSE [] END AS gr
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(gr) AS gram FROM g WHERE doc_id % {_DECON_MOD} = 0
), tr AS (
  SELECT DISTINCT doc_id, unnest(gr) AS gram FROM g
  WHERE doc_id % {_DECON_MOD} <> 0
)
SELECT doc_id, count(*) AS n_hits FROM tr JOIN bench USING (gram) GROUP BY 1
"""


_CAP_PER_SOURCE = 5


def q_keep_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import keep_per_group

    return keep_per_group(
        _docs(spark, sf_dir), group_col="source", per_group=_CAP_PER_SOURCE
    )


def _oracle_keep_per_source() -> str:
    return f"""
SELECT source, doc_id, rank FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
  FROM documents)
WHERE rank <= {_CAP_PER_SOURCE}
"""


_PACK_BUDGET, _PACK_STREAMS = 512, 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir),
        token_budget=_PACK_BUDGET,
        num_streams=_PACK_STREAMS,
        portable_hash=True,
    )


def _pack_ctes() -> str:
    # stream = hash-bucketed (md5-slice portable hash, same scheme as
    # the sampling oracles) -- NOT doc_id % n, which collapses striding
    # or string ids (ADVICE r3)
    toks = sqlgen.token_count_sql("text", DUCKDB)
    h = ("CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '_pk'),"
         " 1, 15)) AS BIGINT)")
    return f"""
WITH t AS (
  SELECT doc_id, CAST({h} % {_PACK_STREAMS} AS INT) AS stream,
         CAST({toks} AS INT) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, stream, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id)
              AS BIGINT) AS running
  FROM t
)"""


def _oracle_pack_sequences() -> str:
    return _pack_ctes() + f"""
SELECT doc_id, stream, n_tokens,
       CAST((running - n_tokens) // {_PACK_BUDGET} AS INT) AS pack_id
FROM r
"""


def q_materialize_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import materialize_packs

    return materialize_packs(
        _docs(spark, sf_dir),
        token_budget=_PACK_BUDGET,
        num_streams=_PACK_STREAMS,
        portable_hash=True,
    )


def _oracle_materialize_packs() -> str:
    return _pack_ctes() + f"""
SELECT stream,
       CAST((running - n_tokens) // {_PACK_BUDGET} AS INT) AS pack_id,
       string_agg(text, ' ' ORDER BY doc_id) AS pack_text,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       count(*) AS n_docs
FROM r JOIN documents USING (doc_id)
GROUP BY 1, 2
"""


_VOCAB_TOPN = 100


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), top_n=_VOCAB_TOPN)


def _oracle_vocab_topk() -> str:
    return f"""
SELECT token, count(*) AS n FROM (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {_VOCAB_TOPN}
"""


def q_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-based tokenization: corpus top-N vocabulary (dense ids in
    (count desc, token) order) applied per document, OOV -> -1, ids
    emitted space-joined (scalar for the driver hash)."""
    from readabilityimproved_spark.operators.curation import (
        build_vocab_ids,
        tokens_to_ids,
    )

    docs = _docs(spark, sf_dir)
    vocab = build_vocab_ids(docs, top_n=_VOCAB_TOPN)
    return tokens_to_ids(docs, vocab)


def _oracle_tokens_to_ids() -> str:
    return f"""
WITH counts AS (
  SELECT token, count(*) AS n FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
    FROM documents)
  WHERE token <> ''
  GROUP BY token ORDER BY n DESC, token ASC LIMIT {_VOCAB_TOPN}
), v AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) - 1
             AS id
  FROM counts
), t AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos,
         unnest(toks) AS token
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents)
), m AS (
  SELECT doc_id, pos, CAST(coalesce(v.id, -1) AS INT) AS tid
  FROM t LEFT JOIN v USING (token)
  WHERE token <> ''
)
SELECT doc_id,
       string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
       CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM m GROUP BY doc_id
"""


_INDEX_CAP = 390  # splits the sf0.01 df distribution: hot tokens dropped


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract: postings are emitted space-joined (scalar), not
    array<string> -- the driver's pandas canonicalizer sorts/hashes
    column values and cannot handle list cells (round-3 red row)."""
    from readabilityimproved_spark.operators.curation import inverted_index

    idx = inverted_index(_docs(spark, sf_dir), max_postings=_INDEX_CAP)
    return idx.select(
        "token",
        "df",
        F.array_join(F.col("postings").cast("array<string>"), " ").alias(
            "postings"
        ),
    )


def _oracle_inverted_index() -> str:
    return f"""
WITH t AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
), c AS (
  SELECT doc_id, token,
         CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
  FROM t WHERE token <> ''
)
SELECT token, df,
       string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS postings
FROM c WHERE df <= {_INDEX_CAP} GROUP BY token, df
"""


_STRATA = {"src0": 0.9, "src1": 0.5, "src2": 0.25}
_STRATA_DEFAULT, _STRATA_SALT = 0.1, "st0"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        fractions=_STRATA,
        default_fraction=_STRATA_DEFAULT,
        salt=_STRATA_SALT,
        portable_hash=True,
    ).select("doc_id", "source")


def _oracle_stratified_sample() -> str:
    h = _md5slice(f"doc_id::VARCHAR || '_{_STRATA_SALT}'")
    cases = " ".join(
        f"WHEN source = '{g}' THEN {int(f * 1_000_000)}"
        for g, f in sorted(_STRATA.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE ({h}) % 1000000 <
      (CASE {cases} ELSE {int(_STRATA_DEFAULT * 1_000_000)} END)
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile with EXACT medians (the approx t-digest
    path is the 10^12-row default; exactness here is what DuckDB can
    oracle)."""
    from readabilityimproved_spark.operators.curation import corpus_stats

    return corpus_stats(_docs(spark, sf_dir), exact_quantiles=True)


def _oracle_corpus_stats() -> str:
    toks = sqlgen.token_count_sql("text", DUCKDB)
    return f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(CAST({toks} AS BIGINT)) AS BIGINT) AS sum_tokens,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS median_chars
FROM documents GROUP BY 1
"""


_SAMPLE_FRACTION, _SAMPLE_SALT = 0.3, "s0"


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import (
        deterministic_sample,
    )

    return deterministic_sample(
        _docs(spark, sf_dir),
        fraction=_SAMPLE_FRACTION,
        salt=_SAMPLE_SALT,
        portable_hash=True,
    )


def _oracle_deterministic_sample() -> str:
    thr = int(_SAMPLE_FRACTION * 1_000_000)
    h = _md5slice(f"doc_id::VARCHAR || '_{_SAMPLE_SALT}'")
    return f"""
SELECT * FROM documents WHERE ({h} % 1000000) < {thr}
"""


_MIX_SALT = "mix"
# per-source weight rule: 0.5 + 0.75 * (source number % 4) -> exactly
# representable {0.5, 1.25, 2.0, 2.75}, so floor/frac are engine-exact
_MIX_WEIGHT_SPARK = (
    "0.5 + 0.75 * (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4)"
)


def q_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import mixture_expand

    docs = _docs(spark, sf_dir).withColumn("weight", F.expr(_MIX_WEIGHT_SPARK))
    return mixture_expand(
        docs, weight_col="weight", salt=_MIX_SALT, portable_hash=True
    ).select("doc_id", "n_repeats", F.col("epoch").cast("int").alias("epoch"))


def _oracle_mixture_expand() -> str:
    h = _md5slice(f"doc_id::VARCHAR || '_{_MIX_SALT}'")
    return f"""
WITH w AS (
  SELECT doc_id,
         0.5 + 0.75 * (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4)
             AS weight
  FROM documents
), n AS (
  SELECT doc_id,
         CAST(floor(weight) AS INT)
         + CASE WHEN ({h} % 1000000)
                     < CAST((weight - floor(weight)) * 1000000 AS BIGINT)
                THEN 1 ELSE 0 END AS n_repeats
  FROM w
)
SELECT doc_id, n_repeats,
       CAST(unnest(generate_series(0, n_repeats - 1)) AS INT) AS epoch
FROM n WHERE n_repeats > 0
"""


# ---------------------------------------------------------------------------
# PDF/layout tier (operators/layout.py): deterministic fake decode ->
# reading-order reconstruction -> furniture strip -> span shape
# ---------------------------------------------------------------------------

def q_layout_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded two-column reading order over the deterministic fake
    block layout (naive y-order interleaves the columns; the operator
    must emit title, full left column, then right column per band)."""
    from readabilityimproved_spark.operators.layout import (
        fake_pdf_blocks,
        reading_order,
    )

    blocks = fake_pdf_blocks(_docs(spark, sf_dir), with_footer=False)
    return reading_order(blocks).select(
        "doc_id", "page", "block_id", "order_idx"
    )


def q_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout tier end-to-end: fake decode with recurring footers ->
    furniture strip -> reading order -> the engine's span shape."""
    from readabilityimproved_spark.operators.layout import (
        fake_pdf_blocks,
        layout_spans,
    )

    blocks = fake_pdf_blocks(_docs(spark, sf_dir), with_footer=True)
    return layout_spans(blocks)


def _layout_block_ctes(with_footer: bool) -> str:
    """DuckDB replica of fake_pdf_blocks (+footer): CTEs ending in
    ``blocks``. Block ids derive from token subscripts (lateral
    generate_series is not available in this DuckDB)."""
    footer = """
, footer AS (
  SELECT DISTINCT doc_id, page, 100000 + page AS block_id,
         36.0 AS x0, 770.0 AS y0, 576.0 AS x1, 790.0 AS y1,
         'confidential draft p. ' || CAST(page + 1 AS VARCHAR) AS text
  FROM content
), blocks AS (SELECT * FROM content UNION ALL SELECT * FROM footer)
""" if with_footer else ", blocks AS (SELECT * FROM content)"
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), ti AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS t FROM d
), bi AS (
  SELECT DISTINCT doc_id, CAST((t - 1) // 4 AS INT) AS block_id FROM ti
), content AS (
  SELECT d.doc_id,
         CAST(block_id // 7 AS INT) AS page,
         block_id,
         CASE WHEN block_id % 7 = 0 THEN 36.0
              WHEN (block_id % 7 - 1) % 2 = 0 THEN 36.0
              ELSE 324.0 END AS x0,
         CASE WHEN block_id % 7 = 0 THEN 40.0
              ELSE 100.0 + ((block_id % 7 - 1) // 2) * 200 END AS y0,
         CASE WHEN block_id % 7 = 0 THEN 576.0
              WHEN (block_id % 7 - 1) % 2 = 0 THEN 288.0
              ELSE 576.0 END AS x1,
         CASE WHEN block_id % 7 = 0 THEN 60.0
              ELSE 280.0 + ((block_id % 7 - 1) // 2) * 200 END AS y1,
         array_to_string(
             list_slice(toks, block_id * 4 + 1, block_id * 4 + 4), ' '
         ) AS text
  FROM bi JOIN d USING (doc_id)
){footer}"""


_LAYOUT_ORDER_SQL = """
, ro AS (
  SELECT doc_id, page, block_id, text, y0, x0,
         CASE WHEN x0 < 306 AND x1 > 306 THEN -1
              WHEN x1 <= 306 THEN 0 ELSE 1 END AS c,
         sum(CASE WHEN x0 < 306 AND x1 > 306 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY page, y0, x0, block_id
                 ROWS UNBOUNDED PRECEDING) AS band
  FROM {src}
), idx AS (
  SELECT doc_id, page, block_id, text,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY page, band, c, y0, x0, block_id) AS INT) AS order_idx
  FROM ro
)"""


def _oracle_layout_reading_order() -> str:
    return (
        _layout_block_ctes(with_footer=False)
        + _LAYOUT_ORDER_SQL.format(src="blocks")
        + "\nSELECT doc_id, page, block_id, order_idx FROM idx\n"
    )


def _oracle_layout_spans() -> str:
    strip = """
, keyed AS (
  SELECT *, regexp_replace(lower(trim(text)), '[0-9]+', '#', 'g') AS norm,
         CAST(floor(y0 / 20.0) AS BIGINT) AS yb
  FROM blocks
), furn AS (
  SELECT doc_id, norm, yb FROM keyed
  GROUP BY doc_id, norm, yb HAVING count(DISTINCT page) >= 2
), kept AS (
  SELECT k.doc_id, k.page, k.block_id, k.x0, k.y0, k.x1, k.y1, k.text
  FROM keyed k
  WHERE NOT EXISTS (SELECT 1 FROM furn f
                    WHERE f.doc_id = k.doc_id AND f.norm = k.norm
                      AND f.yb = k.yb)
)"""
    return (
        _layout_block_ctes(with_footer=True)
        + strip
        + _LAYOUT_ORDER_SQL.format(src="kept")
        + """
SELECT doc_id, 'text' AS kind, text, CAST(NULL AS VARCHAR) AS media_ref,
       CAST(order_idx - 1 AS INT) AS span_offset
FROM idx
"""
    )


# ---------------------------------------------------------------------------
# relational tier over the shipped TPC-H-ish tables (operators/relational.py)
# ---------------------------------------------------------------------------

def q_tpch_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.relational import star_join_rollup

    return star_join_rollup(
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "nation"),
    )


def _oracle_tpch_star_rollup() -> str:
    # every DuckDB sum over BIGINT widens to HUGEINT -> cast back
    return """
SELECT n_name, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(floor(abs(o_totalprice) * 100 + 0.5) * sign(o_totalprice) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


_PROFIT_PART_TYPE = "PROMO"


def q_tpch_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped snowflake rollup over the previously-unexercised part
    and supplier dims: the part-type filter prunes BEFORE broadcast,
    three BroadcastHashJoins keep the fact unshuffled, one tiny final
    exchange (operators/relational.profit_by_nation)."""
    from readabilityimproved_spark.operators.relational import (
        profit_by_nation,
    )

    return profit_by_nation(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        part_type=_PROFIT_PART_TYPE,
    )


def _oracle_tpch_profit_by_nation() -> str:
    return f"""
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(abs(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                 * sign(l_extendedprice * (1 - l_discount))
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_shipments
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = '{_PROFIT_PART_TYPE}'
GROUP BY 1, 2
"""


_BKT_BUCKETS = 8


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (sources.io.write_bucketed): orders and
    customer are persisted bucketed on the join key, then joined with
    NO join-key exchange (the shuffle was paid once at write time --
    THE lever for repeated joins at 10^12 rows; the zero-exchange plan
    itself is pinned by tests/test_round3.py / test_round4.py, this row
    pins the RESULTS through the bucketed path).

    The 5-row rollup is checkpointed eagerly so the temp catalog tables
    can be dropped before returning (the driver collects lazily)."""
    import re

    from readabilityimproved_spark.operators.relational import _cents
    from readabilityimproved_spark.sources.io import write_bucketed

    # per-application table names: concurrent runs share spark-warehouse
    app = re.sub(r"[^0-9a-zA-Z]", "_", spark.sparkContext.applicationId)
    t_ord, t_cust = f"bkt_orders_{app}", f"bkt_customer_{app}"
    write_bucketed(
        _tbl(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        t_ord, bucket_col="o_custkey", num_buckets=_BKT_BUCKETS,
        sort_col="o_custkey",
    )
    write_bucketed(
        _tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_cust, bucket_col="c_custkey", num_buckets=_BKT_BUCKETS,
        sort_col="c_custkey",
    )
    try:
        joined = spark.table(t_ord).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        out = (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(_cents("o_totalprice")).alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_ord}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")
    return out


def _oracle_bucketed_join() -> str:
    return """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(floor(abs(o_totalprice) * 100 + 0.5) * sign(o_totalprice) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


_TPCH_TOPK = 3


def q_tpch_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.relational import (
        topk_orders_per_segment,
    )

    return topk_orders_per_segment(
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "customer"),
        k=_TPCH_TOPK,
    )


def _oracle_tpch_topk_per_segment() -> str:
    cents = "CAST(floor(abs(o_totalprice) * 100 + 0.5) * sign(o_totalprice) AS BIGINT)"
    return f"""
SELECT c_mktsegment, o_orderkey, price_cents, rank FROM (
  SELECT c_mktsegment, o_orderkey, {cents} AS price_cents,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY {cents} DESC, o_orderkey ASC) AS INT) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rank <= {_TPCH_TOPK}
"""


def q_tpch_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.relational import (
        customers_without_orders,
    )

    # restricted to URGENT orders: every customer has SOME order in the
    # testdata, so the unrestricted anti join would be a 0-row (trivially
    # hash-matching) correctness signal
    return customers_without_orders(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ),
    )


def _oracle_tpch_customers_no_orders() -> str:
    # o_custkey is non-null, so NOT IN == anti join here
    return """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.relational import pricing_summary

    return pricing_summary(_tbl(spark, sf_dir, "lineitem"))


def _oracle_tpch_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(abs(l_quantity) * 100 + 0.5) * sign(l_quantity) AS BIGINT)) AS BIGINT)
           AS sum_qty_cents,
       CAST(sum(CAST(floor(abs(l_extendedprice) * 100 + 0.5) * sign(l_extendedprice) AS BIGINT)) AS BIGINT)
           AS sum_base_cents,
       CAST(sum(CAST(floor(abs(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                 * sign(l_extendedprice * (1 - l_discount))
                     AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media table constructed from documents: payload = utf-8 text
    bytes, media_type cycles image/audio/video, typed metadata map."""
    docs = _docs(spark, sf_dir)
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("m://"), F.col("doc_id").cast("string")).alias("media_ref"),
        mtype.alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.create_map(
            F.lit("width"), (F.col("doc_id") % 1000).cast("string"),
            F.lit("height"), (F.col("doc_id") % 700).cast("string"),
        ).alias("meta"),
    )


def q_stream_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity twin of streaming_dedup (dropDuplicatesWithinWatermark):
    a doubled event table dedups back to one row per event_id. Duplicate
    rows are bit-identical, so the arbitrary-survivor semantics of
    dropDuplicates is deterministic here and equals SELECT DISTINCT."""
    from readabilityimproved_spark.streaming.stream import streaming_dedup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    doubled = events.union(events)
    return streaming_dedup(doubled, id_cols=("event_id",)).select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _oracle_stream_dedup_twin() -> str:
    return """
SELECT DISTINCT event_id, ts, user_id, event_type, value
FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, driver-checked: the constructed media table
    through the Arrow-batched fake decoder; every compared column
    (n_bytes from the payload, width/height parsed from the meta map,
    type cycling, status) is DuckDB-computable. checksum/embedding are
    fake-decoder internals (crc32-seeded) and excluded from the compare."""
    from readabilityimproved_spark.operators.multimodal import (
        decode_media_features,
    )

    return decode_media_features(_media_table(spark, sf_dir), mode="fake").select(
        "media_ref", "media_type", "n_bytes", "width", "height", "status"
    )


_RESIZE_W, _RESIZE_H = 256, 256


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_images plumbing, driver-checked: image filter (1/3 of the
    media table), Arrow batch shape, target dims, status. The resized
    payload is the fake codec's crc32 stamp (not DuckDB-computable) and
    is excluded from the compare -- the codec itself remains the
    documented plug point (multimodal.py:129)."""
    from readabilityimproved_spark.operators.multimodal import resize_images

    return resize_images(
        _media_table(spark, sf_dir), target_w=_RESIZE_W, target_h=_RESIZE_H,
        mode="fake",
    ).select("media_ref", "target_w", "target_h", "status")


def _oracle_media_resize() -> str:
    return f"""
SELECT 'm://' || cast(doc_id as varchar) AS media_ref,
       {_RESIZE_W} AS target_w, {_RESIZE_H} AS target_h,
       'ok-fake' AS status
FROM documents WHERE doc_id % 3 = 0
"""


_FRAMES_EVERY_N = 2


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_frames plumbing, driver-checked: video filter, per-frame
    row explosion (frame count = payload bytes // (every_n*64), min 1 --
    directly computable from octet_length in DuckDB). frame_crc is the
    fake codec's internal and excluded."""
    from readabilityimproved_spark.operators.multimodal import sample_frames

    return sample_frames(
        _media_table(spark, sf_dir), every_n=_FRAMES_EVERY_N, mode="fake"
    ).select("media_ref", "frame_idx", "status")


def _oracle_media_frames() -> str:
    chunk = _FRAMES_EVERY_N * 64
    return f"""
SELECT 'm://' || cast(doc_id as varchar) AS media_ref,
       CAST(unnest(generate_series(
            0, greatest(octet_length(encode(text)) // {chunk}, 1) - 1)) AS INT)
           AS frame_idx,
       'ok-fake' AS status
FROM documents WHERE doc_id % 3 = 2
"""


def _oracle_media_features() -> str:
    return """
SELECT 'm://' || cast(doc_id as varchar) AS media_ref,
       CASE cast(doc_id % 3 as int)
         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       cast(octet_length(encode(text)) as int) AS n_bytes,
       cast(doc_id % 1000 as int) AS width,
       cast(doc_id % 700 as int) AS height,
       'ok-fake' AS status
FROM documents
"""


def q_media_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attach_media_features driver-checked end-to-end: the flagship
    extraction's image spans broadcast-joined to decoded features of a
    media table keyed by the same refs. One row per document (the
    flagship page has exactly one surviving image at offset 1)."""
    from readabilityimproved_spark.operators.multimodal import (
        attach_media_features,
        decode_media_features,
    )

    extracted = extract_spans(_shaped_docs(spark, sf_dir))
    docs = _docs(spark, sf_dir)
    src = F.concat(F.lit(_IMG_PREFIX), F.col("doc_id").cast("string"), F.lit(".jpg"))
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        src.alias("media_ref"),
        F.lit("image").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.create_map(
            F.lit("width"), (F.col("doc_id") % 1000).cast("string"),
            F.lit("height"), (F.col("doc_id") % 700).cast("string"),
        ).alias("meta"),
    )
    feats = decode_media_features(media, mode="fake")
    return attach_media_features(extracted, feats).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "media_ref",
        "span_offset",
        "n_bytes",
        "width",
        "height",
        "status",
    )


def _oracle_media_attach() -> str:
    return f"""
SELECT doc_id,
       '{_IMG_PREFIX}' || cast(doc_id as varchar) || '.jpg' AS media_ref,
       1 AS span_offset,
       cast(octet_length(encode(text)) as int) AS n_bytes,
       cast(doc_id % 1000 as int) AS width,
       cast(doc_id % 700 as int) AS height,
       'ok-fake' AS status
FROM documents
"""


_NEARDUP_THRESHOLD = 0.2


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(
        _emb(spark, sf_dir),
        threshold=_NEARDUP_THRESHOLD,
        tables=_NEARDUP_TABLES,
        bits=_NEARDUP_BITS,
        max_bucket_size=_NEARDUP_CAP,
    )


_NEARDUP_TABLES, _NEARDUP_BITS, _NEARDUP_CAP = 4, 16, 100


def _oracle_embedding_neardup() -> str:
    from readabilityimproved_spark.operators.similarity import hyperplane_pairs

    all_pairs = hyperplane_pairs(_NEARDUP_TABLES, _NEARDUP_BITS, 64)
    bucket_selects = " UNION ALL ".join(
        "SELECT vec_id AS id, {t} AS tbl, CAST({e} AS INT) AS bucket"
        " FROM embeddings".format(
            t=t,
            e=" + ".join(
                f"(CASE WHEN embedding[{p1 + 1}] - embedding[{p2 + 1}] >= 0"
                f" THEN {1 << i} ELSE 0 END)"
                for i, (p1, p2) in enumerate(all_pairs[t])
            ),
        )
        for t in range(_NEARDUP_TABLES)
    )
    return f"""
WITH buckets AS (
  {bucket_selects}
), capped AS (
  SELECT id, tbl, bucket FROM (
    SELECT id, tbl, bucket, count(*) OVER (PARTITION BY tbl, bucket) AS bsz
    FROM buckets)
  WHERE bsz <= {_NEARDUP_CAP}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM capped a JOIN capped b USING (tbl, bucket)
  WHERE a.id < b.id
), normed AS (
  SELECT vec_id,
         [cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)
          for x in embedding] AS vec
  FROM embeddings
), n2 AS (
  SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM normed
)
SELECT id_a, id_b,
       round(list_dot_product(a.vec, b.vec)
             / (sqrt(a.norm2) * sqrt(b.norm2)), 6) AS cosine
FROM cand JOIN n2 a ON a.vec_id = id_a JOIN n2 b ON b.vec_id = id_b
WHERE round(list_dot_product(a.vec, b.vec)
            / (sqrt(a.norm2) * sqrt(b.norm2)), 6) >= {_NEARDUP_THRESHOLD}
"""


_IVF_CENTROIDS = 8
_IVF_NPROBE = 2
_IVF_ITERS = 2
_IVF_SAMPLE_MOD = 5


def _kmeans_iteration_ctes(i: int, prev: str) -> str:
    """One unrolled Lloyd step: assign sample to nearest centroid by the
    rounded-cosine ordering, recompute centroids as exact elementwise
    floor(avg); empty clusters keep the previous centroid."""
    return f"""
cn{i} AS (
  SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cnorm FROM {prev}
), asg{i} AS (
  SELECT vid, cent_id FROM (
    SELECT s.vid, c.cent_id,
           row_number() OVER (
             PARTITION BY s.vid
             ORDER BY round(list_dot_product(s.vec, c.cvec)
                            / (sqrt(s.norm2) * sqrt(c.cnorm)), 6) DESC,
                      c.cent_id ASC) AS r
    FROM sample s CROSS JOIN cn{i} c)
  WHERE r = 1
), mean{i} AS (
  SELECT cent_id, list(mval ORDER BY dim) AS mvec FROM (
    SELECT cent_id, dim, CAST(floor(avg(x)) AS BIGINT) AS mval
    FROM (SELECT a.cent_id, generate_subscripts(s.vec, 1) AS dim,
                 unnest(s.vec) AS x
          FROM asg{i} a JOIN sample s USING (vid))
    GROUP BY cent_id, dim)
  GROUP BY cent_id
), cent{i} AS (
  SELECT c.cent_id, COALESCE(m.mvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN mean{i} m USING (cent_id)
)"""


def _oracle_ivf_topk() -> str:
    iter_ctes = ""
    prev = "cent0"
    for i in range(1, _IVF_ITERS + 1):
        iter_ctes += "," + _kmeans_iteration_ctes(i, prev)
        prev = f"cent{i}"
    return f"""
WITH scaled AS (
  SELECT vec_id AS vid,
         [cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)
          for x in embedding] AS vec
  FROM embeddings
), normed AS (
  SELECT vid, vec, list_dot_product(vec, vec) AS norm2 FROM scaled
), sample AS (
  SELECT vid, vec, norm2 FROM normed WHERE vid % {_IVF_SAMPLE_MOD} = 0
), cent0 AS (
  SELECT r - 1 AS cent_id, cvec FROM (
    SELECT row_number() OVER (ORDER BY vid) AS r, vec AS cvec FROM sample)
  WHERE r <= {_IVF_CENTROIDS}
){iter_ctes}, centroids AS (
  SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cnorm FROM {prev}
), sims AS (
  SELECT n.vid, c.cent_id,
         round(list_dot_product(n.vec, c.cvec)
               / (sqrt(n.norm2) * sqrt(c.cnorm)), 6) AS csim
  FROM normed n CROSS JOIN centroids c
), assignment AS (
  SELECT vid, cent_id AS cluster FROM (
    SELECT vid, cent_id,
           row_number() OVER (PARTITION BY vid
                              ORDER BY csim DESC, cent_id ASC) AS r
    FROM sims) WHERE r = 1
), probes AS (
  SELECT vid AS query_id, cent_id AS cluster FROM (
    SELECT vid, cent_id,
           row_number() OVER (PARTITION BY vid
                              ORDER BY csim DESC, cent_id ASC) AS r
    FROM sims WHERE vid < {_TOPK_QUERIES}) WHERE r <= {_IVF_NPROBE}
), scored AS (
  SELECT p.query_id, a.vid AS cand_id,
         round(list_dot_product(q.vec, n.vec)
               / (sqrt(q.norm2) * sqrt(n.norm2)), 6) AS cosine
  FROM probes p
  JOIN assignment a ON a.cluster = p.cluster AND a.vid <> p.query_id
  JOIN normed q ON q.vid = p.query_id
  JOIN normed n ON n.vid = a.vid
), ranked AS (
  SELECT query_id, cand_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id ASC) as int)
             AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
"""


def q_similarity_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index IVF: build_ivf_index materializes centroids + a
    cluster-partitioned corpus, ivf_topk_from_index probes it with a
    partition-pruned scan. Same arithmetic as similarity_ivf, so it
    shares that oracle (results must be identical)."""
    import os
    import tempfile

    from readabilityimproved_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_from_index,
    )

    emb = _emb(spark, sf_dir)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # the application id makes the path unique PER DRIVER RUN: a fixed
    # shared path let two concurrent runs overwrite the index under each
    # other's live partition-pruned scans (ADVICE r3). Within one run the
    # path is stable, so repeated invocations (cold/warm bench) exercise
    # the overwrite path without piling up directories.
    app_id = spark.sparkContext.applicationId
    index_dir = os.path.join(
        tempfile.gettempdir(), f"ivf_index_{tag}_{app_id}"
    )
    build_ivf_index(
        emb, index_dir,
        num_centroids=_IVF_CENTROIDS, kmeans_iters=_IVF_ITERS,
        sample_mod=_IVF_SAMPLE_MOD,
    )
    queries = emb.filter(F.col("vec_id") < _TOPK_QUERIES)
    return ivf_topk_from_index(
        spark, index_dir, queries, k=_TOPK_K, nprobe=_IVF_NPROBE
    )


def _oracle_extract_article_spans() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         text || '{_TAIL}' AS ptext,
         '{_IMG_PREFIX}' || cast(doc_id as varchar) || '.jpg' AS src
  FROM documents
)
SELECT doc_id, 'text' AS kind, ptext AS text,
       cast(NULL as varchar) AS media_ref, 0 AS span_offset FROM base
UNION ALL
SELECT doc_id, 'image' AS kind, cast(NULL as varchar) AS text,
       src AS media_ref, 1 AS span_offset FROM base
"""


# ---------------------------------------------------------------------------
# scalar operator battery (same logic template rendered per dialect)
# ---------------------------------------------------------------------------

def _cast_str(x: str, dialect: str) -> str:
    t = "string" if dialect == SPARK else "varchar"
    return f"cast({x} as {t})"


def _url_case(dialect: str) -> str:
    """Deterministic URL mix covering every date_from_url branch."""
    y = _cast_str("1985 + doc_id % 40", dialect)
    m = _cast_str("doc_id % 14", dialect)
    d = _cast_str("1 + doc_id % 31", dialect)
    m2 = f"lpad({_cast_str('doc_id % 14', dialect)}, 2, '0')"
    d2 = f"lpad({_cast_str('1 + doc_id % 31', dialect)}, 2, '0')"
    yy = f"lpad({_cast_str('(1985 + doc_id % 40) % 100', dialect)}, 2, '0')"
    return f"""CASE cast(doc_id % 6 as int)
 WHEN 0 THEN 'http://h/' || {y} || '-' || {m} || '/' || {d} || '/a.html'
 WHEN 1 THEN 'http://h/' || {y} || {m2} || {d2} || '/x.html'
 WHEN 2 THEN 'http://h/' || {y} || {m2} || '-' || {d} || '/x.jpg'
 WHEN 3 THEN 'http://h/' || {m} || '/' || {d} || '/' || {y} || '/x'
 WHEN 4 THEN 'http://h/' || {yy} || '.' || {m} || '.' || {d} || '/x.jpg'
 ELSE 'http://h/evergreen/x.jpg' END"""


def _date_from_url_query(dialect: str) -> str:
    return f"""
SELECT doc_id, url, {sqlgen.date_from_url_sql('url', dialect)} AS url_date
FROM (SELECT doc_id, {_url_case(dialect)} AS url FROM documents)
"""


def _cls_case(dialect: str) -> str:
    return """CASE cast(doc_id % 5 as int)
 WHEN 0 THEN 'article content' WHEN 1 THEN 'sidebar widget'
 WHEN 2 THEN 'page' WHEN 3 THEN 'promo banner' ELSE 'x' END"""


def _id_case(dialect: str) -> str:
    return """CASE cast(doc_id % 3 as int)
 WHEN 0 THEN 'main' WHEN 1 THEN 'comment' ELSE '' END"""


def _class_weight_query(dialect: str) -> str:
    return f"""
SELECT doc_id, cls, idv,
       {sqlgen.class_weight_sql('cls', 'idv', dialect)} AS class_weight
FROM (SELECT doc_id, {_cls_case(dialect)} AS cls, {_id_case(dialect)} AS idv
      FROM documents)
"""


def _redact_pii_query(dialect: str) -> str:
    """PII injected deterministically from doc_id (the synth corpus has
    none), then redacted via the shared dialect template -- pins every
    rule: email, card-shaped run, IPv4, phone shape."""
    did = _cast_str("doc_id", dialect)
    p3 = f"lpad({_cast_str('doc_id % 1000', dialect)}, 3, '0')"
    p4 = f"lpad({_cast_str('doc_id % 10000', dialect)}, 4, '0')"
    ip2 = _cast_str("doc_id % 200", dialect)
    ip3 = _cast_str("(doc_id * 7) % 250", dialect)
    injected = (
        f"(substr(text, 1, 60) || ' reach user' || {did}"
        f" || '@mail.example.com or 555-' || {p3} || '-' || {p4}"
        f" || ' from 10.' || {ip2} || '.0.' || {ip3}"
        f" || ' card 4111 1111 1111 ' || {p4} || ' end')"
    )
    return f"""
SELECT doc_id, {sqlgen.redact_pii_sql(injected, dialect)} AS redacted
FROM documents
"""


def _normalize_ws_query(dialect: str) -> str:
    padded = "('x  y ' || text || '   z. end')"
    return f"""
SELECT doc_id, {sqlgen.normalize_ws_sql(padded, dialect)} AS normalized
FROM documents
"""


def _comma_segments_query(dialect: str) -> str:
    s = "(substr(text, 1, 40) || ',' || lang || ',，x,,')"
    return f"""
SELECT doc_id, cast({sqlgen.comma_segments_sql(s, dialect)} as int) AS segments
FROM documents
"""


def _token_count_query(dialect: str) -> str:
    return f"""
SELECT doc_id, cast({sqlgen.token_count_sql('text', dialect)} as int) AS n_tokens
FROM documents
"""


def _quality_query(dialect: str) -> str:
    return f"""
SELECT doc_id, {sqlgen.quality_score_sql('text', dialect)} AS quality
FROM documents
"""


def _lang_id_query(dialect: str) -> str:
    return f"""
SELECT doc_id, lang, {sqlgen.lang_id_sql('text', dialect)} AS lang_pred
FROM documents
"""


def _fingerprint_query(dialect: str) -> str:
    return f"""
SELECT doc_id, {sqlgen.fingerprint_sql('text', dialect)} AS fingerprint
FROM documents
"""


def _bpe_token_count_query(dialect: str) -> str:
    s = "(text || ', it''s 42 degrees!')"  # exercise every piece class
    return f"""
SELECT doc_id, {sqlgen.bpe_token_count_sql(s, dialect)} AS n_bpe_tokens
FROM documents
"""


def _url_normalize_query(dialect: str) -> str:
    d = _cast_str("doc_id", dialect)
    case = f"""CASE cast(doc_id % 6 as int)
 WHEN 0 THEN 'HTTP://Example.COM:80/Path/' || {d} || '?a=1#frag'
 WHEN 1 THEN 'https://H' || {d} || '.com:443?'
 WHEN 2 THEN 'http://h.com/' || {d}
 WHEN 3 THEN 'not a url ' || {d} || '#x'
 WHEN 4 THEN 'http://h.com:8080/q' || {d} || '?a=1&'
 ELSE 'FTP://Mixed.Case/Keep/' || {d} END"""
    return f"""
SELECT doc_id, url, {sqlgen.url_normalize_sql('url', dialect)} AS normalized_url
FROM (SELECT doc_id, {case} AS url FROM documents)
"""


def _repetition_stats_query(dialect: str) -> str:
    """Gopher-style per-doc repetition metrics + drop flag. Deterministic
    heavy repetition is injected into every 7th doc (same discipline as
    the PII injection above) so the flag exercises both outcomes -- the
    natural synth text repeats words but rarely adjacent n-grams."""
    s = (
        "(CASE WHEN doc_id % 7 = 0"
        " THEN repeat(substr(text, 1, 64) || ' ', 8) ELSE text END)"
    )
    if dialect == SPARK:
        # the flag gates on exactly the three (rounded) fractions
        # already projected, so derive it from them in an outer select
        # instead of re-rendering three more gram pipelines (the inner
        # aliases are each referenced twice -- output + flag -- which
        # stops CollapseProject from re-inlining the expensive exprs,
        # so each fraction is computed ONCE per row). The DuckDB branch
        # below is the oracle text and stays byte-identical.
        return f"""
SELECT doc_id, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
       cast((dup_word_frac > {sqlgen.REPETITION_MAX_DUP_WORD}
             OR dup_2gram_frac > {sqlgen.REPETITION_MAX_DUP_2GRAM}
             OR dup_3gram_frac > {sqlgen.REPETITION_MAX_DUP_3GRAM}) as int)
           AS flagged
FROM (SELECT doc_id,
             {sqlgen.dup_ngram_frac_sql(s, 1, dialect)} AS dup_word_frac,
             {sqlgen.dup_ngram_frac_sql(s, 2, dialect)} AS dup_2gram_frac,
             {sqlgen.dup_ngram_frac_sql(s, 3, dialect)} AS dup_3gram_frac
      FROM documents) t
"""
    return f"""
SELECT doc_id,
       {sqlgen.dup_ngram_frac_sql(s, 1, dialect)} AS dup_word_frac,
       {sqlgen.dup_ngram_frac_sql(s, 2, dialect)} AS dup_2gram_frac,
       {sqlgen.dup_ngram_frac_sql(s, 3, dialect)} AS dup_3gram_frac,
       cast({sqlgen.repetition_flag_sql(s, dialect)} as int) AS flagged
FROM documents
"""


def _quality_prune_query(dialect: str) -> str:
    """Composed doc-level quality gate: keep documents that pass the
    length, quality-score, repetition, and language-consistency filters
    at once -- the fused single-pass filter a training-data ingest runs
    before any shuffle-bearing stage (all four gates are narrow per-row
    expressions sharing one scan)."""
    return f"""
SELECT doc_id, n_tokens, quality, dup_2gram_frac
FROM (SELECT doc_id,
             cast({sqlgen.token_count_sql('text', dialect)} as int)
                 AS n_tokens,
             {sqlgen.quality_score_sql('text', dialect)} AS quality,
             {sqlgen.dup_ngram_frac_sql('text', 2, dialect)}
                 AS dup_2gram_frac,
             {sqlgen.lang_id_sql('text', dialect)} AS lang_pred,
             lang
      FROM documents) t
WHERE quality >= 0.5 AND n_tokens BETWEEN 5 AND 10000
  AND dup_2gram_frac <= 0.75 AND lang_pred = lang
"""


def _rolling_hash_query(dialect: str) -> str:
    return f"""
SELECT doc_id, cast({sqlgen.rolling_hash_sql('text', dialect)} as bigint)
           AS rhash
FROM documents
"""


def _dedup_exact_oracle() -> str:
    fp = sqlgen.fingerprint_sql("text", DUCKDB)
    return f"""
SELECT {fp} AS fingerprint, min(doc_id) AS representative,
       count(*) AS dup_count
FROM documents GROUP BY 1
"""


def _dedup_keep_first_oracle() -> str:
    fp = sqlgen.fingerprint_sql("text", DUCKDB)
    return f"""
SELECT * FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY {fp})
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl incremental dedup against the persisted fingerprint
    index (dedup.build_fingerprint_index): history = the documents
    table; the new batch reuses every third text verbatim (dropped
    against history), appends ' v2' to the rest, and adds within-batch
    duplicates of the v2 texts for ids % 4 == 0 (only the min-id copy
    survives). Emits surviving batch doc_ids."""
    import os
    import tempfile

    from readabilityimproved_spark.operators.dedup import (
        build_fingerprint_index,
        dedup_against_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    app_id = spark.sparkContext.applicationId
    index_path = os.path.join(
        tempfile.gettempdir(), f"fp_index_{tag}_{app_id}"
    )
    build_fingerprint_index(docs, index_path)
    new = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v2")))
        .alias("text"),
    )
    dupes = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    batch = new.union(dupes)
    return dedup_against_index(spark, batch, index_path).select("doc_id")


def _oracle_dedup_incremental() -> str:
    fp = sqlgen.fingerprint_sql("text", DUCKDB)
    return f"""
WITH hist AS (
  SELECT DISTINCT {fp} AS fp FROM documents
), batch AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' v2' END AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' v2' FROM documents WHERE doc_id % 4 = 0
), bfp AS (
  SELECT doc_id, {fp} AS fp FROM batch
), fresh AS (
  SELECT doc_id, fp FROM bfp WHERE fp NOT IN (SELECT fp FROM hist)
)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM fresh GROUP BY fp
"""


_JACCARD_N = 3
_JACCARD_THRESHOLD = 0.1

# --- portable-hash LSH oracles (operators/dedup.py with portable_hash=True:
# base hash = 15-hex-char md5 slice, reproducible bit-exactly in DuckDB) ----

_MINHASH_NUM, _MINHASH_BANDS, _MINHASH_CAP = 16, 4, 100
_VERIFIED_THRESHOLD = 0.1


def _md5slice(s: str) -> str:
    """DuckDB rendering of the portable 60-bit hash (dedup._base_hash)."""
    return f"CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def _lsh_ctes() -> str:
    """Shared CTE chain: tokens -> grams -> base hashes -> signatures ->
    band buckets -> capped buckets -> candidate pairs (mirrors
    minhash_lsh_pairs stage for stage)."""
    from readabilityimproved_spark.operators.dedup import MINHASH_P, _uh_params

    params = _uh_params(_MINHASH_NUM)
    mh_cols = ",\n         ".join(
        f"list_min([(x * {a} + {b}) % {MINHASH_P} for x in hb]) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    rows_per_band = _MINHASH_NUM // _MINHASH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {h} AS bucket FROM sig".format(
            band=b,
            h=_md5slice(
                " || '_' || ".join(
                    f"mh{b * rows_per_band + r}::VARCHAR"
                    for r in range(rows_per_band)
                )
            ),
        )
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {_JACCARD_N}
              THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                    for i in range(1, len(w) - 1)]
              ELSE [] END AS g
  FROM toks
), hb AS (
  SELECT doc_id, [{_md5slice('s')} % {MINHASH_P} for s in g] AS hb
  FROM grams WHERE len(g) > 0
), sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM hb
), buckets AS (
  {band_selects}
), capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS bsz
    FROM buckets)
  WHERE bsz <= {_MINHASH_CAP}
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(DISTINCT a.band) AS matching_bands
  FROM capped a JOIN capped b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _minhash_lsh_oracle() -> str:
    return _lsh_ctes() + "\nSELECT id_a, id_b, matching_bands FROM pairs"


def _minhash_verified_oracle() -> str:
    return (
        _lsh_ctes()
        + f"""
, sh AS (
  SELECT DISTINCT doc_id, unnest(g) AS shingle FROM grams
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM pairs c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE round(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6)
      >= {_VERIFIED_THRESHOLD}
"""
    )


_SIMHASH_ND_HAMMING, _SIMHASH_ND_BANDS = 3, 4


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash-hamming near-dup over a constructed corpus: every doc plus
    a copy (exact for even ids, one-token-appended for odd ids), so the
    pigeonhole banding + bit_count verify is exercised on real pairs."""
    from readabilityimproved_spark.operators.dedup import simhash_neardup_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zz")))
        .alias("text"),
    )
    return simhash_neardup_pairs(
        docs.union(mutated),
        max_hamming=_SIMHASH_ND_HAMMING,
        bands=_SIMHASH_ND_BANDS,
        portable_hash=True,
    )


def _simhash_neardup_oracle() -> str:
    width = 64 // _SIMHASH_ND_BANDS
    mask = (1 << width) - 1
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(63)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(63)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band,"
        f" (simhash >> {b * width}) & {mask} AS chunk FROM sims"
        for b in range(_SIMHASH_ND_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' zz' END
  FROM documents
), toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM corpus
), h AS (
  SELECT id, {_md5slice('tok')} AS h FROM toks
), bits AS (
  SELECT id,
         {bit_sums}
  FROM h GROUP BY id
), sims AS (
  SELECT id, CAST({recombine} AS BIGINT) AS simhash FROM bits
), chunks AS (
  {chunk_selects}
), capped AS (
  SELECT id, simhash, band, chunk FROM (
    SELECT id, simhash, band, chunk,
           count(*) OVER (PARTITION BY band, chunk) AS bsz
    FROM chunks)
  WHERE bsz <= 100
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
FROM capped a JOIN capped b USING (band, chunk)
WHERE a.id < b.id
  AND bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_ND_HAMMING}
"""


def _simhash_neardup_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair source for the cluster queries: identical to
    q_simhash_neardup's constructed corpus."""
    return q_simhash_neardup(spark, sf_dir)


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the simhash near-dup pairs: the
    transitive closure Spark has no recursive CTE for, computed by
    iterative min-label propagation (operators/graph.py); the oracle
    replays it as a DuckDB recursive CTE."""
    from readabilityimproved_spark.operators.graph import neardup_clusters

    return neardup_clusters(_simhash_neardup_pairs_df(spark, sf_dir))


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-crawl clustering (operators/graph.py
    neardup_clusters_incremental): cluster HALF the near-dup pairs
    (the "yesterday" crawl), then fold the other half in through the
    incremental path -- a previous component's pairs are replaced by
    its label edges, so only the NEW pairs' bridging drives rounds.
    The result must equal a full recompute over the union, which is
    exactly what the recursive-CTE oracle computes."""
    from readabilityimproved_spark.operators.graph import (
        neardup_clusters,
        neardup_clusters_incremental,
    )

    pairs = _simhash_neardup_pairs_df(spark, sf_dir)
    base = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    new = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 != 0)
    prev_labels = neardup_clusters(base)
    return neardup_clusters_incremental(prev_labels, new)


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: the constructed near-dup corpus minus every
    clustered document except its component's min-id representative."""
    from readabilityimproved_spark.operators.graph import (
        dedup_keep_representative,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zz")))
        .alias("text"),
    )
    corpus = docs.union(mutated)
    pairs = _simhash_neardup_pairs_df(spark, sf_dir)
    return dedup_keep_representative(corpus, pairs).select("doc_id")


def _cluster_ctes() -> str:
    """Recursive transitive closure over the simhash near-dup pairs;
    ends in ``labels (node, cluster_id)``."""
    return f"""
WITH RECURSIVE nd_pairs AS ({_simhash_neardup_oracle()}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM nd_pairs
  UNION
  SELECT id_b, id_a FROM nd_pairs
),
reach(node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, reach.r FROM edges e JOIN reach ON e.s = reach.node
),
labels AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
)"""


def _oracle_neardup_clusters() -> str:
    return _cluster_ctes() + "\nSELECT node AS doc_id, cluster_id FROM labels\n"


def _oracle_dedup_representatives() -> str:
    return _cluster_ctes() + """
, full_corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents
)
SELECT doc_id FROM full_corpus
WHERE doc_id NOT IN (SELECT node FROM labels WHERE cluster_id <> node)
"""


def _simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(63)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(63)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), h AS (
  SELECT id, {_md5slice('tok')} AS h FROM toks
), bits AS (
  SELECT id,
         {bit_sums}
  FROM h GROUP BY id
)
SELECT id, CAST({recombine} AS BIGINT) AS simhash FROM bits
"""


def _ngram_jaccard_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 for i in range(1, len(w) - 1)]) AS shingle
  FROM toks
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE round(inter * 1.0 / (ca.n_sh + cb.n_sh - inter), 6) >= {_JACCARD_THRESHOLD}
"""


_TOPK_K = 5
_TOPK_QUERIES = 10


def _cosine_topk_oracle() -> str:
    return f"""
WITH scaled AS (
  SELECT vec_id,
         [cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint)
          for x in embedding] AS vec
  FROM embeddings
), normed AS (
  SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM scaled
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.vec, c.vec)
               / (sqrt(q.norm2) * sqrt(c.norm2)), 6) AS cosine
  FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {_TOPK_QUERIES}
), ranked AS (
  SELECT query_id, cand_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id ASC) as int)
             AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
"""


# passage-level dedup (operators/passages.py): corpus-wide duplicated
# n-gram runs merged to maximal per-doc spans; the Spark side groups on
# xxhash64(gram) (longs-only shuffle), the oracle on the gram text --
# identical output barring a 64-bit collision.
_PASSAGE_N = 5


def q_dup_passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.passages import (
        duplicate_passage_spans,
    )

    return duplicate_passage_spans(_docs(spark, sf_dir), n=_PASSAGE_N)


def q_passage_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.passages import (
        strip_duplicate_passages,
    )

    return strip_duplicate_passages(_docs(spark, sf_dir), n=_PASSAGE_N).select(
        "doc_id", "clean_text"
    )


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.curation import (
        token_rarity_scores,
    )

    return token_rarity_scores(_docs(spark, sf_dir))


def _passage_spans_cte() -> str:
    """Shared CTE chain ending in a `spans` relation (doc_id,
    span_start, span_end) -- the recursive-free DuckDB replay of
    duplicate_passage_spans."""
    n = _PASSAGE_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         unnest(range(1, len(w) - {n} + 2)) AS pos,
         unnest([list_aggr(w[i:i+{n}-1], 'string_agg', ' ')
                 for i in range(1, len(w) - {n} + 2)]) AS gram
  FROM toks
), freq AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
), dup AS (
  SELECT doc_id, pos FROM grams JOIN freq USING (gram)
), brks AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {n} THEN 1 ELSE 0 END AS brk
  FROM dup
), grps AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM brks
), spans AS (
  SELECT doc_id, cast(min(pos) as int) AS span_start,
         cast(max(pos) + {n} - 1 as int) AS span_end
  FROM grps GROUP BY doc_id, grp
)
"""


def _dup_passage_spans_oracle() -> str:
    return _passage_spans_cte() + "SELECT doc_id, span_start, span_end FROM spans"


def _passage_dedup_text_oracle() -> str:
    # reconstruction convention matches the Spark side: kept tokens
    # joined by single spaces (whitespace-normalizing), every input row
    # present even when all its tokens were stripped
    return _passage_spans_cte() + """
, pos_tok AS (
  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS tok
  FROM toks
), kept AS (
  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS clean_text
  FROM pos_tok p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id
      AND p.i BETWEEN s.span_start AND s.span_end
  )
  GROUP BY p.doc_id
)
SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text
FROM documents d LEFT JOIN kept k USING (doc_id)
"""


def _token_rarity_oracle() -> str:
    # integer-exact by construction: bit lengths via bin(), one exact
    # int-sum/count division per doc -- no float accumulation order to
    # drift between engines
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
  SELECT cast(sum(cnt) as bigint) AS total FROM vocab
)
SELECT doc_id, cast(count(*) as bigint) AS n_tokens,
       round(avg(length(bin(total)) - length(bin(cnt))), 6) AS rarity_bits
FROM toks JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


# training export (operators/export.py): deterministic global shuffle +
# hash splits. The driver rows run mix='portable' (the 31-bit LCG both
# engines can replay exactly); production defaults to xxhash64.
_SHUF_SHARDS = 8
_SHUF_SEED = 6
_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 1


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.export import shuffle_shards

    return shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"),
        _SHUF_SHARDS,
        seed=_SHUF_SEED,
        mix="portable",
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.export import hash_split

    return hash_split(
        _docs(spark, sf_dir).select("doc_id"),
        _SPLIT_FRACS,
        seed=_SPLIT_SEED,
        mix="portable",
    )


def _shuffle_shards_oracle() -> str:
    from readabilityimproved_spark.operators.export import portable_mix_sql

    mix = portable_mix_sql("doc_id", _SHUF_SEED)
    n = _SHUF_SHARDS
    return f"""
WITH m AS (SELECT doc_id, {mix} AS h FROM documents)
SELECT doc_id, cast((h * {n}) // 2147483648 as int) AS shard,
       cast(row_number() OVER (PARTITION BY (h * {n}) // 2147483648
                               ORDER BY h, doc_id) - 1 as int) AS pos
FROM m
"""


def _hash_split_oracle() -> str:
    from readabilityimproved_spark.operators.export import (
        portable_mix_sql,
        split_cutoffs,
    )

    mix = portable_mix_sql("doc_id", _SPLIT_SEED)
    pairs = split_cutoffs(_SPLIT_FRACS)
    whens = " ".join(
        f"WHEN h < {hi} THEN '{name}'" for name, hi in pairs[:-1]
    )
    return f"""
WITH m AS (SELECT doc_id, {mix} AS h FROM documents)
SELECT doc_id, CASE {whens} ELSE '{pairs[-1][0]}' END AS split FROM m
"""


# outlink extraction (operators/links.py): constructed pages whose anchor
# set is analytically known — k = doc_id%3+1 relative content links, one
# nofollow external link, one fragment link; the Spark side walks the
# real DOM, the oracle states the expected rows directly (same pattern
# as the extraction rows).
_LINK_BASE = "http://news.example.com/2019-06/18/story"


def _linked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_docs(spark, sf_dir), spark)
    did = F.col("doc_id").cast("string")
    base = F.concat(F.lit(_LINK_BASE), did, F.lit(".html"))
    k = (F.col("doc_id") % 3 + 1).cast("int")
    content = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), k),
            lambda j: F.concat(
                F.lit('<a href="/story'),
                did,
                F.lit("-"),
                j.cast("string"),
                F.lit('.html">more '),
                j.cast("string"),
                F.lit("</a>"),
            ),
        ),
    )
    page = F.concat(
        F.lit('<html><body><div class="content"><p>intro</p>'),
        content,
        F.lit('<a href="http://ext'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.example.org/p" rel="nofollow">partner</a>'),
        F.lit('<a href="#top">back to top</a></div></body></html>'),
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            page.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    return docs.select(
        did.alias("doc_id"), base.alias("base_uri"), spans.alias("spans")
    )


def q_outlink_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.links import extract_outlinks

    out = extract_outlinks(_linked_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "link_no",
        "url",
        "anchor",
        "rel",
    )


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readabilityimproved_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
    )

    shaped = _linked_docs(spark, sf_dir)
    links = extract_outlinks(shaped)
    return host_link_graph(
        links.join(shaped.select("doc_id", "base_uri"), "doc_id")
    )


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style domain-blocklist gate over the extracted outlinks:
    label-3 domains so individual ext hosts can be blocked."""
    from readabilityimproved_spark.operators.links import (
        extract_outlinks,
        filter_blocked_domains,
    )

    links = extract_outlinks(_linked_docs(spark, sf_dir))
    blocked = spark.createDataFrame(
        [("ext2.example.org",), ("EXT4.example.org",)], "domain string"
    )
    out = filter_blocked_domains(links, blocked, labels=3, mode="drop")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "link_no",
        "url",
        "anchor",
        "rel",
    )


def q_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 incoming anchor texts per destination host — the
    link-graph quality signal, over the analytically-known link
    pages (same construction as outlink_extract)."""
    from readabilityimproved_spark.operators.links import (
        anchor_text_topk,
        extract_outlinks,
    )

    links = extract_outlinks(_linked_docs(spark, sf_dir))
    return anchor_text_topk(links, k=3)


def _anchor_topk_oracle() -> str:
    return """
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
content AS (SELECT doc_id, unnest(range(1, k + 1)) AS j FROM d),
links AS (
  SELECT 'news.example.com' AS dst, 'more ' || j AS anchor FROM content
  UNION ALL
  SELECT 'ext' || (doc_id % 5) || '.example.org' AS dst,
         'partner' AS anchor FROM d
  UNION ALL
  SELECT 'news.example.com' AS dst, 'back to top' AS anchor FROM d
),
agg AS (
  SELECT dst, anchor, count(*) AS n_links FROM links GROUP BY dst, anchor
)
SELECT dst, anchor, n_links,
       cast(row_number() OVER (
         PARTITION BY dst ORDER BY n_links DESC, anchor ASC
       ) AS int) AS rank
FROM agg QUALIFY rank <= 3
"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-wave frontier from the extracted outlinks: the crawled set
    is the link pages themselves, so the '#top' self-links normalize
    onto their page and drop out; content + ext links are fresh. Host
    cap 25 exercises the per-host ranking at sf >= 0.01."""
    from readabilityimproved_spark.operators.links import (
        crawl_frontier,
        extract_outlinks,
    )

    shaped = _linked_docs(spark, sf_dir)
    links = extract_outlinks(shaped)
    return crawl_frontier(
        links,
        shaped.select("base_uri"),
        crawled_url_col="base_uri",
        per_host_cap=25,
    )


def _crawl_frontier_oracle() -> str:
    # the fragment self-link normalizes onto its (crawled) page and is
    # anti-joined away, so only content + ext URLs reach the frontier
    return """
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
content AS (SELECT doc_id, unnest(range(1, k + 1)) AS j FROM d),
cand AS (
  SELECT 'http://news.example.com/story' || doc_id || '-' || j || '.html'
           AS url,
         'news.example.com' AS host
  FROM content
  UNION ALL
  SELECT 'http://ext' || (doc_id % 5) || '.example.org/p' AS url,
         'ext' || (doc_id % 5) || '.example.org' AS host
  FROM d
),
agg AS (SELECT url, host, count(*) AS n_inlinks FROM cand GROUP BY url, host)
SELECT url, host, n_inlinks,
       cast(row_number() OVER (
         PARTITION BY host ORDER BY n_inlinks DESC, url ASC
       ) AS int) AS rank
FROM agg QUALIFY rank <= 25
"""


_PR_DAMPING = 0.85
_PR_ITERS = 4


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the analytically-known host link graph
    (news.example.com self-loop + the five dangling ext hosts), fixed
    4 iterations at damping 0.85. Final ranks round to 6 dp so the
    value hash is robust to float accumulation order across engines
    (double discrepancy is ~1e-16; the repo-wide round(...,6) rule)."""
    from readabilityimproved_spark.operators.links import (
        extract_outlinks,
        host_link_graph,
        host_pagerank,
    )

    shaped = _linked_docs(spark, sf_dir)
    links = extract_outlinks(shaped)
    edges = host_link_graph(
        links.join(shaped.select("doc_id", "base_uri"), "doc_id")
    )
    pr = host_pagerank(edges, damping=_PR_DAMPING, iterations=_PR_ITERS)
    return pr.select("host", F.round("pr", 6).alias("pr"))


def _host_pagerank_oracle() -> str:
    # the same fixed-round power method, unrolled: pr{i} is one
    # iteration over pr{i-1} (contrib join + uniform dangling mass)
    d = _PR_DAMPING
    steps = []
    for i in range(1, _PR_ITERS + 1):
        prev = f"pr{i - 1}"
        steps.append(f"""pr{i} AS (
  SELECT nd.host,
         ({1.0 - d:.17g}) / (SELECT n FROM nn)
         + {d:.17g} * (coalesce(c.contrib, 0)
                + (SELECT coalesce(sum(p.pr), 0) FROM {prev} p
                   WHERE p.host NOT IN (SELECT src FROM trans))
                  / (SELECT n FROM nn)) AS pr
  FROM nodes nd
  LEFT JOIN (SELECT t.dst AS host, sum(p.pr * t.w) AS contrib
             FROM trans t JOIN {prev} p ON p.host = t.src
             GROUP BY t.dst) c USING (host)
)""")
    unrolled = ",\n".join(steps)
    return f"""
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
edges AS (
  SELECT 'news.example.com' AS src, 'news.example.com' AS dst,
         cast(sum(k + 1) as double) AS w
  FROM d
  UNION ALL
  SELECT 'news.example.com' AS src,
         'ext' || (doc_id % 5) || '.example.org' AS dst,
         cast(count(*) as double) AS w
  FROM documents GROUP BY doc_id % 5
),
nodes AS (SELECT src AS host FROM edges
          UNION SELECT dst AS host FROM edges),
nn AS (SELECT cast(count(*) AS double) AS n FROM nodes),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
trans AS (
  SELECT e.src, e.dst, e.w / o.ow AS w FROM edges e JOIN outw o USING (src)
),
pr0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
{unrolled}
SELECT host, round(pr, 6) AS pr FROM pr{_PR_ITERS}
"""


def _domain_blocklist_oracle() -> str:
    return f"""
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
content AS (
  SELECT doc_id, unnest(range(1, k + 1)) AS j, k FROM d
)
SELECT doc_id, cast(j - 1 as int) AS link_no,
       'http://news.example.com/story' || doc_id || '-' || j || '.html' AS url,
       'more ' || j AS anchor, '' AS rel
FROM content
UNION ALL
SELECT doc_id, cast(k as int) AS link_no,
       'http://ext' || (doc_id % 5) || '.example.org/p' AS url,
       'partner' AS anchor, 'nofollow' AS rel
FROM d WHERE doc_id % 5 NOT IN (2, 4)
UNION ALL
SELECT doc_id, cast(k + 1 as int) AS link_no,
       '{_LINK_BASE}' || doc_id || '.html#top' AS url,
       'back to top' AS anchor, '' AS rel
FROM d
"""


def _outlink_extract_oracle() -> str:
    return f"""
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents),
content AS (
  SELECT doc_id, unnest(range(1, k + 1)) AS j, k FROM d
)
SELECT doc_id, cast(j - 1 as int) AS link_no,
       'http://news.example.com/story' || doc_id || '-' || j || '.html' AS url,
       'more ' || j AS anchor, '' AS rel
FROM content
UNION ALL
SELECT doc_id, cast(k as int) AS link_no,
       'http://ext' || (doc_id % 5) || '.example.org/p' AS url,
       'partner' AS anchor, 'nofollow' AS rel
FROM d
UNION ALL
SELECT doc_id, cast(k + 1 as int) AS link_no,
       '{_LINK_BASE}' || doc_id || '.html#top' AS url,
       'back to top' AS anchor, '' AS rel
FROM d
"""


def _host_link_graph_oracle() -> str:
    return """
WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS k FROM documents)
SELECT 'news.example.com' AS src_host, 'news.example.com' AS dst_host,
       cast(sum(k + 1) as bigint) AS n_links
FROM d
UNION ALL
SELECT 'news.example.com' AS src_host,
       'ext' || (doc_id % 5) || '.example.org' AS dst_host,
       cast(count(*) as bigint) AS n_links
FROM documents GROUP BY doc_id % 5
"""


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_article_spans(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def sql_query(render):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _docs(spark, sf_dir).createOrReplaceTempView("documents")
            return spark.sql(render(SPARK))

        return run

    return {
        # NOTE on ordering: the driver verifies the FIRST 50 dict entries
        # against the DuckDB oracles, so the order of the head is part of
        # the contract. tools/oracle_sweep.py checks all of them.
        # --- scalar battery -------------------------------------------------
        "normalize_ws": sql_query(_normalize_ws_query),
        "comma_segments": sql_query(_comma_segments_query),
        "class_weight": sql_query(_class_weight_query),
        "token_count": sql_query(_token_count_query),
        "quality_score": sql_query(_quality_query),
        "lang_id": sql_query(_lang_id_query),
        "doc_fingerprint": sql_query(_fingerprint_query),
        "bpe_token_count": sql_query(_bpe_token_count_query),
        "rolling_hash": sql_query(_rolling_hash_query),
        "url_normalize": sql_query(_url_normalize_query),
        # --- new this round: incremental clustering + temporal joins -------
        "neardup_incremental": q_neardup_incremental,
        "asof_join_events": q_asof_join_events,
        "range_join_events": q_range_join_events,
        "json_props_agg": q_json_props_agg,
        "corpus_rollup": q_corpus_rollup,
        "snapshot_diff": q_snapshot_diff,
        "tpch_profit_by_nation": q_tpch_profit_by_nation,
        "repetition_stats": sql_query(_repetition_stats_query),
        "quality_prune": sql_query(_quality_prune_query),
        # --- new this session: passage dedup + rarity scoring ---------------
        "dup_passage_spans": q_dup_passage_spans,
        "passage_dedup_text": q_passage_dedup_text,
        "token_rarity": q_token_rarity,
        # --- new this session: training export + link graph -----------------
        "shuffle_shards": q_shuffle_shards,
        "hash_split": q_hash_split,
        "outlink_extract": q_outlink_extract,
        "host_link_graph": q_host_link_graph,
        "domain_blocklist": q_domain_blocklist,
        "anchor_topk": q_anchor_topk,
        "crawl_frontier": q_crawl_frontier,
        "host_pagerank": q_host_pagerank,
        # --- DOM extraction (SURVEY.md §2.2-2.5, hash-checked oracle) ----
        "extract_article_spans": q_extract_article_spans,
        "extract_text_variant": q_extract_text_variant,
        "extract_rejects_boilerplate": q_extract_rejects_boilerplate,
        "top_content_score": q_top_content_score,
        "title_extract": q_title_extract,
        "pub_date_extract": q_pub_date_extract,
        "scored_dom_nodes": q_scored_dom_nodes,
        # --- scalar functions still inside the check window ---------------
        "date_from_url": sql_query(_date_from_url_query),
        "redact_pii": sql_query(_redact_pii_query),
        # --- dedup tier ---------------------------------------------------
        "dedup_keep_first": lambda spark, sf: dedup_keep_first(_docs(spark, sf)),
        "dedup_incremental": q_dedup_incremental,
        # portable_hash=True (md5-slice) so the LSH family is DuckDB-
        # hash-checkable; production default stays xxhash64
        "minhash_verified": lambda spark, sf: minhash_verified_pairs(
            _spread(_docs(spark, sf), spark),
            threshold=_VERIFIED_THRESHOLD,
            portable_hash=True,
        ),
        "ngram_jaccard": lambda spark, sf: ngram_jaccard_pairs(
            _docs(spark, sf), n=_JACCARD_N, threshold=_JACCARD_THRESHOLD
        ),
        # _spread: per-row gram+md5 signature work dominates the
        # pre-exchange stage (measured 1.7s -> 1.1s warm at sf0.1)
        "minhash_lsh": lambda spark, sf: minhash_lsh_pairs(
            _spread(_docs(spark, sf), spark), portable_hash=True
        ),
        "simhash": lambda spark, sf: simhash64(_docs(spark, sf), portable_hash=True),
        "simhash_neardup": q_simhash_neardup,
        "neardup_clusters": q_neardup_clusters,
        "dedup_representatives": q_dedup_representatives,
        # --- curation tier --------------------------------------------------
        "decontaminate": q_decontaminate,
        "keep_per_source": q_keep_per_source,
        "pack_sequences": q_pack_sequences,
        "deterministic_sample": q_deterministic_sample,
        "stratified_sample": q_stratified_sample,
        "mixture_expand": q_mixture_expand,
        "vocab_topk": q_vocab_topk,
        "tokens_to_ids": q_tokens_to_ids,
        "corpus_stats": q_corpus_stats,
        "inverted_index": q_inverted_index,
        "materialize_packs": q_materialize_packs,
        # --- similarity tier -----------------------------------------------
        # _spread: per-row dot products against the broadcast query
        # block (measured 0.43s -> 0.31s warm at sf0.1)
        "similarity_topk": lambda spark, sf: cosine_topk(
            _spread(_emb(spark, sf), spark), k=_TOPK_K, num_queries=_TOPK_QUERIES
        ),
        "similarity_ann_lsh": lambda spark, sf: ann_bucketed_topk(
            _spread(_emb(spark, sf), spark), k=_TOPK_K, num_queries=_TOPK_QUERIES
        ),
        "similarity_ann_multiprobe": lambda spark, sf: ann_multiprobe_topk(
            _emb(spark, sf), k=_TOPK_K, num_queries=_TOPK_QUERIES,
            bits=_MULTIPROBE_BITS,
        ),
        "embedding_neardup": q_embedding_neardup,
        "similarity_ivf_index": q_similarity_ivf_index,
        "similarity_ivf": lambda spark, sf: ivf_topk(
            _emb(spark, sf), k=_TOPK_K, num_queries=_TOPK_QUERIES,
            num_centroids=_IVF_CENTROIDS, nprobe=_IVF_NPROBE,
            kmeans_iters=_IVF_ITERS, sample_mod=_IVF_SAMPLE_MOD,
        ),
        # --- relational / streaming-parity tier ---------------------------
        "event_window_agg": q_event_window_agg,
        "sessionize_events": q_sessionize_events,
        "tpch_star_rollup": q_tpch_star_rollup,
        "tpch_topk_per_segment": q_tpch_topk_per_segment,
        # --- layout, media and relational rows ----------------------------
        "layout_reading_order": q_layout_reading_order,
        "layout_spans": q_layout_spans,
        "bucketed_join": q_bucketed_join,
        "stream_dedup_twin": q_stream_dedup_twin,
        "media_features": q_media_features,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "media_attach": q_media_attach,
        "tpch_customers_no_orders": q_tpch_customers_no_orders,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "dedup_exact": lambda spark, sf: exact_dedup(_docs(spark, sf)),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_article_spans": _oracle_extract_article_spans(),
        "extract_text_variant": _oracle_extract_text_variant(),
        "extract_rejects_boilerplate": _oracle_extract_rejects_boilerplate(),
        "top_content_score": _oracle_top_content_score(),
        "title_extract": _oracle_title_extract(),
        "pub_date_extract": _oracle_pub_date_extract(),
        "scored_dom_nodes": _oracle_scored_dom_nodes(),
        "similarity_ann_lsh": _oracle_ann_lsh(),
        "similarity_ann_multiprobe": _oracle_ann_multiprobe(),
        "embedding_neardup": _oracle_embedding_neardup(),
        "similarity_ivf": _oracle_ivf_topk(),
        "similarity_ivf_index": _oracle_ivf_topk(),
        "event_window_agg": _oracle_event_window_agg(),
        "sessionize_events": _oracle_sessionize_events(),
        "asof_join_events": _oracle_asof_join_events(),
        "range_join_events": _oracle_range_join_events(),
        "json_props_agg": _oracle_json_props_agg(),
        "corpus_rollup": _oracle_corpus_rollup(),
        "snapshot_diff": _oracle_snapshot_diff(),
        "tpch_profit_by_nation": _oracle_tpch_profit_by_nation(),
        "tpch_star_rollup": _oracle_tpch_star_rollup(),
        "tpch_topk_per_segment": _oracle_tpch_topk_per_segment(),
        "tpch_customers_no_orders": _oracle_tpch_customers_no_orders(),
        "tpch_pricing_summary": _oracle_tpch_pricing_summary(),
        "bucketed_join": _oracle_bucketed_join(),
        "stream_dedup_twin": _oracle_stream_dedup_twin(),
        "layout_reading_order": _oracle_layout_reading_order(),
        "layout_spans": _oracle_layout_spans(),
        "media_features": _oracle_media_features(),
        "media_resize": _oracle_media_resize(),
        "media_frames": _oracle_media_frames(),
        "media_attach": _oracle_media_attach(),
        "date_from_url": _date_from_url_query(DUCKDB),
        "normalize_ws": _normalize_ws_query(DUCKDB),
        "redact_pii": _redact_pii_query(DUCKDB),
        "comma_segments": _comma_segments_query(DUCKDB),
        "class_weight": _class_weight_query(DUCKDB),
        "token_count": _token_count_query(DUCKDB),
        "quality_score": _quality_query(DUCKDB),
        "lang_id": _lang_id_query(DUCKDB),
        "doc_fingerprint": _fingerprint_query(DUCKDB),
        "bpe_token_count": _bpe_token_count_query(DUCKDB),
        "rolling_hash": _rolling_hash_query(DUCKDB),
        "url_normalize": _url_normalize_query(DUCKDB),
        "repetition_stats": _repetition_stats_query(DUCKDB),
        "quality_prune": _quality_prune_query(DUCKDB),
        "dup_passage_spans": _dup_passage_spans_oracle(),
        "passage_dedup_text": _passage_dedup_text_oracle(),
        "token_rarity": _token_rarity_oracle(),
        "shuffle_shards": _shuffle_shards_oracle(),
        "hash_split": _hash_split_oracle(),
        "outlink_extract": _outlink_extract_oracle(),
        "host_link_graph": _host_link_graph_oracle(),
        "domain_blocklist": _domain_blocklist_oracle(),
        "anchor_topk": _anchor_topk_oracle(),
        "crawl_frontier": _crawl_frontier_oracle(),
        "host_pagerank": _host_pagerank_oracle(),
        "decontaminate": _oracle_decontaminate(),
        "keep_per_source": _oracle_keep_per_source(),
        "pack_sequences": _oracle_pack_sequences(),
        "deterministic_sample": _oracle_deterministic_sample(),
        "mixture_expand": _oracle_mixture_expand(),
        "vocab_topk": _oracle_vocab_topk(),
        "inverted_index": _oracle_inverted_index(),
        "materialize_packs": _oracle_materialize_packs(),
        "dedup_exact": _dedup_exact_oracle(),
        "dedup_keep_first": _dedup_keep_first_oracle(),
        "dedup_incremental": _oracle_dedup_incremental(),
        "corpus_stats": _oracle_corpus_stats(),
        "stratified_sample": _oracle_stratified_sample(),
        "tokens_to_ids": _oracle_tokens_to_ids(),
        "ngram_jaccard": _ngram_jaccard_oracle(),
        "similarity_topk": _cosine_topk_oracle(),
        "minhash_lsh": _minhash_lsh_oracle(),
        "minhash_verified": _minhash_verified_oracle(),
        "simhash": _simhash_oracle(),
        "simhash_neardup": _simhash_neardup_oracle(),
        "neardup_clusters": _oracle_neardup_clusters(),
        # the incremental fold must equal a full recompute over the
        # union of both pair batches -- the same transitive closure
        "neardup_incremental": _oracle_neardup_clusters(),
        "dedup_representatives": _oracle_dedup_representatives(),
    }
