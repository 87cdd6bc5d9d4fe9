"""Substring-level (passage) deduplication: find and strip token runs
that are duplicated ACROSS the corpus, not just whole-document or
whole-shingle-set duplicates.

Doc-level dedup (operators/dedup.py) drops documents; this module
implements the finer-grained operation popularized for LLM training
corpora by Lee et al., "Deduplicating Training Data Makes Language
Models Better" (ACL'22): any token n-gram occurring >= ``min_count``
times corpus-wide marks a duplicated PASSAGE, and the per-document
maximal runs of such n-grams are emitted as spans — then optionally
stripped from the text, leaving the unique remainder. (Lee et al. use
a suffix array over the concatenated corpus; the n-gram formulation
here is its standard scalable MapReduce relaxation — the same one the
repetition filters of Gopher/Dolma apply within documents, lifted to
corpus scope.)

Scale shape (the whole point — this must hold at 10^12 documents):

* the corpus-wide frequency table groups on ``xxhash64(gram)`` — the
  shuffle moves (hash, count) LONGS, never gram text. A 64-bit
  collision could merge two distinct grams' counts (one-in-2^64 per
  pair; document-level impact: a span flagged that wasn't duplicated);
  the oracle-facing driver row runs at test scale where the
  probability is ~0.
* hot grams ("the the the"-style boilerplate) skew the groupBy key;
  partial aggregation (map-side combine) absorbs the map side and AQE
  skew-join handles the join back. Nothing fans out: each posting row
  joins at most one frequency row, so there is NO quadratic pair
  explosion anywhere (unlike a self-join formulation).
* span assembly is a per-document window over the (few) duplicated
  positions — partitioned by doc_id, never global.
* text reconstruction is IN-ROW (higher-order functions over the token
  array zipped against the doc's span list); no second explode of the
  corpus and no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text


def _gram_postings(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, h): 1-based token position of every n-gram start, with
    the gram's xxhash64. Grams are functions.text.ngrams: a document
    shorter than ``n`` tokens yields no postings."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(text.ngrams(text_col, n)).alias("p0", "gram"),
    ).select(
        "id",
        (F.col("p0") + 1).alias("pos"),
        F.xxhash64("gram").alias("h"),
    )


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Per-document maximal duplicated-passage spans:
    ``(id, span_start, span_end)`` in 1-based token positions,
    inclusive. A position is covered when some n-gram starting at
    positions ``span_start..span_end-n+1`` occurs >= ``min_count``
    times in the WHOLE corpus (total occurrences — a gram repeated
    within one document counts each time, so self-repetition is
    duplication too). Overlapping and adjacent covered intervals merge
    into one span.

    Plan: postings → groupBy(h) count (longs only) → semi-join back →
    per-doc window interval-merge. One wide shuffle on the gram hash,
    one on (doc, pos); no self-join, no pair explosion.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2, got {min_count} "
            "(1 would mark every position a duplicate of itself)"
        )
    postings = _gram_postings(df, id_col, text_col, n)
    dup_grams = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    dup_pos = postings.join(dup_grams, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    # two n-gram intervals [p, p+n-1] merge when the next start is
    # within n of the previous (overlap or exact adjacency)
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > n, F.lit(1)
    ).otherwise(F.lit(0))
    grp = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dup_pos.withColumn("grp", grp)
        .groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
        )
    )


def strip_duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """All input columns plus ``clean_text``: the document's tokens
    with every duplicated-passage span removed, joined by single
    spaces. (Reconstruction is from the token array, so surviving
    whitespace is normalized — the same convention as the repo's other
    token-level rewrites.) Documents with no duplicated passage keep
    all tokens; a document that is ENTIRELY duplicated passages comes
    back with ``clean_text = ''`` rather than disappearing — dropping
    rows is the caller's policy decision, not this operator's.

    The span list per document is collected into an array (spans per
    doc are few — they are maximal merged intervals) and the filter
    runs IN-ROW with higher-order functions: no re-explode of the
    corpus, no Python.
    """
    spans = duplicate_passage_spans(
        df, id_col=id_col, text_col=text_col, n=n, min_count=min_count
    )
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = df.join(span_arr, id_col, "left").withColumn(
        "_spans",
        F.coalesce("_spans", F.array().cast(
            "array<struct<span_start:int,span_end:int>>"
        )),
    )
    tokens = text.tokens(text_col)

    def keep(t, i):
        # token index i is 0-based; spans are 1-based inclusive
        p = i + F.lit(1)
        return ~F.exists(
            F.col("_spans"),
            lambda s: (s["span_start"] <= p) & (p <= s["span_end"]),
        )

    # no text._bind needed: `tokens` is the direct input of filter(), so the
    # split runs once per row; the lambda never re-references it
    clean = F.concat_ws(" ", F.filter(tokens, keep))
    return joined.withColumn("clean_text", clean).drop("_spans")
