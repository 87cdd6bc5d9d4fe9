"""PDF / layout-parse tier: positioned text blocks -> ordered spans.

The north rule's extraction scope is "HTML boilerplate strip, PDF/layout
parse, DOM heuristics"; the HTML path is the kernel
(kernel/readability.py), this module is the layout path. A layout
document is a flat table of positioned blocks::

    (doc_id, page int, block_id int,
     x0 double, y0 double, x1 double, y1 double, text string)

-- the shape every PDF text extractor (pdfminer, PyMuPDF, pdfplumber)
emits. The operators reconstruct reading order and strip page furniture
with DETERMINISTIC rules so results are engine-independent and
oracle-checkable; the actual PDF binary -> blocks decode is a plug
point (``decode_pdf_blocks``), stubbed like the multimodal codecs
because no PDF library ships in this container, with a deterministic
fake twin (``fake_pdf_blocks``) that keeps all the Spark-side plumbing
real and driver-verified.

Scale design (10^12 documents):

* every window partitions on ``doc_id`` -- per-document state only, so
  the tier parallelizes across the corpus with ONE hash exchange on
  doc_id (both window functions share the partitioning; Catalyst plans
  one Exchange + two in-partition sorts);
* furniture detection is a per-doc groupBy (map-side partial
  aggregation on (doc_id, text-key) -- never a corpus-global key) and a
  left-anti join back, both on doc-local keys;
* no Python anywhere: pure built-in expressions, whole-stage codegen
  end to end (only the stubbed decode would be a mapInPandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text

#: US-Letter points; PDF's historical default media box width
DEFAULT_PAGE_WIDTH = 612.0


def reading_order(
    blocks: DataFrame, page_width: float = DEFAULT_PAGE_WIDTH
) -> DataFrame:
    """Add ``order_idx`` (1-based, per doc): banded two-column Manhattan
    reading order.

    Rule (deterministic; the simplified XY-cut every layout-analysis
    paper starts from):

    * a block is FULL-WIDTH if it straddles the page midline
      (``x0 < mid < x1``); otherwise it is in the left (``x1 <= mid``)
      or right column;
    * each full-width block opens a new vertical BAND; blocks below it
      (and above the next full-width block) belong to that band;
    * within a band: the full-width opener first, then the ENTIRE left
      column top-to-bottom, then the right column (newspaper order --
      NOT naive y-order, which interleaves the columns);
    * bands in y-order, pages in page order; ties broken by
      (y0, x0, block_id) everywhere for determinism.

    Both windows partition on doc_id only (band numbering is monotone
    across pages because the ordering leads with ``page``, and only the
    final ``order_idx`` is emitted) -- one exchange, two sorts.
    """
    mid = F.lit(page_width / 2.0)
    is_full = (F.col("x0") < mid) & (F.col("x1") > mid)
    col = F.when(is_full, F.lit(-1)).when(
        F.col("x1") <= mid, F.lit(0)
    ).otherwise(F.lit(1))
    w_band = (
        Window.partitionBy("doc_id")
        .orderBy("page", "y0", "x0", "block_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_band = blocks.withColumn("_col", col).withColumn(
        "_band", F.sum(is_full.cast("int")).over(w_band)
    )
    w_order = Window.partitionBy("doc_id").orderBy(
        "page", "_band", "_col", "y0", "x0", "block_id"
    )
    return with_band.withColumn(
        "order_idx", F.row_number().over(w_order)
    ).drop("_col", "_band")


def strip_repeated_furniture(
    blocks: DataFrame,
    min_pages: int = 2,
    y_bucket: float = 20.0,
) -> DataFrame:
    """Drop page furniture: blocks whose normalized text recurs at
    (nearly) the same vertical position on >= ``min_pages`` pages of
    the SAME document -- running headers, footers, page numbers with
    the number normalized away.

    Normalization: lowercase, trimmed, digit runs collapsed to ``#``
    (so "Page 3" == "Page 17"). Vertical tolerance via a
    ``floor(y0 / y_bucket)`` bucket. Detection is a WINDOW count of
    distinct pages over (doc_id, norm, bucket): one exchange on the
    doc-local key and the filter happens in the same pass -- the
    previous groupBy + left-anti-join-back formulation evaluated the
    whole upstream block subtree TWICE (once per join side; Spark does
    not reuse unmaterialized subtrees) and cost two extra exchanges.
    Partitions key on doc-local values, never corpus-global ones, so
    giant corpora add tasks, not skew; per-partition state is one
    page-id set bounded by the document's own page count.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[0-9]+", "#")
    yb = F.floor(F.col("y0") / F.lit(y_bucket))
    w = Window.partitionBy("doc_id", "_norm", "_yb")
    return (
        blocks.withColumn("_norm", norm)
        .withColumn("_yb", yb)
        .withColumn("_np", F.size(F.collect_set("page").over(w)))
        .filter(F.col("_np") < min_pages)
        .drop("_norm", "_yb", "_np")
    )


def layout_spans(
    blocks: DataFrame,
    page_width: float = DEFAULT_PAGE_WIDTH,
    min_pages: int = 2,
    y_bucket: float = 20.0,
) -> DataFrame:
    """The layout tier end-to-end: strip furniture, reconstruct reading
    order, and emit the engine's span shape (SURVEY.md §1) --
    ``(doc_id, kind, text, media_ref, span_offset)`` with
    ``span_offset`` dense from 0 in reading order. The PDF-path
    counterpart of the HTML flagship's output contract."""
    kept = strip_repeated_furniture(
        blocks, min_pages=min_pages, y_bucket=y_bucket
    )
    ordered = reading_order(kept, page_width=page_width)
    return ordered.select(
        "doc_id",
        F.lit("text").alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
        (F.col("order_idx") - 1).cast("int").alias("span_offset"),
    )


# ---------------------------------------------------------------------------
# PDF decode plug point + deterministic fake twin (no PDF lib in container)
# ---------------------------------------------------------------------------

def decode_pdf_blocks(df: DataFrame, binary_col: str = "data") -> DataFrame:
    """Plug point: PDF binary -> positioned block table.

    A real deployment maps ``binary_col`` through a pdfminer/PyMuPDF
    Arrow batch (mapInPandas, same pattern as
    operators/multimodal.py); neither library ships in this container,
    so this raises at the documented plug point. The Spark-side
    contract (block schema, per-doc explode shape) is exercised by
    ``fake_pdf_blocks``, which the driver verifies end to end."""
    raise NotImplementedError(
        "PDF decoding needs pdfminer/PyMuPDF (not in this container); "
        "use fake_pdf_blocks for the deterministic plumbing twin"
    )


#: fake layout geometry (points, US-Letter): mid = 306
_TOKENS_PER_BLOCK = 4
_SLOTS_PER_PAGE = 7  # slot 0 = full-width title band, 1-6 = 2 cols x 3 rows
_FOOTER_BLOCK_BASE = 100_000


def fake_pdf_blocks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_footer: bool = True,
) -> DataFrame:
    """Deterministic fake decode: documents -> positioned blocks.

    Chunks the document's whitespace tokens into 4-token blocks laid
    out 7 to a page: slot 0 a full-width title band (y=40), slots 1-6
    a 2-column x 3-row grid (left 36-288, right 324-576; rows at
    y=100/300/500) -- so naive y-order INTERLEAVES the columns and the
    reading-order operator must un-interleave them. ``with_footer``
    adds an identical full-width footer block (y=770) on every page:
    multi-page documents get recurring furniture for
    strip_repeated_furniture to find; single-page ones keep it.

    Pure narrow ops; the arithmetic is integer/half-point exact so the
    DuckDB oracle replicates it bit-for-bit.

    Plan shape: the per-block struct (geometry + text slice) is built
    IN-ROW over ``sequence(0, nb-1)`` and footers are appended to the
    same in-row array, so the whole table is ONE scan + ONE explode.
    The previous formulation exploded bare block ids (each exploded row
    dragging the full token array along, O(tokens^2/4) bytes out of the
    Generate) and derived footers from a ``content.distinct()`` whose
    union re-evaluated the entire content subtree a second time --
    4 parquet scans and 20 exchanges for layout_spans, now 1 scan.
    Row equality with that formulation is pinned in
    tests/test_round7_layout_opt.py; only row ORDER differs (footers
    interleave per doc instead of trailing), which no consumer observes
    (reading_order re-sorts, the oracle compares sorted rows).
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        text.tokens(text_col).alias("toks"),
    ).withColumn(
        "nb",
        F.ceil(F.size("toks") / F.lit(float(_TOKENS_PER_BLOCK))).cast("int"),
    )
    # same expressions as the exploded formulation, moved inside the
    # transform lambda: slot/row/left arithmetic on the block index i,
    # double literals for the geometry, int-cast double division for
    # page and row (i >= 0, so the cast truncation matches)
    content_structs = (
        f"transform(sequence(0, nb - 1), i -> named_struct("
        f"'page', cast(i / {_SLOTS_PER_PAGE} as int), "
        f"'block_id', i, "
        f"'x0', case when pmod(i, {_SLOTS_PER_PAGE}) = 0 then 36.0d "
        f"  when pmod(pmod(i, {_SLOTS_PER_PAGE}) - 1, 2) = 0 then 36.0d "
        f"  else 324.0d end, "
        f"'y0', case when pmod(i, {_SLOTS_PER_PAGE}) = 0 then 40.0d "
        f"  else cast(100 + cast((pmod(i, {_SLOTS_PER_PAGE}) - 1) / 2 as int)"
        f" * 200 as double) end, "
        f"'x1', case when pmod(i, {_SLOTS_PER_PAGE}) = 0 then 576.0d "
        f"  when pmod(pmod(i, {_SLOTS_PER_PAGE}) - 1, 2) = 0 then 288.0d "
        f"  else 576.0d end, "
        f"'y1', case when pmod(i, {_SLOTS_PER_PAGE}) = 0 then 60.0d "
        f"  else cast(280 + cast((pmod(i, {_SLOTS_PER_PAGE}) - 1) / 2 as int)"
        f" * 200 as double) end, "
        f"'text', array_join(slice(toks, i * {_TOKENS_PER_BLOCK} + 1, "
        f"{_TOKENS_PER_BLOCK}), ' ')))"
    )
    if with_footer:
        # the content pages are exactly 0 .. (nb-1) div SLOTS (nb >= 1
        # whenever toks is non-null: split never returns an empty
        # array), so the footer rows enumerate that range directly --
        # no distinct over (and no re-evaluation of) the content rows
        footer_structs = (
            f"transform(sequence(0, cast((nb - 1) / {_SLOTS_PER_PAGE} as int)),"
            f" p -> named_struct("
            f"'page', p, "
            f"'block_id', {_FOOTER_BLOCK_BASE} + p, "
            f"'x0', 36.0d, 'y0', 770.0d, 'x1', 576.0d, 'y1', 790.0d, "
            f"'text', concat('confidential draft p. ', cast(p + 1 as string))))"
        )
        arr = f"concat({content_structs}, {footer_structs})"
    else:
        arr = content_structs
    b = d.select("doc_id", F.explode(F.expr(arr)).alias("b"))
    # the exploded formulation this replaced left block_id NULLABLE in
    # the footer variant (the union with the lit-derived footer ids) and
    # NON-NULL without footers; declared query schemas are compared by
    # the driver, so both nullabilities are reproduced exactly. nullif
    # against an impossible sentinel (content ids >= 0, footer ids >=
    # _FOOTER_BLOCK_BASE) is the cheapest stable nullable wrapper --
    # Spark 4 folds a when(lit(True), x) wrapper's nullability away at
    # analysis (one int compare per row at runtime).
    block_id = (
        F.nullif(F.col("b.block_id"), F.lit(-1))
        if with_footer
        else F.col("b.block_id")
    )
    return b.select(
        "doc_id",
        F.col("b.page").alias("page"),
        block_id.alias("block_id"),
        F.col("b.x0").alias("x0"),
        F.col("b.y0").alias("y0"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
        F.col("b.text").alias("text"),
    )
