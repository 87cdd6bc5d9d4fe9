"""Round-7 layout-tier optimization pins.

The r07 round rewrote ``fake_pdf_blocks`` (in-row struct construction,
footers appended to the same array -- one scan + one explode instead of
4 scans / 20 exchanges for layout_spans) and
``strip_repeated_furniture`` (window count instead of groupBy +
anti-join-back). Both must be ROW-IDENTICAL (as multisets; row order is
not part of either operator's contract) to the old formulations, which
are reproduced inline here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators.layout import (
    fake_pdf_blocks,
    layout_spans,
    strip_repeated_furniture,
)

SF_DIR = "/root/testdata/sf0.001"


def _old_fake_pdf_blocks(docs, with_footer=True):
    """The pre-r07 formulation, verbatim (explode bare ids, slice the
    carried token array per row, footers via content.distinct())."""
    _TOKENS_PER_BLOCK, _SLOTS_PER_PAGE, _FOOTER_BLOCK_BASE = 4, 7, 100_000
    d = docs.select(
        F.col("doc_id"),
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    ).withColumn(
        "nb",
        F.ceil(F.size("toks") / F.lit(float(_TOKENS_PER_BLOCK))).cast("int"),
    )
    b = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("block_id"),
    )
    slot = F.pmod(F.col("block_id"), F.lit(_SLOTS_PER_PAGE))
    row = ((slot - 1) / 2).cast("int")
    left = F.pmod(slot - 1, F.lit(2)) == 0
    content = b.select(
        "doc_id",
        (F.col("block_id") / _SLOTS_PER_PAGE).cast("int").alias("page"),
        "block_id",
        F.when(slot == 0, F.lit(36.0)).when(left, F.lit(36.0))
        .otherwise(F.lit(324.0)).alias("x0"),
        F.when(slot == 0, F.lit(40.0))
        .otherwise((100 + row * 200).cast("double")).alias("y0"),
        F.when(slot == 0, F.lit(576.0)).when(left, F.lit(288.0))
        .otherwise(F.lit(576.0)).alias("x1"),
        F.when(slot == 0, F.lit(60.0))
        .otherwise((280 + row * 200).cast("double")).alias("y1"),
        F.array_join(
            F.slice(F.col("toks"), F.col("block_id") * _TOKENS_PER_BLOCK + 1,
                    _TOKENS_PER_BLOCK),
            " ",
        ).alias("text"),
    )
    if not with_footer:
        return content
    footers = (
        content.select("doc_id", "page").distinct().select(
            "doc_id",
            "page",
            (F.lit(_FOOTER_BLOCK_BASE) + F.col("page")).alias("block_id"),
            F.lit(36.0).alias("x0"),
            F.lit(770.0).alias("y0"),
            F.lit(576.0).alias("x1"),
            F.lit(790.0).alias("y1"),
            F.concat(F.lit("confidential draft p. "),
                     (F.col("page") + 1).cast("string")).alias("text"),
        )
    )
    return content.unionByName(footers)


def _old_strip(blocks, min_pages=2, y_bucket=20.0):
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[0-9]+", "#")
    yb = F.floor(F.col("y0") / F.lit(y_bucket))
    keyed = blocks.withColumn("_norm", norm).withColumn("_yb", yb)
    furniture = (
        keyed.groupBy("doc_id", "_norm", "_yb")
        .agg(F.count_distinct("page").alias("_np"))
        .filter(F.col("_np") >= min_pages)
        .select("doc_id", "_norm", "_yb")
    )
    return keyed.join(
        furniture, ["doc_id", "_norm", "_yb"], "left_anti"
    ).drop("_norm", "_yb")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("with_footer", [True, False])
def test_fake_pdf_blocks_row_identical(spark, with_footer):
    docs = _docs(spark)
    new = fake_pdf_blocks(docs, with_footer=with_footer)
    old = _old_fake_pdf_blocks(docs, with_footer=with_footer)
    assert new.schema == old.schema
    assert _sorted_rows(new) == _sorted_rows(old)


def test_fake_pdf_blocks_edge_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, " ".join(f"t{i}" for i in range(60))),
         (4, None), (5, "   spaced   out   ")],
        "doc_id bigint, text string",
    )
    new = fake_pdf_blocks(docs)
    old = _old_fake_pdf_blocks(docs)
    assert _sorted_rows(new) == _sorted_rows(old)


def test_fake_pdf_blocks_single_scan(spark):
    docs = _docs(spark)
    plan = fake_pdf_blocks(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan


def test_strip_repeated_furniture_row_identical(spark):
    blocks = fake_pdf_blocks(_docs(spark))
    new = strip_repeated_furniture(blocks)
    old = _old_strip(blocks)
    assert new.schema == old.schema
    assert _sorted_rows(new) == _sorted_rows(old)


def test_layout_spans_single_scan_plan(spark):
    plan = (
        layout_spans(fake_pdf_blocks(_docs(spark)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
