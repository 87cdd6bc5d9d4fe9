"""Dedup tier (operators/dedup.py) and the shared text rules it uses
(functions/text.py).

* Every operator on the shared tokenizer survives short, empty,
  whitespace-only and ``\xa0``-only documents.
* simhash64 packs two per-bit majority counters into one long aggregate
  (63 sums -> 33), cutting codegen and per-row aggregate cost roughly in
  half. The simhash VALUES must be bit-identical to the unpacked
  formulation, reproduced inline here, for both hash families.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readabilityimproved_spark.operators.curation import (
    pack_sequences,
    token_rarity_scores,
)
from readabilityimproved_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from readabilityimproved_spark.operators.layout import fake_pdf_blocks
from readabilityimproved_spark.operators.passages import (
    strip_duplicate_passages,
)

SF_DIR = "/root/testdata/sf0.001"


def test_shingles_survive_short_and_empty_docs(spark):
    rows = [("a", "one two three four five"), ("b", "too short"), ("c", ""),
            ("d", "one"), ("e", "one two three four five"),
            ("f", " \t\n "), ("g", "\xa0")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # every operator in the shingle family runs to completion
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 1  # (a, e)
    sigs = minhash_signatures(df).collect()
    assert {r["id"] for r in sigs} == {"a", "e"}  # <n-token docs dropped
    assert minhash_lsh_pairs(df).count() >= 1
    assert minhash_verified_pairs(df, threshold=0.5).count() == 1
    assert simhash64(df).count() == 7  # simhash tokenizes, no shingle gate
    # ... and so does every other operator on the shared tokenizer
    assert token_rarity_scores(df).count() == 7
    assert pack_sequences(df).count() == 7
    assert strip_duplicate_passages(df, n=2).count() == 7
    # one block per 4 tokens (an empty text is one empty token, so one
    # block) plus one footer per page: a and e hold 2 blocks, the rest 1
    assert fake_pdf_blocks(df).count() == 16



def _old_simhash64(df, id_col="doc_id", text_col="text", portable_hash=False):
    """The pre-r07 formulation, verbatim: 63 +/-1 conditional sums."""
    if portable_hash:
        tok_hash = F.conv(
            F.substring(F.md5(F.col("tok")), 1, 15), 16, 10
        ).cast("long")
    else:
        tok_hash = F.xxhash64("tok")
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", tok_hash)
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(63)
    ]
    agg = tokens.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(63):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("id", sim.cast("long").alias("simhash"))


def _cmp(new_df, old_df):
    new = {r["id"]: r["simhash"] for r in new_df.collect()}
    old = {r["id"]: r["simhash"] for r in old_df.collect()}
    assert new == old


@pytest.mark.parametrize("portable", [True, False])
def test_simhash64_packed_matches_unpacked(spark, portable):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    _cmp(
        simhash64(docs, portable_hash=portable),
        _old_simhash64(docs, portable_hash=portable),
    )


def test_simhash64_edge_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "one"),
            (2, "a a a a b"),          # clear majorities both ways
            (3, "x y z " * 300),       # repeated tokens, larger n
            (4, "  spaced   out  "),
            (5, ""),                   # single empty token after split
        ],
        "doc_id bigint, text string",
    )
    for portable in (True, False):
        _cmp(
            simhash64(docs, portable_hash=portable),
            _old_simhash64(docs, portable_hash=portable),
        )


def test_simhash64_schema_unchanged(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert (
        simhash64(docs, portable_hash=True).schema
        == _old_simhash64(docs, portable_hash=True).schema
    )
