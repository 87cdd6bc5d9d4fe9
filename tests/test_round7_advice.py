"""Round-7: close out the round-6 ADVICE items (correctness hardening,
result-neutral for every declared query — re-oracled in the sweep).

  * extract_outlinks keeps the input's doc_id type instead of
    hardcoding string (a bigint documents table used to die on an
    Arrow int->string conversion);
  * registrable_domain drops empty labels so trailing-dot FQDNs cannot
    silently escape the blocklist;
  * hash_split rejects split names that would render as broken SQL
    string literals downstream.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _doc(spark, doc_id_expr: str):
    return spark.range(1).selectExpr(
        f"{doc_id_expr} as doc_id",
        "array(named_struct('kind', 'html', 'text',"
        " '<a href=\"http://x.example.com/a\">go</a>',"
        " 'media_ref', cast(null as string), 'offset', 0)) as spans",
    )


def test_extract_outlinks_keeps_bigint_doc_id(spark):
    from readabilityimproved_spark.operators.links import extract_outlinks

    out = extract_outlinks(_doc(spark, "cast(7 as bigint)"))
    assert dict(out.dtypes)["doc_id"] == "bigint"
    rows = out.collect()
    assert [(r["doc_id"], r["url"]) for r in rows] == [
        (7, "http://x.example.com/a")
    ]


def test_extract_outlinks_string_doc_id_unchanged(spark):
    from readabilityimproved_spark.operators.links import extract_outlinks

    out = extract_outlinks(_doc(spark, "'d-7'"))
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.collect()[0]["doc_id"] == "d-7"


def test_registrable_domain_trailing_dot(spark):
    from readabilityimproved_spark.operators.links import registrable_domain

    df = spark.createDataFrame(
        [
            ("http://example.com./x",),
            ("http://EXAMPLE.com/x",),
            ("http://a.b.example.com/x",),
        ],
        "url string",
    )
    got = [r[0] for r in df.select(registrable_domain("url")).collect()]
    assert got == ["example.com", "example.com", "example.com"]


def test_hash_split_rejects_quoted_names(spark):
    from readabilityimproved_spark.operators.export import hash_split

    df = spark.range(10).selectExpr("id as doc_id")
    with pytest.raises(ValueError, match="quotes"):
        hash_split(df, {"tr'ain": 0.5, "test": 0.5})
    # a trailing backslash escapes the closing quote of the SQL literal
    with pytest.raises(ValueError, match="quotes"):
        hash_split(df, {"train\\": 0.5, "test": 0.5})
    # clean names still work
    out = hash_split(df, {"train": 0.5, "test": 0.5})
    assert set(r["split"] for r in out.collect()) <= {"train", "test"}


def test_outlink_batches_chunked_yields_identical_rows(batch_fn):
    """Round-6 verdict item 7: the per-batch link buffer flushes in
    bounded chunks (the shared `map_documents` chunk size). Rows, order
    and values must be identical to one monolithic yield; peak buffered
    rows must stay bounded."""
    import pandas as pd

    from readabilityimproved_spark.operators import extract as E
    from readabilityimproved_spark.operators.links import extract_outlinks

    def spans_for(i):
        n = 40
        body = "".join(
            f'<a href="http://h{i}.example.com/p{j}">a{j}</a>'
            for j in range(n)
        )
        return [{"kind": "html", "text": body, "media_ref": None, "offset": 0}]

    pdf = pd.DataFrame(
        {"doc_id": [f"d{i}" for i in range(100)],
         "spans": [spans_for(i) for i in range(100)]}
    )
    outlink_batches = batch_fn(extract_outlinks)

    old_chunk = E.CHUNK_ROWS
    try:
        E.CHUNK_ROWS = 100  # force many flushes (4000 links total)
        chunks = list(outlink_batches(iter([pdf])))
        assert len(chunks) > 10  # actually chunked
        assert max(len(c) for c in chunks) <= 100 + 40  # chunk + one doc
        got = pd.concat(chunks, ignore_index=True)
    finally:
        E.CHUNK_ROWS = old_chunk
    want = pd.concat(
        list(outlink_batches(iter([pdf]))),
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(want) == 4000
