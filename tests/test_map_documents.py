"""`operators.extract.map_documents`: the one per-document map behind
the five span-reading operators, with one oversize policy for all."""

from __future__ import annotations

import pandas as pd
import pytest

from readabilityimproved_spark.operators import extract as E
from readabilityimproved_spark.operators.links import extract_outlinks
from readabilityimproved_spark.operators.textops import (
    extract_pub_dates,
    extract_titles,
    scored_dom_nodes,
)

PAGE = (
    '<html><head><title>Budget talks resume</title>'
    '<meta name="pubdate" content="2019-06-18"></head><body>'
    '<div class="article"><p>'
    + "The council met again, and the talks went on. " * 20
    + '<a href="/next">next story</a></p></div></body></html>'
)


def _one_page():
    return pd.DataFrame({
        "doc_id": ["d0"],
        "base_uri": ["http://h.example.com/a.html"],
        "spans": [[{"kind": "html", "text": PAGE, "media_ref": None, "offset": 0}]],
    })


def _run(batch_fn, operator):
    return pd.concat(list(batch_fn(operator)(iter([_one_page()]))), ignore_index=True)


@pytest.mark.parametrize("oversize", [False, True])
def test_every_operator_skips_oversize_pages(batch_fn, monkeypatch, oversize):
    if oversize:
        monkeypatch.setattr(E, "MAX_HTML_BYTES", len(PAGE) - 1)
    extracted = _run(batch_fn, E.extract_spans)
    titles = _run(batch_fn, extract_titles)
    dates = _run(batch_fn, extract_pub_dates)
    links = _run(batch_fn, extract_outlinks)
    scores = _run(batch_fn, scored_dom_nodes)
    if oversize:
        assert extracted["status"].tolist() == ["oversize"]
        assert extracted["n_spans"].tolist() == [0]
        assert titles["title"].tolist() == [None]
        assert dates["pub_date"].tolist() == [None]
        assert links.empty and scores.empty
    else:  # the same page under the limit: every operator has output
        assert extracted["status"].tolist() == ["ok"]
        assert titles["title"].tolist() == ["Budget talks resume"]
        assert dates["pub_date"].tolist() == ["2019-06-18"]
        assert links["url"].tolist() == ["http://h.example.com/next"]
        assert len(scores) == 2


def test_column_names_ignore_nested_commas():
    assert E._column_names(E.EXTRACTED_SCHEMA) == [
        "doc_id", "part", "spans", "n_spans", "n_images", "top_score", "status",
    ]
    assert E._column_names(
        "doc_id decimal(10,2), m map<string,array<struct<a:int,b:int>>>, n int"
    ) == ["doc_id", "m", "n"]
