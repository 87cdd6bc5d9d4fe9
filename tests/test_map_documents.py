"""`operators.extract.map_documents`: the one per-document map behind
the five span-reading operators, with one oversize policy for all."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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


_SPAN = {"kind": "html", "text": PAGE, "media_ref": None, "offset": 0}
_DEEP = {
    "kind": "html", "media_ref": None, "offset": 1,
    "text": "<div>" * 600 + "<p>deep text, deep text.</p>" + "</div>" * 600,
}
_IMAGE = {"kind": "image", "text": None, "media_ref": "/a.jpg", "offset": None}
#: the patched MAX_HTML_BYTES: above any page of three other spans
#: (three deep pages are ~20 kB), below one _HUGE span
_LIMIT = 24_000
_HUGE = {"kind": "html", "text": "<p>" + "x" * _LIMIT + "</p>",
         "media_ref": None, "offset": 2}


@settings(
    max_examples=25, deadline=None,
    # batch_fn is stateless: sharing it across examples is safe
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(
    st.tuples(
        st.one_of(st.text(max_size=4), st.integers(2 ** 62, 2 ** 63 - 1)),
        st.one_of(st.none(), st.lists(
            st.sampled_from([_SPAN, _DEEP, _IMAGE, _HUGE, None]), max_size=3
        )),
        st.sampled_from([None, float("nan"), 7, b"http://b/", "",
                         "http://h.example.com/a.html"]),
    ),
    min_size=1, max_size=5,
))
def test_every_document_gets_exactly_one_status(batch_fn, docs):
    """Per-document isolation over the one map: null spans, null span
    elements, 600-deep nesting, oversize pages, non-``str`` base URIs and
    bigint ids never raise in any operator, and extraction reports one
    row with a status for every input document, in input order."""
    pdf = pd.DataFrame(docs, columns=["doc_id", "spans", "base_uri"])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(E, "MAX_HTML_BYTES", _LIMIT)
        outs = {
            op.__name__: pd.concat(
                list(batch_fn(op)(iter([pdf.copy()]))), ignore_index=True
            )
            for op in (E.extract_spans, extract_titles, extract_pub_dates,
                       extract_outlinks, scored_dom_nodes)
        }
    extracted = outs["extract_spans"]
    assert extracted["doc_id"].tolist() == pdf["doc_id"].tolist()
    for status in extracted["status"]:
        assert status in ("ok", "oversize") or status.startswith("error:")
    for doc, status in zip(docs, extracted["status"]):
        if doc[1] is not None and _HUGE in doc[1]:
            assert status == "oversize"
