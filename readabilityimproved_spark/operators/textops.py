"""Batched text operators over span-shaped tables: title extraction and
per-document content scoring surface (the reference's scored-DOM debug
intermediate, ReadabilityForImg.java:786-791, as a queryable column).
Each runs on `extract.map_documents`, so oversize pages parse nowhere."""

from __future__ import annotations

from ..kernel.dates import DEFAULT_REF_DATE
from ..kernel.htmldates import date_from_html
from ..kernel.readability import debug_scored_nodes
from ..kernel.title import get_title
from .extract import map_documents

TITLE_SCHEMA = "doc_id string, title string"
PUBDATE_SCHEMA = "doc_id string, pub_date string"
SCORED_NODES_SCHEMA = "doc_id string, tag string, cls string, node_id string, score int"


def _title(row, html, base_uri):
    return [(row.doc_id, None if html is None else get_title(html, base_uri))]


def extract_titles(df):
    """documents(doc_id, spans[, base_uri]) -> (doc_id, title)."""
    return map_documents(df, _title, TITLE_SCHEMA)


def _pub_date(row, html, base_uri):
    date = None if html is None else date_from_html(html, None, DEFAULT_REF_DATE)
    return [(row.doc_id, date)]


def extract_pub_dates(df):
    """T2: documents(doc_id, spans) -> (doc_id, pub_date) via the weighted
    HTML date extraction (TimeUtil.getDateFromHtml)."""
    return map_documents(df, _pub_date, PUBDATE_SCHEMA)


def _scored_nodes(row, html, base_uri):
    if html is None:
        return []
    return [(row.doc_id, *node) for node in debug_scored_nodes(html, base_uri)]


def scored_dom_nodes(df):
    """S6 debug sink as a queryable table: one row per content-scored node
    at the reference's dump point (pre link-density scaling)."""
    return map_documents(df, _scored_nodes, SCORED_NODES_SCHEMA)
