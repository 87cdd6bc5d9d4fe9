"""The extraction operator: spans-in -> spans-out as one fused Arrow kernel.

Spark mapping of the reference's whole per-document pipeline
(Extractor.main driving ReadabilityForImg.init, Extractor.java:77-130):
a single ``mapInPandas`` stage so every DOM operator (P*/C*/A*/I*,
SURVEY.md §2) runs tree-at-a-time inside one Arrow batch — columnar at
the boundary, scalar kernel inside, zero per-row Python at the Spark
layer (BASELINE.json: "no per-row Python anywhere").

Input:  doc_id string, spans array<struct<kind,text,media_ref,offset>>,
        optional base_uri string, optional part int (passed through).
Output: doc_id, part, spans (extracted), n_spans, n_images, status.

Why mapInPandas and not pandas_udf: the kernel returns a variable-length
nested array per doc plus metrics columns; an iterator of DataFrames also
lets one batch of giant documents stream through without concat-ing the
whole partition.
"""

from __future__ import annotations

import datetime as dt
import html
import re
from collections.abc import Iterator
from functools import partial

import pandas as pd

from ..kernel.dates import DEFAULT_REF_DATE
from ..kernel.readability import ExtractionResult, extract_document

EXTRACTED_SCHEMA = (
    "doc_id string, part int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_spans int, n_images int, top_score int, status string"
)

#: documents whose reconstructed HTML exceeds this are parsed by no
#: operator (`map_documents` hands them over as ``html=None``; extraction
#: reports status='oversize'); protects executor memory/CPU from
#: pathological inputs at 10^12-doc scale (SURVEY.md §7)
MAX_HTML_BYTES = 20 * 1024 * 1024


def reconstruct_html(spans: list[dict]) -> str:
    """Rebuild the page from its span sequence (offset order).

    kind='html'/'text' spans contribute their text; kind='image' spans
    (bare media attachments) materialize as plain ``<img src=...>`` tags
    so the kernel sees them in document position.
    """
    parts = []
    for span in sorted(spans, key=lambda s: s["offset"] if s["offset"] is not None else 0):
        kind = span.get("kind")
        if kind == "image":
            ref = span.get("media_ref") or ""
            # escape the attribute value: a '"' or '>' inside the ref would
            # otherwise truncate the tag and silently distort extraction
            parts.append(f'<img src="{html.escape(ref, quote=True)}">')
        else:
            parts.append(span.get("text") or "")
    return "".join(parts)


#: flush the buffered output rows once this many are held, BETWEEN
#: documents only (rows stay in emit order, one doc's rows are never
#: split across chunks): bounds one batch's Python list at O(chunk +
#: one doc's rows) instead of O(batch docs x rows per doc)
CHUNK_ROWS = 20_000


def _column_names(schema: str) -> list[str]:
    """Top-level column names of a DDL schema string; the commas nested
    inside ``array<struct<...>>`` or ``decimal(p,s)`` do not separate
    columns."""
    flat = schema
    while "<" in flat or "(" in flat:
        flat = re.sub(r"<[^<>]*>|\([^()]*\)", "", flat)
    return [field.split()[0] for field in flat.split(",")]


def map_documents(df, per_doc, schema: str):
    """The one per-document map every span-reading operator runs on.

    For each input row it rebuilds the page (`reconstruct_html`),
    normalizes ``base_uri`` to a ``str`` ('' when the column is absent
    or null) and calls ``per_doc(row, html, base_uri)``, which returns
    the row's output tuples in ``schema`` column order. A page over
    `MAX_HTML_BYTES` is handed over as ``html=None`` and must not be
    parsed. Output is flushed in chunks of `CHUNK_ROWS`.
    """
    columns = _column_names(schema)

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            has_base = "base_uri" in pdf.columns
            rows = []
            for row in pdf.itertuples(index=False):
                if len(rows) >= CHUNK_ROWS:
                    yield pd.DataFrame(rows, columns=columns)
                    rows = []
                spans = row.spans
                html = reconstruct_html(
                    # null spans and null span elements carry no content
                    [dict(s) for s in spans if s is not None]
                    if spans is not None else []
                )
                if len(html) > MAX_HTML_BYTES:
                    html = None
                base_uri = row.base_uri if has_base else ""
                if not isinstance(base_uri, str):  # None/NaN from null columns
                    base_uri = ""
                rows.extend(per_doc(row, html, base_uri))
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(batches, schema=schema)


def _extracted(row, html, base_uri, ref_date, variant):
    if html is None:
        result = ExtractionResult(spans=[], status="oversize")
    else:
        result = extract_document(
            html, base_uri=base_uri, ref_date=ref_date, variant=variant
        )
    part = getattr(row, "part", None)
    return [(
        row.doc_id,
        int(part) if not pd.isna(part) else -1,
        [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in result.spans
        ],
        len(result.spans),
        len(result.images),
        # the reference's scored-DOM intermediate distilled to its
        # decisive number (top candidate content score, cf.
        # test/newsHTML.txt golden dump)
        result.top_content_score,
        result.status,
    )]


def extract_spans(df, ref_date: dt.datetime = DEFAULT_REF_DATE, variant: str = "img"):
    """documents(doc_id, spans[, base_uri, part]) -> extracted table."""
    per_doc = partial(_extracted, ref_date=ref_date, variant=variant)
    return map_documents(df, per_doc, EXTRACTED_SCHEMA)
