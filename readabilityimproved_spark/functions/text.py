r"""Whitespace-token text rules shared by the corpus tier
(operators/dedup.py, curation.py, passages.py, layout.py) -- one copy
each of the tokenizer, the word n-gram builder, the 64-bit hash and the
content fingerprint.

The tokenizer and the fingerprint are rendered from the
:mod:`functions.sqlgen` templates that also give the DuckDB oracles
their SQL, so an operator and its oracle cannot drift apart. Column
names are backtick-quoted before rendering (a dotted struct path would
be quoted whole and not resolve -- project the field to a top-level
column first).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import sqlgen


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def tokens(col: str) -> Column:
    r"""Whitespace tokens of a string column, ``split(trim(col), '\s+')``.

    ``trim`` strips spaces only and ``\s`` is ASCII whitespace, so a
    ``\xa0`` survives inside a token; an empty or all-space value yields
    one empty token, and a NULL value yields NULL."""
    return F.expr(sqlgen.tokens_sql(_quoted(col), sqlgen.SPARK))


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass the value to ``fn`` as a
    lambda variable (1-element array transform). Without this, every
    textual reference to ``expr`` inside a lambda is re-evaluated per
    array ELEMENT -- e.g. element_at(split(text), i) re-tokenizes the
    whole document for every shingle, turning gram construction O(len^2)
    (measured: 6s of an 8s signature stage at sf0.1)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def ngrams(col: str, n: int) -> Column:
    """Word n-gram shingles of a text column as array<string>.

    Built from ``n`` shifted slices of the token array zipped with
    concat: the text is split exactly once per row (see _bind), not once
    per gram. Documents with fewer than ``n`` tokens yield an EMPTY
    array: without the guard, slice lengths go non-positive and the job
    dies on any corpus containing short/empty docs.
    """

    def grams_from(t):
        m = F.size(t) - (n - 1)
        acc = F.slice(t, 1, m)
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(t, 1 + j, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return acc

    return _bind(
        tokens(col),
        lambda t: F.when(F.size(t) >= n, grams_from(t)).otherwise(
            F.array().cast("array<string>")
        ),
    )


def hash64(col: Column, portable: bool) -> Column:
    """64-bit hash of a string column.

    portable=False: xxhash64 (JVM-native, the production default).
    portable=True:  the 15-hex-char slice of md5 (60 effective bits),
    bit-identical in DuckDB as
    ``CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)`` -- what lets
    the DuckDB oracles reproduce the hashed operators row for row.
    """
    if portable:
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.xxhash64(col)


def fingerprint(col: str) -> Column:
    """Content fingerprint: md5 of the lower-cased, whitespace-collapsed
    text (:func:`functions.sqlgen.fingerprint_sql`)."""
    return F.expr(sqlgen.fingerprint_sql(_quoted(col), sqlgen.SPARK))
