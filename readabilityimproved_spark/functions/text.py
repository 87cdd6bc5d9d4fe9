r"""Whitespace-token text rules shared by the corpus tier
(operators/dedup.py, curation.py, passages.py, layout.py) -- one copy
each of the tokenizer, the word n-gram builder, the 64-bit hash and the
content fingerprint.

The tokenizer, the n-gram builder and the fingerprint are rendered from
the :mod:`functions.sqlgen` templates that also give the DuckDB oracles
and the repetition metrics their SQL, so an operator and its oracle
cannot drift apart. Column names are backtick-quoted before rendering
(a dotted struct path would be quoted whole and not resolve -- project
the field to a top-level column first).
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


def ngrams(col: str, n: int) -> Column:
    """Word n-gram shingles of a text column as array<string>
    (:func:`functions.sqlgen.ngrams_sql` over :func:`tokens`).

    The token array is bound once per row, so the text is split once,
    not once per gram. A document with fewer than ``n`` tokens, and a
    NULL one, yields an EMPTY array.
    """
    grams = sqlgen.ngrams_sql(
        sqlgen.tokens_sql(_quoted(col), sqlgen.SPARK), n, sqlgen.SPARK
    )
    return F.expr(f"coalesce({grams}, cast(array() as array<string>))")


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
