r"""Cross-dialect SQL generators for the scalar operator library.

Each generator renders ONE logic template into either Spark SQL or DuckDB
SQL; the driver's correctness gate runs the Spark rendering via
``queries()`` and the DuckDB rendering via ``oracle_sql()`` side by side,
so both dialects must express identical semantics (SURVEY.md §5.3).

Dialect deltas handled here:
  * integer division:   Spark ``a div b``      DuckDB ``a // b``
  * regex split:        Spark ``split``        DuckDB ``string_split_regex``
  * array length:       Spark ``size``         DuckDB ``len``
  * regex boolean:      Spark ``rlike``        DuckDB ``regexp_matches``
  * global replace:     Spark default-all      DuckDB needs the 'g' flag
  * date + n days:      Spark ``date_add``     DuckDB ``date + n``
  * regex literals:     Spark string literals process backslash escapes
    (``'\\s'`` -> ``\s``); DuckDB literals are raw (``'\s'`` stays) --
    every regex goes through :func:`_re_lit`
  * both return '' from regexp_extract on no-match; both have try_cast.

RE2 (DuckDB) has no lookbehind, so the reference's ``(?<!\d)`` guards
(TimeUtil.java:127-219) are rendered as a consumed ``(^|[^0-9])`` prefix
group in BOTH dialects -- equivalent for leftmost-first extraction.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"

#: deterministic stand-in for the reference's wall clock (matches
#: kernel.dates.DEFAULT_REF_DATE)
REF_DATE_SQL = "2019-06-18"


def _re_lit(pattern: str, dialect: str) -> str:
    """Render a (Python raw) regex as a SQL string literal for the dialect."""
    if dialect == SPARK:
        pattern = pattern.replace("\\", "\\\\")
    return "'" + pattern.replace("'", "''") + "'"


def _idiv(a: str, b: str, dialect: str) -> str:
    return f"({a} div {b})" if dialect == SPARK else f"({a} // {b})"


def _split(s: str, pattern: str, dialect: str) -> str:
    fn = "split" if dialect == SPARK else "string_split_regex"
    return f"{fn}({s}, {_re_lit(pattern, dialect)})"


def _size(arr: str, dialect: str) -> str:
    return f"size({arr})" if dialect == SPARK else f"len({arr})"


def _rlike(s: str, pattern: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"({s} rlike {_re_lit(pattern, dialect)})"
    return f"regexp_matches({s}, {_re_lit(pattern, dialect)})"


def _replace_all(s: str, pattern: str, repl: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"regexp_replace({s}, {_re_lit(pattern, dialect)}, '{repl}')"
    return f"regexp_replace({s}, {_re_lit(pattern, dialect)}, '{repl}', 'g')"


def _extract(s: str, pattern: str, group: int, dialect: str) -> str:
    return f"regexp_extract({s}, {_re_lit(pattern, dialect)}, {group})"


def _extract_all(s: str, pattern: str, dialect: str) -> str:
    # group 0 (full match) explicitly: Spark defaults to group 1,
    # DuckDB to group 0 -- pin them to the same behavior
    return f"regexp_extract_all({s}, {_re_lit(pattern, dialect)}, 0)"


def _date_plus(d: str, n: str, dialect: str) -> str:
    return f"date_add({d}, {n})" if dialect == SPARK else f"({d} + ({n}))"


def _cast_str(x: str, dialect: str) -> str:
    t = "string" if dialect == SPARK else "varchar"
    return f"cast({x} as {t})"


# ---------------------------------------------------------------------------
# T1: date_from_url (TimeUtil.java:124-261) as a single COALESCE of levels
# ---------------------------------------------------------------------------

_P1 = r"(^|[^0-9])([12][09][0-9]{2})[-_./]([01]?[0-9])[-_./]([0123]?[0-9])[^0-9]"
_P2 = r"(^|[^0-9])([12][09][0-9]{2}[01]?[0-9][0123]?[0-9])"
_P3 = r"(^|[^0-9])([12][09][0-9]{2}[01]?[0-9])[-_./]([0123]?[0-9])[^0-9]"
_P4 = r"(^|[^0-9])([0123]?[0-9])/([01]?[0-9])/([12][09][0-9]{2})[^0-9]"
_L2 = r"(^|[^0-9])([0-9][0-9])[-_./]([01]?[0-9])[-_./]([0123]?[0-9])[^0-9]"


def _fmt(y: str, m: str, d: str, dialect: str) -> str:
    return (
        f"({y} || '-' || lpad({_cast_str(m, dialect)}, 2, '0')"
        f" || '-' || lpad({_cast_str(d, dialect)}, 2, '0'))"
    )


def date_from_url_sql(url: str, dialect: str, ref_date: str = REF_DATE_SQL) -> str:
    """Render getDateFromUrl's level cascade; each level yields NULL when
    its first regex hit fails validation (the Java fall-through)."""

    def ti(s: str) -> str:
        return f"try_cast({s} as int)"

    # L1 pattern 1: yyyy[-_./]m?m[-_./]d?d + trailing non-digit
    y1s = _extract(url, _P1, 2, dialect)
    m1 = ti(_extract(url, _P1, 3, dialect))
    d1 = ti(_extract(url, _P1, 4, dialect))
    p1 = (
        f"CASE WHEN {m1} BETWEEN 1 AND 12 AND {d1} BETWEEN 1 AND 31"
        f" AND try_cast({y1s} as int) > 1990"
        f" THEN {_fmt(y1s, m1, d1, dialect)} END"
    )

    # L1 pattern 2: 8-digit yyyymmdd with lenient not-in-future check
    g2 = _extract(url, _P2, 2, dialect)
    y2 = f"try_cast(substr({g2}, 1, 4) as int)"
    m2 = f"try_cast(substr({g2}, 5, 2) as int)"
    d2 = f"try_cast(substr({g2}, 7, 2) as int)"
    lenient = _date_plus(f"make_date({y2}, {m2}, 1)", f"{d2} - 1", dialect)
    p2 = (
        f"CASE WHEN length({g2}) = 8 AND {m2} BETWEEN 1 AND 12"
        f" AND {d2} BETWEEN 1 AND 31 AND {y2} > 1990 THEN"
        f" (CASE WHEN {lenient} <= DATE '{ref_date}'"
        f" THEN {_fmt(f'substr({g2}, 1, 4)', m2, d2, dialect)} END) END"
    )

    # L1 pattern 3: yyyymm[-_./]d?d ; y = yyyymm/100, m = yyyymm%100
    g3 = ti(_extract(url, _P3, 2, dialect))
    dd3 = ti(_extract(url, _P3, 3, dialect))
    y3, m3 = _idiv(g3, "100", dialect), f"({g3} % 100)"
    p3 = (
        f"CASE WHEN {m3} BETWEEN 1 AND 12 AND {dd3} BETWEEN 1 AND 31"
        f" AND {y3} > 1990"
        f" THEN {_fmt(_cast_str(y3, dialect), m3, dd3, dialect)} END"
    )

    # L1 pattern 4: m?m/d?d/yyyy
    m4 = ti(_extract(url, _P4, 2, dialect))
    d4 = ti(_extract(url, _P4, 3, dialect))
    y4s = _extract(url, _P4, 4, dialect)
    p4 = (
        f"CASE WHEN {m4} BETWEEN 1 AND 12 AND {d4} BETWEEN 1 AND 31"
        f" AND try_cast({y4s} as int) > 1990"
        f" THEN {_fmt(y4s, m4, d4, dialect)} END"
    )

    # L2: yy[-_./]m?m[-_./]d?d -> 20yy (no year gate, TimeUtil.java:215-237)
    yl = _extract(url, _L2, 2, dialect)
    ml = ti(_extract(url, _L2, 3, dialect))
    dl = ti(_extract(url, _L2, 4, dialect))
    y20 = "('20' || " + yl + ")"
    l2 = (
        f"CASE WHEN {ml} BETWEEN 1 AND 12 AND {dl} BETWEEN 1 AND 31"
        f" AND {yl} <> ''"
        f" THEN {_fmt(y20, ml, dl, dialect)} END"
    )

    return f"COALESCE({p1}, {p2}, {p3}, {p4}, {l2})"


# ---------------------------------------------------------------------------
# C3 / C4 / C6 scalar operators
# ---------------------------------------------------------------------------

def normalize_ws_sql(s: str, dialect: str) -> str:
    r"""The \s{2,} -> '' deletion quirk (Readability.java:462-470)."""
    return _replace_all(s, r"\s{2,}", "", dialect)


def comma_segments_sql(s: str, dialect: str) -> str:
    """Java ``split(",|，").length``: trailing empties dropped; empty
    input counts 1; all-separator input counts 0 (Readability.java:361)."""
    stripped = _replace_all(s, r"[,，]+$", "", dialect)
    return (
        f"CASE WHEN {s} = '' THEN 1"
        f" WHEN {stripped} = '' THEN 0"
        f" ELSE {_size(_split(stripped, ',|，', dialect), dialect)} END"
    )


NEGATIVE_RE = (
    r"(?i)combx|comment|contact|foot|footer|footnote|link|media|meta|promo"
    r"|related|scroll|shoutbox|sponsor|tags|widget|share|scan"
)
POSITIVE_RE = r"(?i)article|body|content|entry|hentry|page|pagination|post|text|main"


def class_weight_sql(cls: str, node_id: str, dialect: str) -> str:
    """C6 class/id weight, img-variant alternations
    (ReadabilityForImg.java:1185-1215)."""

    def leg(col: str) -> str:
        return (
            f"(CASE WHEN {col} <> '' AND {_rlike(col, NEGATIVE_RE, dialect)}"
            f" THEN -25 ELSE 0 END"
            f" + CASE WHEN {col} <> '' AND {_rlike(col, POSITIVE_RE, dialect)}"
            f" THEN 25 ELSE 0 END)"
        )

    return f"({leg(cls)} + {leg(node_id)})"


#: the whitespace-token rule: tokens are the runs of ``trim(s)`` between
#: matches of this regex (functions.text.tokens is the Column form)
TOKEN_RE = r"\s+"


def tokens_sql(s: str, dialect: str) -> str:
    return _split(f"trim({s})", TOKEN_RE, dialect)


def token_count_sql(s: str, dialect: str) -> str:
    return (
        f"CASE WHEN trim({s}) = '' THEN 0"
        f" ELSE {_size(tokens_sql(s, dialect), dialect)} END"
    )


def _collapsed_lower(s: str, dialect: str) -> str:
    """Lower-cased text with every whitespace run collapsed to one space."""
    return _replace_all(f"lower(trim({s}))", TOKEN_RE, " ", dialect)


def fingerprint_sql(s: str, dialect: str) -> str:
    """Document fingerprint: md5 of the lower-cased, ws-collapsed text."""
    return f"md5({_collapsed_lower(s, dialect)})"


#: GPT-2-style pre-tokenizer: contractions, letter runs, digit runs,
#: punctuation runs (leading-space optional), whitespace runs
BPE_TOKEN_RE = (
    r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count_sql(s: str, dialect: str) -> str:
    """BPE-ish token count (GPT-2 pre-tokenizer granularity); pure
    whitespace pieces excluded from the count."""
    pieces = _extract_all(s, BPE_TOKEN_RE, dialect)
    fn = "filter" if dialect == SPARK else "list_filter"
    nonws = f"{fn}({pieces}, p -> trim(p) <> '')"
    return f"cast({_size(nonws, dialect)} as int)"


#: rolling polynomial hash parameters (base 31, large prime modulus --
#: stays well inside int64 in both engines)
_RH_MOD = 1_000_000_007


def rolling_hash_sql(s: str, dialect: str) -> str:
    """Polynomial rolling hash over the ws-collapsed lower-cased text:
    h = (h*31 + code(char)) mod 1e9+7, left-to-right."""
    collapsed = _collapsed_lower(s, dialect)
    if dialect == SPARK:
        chars = f"split({collapsed}, '')"
        return (
            f"aggregate({chars}, 0L,"
            f" (acc, c) -> (acc * 31 + ascii(c)) % {_RH_MOD})"
        )
    return (
        f"list_reduce(list_prepend(0::BIGINT, [ascii(c) for c in"
        f" string_split({collapsed}, '')]),"
        f" (acc, c) -> (acc * 31 + c) % {_RH_MOD})"
    )


STOPWORD_RE = r"\b(the|a|and|of|to|in|is|on|for|with)\b"


def quality_score_sql(s: str, dialect: str) -> str:
    """Quality heuristic: length + stopword presence - non-alpha density.

    score = min(n_chars, 500)/500 * 0.5
          + min(stopword_hits, 10)/10 * 0.3
          + (1 - non_alnum_ratio) * 0.2        (rounded to 4 dp)
    """
    n = f"length({s})"
    stops = _size(_extract_all(f"lower({s})", STOPWORD_RE, dialect), dialect)
    non_alnum = f"length({_replace_all(s, '[a-zA-Z0-9 ]', '', dialect)})"
    return (
        f"round(least(cast({n} as double), 500.0)/500.0 * 0.5"
        f" + least(cast({stops} as double), 10.0)/10.0 * 0.3"
        f" + (1.0 - cast({non_alnum} as double)/greatest(cast({n} as double), 1.0))"
        f" * 0.2, 4)"
    )


#: character-n-gram heuristic profiles: distinctive word-boundary
#: bigrams/trigrams per language (counted with regexp_extract_all);
#: n-gram-based rather than full-word so partial/inflected forms count
LANG_MARKERS = {
    "en": r"\bth| the |ing\b|\band\b| of ",
    "de": r"\bder\b|\bdie\b|\bund\b|sch|\bich\b|ung\b",
    "fr": r"\bles?\b|\bdes\b|\bune?\b|eau\b|\bqu|é",
    "es": r"\bel\b|\blos\b|\bque\b|ción\b|\bes\b|ñ",
}


def lang_id_sql(s: str, dialect: str) -> str:
    """Character-n-gram language ID: count distinctive n-gram hits per
    language profile; argmax with fixed precedence, 'und' if all 0."""
    counts = {
        lang: _size(_extract_all(f"lower({s})", p, dialect), dialect)
        for lang, p in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    cases = []
    for lang in langs:
        others = [counts[o] for o in langs if o != lang]
        cond = " AND ".join(f"{counts[lang]} >= {c}" for c in others)
        cases.append(f"WHEN {counts[lang]} > 0 AND {cond} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def url_normalize_sql(u: str, dialect: str) -> str:
    """Canonical URL form for URL-level dedup: strip the fragment,
    lowercase scheme+host, drop default ports (http:80 / https:443),
    trim an empty trailing query, ensure a path on bare hosts.
    Non-URL strings (no scheme://host prefix) pass through with only the
    fragment stripped. Identical builtins in both dialects."""
    u1 = _replace_all(u, r"#.*$", "", dialect)
    sh = _extract(f"({u1})", r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1, dialect)
    return (
        "CASE WHEN {sh} = '' THEN {u1} ELSE "
        "(CASE WHEN lower({sh}) LIKE 'http://%' THEN {strip80} "
        " WHEN lower({sh}) LIKE 'https://%' THEN {strip443} "
        " ELSE lower({sh}) END) || "
        "(CASE WHEN {rest2} = '' THEN '/' ELSE {rest2} END) END"
    ).format(
        sh=sh,
        u1=u1,
        strip80=_replace_all(f"lower({sh})", r":80$", "", dialect),
        strip443=_replace_all(f"lower({sh})", r":443$", "", dialect),
        rest2=_replace_all(
            f"substr({u1}, length({sh}) + 1)", r"[?&]+$", "", dialect
        ),
    )


#: (pattern, replacement) in application order: email before IP/phone
#: (an address can embed digits), card before phone (4-4-4-4 runs must
#: not half-match), IP before phone (dotted quads share digit shapes).
#: Regex subset chosen for identical Java-regex / RE2 semantics: \b and
#: \d are ASCII in both, no lookaround, no backrefs.
PII_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{4}([- ]\d{4}){3}\b", "<CARD>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def _tokens_lower(s: str, dialect: str) -> str:
    """Lower-cased whitespace tokens with empties dropped (the shared
    token alphabet for the repetition metrics; same split discipline as
    :func:`token_count_sql`)."""
    toks = _split(f"lower(trim({s}))", TOKEN_RE, dialect)
    fn = "filter" if dialect == SPARK else "list_filter"
    return f"{fn}({toks}, t -> t <> '')"


def _bind_spark(value: str, var: str, body: str) -> str:
    """Spark-only let-binding: evaluate ``value`` ONCE per row and hand
    it to ``body`` as the lambda variable ``var`` (1-element array
    transform -- the same trick as functions.text._bind, rendered as SQL
    text).

    Spark performs common-subexpression elimination inside a projection
    but NOT inside higher-order-function lambda bodies, so an array
    expression referenced per-element in a lambda is re-evaluated for
    every element -- e.g. a token split referenced by each gram
    subscript re-tokenizes the document O(len^2) times (round-6 advice
    on repetition_flag_sql). Binding makes those references free."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _ngrams(w: str, n: int, dialect: str) -> str:
    """Space-joined word n-grams of the token array ``w`` (n >= 1),
    preserving in-row order; empty array when fewer than n tokens."""
    if n == 1:
        return w
    if dialect == SPARK:
        # bind the token array once (see _bind_spark): the lambda body
        # references it per gram via subscripts, which would otherwise
        # re-evaluate the split for every element. transform's index is
        # 0-based and Spark array subscripts are 0-based, so gram i
        # spans w[i] .. w[i + n - 1]
        tail = "".join(f", ' ', __w[i + {k}]" for k in range(1, n))
        grams = (
            f"transform(slice(__w, 1, greatest(size(__w)"
            f" - {n - 1}, 0)), (t, i) -> concat(t{tail}))"
        )
        return _bind_spark(w, "__w", grams)
    # DuckDB: 1-based subscripts; generate_series(1, k) is [] for k < 1
    joined = " || ' ' || ".join(f"({w})[i + {k}]" for k in range(n))
    return (
        f"[{joined} for i in"
        f" generate_series(1, {_size(w, dialect)} - {n - 1})]"
    )


def dup_ngram_frac_sql(s: str, n: int, dialect: str) -> str:
    """Gopher-style repetition metric: the fraction of word ``n``-grams
    that are repeats of an earlier gram in the same document,
    ``1 - distinct/total`` (0.0 when the document has no grams), rounded
    to 4 dp. ``n=1`` measures duplicate words. Pure per-row array math:
    no shuffle, no UDF -- the metric a 100-TB quality pass can compute
    in the same narrow map as the rest of the scalar battery."""
    g = _ngrams(_tokens_lower(s, dialect), n, dialect)
    distinct_fn = "array_distinct" if dialect == SPARK else "list_distinct"
    if dialect == SPARK:
        # bind the gram array too: total/uniq reference it twice, and
        # for n >= 2 it is itself a bound transform worth computing once
        body = (
            "round(CASE WHEN size(__g) = 0 THEN 0.0"
            " ELSE 1.0 - cast(size(array_distinct(__g)) as double)"
            " / cast(size(__g) as double) END, 4)"
        )
        return _bind_spark(g, "__g", body)
    total = _size(g, dialect)
    uniq = _size(f"{distinct_fn}({g})", dialect)
    return (
        f"round(CASE WHEN {total} = 0 THEN 0.0"
        f" ELSE 1.0 - cast({uniq} as double) / cast({total} as double)"
        f" END, 4)"
    )


#: doc-level repetition gates (Gopher table A1 spirit: drop documents
#: dominated by repeated fragments; thresholds tuned for the synth corpus)
REPETITION_MAX_DUP_WORD = 0.90
REPETITION_MAX_DUP_2GRAM = 0.75
REPETITION_MAX_DUP_3GRAM = 0.60


def repetition_flag_sql(s: str, dialect: str) -> str:
    """TRUE when any repetition gate trips -- the doc-level drop
    decision derived from :func:`dup_ngram_frac_sql`."""
    return (
        f"({dup_ngram_frac_sql(s, 1, dialect)} > {REPETITION_MAX_DUP_WORD}"
        f" OR {dup_ngram_frac_sql(s, 2, dialect)} > {REPETITION_MAX_DUP_2GRAM}"
        f" OR {dup_ngram_frac_sql(s, 3, dialect)} > {REPETITION_MAX_DUP_3GRAM})"
    )


def redact_pii_sql(s: str, dialect: str) -> str:
    """PII redaction for training corpora: emails, 16-digit card-shaped
    runs, IPv4 addresses, and NNN-NNN-NNNN phone shapes become typed
    placeholder tokens. Chained regexp_replace -- pure per-row compute,
    no shuffle, whole-stage codegen in Spark."""
    out = s
    for pattern, repl in PII_RULES:
        out = _replace_all(out, pattern, repl, dialect)
    return out
