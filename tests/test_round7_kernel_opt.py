"""Round-7 optimization pins: the kernel hot-path rewrites must be
bit-identical to the formulations they replaced.

Each test pins one rewrite from the r07 optimization round against the
OLD formulation stated inline (guide §1: measure, change, prove
equivalence):

  * whitespace collapse: translate + conditional space-run sub vs the
    single ``[ \\t\\n\\f\\r]+`` regex sub
  * comma segment counting vs ``len(java_split(...))``
  * struct-based float32 rounding/multiply vs numpy float32 scalars
  * ``_has_scheme`` vs ``urlparse().scheme`` truthiness
  * ``get_elements_by_tags`` (one walk) vs per-tag walks
  * ``Document.body()`` fast path vs the full preorder walk
"""

from __future__ import annotations

import itertools
import random
import re
import string

import numpy as np
import pytest

from readabilityimproved_spark.dom import (
    Element,
    TextNode,
    _has_scheme,
    parse,
)
from readabilityimproved_spark.javacompat import comma_segments, java_split
from readabilityimproved_spark.kernel.readability import (
    _SPACE_RUN,
    _WS_TO_SPACE,
    _f32,
    _f32_mul,
)

_OLD_WS_RUN = re.compile(r"[ \t\n\f\r]+")


def _old_collapse(s: str) -> str:
    return _OLD_WS_RUN.sub(" ", s)


def _new_collapse(s: str) -> str:
    s = s.translate(_WS_TO_SPACE)
    if "  " in s:
        s = _SPACE_RUN.sub(" ", s)
    return s


def test_ws_collapse_equivalence():
    rng = random.Random(7)
    alphabet = list(" \t\n\f\r\x0b\xa0abZ，<>&")
    cases = ["", " ", "\t\t", "a  b", "a\xa0b", "x\x0by", "\r\n" * 5]
    for _ in range(30000):
        cases.append("".join(rng.choices(alphabet, k=rng.randint(0, 30))))
    for s in cases:
        assert _old_collapse(s) == _new_collapse(s), repr(s)


def test_comma_segments_vs_java_split():
    def old(text: str) -> int:
        return len(java_split(text, ",|，"))

    rng = random.Random(11)
    alphabet = ["a", ",", "，", " ", "b"]
    for n in range(0, 6):
        for tup in itertools.product(alphabet, repeat=n):
            s = "".join(tup)
            assert comma_segments(s) == old(s), repr(s)
    for _ in range(20000):
        s = "".join(rng.choices(alphabet + ["xyz", "\n"], k=rng.randint(0, 40)))
        assert comma_segments(s) == old(s), repr(s)


def test_f32_struct_vs_numpy():
    rng = random.Random(13)
    specials = [
        0.0, -0.0, 1.0, -1.0, float("inf"), float("-inf"), float("nan"),
        1e-45, -1e-45, 3.4e38, 1e39, 2**31 - 1, -(2**31), 0.2, 1 / 3,
    ]
    vals = specials + [rng.uniform(-1e6, 1e6) for _ in range(5000)]
    for x in vals:
        want = float(np.float32(x))
        got = _f32(x)
        if want != want:  # NaN
            assert got != got
        else:
            assert got == want, x
    with np.errstate(invalid="ignore", over="ignore"):
        for _ in range(5000):
            a = rng.choice(vals)
            b = rng.choice(vals)
            want = float(np.float32(a) * np.float32(b))
            got = _f32_mul(a, b)
            if want != want:
                assert got != got, (a, b)
            else:
                assert got == want, (a, b)
            # float32 division through double: innocuous double rounding
            if float(np.float32(b)) != 0.0:
                wantd = float(np.float32(a) / np.float32(b))
                gotd = _f32(_f32(a) / _f32(b))
                if wantd != wantd:
                    assert gotd != gotd, (a, b)
                else:
                    assert gotd == wantd, (a, b)


def test_has_scheme_vs_urlparse():
    from urllib.parse import urlparse

    rng = random.Random(42)
    chars = (
        string.ascii_letters + string.digits + ":/.?#@-_+~%&= \t\n\r\x00\x1f，中"
    )
    cases = [
        "http://a/b", "HTTP://X", " http://x ", "\thttp://x", "ht\ntp://x",
        "c:\\path", "1:2", "+a:b", "a+b.c-d:e", "//x/y", "", ":", "a:",
        ":b", "mailto:x@y", "data:image/png;base64,xx", "\x1fhttp://x\x1f",
    ]
    for _ in range(30000):
        cases.append("".join(rng.choices(chars, k=rng.randint(0, 25))))
    for s in cases:
        try:
            want = bool(urlparse(s).scheme)
        except ValueError:
            continue
        assert _has_scheme(s) == want, repr(s)


def _mk_tree(rng: random.Random, depth: int = 0) -> Element:
    el = Element(rng.choice(["div", "p", "h1", "h2", "h3", "span", "ul"]))
    for _ in range(rng.randint(0, 3 if depth < 4 else 0)):
        if rng.random() < 0.3:
            el.append_child(TextNode("t"))
        else:
            el.append_child(_mk_tree(rng, depth + 1))
    return el


def test_get_elements_by_tags_matches_per_tag_walks():
    rng = random.Random(5)
    tags = ("h1", "h2", "h3")
    for _ in range(200):
        root = _mk_tree(rng)
        fused = root.get_elements_by_tags(tags)
        # one preorder walk == the preorder-merged union of per-tag walks
        expected = [
            e
            for e in root.iter_elements(include_self=False)
            if e.tag in tags
        ]
        assert fused == expected


def test_body_fast_path_matches_walk():
    doc = parse("<html><body><div>x</div></body></html>")
    body = doc.body()
    assert body is not None and body.tag == "body"
    assert body is doc.get_elements_by_tag("body", include_self=False)[0]
    # mutated tree: body reachable only through the fallback walk
    doc2 = parse("<div>x</div>")
    html_el = doc2.html_el()
    wrapper = Element("section")
    # detach body and re-nest it under a wrapper below html
    b = doc2.body()
    wrapper.append_child(b)
    html_el.append_child(wrapper)
    assert doc2.body() is b


def test_all_comma_inner_text_char_count():
    from readabilityimproved_spark.kernel.readability import get_char_count

    el = Element("p")
    el.append_child(TextNode(",,,"))
    # Java ",,,".split(",") drops every trailing empty -> length 0
    assert get_char_count(el, ",") == 0
    el2 = Element("p")
    el2.append_child(TextNode("a,b,,c,"))
    assert get_char_count(el2, ",") == len(java_split("a,b,,c,", ","))


LONG = (
    "This is a long paragraph, with commas, and enough words to score "
    "highly in the readability pass, truly remarkable text."
)


def _spans(html, variant="img"):
    from readabilityimproved_spark.kernel.readability import extract_document

    r = extract_document(
        html, base_uri="http://h/2019-06/18/a.html", variant=variant
    )
    assert r.status == "ok"
    return [(k, t) for (k, t, _m, _o) in r.spans]


def test_prep_article_snapshot_fusion_adversarial_nesting():
    """prep_article now collects one preorder snapshot instead of ~10
    per-tag walks; these shapes exercise every equivalence argument
    (detached-node no-ops, the attached-only h2 count, predicate
    subtree-locality). Expected outputs were pinned equal to the
    pre-fusion implementation over all 20 (page, variant) cases."""
    main = [("text", LONG)]
    # form inside a video object: form removed first, object survives
    # the VIDEO check, contributes no text
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p><object data="x">'
        f'<form><a href="http://www.youtube.com/v">y</a></form></object>'
        f"</div></body>"
    ) == main
    # h2 nested in a removed (negative-class) h1: the nested h2 must
    # not inflate the attached-h2 count -- the remaining solo h2 is
    # cleaned by the count==1 gate
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p>'
        f'<h1 class="footer"><h2>sub</h2></h1><h2>only</h2></div></body>'
    ) == main
    # h2 inside a form: form clean detaches it, so exactly one ATTACHED
    # h2 remains and the gate fires on it
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p>'
        f"<form><h2>a</h2></form><h2>b</h2></div></body>"
    ) == main
    # table nested in a conditionally-removed div; ul nested in a table
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p>'
        f'<div class="footer widget"><table><tr><td>x</td></tr></table>'
        f"</div><table><tr><td>k</td></tr></table></div></body>"
    ) == main
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p>'
        f"<table><tr><td><ul><li>i</li></ul></td></tr></table></div></body>"
    ) == main
    # negative-class header dropped, trailing paragraph kept, brs killed
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p><br><br>'
        f'<h3 class="promo share">junk</h3><p>tail, here</p></div></body>'
    ) == main + [("text", "tail, here")]
    # text variant runs the same prep_article path
    assert _spans(
        f'<body><div class="content"><p>{LONG}</p><h2>solo</h2></div></body>',
        variant="text",
    ) == main


def test_urljoin_memoized_base_vs_stdlib():
    """_urljoin (base parse memoized) must equal urllib.parse.urljoin
    byte-for-byte: same CPython 3.11 algorithm, so fuzz over adversarial
    fragments including scheme case, dot segments, netloc and params."""
    from urllib.parse import urljoin

    from readabilityimproved_spark.dom import _urljoin

    rng = random.Random(99)
    atoms = [
        "http://", "https://", "ftp://", "HTTP://", "//", "/", "../",
        "./", "a", "b.html", "site.com", ":8080", "?q=1", "#frag",
        "img/x.jpg", "..", ".", "", " ", "\t", "%20", "mailto:x@y",
        "data:image/png;base64,xx", "\\", ":", "2019-06/18/",
        "article5.html", "x;y", "[::1]", "@u:p",
    ]
    cases = [
        ("http://h/2019-06/18/a.html", "img/x.jpg"),
        ("http://h/a/b/", "../../../up.png"),
        ("http://h/a", "//cdn.example.com/i.png"),
        ("http://h/a", "HTTP://other/x"),
        ("http://h/a;p?q#f", ";params"),
        ("", "x"), ("http://h/a", ""),
    ]
    for _ in range(60000):
        cases.append((
            "".join(rng.choices(atoms, k=rng.randint(0, 6))),
            "".join(rng.choices(atoms, k=rng.randint(0, 6))),
        ))
    for base, url in cases:
        try:
            want = urljoin(base, url)
        except ValueError:
            with pytest.raises(ValueError):
                _urljoin(base, url)
            continue
        assert _urljoin(base, url) == want, (base, url)


def test_date_from_url_cache_transparent():
    """The lru-cached date_from_url must equal the uncached pipeline for
    every format branch, repeated calls included (cache hits)."""
    import datetime as dt

    from readabilityimproved_spark.kernel.dates import (
        DEFAULT_REF_DATE,
        _first_date_l1,
        _first_date_l2,
        date_from_url,
    )

    def uncached(url, ref_date):
        if url is None or url.strip() == "":
            return None
        return _first_date_l1(url, ref_date) or _first_date_l2(url)

    urls = [
        None, "", "   ", "http://h/2019-06/18/a.html",
        "http://h/20190618/a.html", "http://h/201906/18/x",
        "http://h/6/18/2019/x", "http://h/19-06-18/x",
        "http://h/29991231/x", "http://h/nothing/here",
        "http://h/2019_06_18.more", "http://h/1989-06-18/old",
        "img20190618.jpg", "a/2019.06.18/b",
    ]
    refs = [DEFAULT_REF_DATE, dt.datetime(2020, 1, 1)]
    for ref in refs:
        for u in urls:
            for _ in range(3):  # repeated: exercise cache hits
                assert date_from_url(u, ref) == uncached(u, ref), (u, ref)


def test_regex_memos_are_keyed_by_variant_object():
    """The class-weight and C1 verdict memos must not be shared between
    two variants that merely share a name: a second ``Variant("img", ...)``
    with other regexes reads its own verdicts, not IMG_VARIANT's."""
    from readabilityimproved_spark import patterns as P
    from readabilityimproved_spark.dom import parse
    from readabilityimproved_spark.kernel.readability import (
        ReadabilityKernel,
        get_class_weight,
    )

    never = re.compile(r"(?!)")
    other = P.Variant("img", never, never, never, True)
    el = parse('<div class="comment">x</div>').get_elements_by_tag(
        "div", include_self=False
    )[0]
    assert get_class_weight(el, P.IMG_VARIANT) == -25
    assert get_class_weight(el, other) == 0

    html = (
        '<html><body><div class="comment"><p>' + "side text, more. " * 10
        + "</p></div><div><p>" + "Main story text, long enough. " * 10
        + "</p></div></body></html>"
    )

    def keeps_comment(variant):
        k = ReadabilityKernel(html, "")
        k.variant = variant
        k.prep_document()
        article = k.grab_article(preserve_unlikely_candidates=False)
        return "side text" in k.doc.html() + article.html()

    assert not keeps_comment(P.IMG_VARIANT)  # C1 prunes class="comment"
    assert keeps_comment(other)
