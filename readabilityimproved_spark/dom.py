"""Lightweight mutable DOM on ``html.parser`` — the engine's jsoup stand-in.

The reference mutates a jsoup tree (remove/retag/attr-annotate,
serialize-regex-reparse round trips: Readability.java:180-183, 566-568,
228-234). This module re-specifies the subset of jsoup behavior the
kernels need, documented as OUR semantics (SURVEY.md §7: golden fixtures
are defined against these, with inputs simple enough that tag-soup
recovery differences cannot arise):

  * parse() builds ``#root > html > (head, body)`` implicit structure
  * ``<p>`` is auto-closed by any open block tag; ``li/dd/dt`` self-close
  * void elements per HTML5
  * ``text()`` = document-order text-node data, with a single space
    injected at block-element boundaries, then whitespace-collapsed and
    trimmed (jsoup-like normalization)
  * ``html()``/``set_html()`` round-trip is stable; NBSP re-escapes to
    ``&nbsp;`` so the reference's ``REGEX_KILL_BREAKS`` applies intact
  * ``abs_url()`` resolves against the document base URI and returns ""
    when no absolute URL can be formed (jsoup ``absUrl`` contract)

Scores are stored as ordinary attributes (the reference smuggles ints
through ``readabilityContentScore``/``readabilityImgScore`` DOM attrs,
Readability.java:17, ReadabilityForImg.java:26-27) so that attribute-set
equality comparisons in the image layer (ReadabilityForImg.java:924-937)
see them exactly like the reference does.
"""

from __future__ import annotations

import re
from functools import lru_cache
from html import escape
from urllib.parse import (
    urlparse,
    urlunparse,
    uses_netloc,
    uses_relative,
)


# scheme detection, replicating urllib.parse.urlsplit's preprocessing
# (strip leading/trailing C0-control-or-space, remove every \t\r\n) and
# scheme grammar (leading alpha, then alpha/digit/+/-/.) without paying
# for a full ParseResult per call -- equivalence fuzzed against
# urlparse().scheme in tests/test_dom.py
_C0_OR_SPACE = "".join(chr(i) for i in range(0x21))
_SCHEME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9+.\-]*:")


def _has_scheme(u: str) -> bool:
    u = u.strip(_C0_OR_SPACE)
    if "\t" in u:
        u = u.replace("\t", "")
    if "\r" in u:
        u = u.replace("\r", "")
    if "\n" in u:
        u = u.replace("\n", "")
    return _SCHEME_RE.match(u) is not None


@lru_cache(maxsize=64)
def _parsed_base(base: str):
    """Memoized ``urlparse(base, '', True)``: one document base resolves
    every node's URLs, but stock ``urljoin`` re-parses the base per call
    (half its cost)."""
    return urlparse(base, "", True)


def _urljoin(base: str, url: str) -> str:
    """``urllib.parse.urljoin`` with the base's parse memoized.

    The body below is the CPython 3.11 algorithm verbatim (str-only, so
    ``_coerce_args`` is the identity and elided) with ``urlparse(base)``
    served from ``_parsed_base``. Output equality with the stdlib is
    fuzz-pinned in tests/test_round7_kernel_opt.py.
    """
    if not base:
        return url
    if not url:
        return base
    bscheme, bnetloc, bpath, bparams, bquery, bfragment = _parsed_base(base)
    scheme, netloc, path, params, query, fragment = urlparse(
        url, bscheme, True
    )

    if scheme != bscheme or scheme not in uses_relative:
        return url
    if scheme in uses_netloc:
        if netloc:
            return urlunparse(
                (scheme, netloc, path, params, query, fragment)
            )
        netloc = bnetloc

    if not path and not params:
        path = bpath
        params = bparams
        if not query:
            query = bquery
        return urlunparse((scheme, netloc, path, params, query, fragment))

    base_parts = bpath.split("/")
    if base_parts[-1] != "":
        del base_parts[-1]

    if path[:1] == "/":
        segments = path.split("/")
    else:
        segments = base_parts + path.split("/")
        segments[1:-1] = filter(None, segments[1:-1])

    resolved_path: list[str] = []
    for seg in segments:
        if seg == "..":
            try:
                resolved_path.pop()
            except IndexError:
                pass
        elif seg == ".":
            continue
        else:
            resolved_path.append(seg)

    if segments[-1] in (".", ".."):
        resolved_path.append("")

    return urlunparse(
        (scheme, netloc, "/".join(resolved_path) or "/", params, query,
         fragment)
    )


@lru_cache(maxsize=4096)
def _resolve_url(base: str, val: str) -> str:
    """Memoized absUrl resolution (same base repeats for every node)."""
    resolved = _urljoin(base, val) if base else val
    return resolved if _has_scheme(resolved) else ""

#: memo for contains_markup's per-tag needle verdict (bounded; see use)
_TAG_NEEDLE_CACHE: dict = {}

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# start tags that implicitly close an open <p> (HTML5 tree construction)
P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset figcaption figure footer "
    "form h1 h2 h3 h4 h5 h6 header hr main nav ol p pre section table ul".split()
)

HEAD_ONLY = frozenset("title meta base link style".split())

BLOCK_ELEMENTS = frozenset(
    "address article aside blockquote body br caption dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 head header hr html li "
    "main nav noscript ol p pre section table tbody td tfoot th thead title "
    "tr ul".split()
)

# jsoup normalises only ASCII whitespace (StringUtil.isWhitespace: space,
# \t, \n, \f, \r) and Java String.trim() strips chars <= U+0020 -- \xa0
# (&nbsp;) and unicode spaces are NOT whitespace to the reference, so a
# Python \s+ here would shift innerText lengths (the 25-char gate, the
# len//100 bonus, the 80-char sibling rules) on nbsp-heavy pages
_WS_RUN = re.compile(r"[ \t\n\f\r]+")
# the same collapse, split into C-speed pieces: translate maps the four
# non-space ASCII ws chars to ' ' (one pass, no regex machinery), after
# which only RUNS OF SPACES remain to collapse -- and those exist iff a
# literal "  " substring does, a C-speed containment test that lets the
# common already-collapsed string skip the regex entirely. Identical
# output to _WS_RUN.sub(" ", s) by construction (measured 3-12x faster
# on kernel text; text() is the hottest whitespace path in the profile)
_WS_TO_SPACE = str.maketrans({"\t": " ", "\n": " ", "\f": " ", "\r": " "})
_SPACE_RUN = re.compile(r"  +")
# Java String.trim() strips chars <= U+0020 from both ends;
# str.strip with an explicit char set is C-speed (vs a regex pass)
_JTRIM_CHARS = "".join(chr(i) for i in range(0x21))


class TextNode:
    __slots__ = ("data", "parent", "is_comment")

    def __init__(
        self,
        data: str,
        parent: "Element | None" = None,
        is_comment: bool = False,
    ):
        self.data = data
        self.parent = parent
        # comments ride as raw-data text nodes (data includes the
        # <!-- --> markers): serialized verbatim by html(), skipped by
        # text() -- jsoup semantics, so the reference's innerHTML regex
        # scans (DIV_TO_P, REGEX_REPLACE_BRS) see comment content exactly
        # as the Java code does
        self.is_comment = is_comment

    def __repr__(self):  # pragma: no cover - debug aid
        return f"TextNode({self.data!r})"


class Element:
    __slots__ = ("tag", "attrs", "children", "parent", "_rev", "_text_cache")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag.lower()
        self.attrs: dict[str, str] = dict(attrs) if attrs else {}
        self.children: list[Element | TextNode] = []
        self.parent: Element | None = None
        self._rev = 0  # structure revision, meaningful on root nodes
        self._text_cache: tuple[int, str] | None = None

    def _bump(self) -> None:
        """Invalidate text() caches: bump the revision at this tree's root."""
        node = self
        while node.parent is not None:
            node = node.parent
        node._rev += 1

    def retag(self, new_tag: str) -> None:
        """Change the tag (jsoup tagName(str)). No cache invalidation
        needed: the kernel only retags div->p (both block-level, text()
        unchanged), and tag queries traverse live."""
        self.tag = new_tag

    # --- attribute API (attr names normalized to lowercase on parse) ------
    def attr(self, key: str) -> str:
        return self.attrs.get(key.lower(), "")

    def set_attr(self, key: str, value: str) -> None:
        self.attrs[key.lower()] = value

    def has_attr(self, key: str) -> bool:
        return key.lower() in self.attrs

    def class_name(self) -> str:
        return self.attr("class")

    def id(self) -> str:
        return self.attr("id")

    # --- tree API ----------------------------------------------------------
    def append_child(self, node: "Element | TextNode") -> None:
        if node.parent is not None:
            node.parent._bump()
            node.parent.children.remove(node)
        node.parent = self
        self.children.append(node)
        self._bump()

    def remove(self) -> None:
        """Detach from parent (jsoup Node.remove)."""
        if self.parent is not None:
            self._bump()
            self.parent.children.remove(self)
            self.parent = None

    def has_parent(self) -> bool:
        return self.parent is not None

    def child_elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def sibling_elements(self) -> list["Element"]:
        """Parent's element children excluding self (jsoup siblingElements)."""
        if self.parent is None:
            return []
        return [c for c in self.parent.child_elements() if c is not self]

    def iter_elements(self, include_self: bool = True):
        """Preorder traversal of element descendants."""
        if include_self:
            yield self
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is not TextNode:
                yield node
                if node.children:
                    stack.extend(node.children[::-1])

    def get_elements_by_tag(self, tag: str, include_self: bool = True) -> list["Element"]:
        # NOTE: a per-revision tag index was tried and is a net LOSS here:
        # prepArticle interleaves mutations with queries, so the index is
        # rebuilt almost every query. Plain traversal wins.
        tag = tag.lower()
        out: list[Element] = []
        if include_self and self.tag == tag:
            out.append(self)
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is not TextNode:
                if node.tag == tag:
                    out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    def get_elements_by_tags(self, tags: tuple) -> list["Element"]:
        """Descendant elements (excluding self) whose tag is in ``tags``,
        in preorder -- ONE traversal instead of len(tags) separate
        get_elements_by_tag walks when the caller treats each hit
        independently (e.g. header cleaning probes h1..h6)."""
        out: list[Element] = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is not TextNode:
                if node.tag in tags:
                    out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    def all_elements(self) -> list["Element"]:
        out: list[Element] = [self]
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is not TextNode:
                out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    def count_descendant_tags(self, tags: frozenset) -> dict:
        """Counts of each tag in ``tags`` among descendants (excluding
        self) in ONE traversal -- replaces N get_elements_by_tag walks
        when only counts are needed."""
        counts = dict.fromkeys(tags, 0)
        stack = list(self.children)
        while stack:
            node = stack.pop()
            if node.__class__ is not TextNode:
                if node.tag in counts:
                    counts[node.tag] += 1
                if node.children:
                    stack.extend(node.children)
        return counts

    def contains_markup(self, needles: tuple) -> bool:
        """Could ``self.html()`` contain any of ``needles`` (lowercase
        markup prefixes like ``"<br"``)?

        Checks the serialized TAG TOKENS (``<tag`` and ``</tag`` -- a
        substring test, so prefix tags like ``<font-face>`` that the
        rewrite regexes also match are caught, not just exact ``font``),
        attribute KEYS and VALUES (both serialized with ``<`` intact --
        html.parser happily yields attr names like ``a<br``), and
        comment bodies, all against the parser's lowercased forms.
        Regular text nodes are ``&lt;``-escaped on serialize, so they
        can never produce literal markup. A True is conservative (a
        needle in a harmless position still reports True); a False
        PROVES the serialize->regex rewrites keyed on these needles are
        no-ops, letting the kernel skip whole-document serialization on
        the common (needle-free) path."""
        # the attr precheck below assumes every needle carries a literal
        # '<' (lower() never creates one); fail fast if a future needle
        # breaks that, instead of silently skipping rewrites
        assert all("<" in x for x in needles), needles
        cache = _TAG_NEEDLE_CACHE
        stack = [self]
        while stack:
            node = stack.pop()
            if node.__class__ is TextNode:
                # comment data includes the '<!--' wrapper and is
                # serialized verbatim, so scan it whole
                if node.is_comment:
                    d = node.data.lower()
                    if any(x in d for x in needles):
                        return True
                continue
            key = (node.tag, needles)
            hit = cache.get(key)
            if hit is None:
                toks = "<" + node.tag + "\x00</" + node.tag
                hit = any(x in toks for x in needles)
                if len(cache) > 4096:  # wild docs: unbounded tag vocab
                    cache.clear()
                cache[key] = hit
            if hit:
                return True
            if node.attrs:
                for k, v in node.attrs.items():
                    # same '<' precheck: case-insensitive needles still
                    # need a literal '<', which lower() never creates
                    if "<" in k or "<" in v:
                        kv = (k + "\x00" + v).lower()
                        if any(x in kv for x in needles):
                            return True
            if node.children:
                stack.extend(node.children)
        return False

    # --- text extraction -----------------------------------------------------
    def text(self) -> str:
        """Whitespace-normalized visible text (jsoup-like).

        Memoized per tree revision: structural mutations bump the root's
        revision (append/prepend/remove/set_html), so cached values stay
        valid between mutations. The only retag the kernel performs is
        div->p (both block-level), which cannot change text().
        """
        root = self
        while root.parent is not None:
            root = root.parent
        key = (id(root), root._rev)
        cached = self._text_cache
        if cached is not None and cached[0] == key:
            return cached[1]

        # iterative preorder with a trailing-space sentinel (the plain
        # string " " on the stack) instead of one Python frame per
        # element; emission order is identical to the old recursion
        parts: list[str] = []
        append = parts.append
        stack: list = self.children[::-1]
        while stack:
            c = stack.pop()
            cls = c.__class__
            if cls is TextNode:
                if not c.is_comment:
                    append(c.data)
            elif cls is str:
                append(c)
            else:
                if c.tag in BLOCK_ELEMENTS:
                    append(" ")
                    stack.append(" ")
                if c.children:
                    stack.extend(c.children[::-1])
        value = "".join(parts).translate(_WS_TO_SPACE)
        if "  " in value:
            value = _SPACE_RUN.sub(" ", value)
        value = value.strip(_JTRIM_CHARS)
        self._text_cache = (key, value)
        return value

    # --- serialization -------------------------------------------------------
    def html(self) -> str:
        """Inner HTML."""
        return "".join(_serialize(c) for c in self.children)

    def outer_html(self) -> str:
        return _serialize(self)

    def set_html(self, html_str: str) -> None:
        """Replace children by re-parsing a fragment (jsoup Element.html(str))."""
        for c in self.children:
            c.parent = None
        self.children = []
        for node in parse_fragment(html_str):
            self.append_child(node)

    # --- URL resolution --------------------------------------------------------
    def root(self) -> "Element":
        node = self
        while node.parent is not None:
            node = node.parent
        return node

    def base_uri(self) -> str:
        root = self.root()
        return getattr(root, "_base_uri", "") or ""

    def abs_url(self, attr_key: str) -> str:
        """jsoup ``absUrl``: absolute URL for the attribute or ''.

        ``attr_key`` must be lowercase (every caller passes a lowercase
        literal; attr names are normalized at parse/set time)."""
        val = self.attrs.get(attr_key)
        if not val:
            return ""
        return _resolve_url(self.base_uri(), val)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<{self.tag} {self.attrs}>"


class Document(Element):
    __slots__ = ("_base_uri",)

    def __init__(self, base_uri: str = ""):
        super().__init__("#root")
        self._base_uri = base_uri

    def html_el(self) -> Element:
        return self.get_elements_by_tag("html", include_self=False)[0]

    def head(self) -> Element:
        return self.get_elements_by_tag("head", include_self=False)[0]

    def body(self) -> Element | None:
        # fast path: after parse() the body is a direct child of <html>,
        # and the kernel never detaches it (C1 guards tag == "body"), so
        # the full preorder walk -- whose FIRST body hit is exactly this
        # node whenever it exists -- is only needed for mutated trees
        for c in self.children:
            if c.__class__ is not TextNode and c.tag == "html":
                for c2 in c.children:
                    if c2.__class__ is not TextNode and c2.tag == "body":
                        return c2
        tags = self.get_elements_by_tag("body", include_self=False)
        return tags[0] if tags else None

    def create_element(self, tag: str) -> Element:
        return Element(tag)

    def append_element(self, tag: str) -> Element:
        el = Element(tag)
        self.html_el().append_child(el)
        return el


def _escape_text(s: str) -> str:
    return escape(s, quote=False).replace("\xa0", "&nbsp;")


def _escape_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;").replace("\xa0", "&nbsp;")


def _serialize(node: Element | TextNode) -> str:
    if isinstance(node, TextNode):
        return node.data if node.is_comment else _escape_text(node.data)
    attrs = "".join(f' {k}="{_escape_attr(v)}"' for k, v in node.attrs.items())
    if node.tag in VOID_ELEMENTS:
        return f"<{node.tag}{attrs}>"
    inner = "".join(_serialize(c) for c in node.children)
    return f"<{node.tag}{attrs}>{inner}</{node.tag}>"


# --- fast tokenizer (replaces html.parser's goahead loop) -----------------
# Anchored regexes tried at each '<'; anything unmatched is literal text.
_T_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9:_-]*)\s*>")
_T_START = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9:_-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>"
)
_T_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_T_DECL = re.compile(r"<![^>]*>")
_T_PI = re.compile(r"<\?[^>]*>")
_T_ATTR = re.compile(
    # names must exclude quote chars: the serializer re-emits names
    # verbatim before ="value", and a quote inside a name opens an
    # unterminated quoted run in _T_START's attr chunk on REPARSE --
    # html() would not be a fixed point (hypothesis: parse("<a'='>")
    # once serialized as <a '="'">, which re-parses as literal text)
    r"([^\s=/>\"']+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script\s*>", re.IGNORECASE),
    "style": re.compile(r"</style\s*>", re.IGNORECASE),
}
_HAS_AMP = "&"


from html import unescape as _html_unescape


def _unescape(s: str) -> str:
    return _html_unescape(s) if _HAS_AMP in s else s


class _TreeBuilder:
    """Parses into a synthetic root without implicit html/head/body.

    Custom single-pass tokenizer (html.parser-compatible for the subset
    this engine specifies): entities decoded in text and attribute
    values, script/style bodies taken raw (CDATA), stray '<' is text,
    comments kept as raw nodes (in html(), not text()), doctypes/PIs
    dropped.
    """

    def __init__(self) -> None:
        self.root = Element("#fragment")
        self.stack: list[Element] = [self.root]

    def feed(self, s: str) -> None:
        pos = 0
        n = len(s)
        find = s.find
        # method/global lookups hoisted out of the per-token loop (the
        # loop body runs once per '<' in the document)
        handle_data = self.handle_data
        handle_endtag = self.handle_endtag
        handle_starttag = self.handle_starttag
        end_match = _T_END.match
        start_match = _T_START.match
        comment_match = _T_COMMENT.match
        decl_match = _T_DECL.match
        pi_match = _T_PI.match
        unescape = _unescape
        while pos < n:
            lt = find("<", pos)
            if lt == -1:
                handle_data(unescape(s[pos:]))
                break
            if lt > pos:
                handle_data(unescape(s[pos:lt]))
            # dispatch on the char after '<': an end tag / comment /
            # decl never pays a failed start-tag regex attempt first
            # (the fallthrough order below is unchanged, so recovery
            # for each malformed shape is identical)
            nxt = s[lt + 1] if lt + 1 < n else ""
            if nxt == "/":
                m = end_match(s, lt)
                if m is not None:
                    handle_endtag(m.group(1).lower())
                    pos = m.end()
                    continue
                handle_data("<")
                pos = lt + 1
                continue
            if nxt == "!":
                m = comment_match(s, lt)
                if m is not None:
                    self.handle_comment(m.group(0))
                    pos = m.end()
                    continue
                m = decl_match(s, lt)
                if m is not None:
                    pos = m.end()
                    continue
                handle_data("<")
                pos = lt + 1
                continue
            if nxt == "?":
                m = pi_match(s, lt)
                if m is not None:
                    pos = m.end()
                    continue
                handle_data("<")
                pos = lt + 1
                continue
            m = start_match(s, lt)
            if m is not None:
                tag = m.group(1).lower()
                chunk = m.group(2)
                self_closing = bool(m.group(3))
                # the attr chunk may have swallowed the self-closing '/':
                # it is a marker only when not part of an unquoted value
                if not self_closing and chunk.endswith("/"):
                    prev = chunk[-2] if len(chunk) >= 2 else " "
                    if prev in "\"' \t\n\r":
                        self_closing = True
                        chunk = chunk[:-1]
                # isspace() test instead of strip(): no throwaway string
                # allocation on the (dominant) attribute-free start tag
                # build the attr dict here (first occurrence wins, names
                # lowercased -- jsoup behavior): one dict instead of an
                # intermediate pair list per element
                attr_dict: dict[str, str] = {}
                if chunk and not chunk.isspace():
                    for name, dq, sq, uq in _T_ATTR.findall(chunk):
                        k = name.lower()
                        if k not in attr_dict:
                            attr_dict[k] = unescape(
                                dq if dq else (sq if sq else uq)
                            )
                pos = m.end()
                if self_closing:
                    self.handle_startendtag(tag, attr_dict)
                    continue
                handle_starttag(tag, attr_dict)
                raw = _RAWTEXT_CLOSE.get(tag)
                if raw is not None:  # CDATA content: no tags, no entities
                    mc = raw.search(s, pos)
                    end = mc.start() if mc else n
                    if end > pos:
                        handle_data(s[pos:end])
                    handle_endtag(tag)
                    pos = mc.end() if mc else n
                continue
            m = end_match(s, lt)
            if m is not None:
                handle_endtag(m.group(1).lower())
                pos = m.end()
                continue
            m = comment_match(s, lt)
            if m is not None:
                self.handle_comment(m.group(0))
                pos = m.end()
                continue
            m = decl_match(s, lt) or pi_match(s, lt)
            if m is not None:
                pos = m.end()
                continue
            # lone '<': literal text (html.parser-compatible recovery)
            handle_data("<")
            pos = lt + 1

    def close(self) -> None:
        pass

    @property
    def cur(self) -> Element:
        return self.stack[-1]

    def _close_tag(self, tag: str) -> bool:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return True
        return False

    @staticmethod
    def _raw_element(tag: str, attr_dict: dict) -> Element:
        """Parser-only Element construction: tag is already lowercase
        and ``attr_dict`` is freshly built here, so Element.__init__'s
        re-lower + defensive dict copy are skipped (measured ~1us per
        element across ~50 elements/doc)."""
        el = Element.__new__(Element)
        el.tag = tag
        el.attrs = attr_dict
        el.children = []
        el.parent = None
        el._rev = 0
        el._text_cache = None
        return el

    def handle_starttag(self, tag: str, attr_dict: dict) -> None:
        """``tag`` is already lowercase and ``attr_dict`` is freshly
        built by feed() (lowercased names, first occurrence wins) --
        both normalizations happen at the tokenizer, once."""
        if tag in P_CLOSERS:
            self._close_tag("p")
        if tag == "li":
            self._close_tag("li")
        elif tag in ("dd", "dt"):
            self._close_tag("dd") or self._close_tag("dt")
        el = self._raw_element(tag, attr_dict)
        # raw append: the tree is under construction, no caches to invalidate
        el.parent = self.cur
        self.cur.children.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attr_dict: dict) -> None:
        el = self._raw_element(tag, attr_dict)
        el.parent = self.cur
        self.cur.children.append(el)

    def handle_endtag(self, tag: str) -> None:
        self._close_tag(tag.lower())

    def handle_data(self, data: str) -> None:
        if data:
            node = TextNode(data, self.cur)
            self.cur.children.append(node)

    def handle_comment(self, raw: str) -> None:
        """Comments become raw-data nodes (jsoup keeps them in the tree;
        the reference's innerHTML regexes match inside them)."""
        self.cur.children.append(TextNode(raw, self.cur, is_comment=True))

    def handle_decl(self, decl: str) -> None:  # <!DOCTYPE ...> dropped
        pass


def parse_fragment(html_str: str) -> list[Element | TextNode]:
    builder = _TreeBuilder()
    builder.feed(html_str)
    builder.close()
    nodes = list(builder.root.children)
    for n in nodes:
        n.parent = None
    return nodes


def parse(html_str: str, base_uri: str = "") -> Document:
    """Parse a full HTML document into ``#root > html > (head, body)``."""
    doc = Document(base_uri)
    html_el = Element("html")
    head = Element("head")
    body = Element("body")
    doc.append_child(html_el)
    html_el.append_child(head)
    html_el.append_child(body)

    def distribute(nodes: list[Element | TextNode], *, in_head: bool) -> None:
        for node in nodes:
            if isinstance(node, TextNode):
                if node.data.strip():
                    body.append_child(node)
                continue
            if node.tag == "html":
                distribute(list(node.children), in_head=in_head)
                # carry html-level attributes over
                for k, v in node.attrs.items():
                    html_el.attrs.setdefault(k, v)
            elif node.tag == "head":
                for k, v in node.attrs.items():
                    head.attrs.setdefault(k, v)
                distribute(list(node.children), in_head=True)
            elif node.tag == "body":
                for k, v in node.attrs.items():
                    body.attrs.setdefault(k, v)
                distribute(list(node.children), in_head=False)
            elif node.tag in HEAD_ONLY:
                head.append_child(node)
            elif in_head and node.tag == "script":
                head.append_child(node)
            else:
                body.append_child(node)

    distribute(parse_fragment(html_str), in_head=False)
    return doc
