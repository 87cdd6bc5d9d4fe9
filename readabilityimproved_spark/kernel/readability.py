"""Per-document extraction kernel: arc90 Readability scoring + image layer.

A from-scratch re-specification (NOT a translation) of the reference's
two variants, run tree-at-a-time inside Arrow-batched UDFs:

  * text variant  -> ``Readability.java`` (content scoring C1-C12,
    cleanup A1-A8)
  * img variant   -> ``ReadabilityForImg.java`` (same core minus the
    retry, plus image scoring I1-I11)

All integer semantics reproduce Java exactly (see javacompat): truncating
int division, ``(int)`` float casts (NaN -> 0), float32 scale factors,
``String.split`` trailing-empty drops, NaN/Inf link densities.

Intentional reference quirks kept (SURVEY.md §2):
  * ``\\s{2,}`` -> "" (deletion, not single-space) normalization
    (Readability.java:462-470)
  * the ``li - 100`` offset in conditional cleaning (Readability.java:617)
  * inverted img style scoring: centered -> -30, display:none -> +10
    (ReadabilityForImg.java:645-655)
  * the img variant never retries and discards the article DOM; only the
    image map matters there (ReadabilityForImg.java:103) -- our engine
    emits BOTH the article spans and the image spans, interleaved
  * images whose src occurs more than once are dropped
    (ReadabilityForImg.java:62-72)

Deviations (documented; all are crash-avoidance for 100 TB robustness --
the reference would throw NPE/NumberFormatException and kill the run):
  * orphan <img> nodes (no parent chain) skip ancestor propagation
  * unparsable width/height numbers score 0 instead of crashing
  * image output order = first-occurrence document order (the reference
    iterates a HashMap, which is incidental order)
"""

from __future__ import annotations

import datetime as dt
import re
import struct
from dataclasses import dataclass, field

import numpy as np

from .. import patterns as P
from ..dom import BLOCK_ELEMENTS, Document, Element, TextNode, parse
from ..javacompat import comma_segments, java_split, jdiv, jfloat_div, jint
from .dates import DEFAULT_REF_DATE, date_from_url, string2date, time_difference_days

CONTENT_SCORE = "readabilitycontentscore"
IMG_SCORE = "readabilityimgscore"

# float32-faithful comparison constants (Java float literals)
F02 = float(np.float32(0.2))
F025 = float(np.float32(0.25))
F033 = float(np.float32(0.33))
F05 = float(np.float32(0.5))

_BR_BEFORE_P = re.compile(r"(?i)<br[^>]*>[ \t\n\x0B\f\r]*<p")  # Java \s is ASCII
#: serialize-skip guards (dom.contains_markup): the serialize->regex
#: rewrites in prep_document/prep_article are provably identity when the
#: tree cannot emit these markup substrings
#: literal prefixes of every alternation in REGEX_REPLACE_BRS ('<br...')
#: and REGEX_REPLACE_FONTS ('<font...' | '</font...'); '</font' was
#: missing until round 5 -- a comment/attr containing only a close-font
#: token skipped a rewrite the reference performs
_PREP_NEEDLES = ("<br", "<font", "</font")
_PEO_TAGS = frozenset(("img", "embed", "object"))
_CLEAN_COND_TAGS = frozenset(("p", "img", "li", "input"))
# ASCII-only, matching dom.text() / Java \s (nbsp is not whitespace there)
_WS_RUN = re.compile(r"[ \t\n\f\r]+")
# C-speed pieces of the same collapse (see dom._WS_TO_SPACE): translate
# the four non-space ws chars to ' ', then collapse space runs only when
# a "  " substring proves one exists -- identical output, no regex on
# the common path
_WS_TO_SPACE = str.maketrans({"\t": " ", "\n": " ", "\f": " ", "\r": " "})
_SPACE_RUN = re.compile(r"  +")
# Java String.trim() strips chars <= U+0020 from both ends;
# str.strip with an explicit char set is C-speed (vs a regex pass)
_JTRIM_CHARS = "".join(chr(i) for i in range(0x21))
_DIV_TO_P_TAGS = frozenset(
    ("a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")
)


_F32_STRUCT = struct.Struct("<f")
_f32_pack = _F32_STRUCT.pack
_f32_unpack = _F32_STRUCT.unpack


def _f32(x: float) -> float:
    """Round a Python float (or int) to float32 precision.

    struct '<f' performs the same IEEE round-to-nearest-even narrowing
    as Java's (float) cast / np.float32, preserves NaN and +/-Inf, and
    costs ~0.15us vs ~1us for a numpy scalar (and no errstate context,
    ~4us, is needed anywhere: struct never warns). Finite doubles past
    float32 range raise OverflowError in pack; numpy's saturating
    conversion (-> +/-Inf, matching Java) handles that rare case.
    """
    try:
        return _f32_unpack(_f32_pack(x))[0]
    except (OverflowError, struct.error):
        # rare fallback only: suppress numpy's overflow warning so the
        # saturating conversion stays as silent as Java's (float) cast
        with np.errstate(over="ignore"):
            return float(np.float32(x))


def _f32_mul(a: float, b: float) -> float:
    """Java ``float * float`` (sibling threshold 0.2f, C8 scale multiply).

    Computed as float32(round32(a) * round32(b)) in double precision:
    the double product of two float32 values is EXACT (24+24 <= 53
    mantissa bits), so one final float32 rounding reproduces the native
    float32 multiply bit-for-bit -- including 0 * inf -> NaN and
    overflow -> inf propagation, with no numpy warnings to suppress.
    """
    return _f32(_f32(a) * _f32(b))


# --------------------------------------------------------------------------
# score attribute accessors (scores live in DOM attrs, like the reference)
# --------------------------------------------------------------------------

def get_content_score(node: Element | None) -> int:
    if node is None:
        return 0
    # missing attr is the common case on unscored nodes: branch on None
    # instead of paying an int("") ValueError (~1us per raise)
    v = node.attrs.get(CONTENT_SCORE)
    if v is None:
        return 0
    try:
        return int(v)
    except ValueError:
        return 0


def inc_content_score(node: Element, increment: int) -> None:
    # direct dict store: the key is a lowercase literal, set_attr's
    # re-lower is redundant on this hottest write path
    node.attrs[CONTENT_SCORE] = str(get_content_score(node) + increment)


def scale_content_score(node: Element, scale: float) -> None:
    """score = (int)(score * scale); NaN scale -> 0 (Java cast semantics).

    ``contentScore *= scale`` with float scale (Readability.java:805-807)
    promotes the int to FLOAT32 and multiplies in float32 before the int
    narrowing -- float64 here produces +/-1 divergences (e.g. density
    1/3) that can flip the C9 argmax.
    """
    node.attrs[CONTENT_SCORE] = str(jint(_f32_mul(get_content_score(node), scale)))


def get_img_score(node: Element | None) -> int:
    if node is None:
        return 0
    v = node.attrs.get(IMG_SCORE)
    if v is None:
        return 0
    try:
        return int(v)
    except ValueError:
        return 0


def inc_img_score(node: Element, increment: int) -> None:
    node.attrs[IMG_SCORE] = str(get_img_score(node) + increment)


# --------------------------------------------------------------------------
# text helpers (C3, C6, C7)
# --------------------------------------------------------------------------

def elements_by_tag(e: Element, tag: str) -> list[Element]:
    """Descendant elements with tag, EXCLUDING e (Readability.java:818-822)."""
    return e.get_elements_by_tag(tag, include_self=False)


def get_inner_text(e: Element, normalize_spaces: bool) -> str:
    """C3: ``e.text().trim()``; normalized variant DELETES ws runs >= 2
    (the ``\\s{2,}`` -> "" quirk, Readability.java:462-470).

    Our ``text()`` already collapses whitespace runs to single spaces
    (jsoup does the same), so the ``\\s{2,}`` substitution is provably
    the identity here and is skipped. The quirk remains live where it
    operates on RAW strings (functions/sqlgen.normalize_ws_sql).
    """
    return e.text()


def get_char_count(e: Element, s: str = ",") -> int:
    if s == ",":
        # C-speed twin of len(java_split(text, ",")): Java drops
        # trailing empties, so strip trailing commas first; segment
        # count is then separators + 1. Edges: the empty string splits
        # to [""] (length 1), a non-empty all-comma string to nothing
        # (length 0) -- pinned in tests/test_javacompat.py
        text = get_inner_text(e, True)
        t = text.rstrip(",")
        if not t:
            return 1 if not text else 0
        return t.count(",") + 1
    return len(java_split(get_inner_text(e, True), s))


def get_link_density(e: Element) -> float:
    """C7: link text length / total text length; 0/0 -> NaN, x/0 -> Inf.

    Java computes this ENTIRELY in float32 (``float linkLength += int``
    accumulation, then ``linkLength / textLength`` float division,
    Readability.java:509-517) -- e.g. density 1/3 is 0.33333334f, not
    0.3333333333333333; the downstream 0.2f/0.25f/0.33f comparisons and
    the C8 scale multiply see the float32 value.

    Fast path: int accumulation is exact in float32 while the running sum
    stays under 2^24, so the numpy-per-add loop only runs for pathological
    link volumes; the final division is rounded to float32 once.
    """
    links = elements_by_tag(e, "a")
    text_length = len(get_inner_text(e, True))
    link_length = 0
    for link in links:
        link_length += len(get_inner_text(link, True))
    if link_length >= (1 << 24):  # float32 adds may round: replay faithfully
        acc = np.float32(0.0)
        for link in links:
            acc = np.float32(acc + np.float32(len(get_inner_text(link, True))))
        link_length = acc
    if text_length == 0:
        return jfloat_div(float(link_length), 0.0)
    # float32 division via double: double precision exceeds 2p+2 bits
    # for p=24, so the double quotient rounded once to float32 equals
    # the directly-rounded float32 quotient (innocuous double rounding)
    return _f32(_f32(link_length) / _f32(text_length))


#: bounded memo caches for pure regex verdicts over class/id strings --
#: those strings come from a small site-template vocabulary, so the same
#: handful of values is re-scanned thousands of times per corpus. Keyed
#: by the `Variant` object itself (identity hash), so two variants that
#: share a name but not their regexes never read each other's verdicts.
#: Cleared when oversized (wild corpora have unbounded attr vocabularies).
_REGEX_MEMO_MAX = 8192
_CLASS_WEIGHT_CACHES: dict[P.Variant, dict] = {}
_C1_VERDICT_CACHES: dict[P.Variant, dict] = {}
_IMG_CLASSID_CACHE: dict[str, int] = {}


def get_class_weight(e: Element, variant: P.Variant) -> int:
    """C6: class/id vs NEGATIVE/POSITIVE, +/-25 each (range -50..+50)."""
    attrs = e.attrs  # keys are normalized lowercase at parse/set time
    class_name = attrs.get("class", "")
    node_id = attrs.get("id", "")
    if not class_name and not node_id:
        # both patterns are non-empty alternations: cannot match ""
        return 0
    cache = _CLASS_WEIGHT_CACHES.setdefault(variant, {})
    key = (class_name, node_id)
    w = cache.get(key)
    if w is not None:
        return w
    weight = 0
    if class_name:
        if variant.negative.search(class_name):
            weight -= 25
        if variant.positive.search(class_name):
            weight += 25
    if node_id:
        if variant.negative.search(node_id):
            weight -= 25
        if variant.positive.search(node_id):
            weight += 25
    if len(cache) > _REGEX_MEMO_MAX:
        cache.clear()
    cache[key] = weight
    return weight


def initialize_node(node: Element, variant: P.Variant) -> None:
    """C5: tag prior + class weight (Readability.java:242-272)."""
    node.attrs[CONTENT_SCORE] = "0"
    tag = node.tag
    if tag == "div":
        inc_content_score(node, 5)
    elif tag in ("pre", "td", "blockquote"):
        inc_content_score(node, 3)
    elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
        inc_content_score(node, -3)
    elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th") or (
        variant.noscript_minus5 and tag == "noscript"
    ):
        inc_content_score(node, -5)
    inc_content_score(node, get_class_weight(node, variant))


# --------------------------------------------------------------------------
# the kernel
# --------------------------------------------------------------------------

@dataclass
class ExtractionResult:
    spans: list[tuple]  # (kind, text, media_ref, offset)
    images: list[str] = field(default_factory=list)
    top_content_score: int = 0
    status: str = "ok"


class ReadabilityKernel:
    """One document, one kernel instance (mirrors the reference object)."""

    def __init__(
        self,
        html: str,
        base_uri: str = "",
        ref_date: dt.datetime = DEFAULT_REF_DATE,
        variant: str = "img",
    ) -> None:
        self.doc: Document = parse(html, base_uri)
        self.variant = P.IMG_VARIANT if variant == "img" else P.TEXT_VARIANT
        self.ref_date = ref_date
        # src -> occurrence count, insertion-ordered (first occurrence)
        self.pictext: dict[str, int] = {}
        self.body_cache: str | None = None
        self.top_content_score = 0
        self.collect_debug = False
        # scored-DOM snapshot at the reference's dump point (S6,
        # ReadabilityForImg.java:786-791): after paragraph scoring,
        # BEFORE link-density scaling
        self.debug_scores: list[tuple[str, str, str, int]] = []

    # --- P1-P6 ------------------------------------------------------------
    def prep_document(self) -> None:
        doc = self.doc
        if doc.body() is None:
            doc.append_element("body")
        # ONE document walk for scripts AND styles (was two): both are
        # raw-text leaves (their bodies parse as a single text node, so
        # neither can contain the other or a <link>), which makes the
        # removal order between the two sets immaterial -- the surviving
        # tree is identical to the scripts-then-links-then-styles order
        for target in doc.get_elements_by_tags(("script", "style")):
            target.remove()
        for link in elements_by_tag(doc.head(), "link"):
            if link.attr("rel").lower() == "stylesheet":
                link.remove()
        body = doc.body()
        # serialize -> regex -> reparse, but skip the reparse when the
        # rewrite is a no-op: reparse(serialize(t)) == t for every tree
        # this kernel produces (parser-built + retag/remove/move/attr
        # mutations; retagged div->p nodes hold only inline content by
        # the DIV_TO_P gate), so skipping is semantics-preserving and
        # saves the dominant parse cost on <br>/<font>-free documents.
        # Skip even the SERIALIZE when the tree provably cannot emit a
        # '<br'/'<font'/'</font' substring (contains_markup): every
        # alternation of both rewrite patterns opens with one of those
        # literals (REGEX_REPLACE_FONTS matches close tags too), so
        # absence proves identity.
        if body.contains_markup(_PREP_NEEDLES):
            before = body.html()
            html = P.REGEX_REPLACE_BRS.sub("</p><p>", before)
            html = P.REGEX_REPLACE_FONTS.sub(r"<\1span>", html)
            if html != before:
                body.set_html(html)

    # --- C1-C11 (+ I* in the img variant) ----------------------------------
    def grab_article(self, preserve_unlikely_candidates: bool) -> Element:
        doc = self.doc
        variant = self.variant

        # C1 unlikely-candidate pruning + C2 div->p, over a snapshot
        for node in doc.all_elements():
            if not preserve_unlikely_candidates:
                attrs = node.attrs
                # both regexes are non-empty alternations: an element
                # with neither class nor id can never match, so the
                # (dominant) bare-element case skips the regex calls
                unlikely_match_string = (
                    attrs.get("class", "") + attrs.get("id", "") if attrs else ""
                )
                if unlikely_match_string and node.tag != "body":
                    # memoized pure verdict over the class+id string
                    # (the tag check is hoisted -- predicate order among
                    # pure conditions cannot change the outcome)
                    c1 = _C1_VERDICT_CACHES.setdefault(variant, {})
                    hit = c1.get(unlikely_match_string)
                    if hit is None:
                        hit = bool(
                            variant.unlikely.search(unlikely_match_string)
                            and not P.OK_MAYBE_ITS_A_CANDIDATE.search(
                                unlikely_match_string
                            )
                        )
                        if len(c1) > _REGEX_MEMO_MAX:
                            c1.clear()
                        c1[unlikely_match_string] = hit
                    if hit:
                        node.remove()
                        continue
            # C2: the reference regex-scans innerHTML for block/anchor tags
            # (Readability.java:308-321). InnerHTML escapes text ('<' ->
            # &lt;), so the regex matches iff a DESCENDANT ELEMENT carries
            # one of the tags -- checked directly, no serialization.
            if node.tag == "div" and not any(
                e.tag in _DIV_TO_P_TAGS
                for e in node.iter_elements(include_self=False)
            ):
                node.retag("p")

        # C4/C5/C6 paragraph scoring
        all_paragraphs = doc.get_elements_by_tag("p", include_self=False)
        candidates: list[Element] = []
        for node in all_paragraphs:
            parent_node = node.parent
            if parent_node is None:
                continue  # robustness guard; cannot occur in our tree shape
            grand_parent_node = parent_node.parent
            inner_text = get_inner_text(node, True)
            if len(inner_text) < 25:
                continue
            if CONTENT_SCORE not in parent_node.attrs:
                initialize_node(parent_node, variant)
                candidates.append(parent_node)
            if grand_parent_node is not None and CONTENT_SCORE not in grand_parent_node.attrs:
                initialize_node(grand_parent_node, variant)
                candidates.append(grand_parent_node)

            content_score = 1
            content_score += comma_segments(inner_text)
            content_score += min(len(inner_text) // 100, 3)
            inc_content_score(parent_node, content_score)
            if grand_parent_node is not None:
                inc_content_score(grand_parent_node, jdiv(content_score, 2))

        if self.collect_debug:
            self.debug_scores = [
                (n.tag, n.class_name(), n.id(), get_content_score(n))
                for n in doc.all_elements()
                if CONTENT_SCORE in n.attrs
            ]

        # C8 link-density scaling + C9 argmax (first strict max wins)
        top_candidate: Element | None = None
        for candidate in candidates:
            # Java: `1 - getLinkDensity(c)` is a float32 subtraction
            # (Readability.java:382). Double subtraction of two float32
            # values rounded ONCE to float32 equals the native float32
            # subtract (double's 53 bits >= 2p+2 for p=24 -- innocuous
            # double rounding), so the struct path is bit-faithful.
            scale = _f32(1.0 - _f32(get_link_density(candidate)))
            scale_content_score(candidate, scale)
            if top_candidate is None or get_content_score(candidate) > get_content_score(
                top_candidate
            ):
                top_candidate = candidate

        # I1-I10: the image layer runs HERE, before the body fallback,
        # with a possibly-None top candidate (ReadabilityForImg.java:811)
        if variant.name == "img":
            self.grab_img(doc, top_candidate)

        # C10 body fallback
        if top_candidate is None or top_candidate.tag == "body":
            body = doc.body()
            top_candidate = doc.create_element("div")
            top_candidate.set_html(body.html())
            body.set_html("")
            body.append_child(top_candidate)
            initialize_node(top_candidate, variant)

        self.top_content_score = get_content_score(top_candidate)

        # C11 sibling gathering
        article_content = doc.create_element("div")
        article_content.set_attr("id", "readability-content")
        sibling_score_threshold = max(
            10, jint(_f32_mul(get_content_score(top_candidate), 0.2))
        )
        sibling_nodes = (
            top_candidate.parent.child_elements() if top_candidate.parent else [top_candidate]
        )
        for sibling_node in sibling_nodes:
            append = False
            if sibling_node is top_candidate:
                append = True
            if get_content_score(sibling_node) >= sibling_score_threshold:
                append = True
            if sibling_node.tag == "p":
                link_density = get_link_density(sibling_node)
                node_content = get_inner_text(sibling_node, True)
                node_length = len(node_content)
                if node_length > 80 and link_density < F025:
                    append = True
                elif (
                    node_length < 80
                    and link_density == 0.0
                    and P.SENTENCE_FULLMATCH.fullmatch(node_content)
                ):
                    append = True
            if append:
                article_content.append_child(sibling_node)

        # A1-A7
        self.prep_article(article_content)
        return article_content

    # --- A1-A7 --------------------------------------------------------------
    #: tags the prep_article passes probe; collected in ONE snapshot walk
    _PREP_ARTICLE_TAGS = frozenset(
        ("form", "object", "h1", "h2", "h3", "h4", "h5", "h6", "iframe",
         "table", "ul", "div", "p")
    )

    def prep_article(self, article_content: Element) -> None:
        self._clean_styles(article_content)
        # serialize only when a '<br' substring can exist (see
        # prep_document): REGEX_KILL_BREAKS opens with the literal '<br'
        if article_content.contains_markup(("<br",)):
            before = article_content.html()
            killed = P.REGEX_KILL_BREAKS.sub("<br />", before)
            if killed != before:  # skip no-op reparse (see prep_document)
                article_content.set_html(killed)
        # ONE preorder snapshot replaces the ~10 per-tag subtree walks
        # the passes below performed (taken AFTER the kill-breaks
        # reparse, which rebuilds the children). Equivalence: every
        # pass only REMOVES nodes, so any element a later per-tag walk
        # would have found is in the snapshot, and processing a node an
        # earlier pass already detached is outcome-identical — its
        # predicates read only its own (intact) subtree and remove() on
        # a detached node is a no-op. The single exception is the
        # h2 COUNT gate, which must count only still-attached h2s
        # (the reference counts after the form/object/h1 cleans).
        groups: dict[str, list[Element]] = {
            t: [] for t in self._PREP_ARTICLE_TAGS
        }
        for el in article_content.iter_elements(include_self=False):
            if el.tag in groups:
                groups[el.tag].append(el)

        def attached(node: Element) -> bool:
            p = node.parent
            while p is not None:
                if p is article_content:
                    return True
                p = p.parent
            return False

        self._clean_nodes(groups["form"], "form")
        self._clean_nodes(groups["object"], "object")
        self._clean_nodes(groups["h1"], "h1")
        if sum(1 for h in groups["h2"] if attached(h)) == 1:
            self._clean_nodes(groups["h2"], "h2")
        self._clean_nodes(groups["iframe"], "iframe")
        # A4 header cleaning over the h1..h6 snapshot lists concatenated
        # per level — the same level-then-preorder order the original
        # per-level walks produced
        for header in self._merge_preorder(groups, self._HEADER_TAGS):
            if (
                get_class_weight(header, self.variant) < 0
                or get_link_density(header) > F033
            ):
                header.remove()
        self._clean_conditionally_nodes(groups["table"], "table")
        self._clean_conditionally_nodes(groups["ul"], "ul")
        self._clean_conditionally_nodes(groups["div"], "div")
        for paragraph in groups["p"]:
            # one walk for all three counts (was 3 subtree traversals)
            counts = paragraph.count_descendant_tags(_PEO_TAGS)
            if (
                counts["img"] == 0
                and counts["embed"] == 0
                and counts["object"] == 0
                and not get_inner_text(paragraph, False)
            ):
                paragraph.remove()
        # re-probe: the cleans above may have removed the only <br>s
        if article_content.contains_markup(("<br",)):
            before = article_content.html()
            debreaked = _BR_BEFORE_P.sub("<p", before)
            if debreaked != before:  # skip no-op reparse (see prep_document)
                article_content.set_html(debreaked)

    @staticmethod
    def _merge_preorder(
        groups: dict[str, list["Element"]], tags: tuple
    ) -> list["Element"]:
        """The snapshot lists are each in preorder; per-tag processing
        order within _clean_headers never matters (each predicate reads
        only its own subtree), so a simple concatenation suffices."""
        out: list[Element] = []
        for t in tags:
            out.extend(groups[t])
        return out

    def _clean_styles(self, e: Element | None) -> None:
        if e is None:
            return
        # iterative over the same element set the old recursion visited
        # (e plus every descendant element): no per-level child_elements
        # list allocations, no Python call stack
        stack = [e]
        while stack:
            node = stack.pop()
            node.attrs.pop("style", None)
            for c in node.children:
                if c.__class__ is not TextNode:
                    stack.append(c)

    def _clean(self, e: Element, tag: str) -> None:
        """A3: drop all <tag>; video embeds survive (Readability.java:575-589)."""
        self._clean_nodes(elements_by_tag(e, tag), tag)

    @staticmethod
    def _clean_nodes(nodes: list[Element], tag: str) -> None:
        """_clean over a pre-collected snapshot list (see prep_article's
        one-walk equivalence note)."""
        is_embed = tag in ("object", "embed", "iframe")
        for target in nodes:
            if is_embed and P.VIDEO.search(target.outer_html()):
                continue
            target.remove()

    _HEADER_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")

    def _clean_headers(self, e: Element) -> None:
        # ONE subtree walk for all six header levels (was six walks).
        # Equivalent to the per-level loops: each header's predicate
        # (class weight, link density) reads only its own subtree, and
        # removing a header detaches any nested header along with it --
        # a later removal of an already-detached node is a no-op either
        # way, so processing in document order instead of level order
        # cannot change the surviving tree.
        for header in e.get_elements_by_tags(self._HEADER_TAGS):
            if (
                get_class_weight(header, self.variant) < 0
                or get_link_density(header) > F033
            ):
                header.remove()

    def _clean_conditionally(self, e: Element, tag: str) -> None:
        """A5 with the ``li - 100`` reference quirk (Readability.java:597-656)."""
        self._clean_conditionally_nodes(elements_by_tag(e, tag), tag)

    def _clean_conditionally_nodes(
        self, nodes: list[Element], tag: str
    ) -> None:
        """_clean_conditionally over a pre-collected snapshot list (see
        prep_article's one-walk equivalence note: predicates read only
        the node's own subtree, which detachment preserves)."""
        for node in nodes:
            weight = get_class_weight(node, self.variant)
            if weight < 0:
                node.remove()
            elif get_char_count(node, ",") < 10:
                counts = node.count_descendant_tags(_CLEAN_COND_TAGS)
                p = counts["p"]
                img = counts["img"]
                li = counts["li"] - 100
                input_count = counts["input"]
                embed_count = 0
                for embed in elements_by_tag(node, "embed"):
                    if not P.VIDEO.search(embed.abs_url("src")):
                        embed_count += 1
                link_density = get_link_density(node)
                content_length = len(get_inner_text(node, True))
                to_remove = False
                if img > p:
                    to_remove = True
                elif li > p and tag not in ("ul", "ol"):
                    to_remove = True
                elif input_count > p // 3:
                    to_remove = True
                elif content_length < 25 and (img == 0 or img > 2):
                    to_remove = True
                elif weight < 25 and link_density > F02:
                    to_remove = True
                elif weight > 25 and link_density > F05:
                    to_remove = True
                elif (embed_count == 1 and content_length < 75) or embed_count > 1:
                    to_remove = True
                if to_remove:
                    node.remove()

    # --- I1-I11: the image layer ---------------------------------------------
    @staticmethod
    def _check_strong(node: Element) -> Element:
        """I2a: <strong> is skipped in favor of its parent
        (ReadabilityForImg.java:685-692)."""
        if node.tag == "strong" and node.parent is not None:
            return node.parent
        return node

    @staticmethod
    def _img_src(node: Element) -> str | None:
        """src resolution order: abs data-src, else abs src
        (ReadabilityForImg.java:529-534)."""
        attrs = node.attrs
        if attrs.get("data-src"):
            return node.abs_url("data-src")
        if attrs.get("src"):
            return node.abs_url("src")
        return None

    def _estimate_width_and_height(self, node: Element) -> int:
        """I5 width/height bucket scoring (ReadabilityForImg.java:275-365)."""
        score = 0
        attrs = node.attrs
        width = attrs.get("width", "").replace("auto", "")
        height = attrs.get("height", "").replace("auto", "")
        if not width and not height:
            style_str = attrs.get("style", "")
            m = P.STYLE_WIDTH.search(style_str)
            if m:
                if "%" in m.group():
                    return -100
                d = P.DIGITS.search(m.group())
                if d:
                    width = d.group()
            m = P.STYLE_HEIGHT.search(style_str)
            if m:
                if "%" in m.group():
                    return -100
                d = P.DIGITS.search(m.group())
                if d:
                    height = d.group()

        def _px(v: str) -> int | None:
            try:
                return int(P.PX_UNIT.sub("", v))
            except ValueError:
                return None  # deviation: reference would crash here

        if width and height and "%" not in width and "%" not in height:
            w, h = _px(width), _px(height)
            if w is None or h is None:
                return 0
            if w <= 100 and h <= 100:
                score -= 500
            elif w < 150 and h < 150:
                score -= 50 + (300 - w - h)
            elif w < 200 and h < 200:
                score -= 25
            elif w < 100 or h < 100:
                score -= 30
            elif w < 150 or h < 150:
                score -= 10
            elif (w > 300 or h > 300) and (w + h) > 550:
                score += jint(0.5 * (w + h - 550))
        elif width and "%" not in width:
            w = _px(width)
            if w is None:
                return 0
            if w < 100:
                score -= 25
            elif w < 150:
                score -= 15
            elif w > 400:
                score += 15
        elif height and "%" not in height:
            h = _px(height)
            if h is None:
                return 0
            if h < 100:
                score -= 25
            elif h < 150:
                score -= 15
            elif h > 400:
                score += 15
        elif (width and "%" in width) or (height and "%" in height):
            score -= 100
        if score > 40:
            score = 40
        return score

    def _initialize_img_score(self, node: Element) -> None:
        """I3 ancestor scoring (ReadabilityForImg.java:399-510)."""
        node.attrs[IMG_SCORE] = "0"
        tag = node.tag
        if tag in ("p", "article"):
            inc_img_score(node, 7)
        elif tag in ("div", "span", "figure"):
            inc_img_score(node, 5)
        elif tag in (
            "address", "ol", "ul", "dl", "dd", "dt", "li", "form", "td",
            "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6", "th",
            "noscript",
        ):
            inc_img_score(node, -10)
        elif tag == "a":
            if node.has_attr("href") and node.abs_url("href"):
                img_name = node.attr("href")
                if img_name:
                    imgs = node.get_elements_by_tag("img")
                    if len(imgs) == 1:
                        img_node = imgs[0]
                        src = img_node.attr("src")
                        if src and src == img_name:
                            inc_img_score(node, 30)
                        elif src and (img_name in src or src in img_name):
                            inc_img_score(node, 15)
                        elif img_name.endswith((".jpg", ".jpeg", ".gif", ".png")):
                            inc_img_score(node, 10)
                        elif any(
                            x in img_name
                            for x in (".jpg?", ".jpeg?", ".gif?", ".png?")
                        ):
                            inc_img_score(node, 5)
                        elif any(
                            x in img_name
                            for x in (".jpg%", ".jpeg%", ".gif%", ".png%")
                        ):
                            inc_img_score(node, 5)
                        else:
                            inc_img_score(node, -150)
                    else:
                        inc_img_score(node, -20)
        elif tag == "body":
            return  # body skips all attribute scoring (ReadabilityForImg.java:457-458)

        attrs = node.attrs
        attr_score = 0
        attr_score += self._estimate_width_and_height(node)
        style_attr = attrs.get("style", "")
        if style_attr:
            if P.IMGPARENT_CANDIDATES.search(style_attr):
                attr_score += 10
            if P.IMG_UNLIKELY_CANDIDATES.search(style_attr):
                attr_score -= 200
        align_attr = attrs.get("align", "")
        if align_attr:
            if P.IMGPARENT_CANDIDATES.search(align_attr):
                attr_score += 10
            else:
                attr_score -= 10
        # class + " " + id: never empty thanks to the separator (reference
        # quirk, ReadabilityForImg.java:491-493) -- always evaluated;
        # the three-pattern verdict is a pure function of the string and
        # memoized (template vocabularies repeat heavily)
        class_name = attrs.get("class", "") + " " + attrs.get("id", "")
        delta = _IMG_CLASSID_CACHE.get(class_name)
        if delta is None:
            delta = 0
            if P.NEGATIVE_IMG.search(class_name):
                delta -= 15
            if P.POSITIVE_IMG.search(class_name):
                delta += 15
            if P.REMOVE_IMG.search(class_name):
                delta -= 40
            if len(_IMG_CLASSID_CACHE) > _REGEX_MEMO_MAX:
                _IMG_CLASSID_CACHE.clear()
            _IMG_CLASSID_CACHE[class_name] = delta
        attr_score += delta
        inc_img_score(node, attr_score + get_content_score(node))

    def _init_img_tag_score(self, node: Element) -> None:
        """I4 img tag scoring with date distance (ReadabilityForImg.java:517-658)."""
        img_score = 0
        src_img = self._img_src(node)
        img_time = date_from_url(src_img, self.ref_date)
        if src_img:
            if P.NEGATIVE_IMG.search(src_img):
                img_score -= 25
            if P.POSITIVE_IMG.search(src_img):
                img_score += 25
            if P.REMOVE_IMG.search(src_img):
                img_score -= 60
            if img_time:
                img_date = string2date(img_time)
                pub_time = date_from_url(node.base_uri(), self.ref_date)
                if pub_time:
                    pub_date = string2date(pub_time)
                    if img_date is not None and pub_date is not None:
                        d = time_difference_days(img_date, pub_date)
                        if 15 < d < 30:
                            img_score -= d
                        elif d > 30:
                            img_score -= 40
                        elif 0 <= d < 1:
                            img_score += 30
                        elif 0 <= d < 3:
                            img_score += 20
                        elif 0 <= d < 7:
                            img_score += 10
                else:
                    # reference uses new Date() here; we use ref_date
                    if img_date is not None:
                        d = time_difference_days(img_date, self.ref_date)
                        if 15 < d < 30:
                            img_score -= jdiv(d, 3)
                        elif d > 30:
                            img_score -= 20
                        elif 0 <= d < 1:
                            img_score += 30
                        elif 0 <= d < 3:
                            img_score += 20
                        elif 0 <= d < 7:
                            img_score += 10
        else:
            img_score -= 500

        attrs = node.attrs
        alt_attr = attrs.get("alt", "") + attrs.get("title", "")
        if alt_attr and len(alt_attr) < 30:
            if P.NEGATIVE_IMG.search(alt_attr):
                img_score -= 10
            if P.POSITIVE_IMG.search(alt_attr):
                img_score += 10
            if P.REMOVE_IMG.search(alt_attr):
                img_score -= 40

        img_score += self._estimate_width_and_height(node)

        align_attr = attrs.get("align", "")
        if align_attr:
            if P.IMGPARENT_CANDIDATES.search(align_attr):
                img_score += 10
            else:
                img_score -= 10

        if attrs.get("href"):
            img_score -= 200

        # the reference's inverted style scoring, kept as-is
        # (ReadabilityForImg.java:645-655): centered -> -30, display:none -> +10
        style_attr = attrs.get("style", "")
        if style_attr and len(style_attr) < 30:
            if P.IMGPARENT_CANDIDATES.search(style_attr):
                img_score -= 30
            if P.IMG_UNLIKELY_CANDIDATES.search(style_attr):
                img_score += 10
        inc_img_score(node, img_score)

    def _count_pic(self, src: str | None) -> None:
        if src is None:
            return
        self.pictext[src] = self.pictext.get(src, 0) + 1

    def grab_img(self, document: Document, text: Element | None) -> None:
        """I1-I10 (ReadabilityForImg.java:881-1111)."""
        img_tags = document.get_elements_by_tag("img", include_self=False)
        if not img_tags:
            return
        text_score = 0
        if text is not None:
            text_score = get_content_score(text)
            # I7 text-node promotion
            if (
                text_score > 50
                and text.has_parent()
                and get_content_score(text.parent) > 0.7 * text_score
            ):
                text = text.parent
            text_score = get_content_score(text)

        candidates: list[Element] = []
        for node in img_tags:
            src = node.attr("src")
            data_src = node.attr("data-src")
            if not (
                (src and not src.startswith("data:image"))
                or (data_src and not data_src.startswith("data:image"))
            ):
                continue
            candidates.append(node)

            # I2 ancestor normalization
            parent_node = (
                self._check_strong(node.parent) if node.has_parent() else None
            )
            if parent_node is None:
                # deviation: the reference NPEs on orphan imgs
                if IMG_SCORE not in node.attrs:
                    node.attrs[IMG_SCORE] = "0"
                    self._init_img_tag_score(node)
                continue
            grand_parent_node = (
                self._check_strong(parent_node.parent)
                if parent_node.has_parent()
                else None
            )
            if (
                grand_parent_node is not None
                and parent_node.tag == grand_parent_node.tag
                and len(parent_node.attrs) != 0
                and parent_node.attrs == grand_parent_node.attrs
            ):
                grand_parent_node = grand_parent_node.parent
            great_grand_parent_node = (
                grand_parent_node.parent
                if grand_parent_node is not None and grand_parent_node.has_parent()
                else None
            )
            if (
                great_grand_parent_node is not None
                and grand_parent_node is not None
                and great_grand_parent_node.tag == grand_parent_node.tag
                and len(great_grand_parent_node.attrs) != 0
                and great_grand_parent_node.attrs == grand_parent_node.attrs
            ):
                great_grand_parent_node = great_grand_parent_node.parent

            # I3 ancestor scoring (once per node, scores persist in attrs)
            if IMG_SCORE not in parent_node.attrs:
                self._initialize_img_score(parent_node)
            if grand_parent_node is not None and IMG_SCORE not in grand_parent_node.attrs:
                self._initialize_img_score(grand_parent_node)
            if (
                great_grand_parent_node is not None
                and IMG_SCORE not in great_grand_parent_node.attrs
            ):
                self._initialize_img_score(great_grand_parent_node)

            # I4 tag scoring
            if IMG_SCORE not in node.attrs:
                node.attrs[IMG_SCORE] = "0"
                self._init_img_tag_score(node)

            # I6 score propagation: parent + grandparent + ggp/2
            inc_img_score(node, get_img_score(parent_node))
            if grand_parent_node is not None:
                inc_img_score(node, get_img_score(grand_parent_node))
            if great_grand_parent_node is not None:
                inc_img_score(node, jdiv(get_img_score(great_grand_parent_node), 2))

            # deep-nesting bonus (ReadabilityForImg.java:973-982)
            if (
                grand_parent_node is not None
                and great_grand_parent_node is not None
                and get_img_score(node) >= 30
                and get_content_score(great_grand_parent_node)
                + get_content_score(grand_parent_node)
                == 0
                and len(grand_parent_node.sibling_elements())
                + len(great_grand_parent_node.sibling_elements())
                < 1
            ):
                ggp_parent = great_grand_parent_node.parent
                if get_content_score(ggp_parent) > 0:
                    inc_img_score(node, jdiv(get_img_score(ggp_parent), 2))
                elif ggp_parent is not None and get_content_score(ggp_parent.parent) > 0:
                    inc_img_score(node, jdiv(get_img_score(ggp_parent.parent), 2))

        if not candidates:
            return

        # I8 argmax + early exit
        top_candidate: Element | None = None
        for candidate in candidates:
            if top_candidate is None or get_img_score(candidate) > get_img_score(
                top_candidate
            ):
                top_candidate = candidate
        top_score = get_img_score(top_candidate)
        if top_score < 30:
            return

        # I9 same-depth bonus
        if text is not None and any(
            img is top_candidate for img in text.get_elements_by_tag("img")
        ):
            parent_node = top_candidate.parent
            grand_parent_node = parent_node.parent if parent_node else None
            if (
                parent_node is not None
                and grand_parent_node is not None
                and parent_node.tag == grand_parent_node.tag
                and parent_node.attrs == grand_parent_node.attrs
            ):
                grand_parent_node = grand_parent_node.parent
            great_grand_parent_node = (
                grand_parent_node.parent if grand_parent_node else None
            )
            if (
                great_grand_parent_node is not None
                and grand_parent_node is not None
                and great_grand_parent_node.tag == grand_parent_node.tag
                and great_grand_parent_node.attrs == grand_parent_node.attrs
            ):
                great_grand_parent_node = great_grand_parent_node.parent
            if great_grand_parent_node is not None:
                add_score_times = 0
                for node in great_grand_parent_node.get_elements_by_tag("img"):
                    p3 = node.parent
                    p3 = p3.parent if p3 else None
                    p3 = p3.parent if p3 else None
                    if p3 is great_grand_parent_node:
                        inc_img_score(node, 5)
                        add_score_times += 1
                        p2 = node.parent.parent if node.parent else None
                        if p2 is grand_parent_node:
                            inc_img_score(node, 10)
                if add_score_times == 1:
                    inc_img_score(top_candidate, -15)

        # I10 final selection
        top_score = get_img_score(top_candidate)
        top_src = self._img_src(top_candidate) or ""
        if top_score > 50:
            for candidate in candidates:
                src_img = self._img_src(candidate) or ""
                cand_score = get_img_score(candidate)
                if (cand_score > 80 or top_score - cand_score < 20) and len(
                    top_src
                ) == len(src_img):
                    inc_img_score(candidate, jint(0.5 * (top_score - cand_score)))
                if (
                    candidate is not top_candidate
                    and get_img_score(candidate) > 100
                    and candidate.class_name()
                    and top_candidate.class_name()
                    and candidate.class_name() == top_candidate.class_name()
                ):
                    inc_img_score(
                        candidate,
                        min(len(java_split(candidate.class_name(), " ")) * 6, 20),
                    )
                cand_score = get_img_score(candidate)
                if top_score < 100:
                    if cand_score > 0.75 * top_score and top_score - cand_score < 20:
                        self._count_pic(src_img)
                elif (
                    cand_score > top_score - max(jdiv(text_score, 3), 0.3 * top_score)
                    or cand_score > 200
                ):
                    self._count_pic(src_img)

    # --- output ------------------------------------------------------------
    def accepted_images(self) -> list[str]:
        """I11: srcs with occurrence count == 1, first-occurrence order."""
        return [src for src, n in self.pictext.items() if n == 1 and src]


def _emit_spans(
    article: Element, images: list[str]
) -> list[tuple[str, str | None, str | None, int]]:
    """Serialize the article + accepted images to the output span sequence.

    One 'text' span per lowest-level block run (paragraph-sized units, the
    reference's scoring granularity, Readability.java:328-371); 'image'
    spans are emitted inline where the accepted <img> sits, preserving
    interleaving. Accepted images never reached in the article (grabImg
    scans the whole document, ReadabilityForImg.java:882) are appended
    afterward in first-occurrence order.
    """
    image_set = set(images)
    emitted: set[str] = set()
    out: list[tuple[str, str | None, str | None]] = []
    parts: list[str] = []

    def flush() -> None:
        if parts:
            txt = "".join(parts).translate(_WS_TO_SPACE)
            if "  " in txt:
                txt = _SPACE_RUN.sub(" ", txt)
            txt = txt.strip(_JTRIM_CHARS)
            parts.clear()
            if txt:
                out.append(("text", txt, None))

    def walk(e: Element) -> None:
        for c in e.children:
            if isinstance(c, TextNode):
                if not c.is_comment:
                    parts.append(c.data)
                continue
            if c.tag == "img":
                src = ReadabilityKernel._img_src(c)
                if src in image_set and src not in emitted:
                    flush()
                    out.append(("image", None, src))
                    emitted.add(src)
                continue
            if c.tag in BLOCK_ELEMENTS:
                flush()
                walk(c)
                flush()
            else:
                walk(c)

    walk(article)
    flush()

    for src in images:
        if src not in emitted:
            out.append(("image", None, src))
            emitted.add(src)

    return [(kind, text, ref, i) for i, (kind, text, ref) in enumerate(out)]


def debug_scored_nodes(
    html: str,
    base_uri: str = "",
    ref_date: dt.datetime = DEFAULT_REF_DATE,
    variant: str = "img",
) -> list[tuple[str, str, str, int]]:
    """S6: the scored-DOM intermediate as rows (tag, class, id, score),
    captured at the reference's debug-dump point (pre-scaling)."""
    try:
        kernel = ReadabilityKernel(html, base_uri, ref_date, variant)
        kernel.collect_debug = True
        kernel.prep_document()
        kernel.grab_article(preserve_unlikely_candidates=False)
        return kernel.debug_scores
    except Exception:
        return []


def extract_document(
    html: str,
    base_uri: str = "",
    ref_date: dt.datetime = DEFAULT_REF_DATE,
    variant: str = "img",
) -> ExtractionResult:
    """Run the full per-document pipeline; never raises (status records errors)."""
    try:
        kernel = ReadabilityKernel(html, base_uri, ref_date, variant)
        if variant == "text":
            # C12 retry loop (Readability.java:62-101); iterative, not recursive
            body = kernel.doc.body()
            kernel.body_cache = body.html() if body is not None else ""
            kernel.prep_document()
            article = kernel.grab_article(preserve_unlikely_candidates=False)
            if not get_inner_text(article, False):
                kernel.doc.body().set_html(kernel.body_cache)
                kernel.prep_document()
                article = kernel.grab_article(preserve_unlikely_candidates=True)
                if not get_inner_text(article, False):
                    article.set_html(
                        "<p>Sorry, readability was unable to parse this page"
                        " for content.</p>"
                    )
        else:
            # the img variant never retries (ReadabilityForImg.java:103)
            kernel.prep_document()
            article = kernel.grab_article(preserve_unlikely_candidates=False)
        images = kernel.accepted_images() if variant == "img" else []
        spans = _emit_spans(article, images)
        return ExtractionResult(
            spans=spans,
            images=images,
            top_content_score=kernel.top_content_score,
            status="ok",
        )
    except RecursionError:
        return ExtractionResult(spans=[], status="oversize")
    except Exception as exc:  # per-doc isolation: one bad doc never kills a batch
        return ExtractionResult(spans=[], status=f"error:{type(exc).__name__}")
