"""Main-content span extraction over the flat DOM arrays.

The reference stops at tree construction (its only sink is a debug dump,
html-qt/htmltree.cpp:92-98); BASELINE.json's north_star adds the extraction
stage: "apply text-density and link-density boilerplate heuristics to emit
ordered (kind, text, media_ref, offset) spans per document".  The heuristics
here follow the *published* boilerpipe (Kohlschütter et al., WSDM 2010) and
jusText (Pomikálek 2011) ideas in a deterministic, fixture-pinnable form:

1. Walk the DOM in document order, skipping non-content subtrees
   (script/style/head/template/... plus the semantic boilerplate containers
   nav/header/footer/aside).
2. Group text by nearest block-level ancestor -> text blocks.
3. Score each block: word count + link density (words under <a>).
4. Keep blocks with ``link_density <= MAX_LINK_DENSITY`` and
   ``n_words >= MIN_WORDS``; drop the rest as boilerplate.
5. Media elements (img/video/audio/embed/source with a source ref) emit
   ``kind='media'`` spans at their document position, so text and media
   interleave in source order.

The thresholds are the module constants below; the golden fixtures
(FIXTURES.md §5) are pinned to them.
"""

from __future__ import annotations

import re

from .treebuilder import TreeBuilder, parse

# a kept block has at least MIN_WORDS words and at most MAX_LINK_DENSITY
# of them under <a>
MIN_WORDS = 1
MAX_LINK_DENSITY = 0.5

# subtrees that never contribute extractable content
SKIP_SUBTREES = frozenset(
    """#comment #doctype script style template noscript iframe noembed
    noframes select textarea head title datalist""".split()
)

# semantic boilerplate containers (jusText/boilerpipe structural prior)
BOILERPLATE_CONTAINERS = frozenset("nav header footer aside".split())

# block-level grouping tags: a text run belongs to its nearest such ancestor
BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption center dd details dialog
    dir div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6
    header hgroup hr html li main menu nav ol p plaintext pre section summary
    table tbody td tfoot th thead tr ul xmp""".split()
)

MEDIA_TAGS = {
    # tag -> attribute carrying the media reference
    "img": "src",
    "video": "src",
    "audio": "src",
    "embed": "src",
    "source": "src",
    "track": "src",
    "object": "data",
}

# one classification dict instead of up to 6 set probes per DFS node:
# bitmask per known tag (unknown/custom tags -> 0 = plain element)
_C_TEXT, _C_SKIP, _C_MEDIA, _C_BOILER, _C_LINK, _C_BLOCK = 1, 2, 4, 8, 16, 32
_TAG_CLASS: dict[str, int] = {}
_TAG_CLASS["#text"] = _C_TEXT
for _t in SKIP_SUBTREES:
    _TAG_CLASS[_t] = _C_SKIP
for _t in MEDIA_TAGS:
    _TAG_CLASS[_t] = _TAG_CLASS.get(_t, 0) | _C_MEDIA
for _t in BOILERPLATE_CONTAINERS:
    _TAG_CLASS[_t] = _TAG_CLASS.get(_t, 0) | _C_BOILER
_TAG_CLASS["a"] = _TAG_CLASS.get("a", 0) | _C_LINK
for _t in BLOCK_TAGS:
    _TAG_CLASS[_t] = _TAG_CLASS.get(_t, 0) | _C_BLOCK

_WS_COLLAPSE = re.compile(r"[ \t\n\f\r]+")


def _norm(text: str) -> str:
    # fast path: most extracted blocks are already single-spaced.
    # Five memchr/substring scans (each GB/s) beat one alternation-regex
    # search (~20 MB/s measured) for the same "is collapse non-trivial"
    # predicate; the allocating regex sub runs only when it would change
    # something
    if ("\t" not in text and "\n" not in text and "\f" not in text
            and "\r" not in text and "  " not in text):
        return text.strip()
    return _WS_COLLAPSE.sub(" ", text).strip()


def extract_spans(
    tb: TreeBuilder,
) -> list[tuple[str, str | None, str | None]]:
    """DOM arrays -> ordered list of (kind, text, media_ref) spans.

    Single fused pass: the DFS visits nodes in document order, so block
    assembly runs inline at each text/media/block event instead of
    materializing an intermediate event list; the four flush sites below
    (block change, media span, block entry, end) share ``keep``.
    """
    tag = tb.tag
    children = tb.children
    text = tb.text
    attrs = tb.attrs

    spans: list[tuple[str, str | None, str | None]] = []

    def keep(parts: list[str], words: int, link_words: int) -> None:
        # a finished block is a span unless too short or too link-dense
        block_text = _norm("".join(parts))
        if block_text and words >= MIN_WORDS \
                and link_words / (words or 1) <= MAX_LINK_DENSITY:
            spans.append(("text", block_text, None))

    cur_block = -1
    cur_parts: list[str] = []
    cur_link_words = 0
    cur_words = 0

    cls_get = _TAG_CLASS.get
    # iterative DFS with (node, block_id, link_depth, boiler_depth)
    stack: list[tuple[int, int, int, int]] = [(0, 0, 0, 0)]
    while stack:
        nid, block_id, link_depth, boiler_depth = stack.pop()
        cls = cls_get(tag[nid], 0)
        if cls:
            if cls & _C_TEXT:
                if boiler_depth == 0:
                    if block_id != cur_block:
                        # flush: previous block ended
                        if cur_parts:
                            keep(cur_parts, cur_words, cur_link_words)
                            cur_parts = []
                            cur_link_words = 0
                            cur_words = 0
                        cur_block = block_id
                    data = text[nid]
                    cur_parts.append(data)
                    w = len(data.split())
                    cur_words += w
                    if link_depth:
                        cur_link_words += w
                continue
            if cls & _C_SKIP:
                continue
            if cls & _C_MEDIA:
                t = tag[nid]
                ref = next((v for k, v in (attrs[nid] or [])
                            if k == MEDIA_TAGS[t]), None)
                if ref and boiler_depth == 0:
                    alt = next((v for k, v in (attrs[nid] or [])
                                if k == "alt"), None)
                    # flush, then emit the media span at its position
                    if cur_parts:
                        keep(cur_parts, cur_words, cur_link_words)
                        cur_parts = []
                        cur_link_words = 0
                        cur_words = 0
                    cur_block = -1
                    spans.append(("media", _norm(alt) if alt else None, ref))
                # fall through: <object>/<video> children may hold
                # text/sources
            if cls & _C_BOILER:
                boiler_depth += 1
            if cls & _C_LINK:
                link_depth += 1
            if cls & _C_BLOCK:
                block_id = nid
                # entering ANY block element is a span boundary — without
                # this, two text runs of the same block ancestor separated
                # by an intervening (possibly empty) block element would
                # merge (found by the independent recursive oracle,
                # tests/oracle.py)
                if cur_parts:
                    keep(cur_parts, cur_words, cur_link_words)
                    cur_parts = []
                    cur_link_words = 0
                    cur_words = 0
                cur_block = -1
        kids = children[nid]
        if kids:
            if len(kids) == 1:
                stack.append((kids[0], block_id, link_depth, boiler_depth))
            else:
                for ch in reversed(kids):
                    stack.append((ch, block_id, link_depth, boiler_depth))
    # final flush
    if cur_parts:
        keep(cur_parts, cur_words, cur_link_words)
    return spans


def extract_metadata(tb: TreeBuilder) -> tuple[str | None, str | None,
                                               str | None, str | None]:
    """(title, meta_description, canonical_url, lang) from the DOM.

    The head fields every crawl pipeline keeps alongside the body text:
    <title> text, <meta name=description content>, <link rel=canonical
    href>, and the root <html lang> attribute.  First occurrence wins
    (document order); absent -> None.  Pure array walk, no regex over
    raw HTML (a commented-out or script-embedded tag can never match).
    """
    tag = tb.tag
    children = tb.children
    attrs = tb.attrs
    text = tb.text

    title: str | None = None
    description: str | None = None
    canonical: str | None = None
    lang: str | None = None

    stack = [0]
    while stack:
        nid = stack.pop()
        t = tag[nid]
        if t == "html" and lang is None:
            lang = next((v for k, v in (attrs[nid] or [])
                         if k == "lang"), None)
        elif t == "title" and title is None:
            parts = [text[c] or "" for c in children[nid]
                     if tag[c] == "#text"]
            title = _norm("".join(parts)) or None
        elif t == "meta" and description is None:
            a = dict(attrs[nid] or [])
            if a.get("name", "").lower() == "description":
                description = a.get("content")
        elif t == "link" and canonical is None:
            a = dict(attrs[nid] or [])
            if a.get("rel", "").lower() == "canonical":
                canonical = a.get("href")
        if title is None or description is None or canonical is None \
                or lang is None:
            stack.extend(reversed(children[nid]))
    return title, description, canonical, lang


def extract_html(
    html_text: str | bytes,
    *,
    reference_compat: bool = False,
    fragment_context: str | None = None,
) -> list[tuple[str, str | None, str | None]]:
    """One-shot: HTML string OR raw bytes -> ordered (kind, text,
    media_ref) spans: decode, ``parse`` (or ``parse_fragment``), then
    ``extract_spans``.

    Bytes go through WHATWG encoding sniffing (BOM + meta prescan,
    kernel/encoding.py) — the north_star ingests "raw HTML bytes"; the
    reference never decodes (QString in, htmltokenizer.cpp:48-54).
    This is the residue path behind the Spark operators' RE2 batch
    classifier (kernel/trivialbatch.py), and the same tokenizer → tree
    builder run for every input.
    Engine equivalent of HTMLParser::parse (html-qt/htmlparser.cpp:51-58)
    plus the span sink the reference lacks."""
    if isinstance(html_text, (bytes, bytearray, memoryview)):
        from .encoding import decode_html
        html_text = decode_html(bytes(html_text))
    if fragment_context is not None:
        # innerHTML semantics: parse as the contents of the context
        # element (a crawl storing table cells / option lists / svg
        # islands extracts them with their real context, WHATWG 13.4)
        from .treebuilder import parse_fragment
        tb = parse_fragment(html_text, context=fragment_context,
                            reference_compat=reference_compat,
                            collect_errors=False)
    else:
        tb = parse(html_text, reference_compat=reference_compat,
                   collect_errors=False)
    return extract_spans(tb)
