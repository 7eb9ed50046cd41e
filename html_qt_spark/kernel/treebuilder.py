"""WHATWG HTML5 tree construction over flat parent-pointer arrays.

The reference implements only 2 of 23 insertion modes (Initial, BeforeHTML —
html-qt/htmlparser.cpp:19-41; the other 21 are the accept-and-ignore base
class htmlabstractphase.cpp:59-92) and has hooks but no code for the active
formatting elements list and the adoption agency algorithm (nearest hook:
``reparentChildren``, html-qt/htmltree.cpp:126-132).  This module implements
the full text-affecting tree-construction algorithm from the public WHATWG
spec (the reference cites it directly, e.g. htmltokenizer.cpp:109), as
BASELINE.json's north_star requires: insertion modes, active formatting
elements, adoption agency, foster parenting, implied end tags, and the
"reset the insertion mode appropriately" procedure.

Storage is columnar, not object-per-node (north_star: "lightweight DOM
arrays (parent-pointer + tag/attr columns, no per-row Python objects)"):
parallel Python lists ``tag / parent / children / attrs / text`` indexed by
int node id, mirroring the reference's ``HTMLTree`` ownership model
(html-qt/htmltree.h:58-95) with the open-elements stack as a transient int
list (htmltree.h:94).  Text is stored in dedicated ``#text`` nodes (the
reference accumulates text on elements, htmltree.cpp:115-119; we keep real
text nodes so document order between text and child elements survives —
required for ordered span emission).

Node sentinel tags: ``#document``, ``#text``, ``#comment``, ``#doctype``.
"""

from __future__ import annotations

import re

from .tokenizer import TEXT_STATES, HTMLTokenizer

# -------------------------------------------------------------- categories

FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

# WHATWG "special" category (HTML namespace subset; foreign content is
# handled as plain elements).
SPECIAL = frozenset(
    """address applet area article aside base basefont bgsound blockquote body
    br button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input isindex li link listing main
    marquee menu menuitem meta nav noembed noframes noscript object ol p param
    plaintext pre script section select source style summary table tbody td
    template textarea tfoot th thead title tr track ul wbr xmp""".split()
)

_SCOPE_DEFAULT = frozenset(
    "applet caption html table td th marquee object template "
    # foreign integration points are scope terminators (WHATWG 13.2.4.2)
    "mi mo mn ms mtext annotation-xml foreignObject".split()
)
_SCOPE_LIST_ITEM = _SCOPE_DEFAULT | {"ol", "ul"}
_SCOPE_BUTTON = _SCOPE_DEFAULT | {"button"}
_SCOPE_TABLE = frozenset({"html", "table", "template"})

IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
IMPLIED_END_THOROUGH = IMPLIED_END | frozenset(
    "caption colgroup tbody td tfoot th thead tr".split()
)

# block elements that close an open <p> (in-body start-tag group)
_P_CLOSERS = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer header hgroup main menu nav ol p
    section summary ul""".split()
)
_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())

_TABLE_CTX = frozenset("table tbody tfoot thead tr".split())

# in-body start AND end tags dispatch through the per-tag handler dicts
# _IN_BODY_START / _IN_BODY_END (built after the class body); anything
# not in the dict takes the default path.

# WHATWG 13.2.6.4.1 quirks-mode doctype tables (compared lowercase)
_QUIRKS_PUBLIC_EXACT = frozenset(s.lower() for s in (
    "-//W3O//DTD W3 HTML Strict 3.0//EN//",
    "-/W3C/DTD HTML 4.0 Transitional/EN",
    "HTML",
))
_QUIRKS_PUBLIC_PREFIXES = tuple(s.lower() for s in (
    "+//Silmaril//dtd html Pro v0r11 19970101//",
    "-//AS//DTD HTML 3.0 asWedit + extensions//",
    "-//AdvaSoft Ltd//DTD HTML 3.0 asWedit + extensions//",
    "-//IETF//DTD HTML 2.0 Level 1//",
    "-//IETF//DTD HTML 2.0 Level 2//",
    "-//IETF//DTD HTML 2.0 Strict Level 1//",
    "-//IETF//DTD HTML 2.0 Strict Level 2//",
    "-//IETF//DTD HTML 2.0 Strict//",
    "-//IETF//DTD HTML 2.0//",
    "-//IETF//DTD HTML 2.1E//",
    "-//IETF//DTD HTML 3.0//",
    "-//IETF//DTD HTML 3.2 Final//",
    "-//IETF//DTD HTML 3.2//",
    "-//IETF//DTD HTML 3//",
    "-//IETF//DTD HTML Level 0//",
    "-//IETF//DTD HTML Level 1//",
    "-//IETF//DTD HTML Level 2//",
    "-//IETF//DTD HTML Level 3//",
    "-//IETF//DTD HTML Strict Level 0//",
    "-//IETF//DTD HTML Strict Level 1//",
    "-//IETF//DTD HTML Strict Level 2//",
    "-//IETF//DTD HTML Strict Level 3//",
    "-//IETF//DTD HTML Strict//",
    "-//IETF//DTD HTML//",
    "-//Metrius//DTD Metrius Presentational//",
    "-//Microsoft//DTD Internet Explorer 2.0 HTML Strict//",
    "-//Microsoft//DTD Internet Explorer 2.0 HTML//",
    "-//Microsoft//DTD Internet Explorer 2.0 Tables//",
    "-//Microsoft//DTD Internet Explorer 3.0 HTML Strict//",
    "-//Microsoft//DTD Internet Explorer 3.0 HTML//",
    "-//Microsoft//DTD Internet Explorer 3.0 Tables//",
    "-//Netscape Comm. Corp.//DTD HTML//",
    "-//Netscape Comm. Corp.//DTD Strict HTML//",
    "-//O'Reilly and Associates//DTD HTML 2.0//",
    "-//O'Reilly and Associates//DTD HTML Extended 1.0//",
    "-//O'Reilly and Associates//DTD HTML Extended Relaxed 1.0//",
    "-//SQ//DTD HTML 2.0 HoTMetaL + extensions//",
    "-//SoftQuad Software//DTD HoTMetaL PRO 6.0::19990601::"
    "extensions to HTML 4.0//",
    "-//SoftQuad//DTD HoTMetaL PRO 4.0::19971010::"
    "extensions to HTML 4.0//",
    "-//Spyglass//DTD HTML 2.0 Extended//",
    "-//Sun Microsystems Corp.//DTD HotJava HTML//",
    "-//Sun Microsystems Corp.//DTD HotJava Strict HTML//",
    "-//W3C//DTD HTML 3 1995-03-24//",
    "-//W3C//DTD HTML 3.2 Draft//",
    "-//W3C//DTD HTML 3.2 Final//",
    "-//W3C//DTD HTML 3.2//",
    "-//W3C//DTD HTML 3.2S Draft//",
    "-//W3C//DTD HTML 4.0 Frameset//",
    "-//W3C//DTD HTML 4.0 Transitional//",
    "-//W3C//DTD HTML Experimental 19960712//",
    "-//W3C//DTD HTML Experimental 970421//",
    "-//W3C//DTD W3 HTML//",
    "-//W3O//DTD W3 HTML 3.0//",
    "-//WebTechs//DTD Mozilla HTML 2.0//",
    "-//WebTechs//DTD Mozilla HTML//",
))
# quirks only when the SYSTEM id is absent; limited-quirks when present
_QUIRKS_NO_SYSTEM_PREFIXES = tuple(s.lower() for s in (
    "-//W3C//DTD HTML 4.01 Frameset//",
    "-//W3C//DTD HTML 4.01 Transitional//",
))
_LIMITED_QUIRKS_PREFIXES = tuple(s.lower() for s in (
    "-//W3C//DTD XHTML 1.0 Frameset//",
    "-//W3C//DTD XHTML 1.0 Transitional//",
))

MARKER = -1  # active-formatting-elements scope marker

# "reset the insertion mode appropriately": the steps that map an element
# to a mode outright (td/th/head, template, html and the last node are
# steps of their own, see TreeBuilder._reset_insertion_mode)
_RESET_MODE = {
    "select": "in_select", "tr": "in_row", "tbody": "in_table_body",
    "thead": "in_table_body", "tfoot": "in_table_body",
    "caption": "in_caption", "colgroup": "in_column_group",
    "table": "in_table", "body": "in_body", "frameset": "in_frameset",
}

# Open-elements depth cap (browsers cap DOM depth similarly; WebKit uses
# 512).  Elements past the cap are inserted into the tree but NOT pushed,
# which bounds every scope scan to O(MAX_DEPTH) and keeps pathological
# inputs (e.g. 10k unclosed <div>s in crawled garbage) linear instead of
# quadratic — at 10^12-doc scale such docs are a certainty and one of them
# must not stall an executor (cf. the reference's fatal no-progress guard,
# html-qt/htmltokenizer.cpp:66-80, which we must do better than).
MAX_DEPTH = 512

_WS = "\t\n\f\r "
_WS_PREFIX_RX = re.compile(r"[\t\n\f\r ]+")
_NON_WS_PREFIX_RX = re.compile(r"[^\t\n\f\r ]+")

# ---------------- foreign content (SVG / MathML), WHATWG 13.2.6.5 -------

# HTML breakout tags: seeing one inside foreign content pops the foreign
# subtree and reprocesses in HTML (prevents an unclosed <svg> from
# swallowing the rest of the page — an extraction-quality hazard)
_FOREIGN_BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2 h3
    h4 h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s small
    span strong strike sub sup table tt u ul var""".split()
)
# MathML text integration points: children parse as HTML
_MATHML_TEXT_IP = frozenset("mi mo mn ms mtext".split())
# SVG HTML integration points (lowercase tag-name forms)
_SVG_HTML_IP = frozenset("foreignobject desc title".split())

# SVG attribute case adjustment (WHATWG "adjust SVG attributes")
_SVG_ATTR_ADJUST = {
    a.lower(): a for a in """attributeName attributeType baseFrequency
    baseProfile calcMode clipPathUnits diffuseConstant edgeMode filterUnits
    glyphRef gradientTransform gradientUnits kernelMatrix kernelUnitLength
    keyPoints keySplines keyTimes lengthAdjust limitingConeAngle
    markerHeight markerUnits markerWidth maskContentUnits maskUnits
    numOctaves pathLength patternContentUnits patternTransform patternUnits
    pointsAtX pointsAtY pointsAtZ preserveAlpha preserveAspectRatio
    primitiveUnits refX refY repeatCount repeatDur requiredExtensions
    requiredFeatures specularConstant specularExponent spreadMethod
    startOffset stdDeviation stitchTiles surfaceScale systemLanguage
    tableValues targetX targetY textLength viewBox viewTarget
    xChannelSelector yChannelSelector zoomAndPan""".split()
}
# MathML attribute adjustment
_MATH_ATTR_ADJUST = {"definitionurl": "definitionURL"}

# "Adjust foreign attributes" (WHATWG 13.2.6.1): namespaced attributes on
# foreign elements.  Stored as "<ns-prefix> <local>" — the html5lib .dat
# serialization form — since the columnar attrs table has no namespace
# column.  Applies to BOTH svg and math elements.
_FOREIGN_ATTR_ADJUST = {
    "xlink:actuate": "xlink actuate", "xlink:arcrole": "xlink arcrole",
    "xlink:href": "xlink href", "xlink:role": "xlink role",
    "xlink:show": "xlink show", "xlink:title": "xlink title",
    "xlink:type": "xlink type",
    "xml:lang": "xml lang", "xml:space": "xml space",
    "xmlns": "xmlns xmlns", "xmlns:xlink": "xmlns xlink",
}

# SVG tag-name case adjustment (tokenizer lowercases; SVG is camelCase)
_SVG_TAG_ADJUST = {
    t.lower(): t for t in """altGlyph altGlyphDef altGlyphItem animateColor
    animateMotion animateTransform clipPath feBlend feColorMatrix
    feComponentTransfer feComposite feConvolveMatrix feDiffuseLighting
    feDisplacementMap feDistantLight feDropShadow feFlood feFuncA feFuncB
    feFuncG feFuncR feGaussianBlur feImage feMerge feMergeNode feMorphology
    feOffset fePointLight feSpecularLighting feSpotLight feTile feTurbulence
    foreignObject glyphRef linearGradient radialGradient textPath""".split()
}


class TreeBuilder:
    """Single-document tree builder; instantiate per document."""

    __slots__ = (
        "reference_compat", "collect_errors", "tag", "parent", "children",
        "attrs", "text", "ns", "open_elements", "active_formatting",
        "mode", "original_mode", "frameset_ok", "foster_parenting",
        "head_id", "form_id", "pending_table_text", "ignore_lf",
        "quirks_mode", "doctype", "errors", "done", "fragment_root",
        "template_content", "template_modes", "fragment_context",
        "tokenizer_switch",
    )

    def __init__(self, *, reference_compat: bool = False,
                 collect_errors: bool = True) -> None:
        self.reference_compat = reference_compat
        self.collect_errors = collect_errors
        # columnar node storage
        self.tag: list[str] = ["#document"]
        self.parent: list[int] = [-1]
        self.children: list[list[int]] = [[]]
        self.attrs: list[list[tuple[str, str]] | None] = [None]
        self.text: list[str | None] = [None]
        self.ns: list[str] = ["html"]  # 'html' | 'svg' | 'math'
        # parser state
        self.open_elements: list[int] = []
        self.active_formatting: list[tuple[int, tuple] | int] = []
        self.mode = "initial"
        self.original_mode = ""
        self.frameset_ok = True
        self.foster_parenting = False
        self.head_id: int = -1
        self.form_id: int = -1
        self.pending_table_text: list[str] = []
        self.ignore_lf = False  # skip LF right after <pre>/<listing>/<textarea>
        self.quirks_mode = "no-quirks"
        self.doctype: tuple | None = None
        self.errors: list[str] = []
        self.done = False
        self.fragment_root = 0  # parse_fragment points this at its root
        # template nid -> its content DocumentFragment nid ("#content"):
        # spec template contents live in a separate fragment, not as
        # direct element children; insertions targeting a template are
        # redirected into it (WHATWG "appropriate place" step 3)
        self.template_content: dict[int, int] = {}
        # WHATWG stack of template insertion modes: entering a template
        # pushes "in_template"; table-structure start tags inside the
        # template swap the top for the matching table mode so <tr>/<td>
        # fragments parse as they would in a table (spec 13.2.4.1)
        self.template_modes: list[str] = []
        # fragment parsing: the context element's tag name — the reset
        # algorithm substitutes it for the root node (spec 13.2.4.1)
        self.fragment_context: str | None = None
        # TEXT_STATES key the tokenizer must switch to after the current
        # feed: set where a start tag enters text mode or inserts
        # <plaintext> (HTMLTokenizer._feed_tree reads and clears it)
        self.tokenizer_switch: str | None = None

    # ------------------------------------------------------------ plumbing

    def _err(self, code: str) -> None:
        if self.collect_errors:
            self.errors.append(code)

    def _new_node(self, tag: str, attrs=None, text=None,
                  ns: str = "html") -> int:
        nid = len(self.tag)
        self.tag.append(tag)
        self.parent.append(-1)
        self.children.append([])
        self.attrs.append(attrs)
        self.text.append(text)
        self.ns.append(ns)
        return nid

    def _append(self, child: int, parent_id: int) -> None:
        # HTMLTree::appendChild (html-qt/htmltree.cpp:110-113)
        self.parent[child] = parent_id
        self.children[parent_id].append(child)

    def _place(self, nid: int, parent_id: int, index: int | None) -> None:
        """Put ``nid`` at an :meth:`_insertion_place` result."""
        if index is None:
            self._append(nid, parent_id)
        else:
            self.parent[nid] = parent_id
            self.children[parent_id].insert(index, nid)

    def _detach(self, child: int) -> None:
        p = self.parent[child]
        if p != -1:
            try:
                self.children[p].remove(child)
            except ValueError:
                pass
        self.parent[child] = -1

    def _current(self) -> int:
        return self.open_elements[-1]

    def _content_of(self, nid: int) -> int:
        """Insertion-target redirect: a <template> never receives
        children directly — they land in its "#content" fragment."""
        c = self.template_content.get(nid)
        return c if c is not None else nid

    def _add_template_content(self, nid: int) -> None:
        c = self._new_node("#content")
        self._append(c, nid)
        self.template_content[nid] = c

    def _insertion_place(self, override: int | None = None) -> tuple[int, int | None]:
        """WHATWG 'appropriate place for inserting a node'.
        Returns (parent_id, index_or_None) — None index = append.
        Implements the foster-parenting path the reference stubs out
        (vestigial ``m_insertFromTable`` flag, html-qt/htmltree.h:88)."""
        target = override if override is not None else self._current()
        if self.foster_parenting and self.tag[target] in _TABLE_CTX:
            # last <table> in the open stack
            table_id = None
            for nid in reversed(self.open_elements):
                if self.tag[nid] == "table":
                    table_id = nid
                    break
            if table_id is None:
                return self.open_elements[0], None
            tp = self.parent[table_id]
            if tp != -1:
                return tp, self.children[tp].index(table_id)
            # table has no parent: insert inside previous open element
            idx = self.open_elements.index(table_id)
            return self._content_of(self.open_elements[idx - 1]), None
        return self._content_of(target), None

    def _insert_element(self, name: str, attrs, *, push: bool = True) -> int:
        # fast path (hot: once per element): no foster parenting → the
        # insertion place is simply the current node, so the node-create +
        # append sequence is inlined (saves 3 call frames per element;
        # measured ~8% of whole-document parse time)
        if not self.foster_parenting:
            tags = self.tag
            open_elements = self.open_elements
            parent_id = open_elements[-1]
            if tags[parent_id] == "template":
                parent_id = self._content_of(parent_id)
            nid = len(tags)
            tags.append(name)
            self.parent.append(parent_id)
            self.children[parent_id].append(nid)
            self.children.append([])
            self.attrs.append(attrs or [])
            self.text.append(None)
            self.ns.append("html")
            if push and len(open_elements) < MAX_DEPTH:
                open_elements.append(nid)
            if name == "template" and not self.reference_compat:
                self._add_template_content(nid)
            return nid
        nid = self._new_node(name, attrs or [])
        self._place(nid, *self._insertion_place())
        if push and len(self.open_elements) < MAX_DEPTH:
            self.open_elements.append(nid)
        if name == "template" and not self.reference_compat:
            self._add_template_content(nid)
        return nid

    def _insert_text(self, data: str) -> None:
        # Engine version of HTMLTree::insertText (html-qt/htmltree.cpp:38-47)
        # but into real #text nodes so element/text order is preserved.
        if not data:
            return
        if not self.foster_parenting:
            # fast path mirroring _insert_element
            parent_id = self.open_elements[-1]
            if self.tag[parent_id] == "template":
                parent_id = self._content_of(parent_id)
            kids = self.children[parent_id]
            if kids and self.tag[kids[-1]] == "#text":
                self.text[kids[-1]] += data
                return
            tags = self.tag
            nid = len(tags)
            tags.append("#text")
            self.parent.append(parent_id)
            kids.append(nid)
            self.children.append([])
            self.attrs.append(None)
            self.text.append(data)
            self.ns.append("html")
            return
        parent_id, index = self._insertion_place()
        kids = self.children[parent_id]
        if index is None:
            if kids and self.tag[kids[-1]] == "#text":
                self.text[kids[-1]] += data
                return
            nid = self._new_node("#text", text=data)
            self._append(nid, parent_id)
        else:
            prev = kids[index - 1] if index > 0 else None
            if prev is not None and self.tag[prev] == "#text":
                self.text[prev] += data
                return
            nid = self._new_node("#text", text=data)
            self.parent[nid] = parent_id
            kids.insert(index, nid)

    def _insert_comment(self, data: str, parent: int | None = None) -> None:
        nid = self._new_node("#comment", text=data)
        if parent is not None:
            self._append(nid, parent)
        else:
            self._place(nid, *self._insertion_place())

    # ------------------------------------------------------------- scopes

    def _has_in_scope(self, name: str, terminators: frozenset[str]) -> bool:
        for nid in reversed(self.open_elements):
            t = self.tag[nid]
            if t == name:
                return True
            if t in terminators:
                return False
        return False

    def _in_scope(self, name: str) -> bool:
        return self._has_in_scope(name, _SCOPE_DEFAULT)

    def _in_button_scope(self, name: str) -> bool:
        return self._has_in_scope(name, _SCOPE_BUTTON)

    def _in_table_scope(self, name: str) -> bool:
        return self._has_in_scope(name, _SCOPE_TABLE)

    def _generate_implied_end(self, exclude: str | None = None,
                              thorough: bool = False) -> None:
        tags = IMPLIED_END_THOROUGH if thorough else IMPLIED_END
        while self.open_elements:
            t = self.tag[self._current()]
            if t in tags and t != exclude:
                self.open_elements.pop()
            else:
                break

    def _pop_until(self, name: str) -> None:
        # never pop the <html> root (index 0) — keeps the stack non-empty
        # even when MAX_DEPTH capping dropped the matching open tag
        while len(self.open_elements) > 1:
            if self.tag[self.open_elements.pop()] == name:
                break

    def _close_p(self) -> None:
        self._generate_implied_end(exclude="p")
        if self.tag[self._current()] != "p":
            self._err("unexpected-end-tag")
        self._pop_until("p")

    def _parse_text_element(self, name: str, attrs) -> None:
        """WHATWG "generic raw text / RCDATA element parsing algorithm",
        also for <script>: insert the element, remember the current mode,
        enter text mode and have the tokenizer switch state."""
        nid = self._insert_element(name, attrs)
        if self.open_elements[-1] != nid:
            # past MAX_DEPTH too: text mode ends by popping this element
            self.open_elements.append(nid)
        self.original_mode = self.mode
        self.mode = "text"
        self.tokenizer_switch = name

    def _merge_attrs(self, nid: int, attrs) -> None:
        # add the attributes the element lacks, never overwrite
        # (HTMLAbstractPhase::startTagHtml, html-qt/htmlabstractphase.cpp:32-51)
        existing = {k for k, _ in (self.attrs[nid] or [])}
        self.attrs[nid] = list(self.attrs[nid] or []) + [
            (k, v) for k, v in attrs if k not in existing]

    # ------------------------------------------- active formatting elements

    def _push_formatting(self, nid: int, token: tuple) -> None:
        # Noah's Ark clause: max 3 identical entries since last marker
        count = 0
        for entry in reversed(self.active_formatting):
            if entry == MARKER:
                break
            eid, etok = entry
            if (self.tag[eid] == self.tag[nid]
                    and sorted(self.attrs[eid] or []) == sorted(self.attrs[nid] or [])):
                count += 1
                if count == 3:
                    self.active_formatting.remove(entry)
                    break
        self.active_formatting.append((nid, token))

    def _reconstruct_formatting(self) -> None:
        af = self.active_formatting
        if not af:
            return
        entry = af[-1]
        if entry == MARKER or (entry != MARKER and entry[0] in self.open_elements):
            return
        i = len(af) - 1
        while True:
            if i == 0:
                break
            i -= 1
            e = af[i]
            if e == MARKER or e[0] in self.open_elements:
                i += 1
                break
        while i < len(af):
            eid, tok = af[i]
            new_id = self._insert_element(tok[1], list(tok[2]))
            af[i] = (new_id, tok)
            i += 1

    def _clear_formatting_to_marker(self) -> None:
        while self.active_formatting:
            if self.active_formatting.pop() == MARKER:
                break

    # --------------------------------------------------- adoption agency

    def _adoption_agency(self, name: str) -> None:
        """WHATWG 13.2.6.4.7 'adoption agency algorithm'.  The reference has
        only the reparent hook (html-qt/htmltree.cpp:126-132); this is the
        full bounded algorithm (8 outer / 3 inner iterations) over the
        parent-pointer arrays."""
        # fast path: current node matches and is not in the AFE list
        # (plain loop, not a genexpr — the AFE list is almost always
        # empty and a generator frame per </b> costs more than the scan)
        if self.open_elements \
                and self.tag[(cur := self.open_elements[-1])] == name:
            for e in self.active_formatting:
                if e != MARKER and e[0] == cur:
                    break
            else:
                self.open_elements.pop()
                return

        for _ in range(8):
            # locate formatting element
            fmt_entry = None
            for entry in reversed(self.active_formatting):
                if entry == MARKER:
                    break
                if self.tag[entry[0]] == name:
                    fmt_entry = entry
                    break
            if fmt_entry is None:
                self._any_other_end_tag(name)
                return
            fmt_id = fmt_entry[0]
            if self.open_elements and fmt_id == self.open_elements[-1]:
                # degenerate steps: fmt IS the current node — it is on the
                # stack and trivially in scope, and no element sits below
                # it, so there is no furthest block: pop it and drop its
                # AFE entry (the well-formed </a>/</b> case)
                self.open_elements.pop()
                self.active_formatting.remove(fmt_entry)
                return
            if fmt_id not in self.open_elements:
                self._err("adoption-agency-1.2")
                self.active_formatting.remove(fmt_entry)
                return
            if not self._in_scope(name):
                self._err("adoption-agency-4.4")
                return
            if fmt_id != self._current():
                self._err("adoption-agency-1.3")

            # furthest block: lowest element below fmt in the stack that is
            # in the 'special' category
            fmt_stack_idx = self.open_elements.index(fmt_id)
            furthest = None
            for idx in range(fmt_stack_idx + 1, len(self.open_elements)):
                if self.tag[self.open_elements[idx]] in SPECIAL:
                    furthest = self.open_elements[idx]
                    furthest_idx = idx
                    break
            if furthest is None:
                # pop everything up to and including fmt; drop from AFE
                del self.open_elements[fmt_stack_idx:]
                self.active_formatting.remove(fmt_entry)
                return

            common_ancestor = self.open_elements[fmt_stack_idx - 1]
            bookmark = self.active_formatting.index(fmt_entry)

            node_id = furthest
            node_idx = furthest_idx
            last_node = furthest
            inner = 0
            while True:
                inner += 1
                node_idx -= 1
                node_id = self.open_elements[node_idx]
                if node_id == fmt_id:
                    break
                node_entry = None
                for entry in self.active_formatting:
                    if entry != MARKER and entry[0] == node_id:
                        node_entry = entry
                        break
                if inner > 3 and node_entry is not None:
                    # spec inner-loop cap: evict from AFE, treat as plain
                    self.active_formatting.remove(node_entry)
                    node_entry = None
                if node_entry is None:
                    # not in AFE: remove from open elements, continue
                    self.open_elements.remove(node_id)
                    continue
                # clone node
                eid, tok = node_entry
                clone = self._new_node(self.tag[eid], list(self.attrs[eid] or []))
                idx_af = self.active_formatting.index(node_entry)
                self.active_formatting[idx_af] = (clone, tok)
                self.open_elements[self.open_elements.index(node_id)] = clone
                node_id = clone
                if last_node == furthest:
                    bookmark = idx_af + 1
                self._detach(last_node)
                self._append(last_node, node_id)
                last_node = node_id

            # move last_node under common ancestor: a table-context
            # ancestor always foster-parents it, a <template> one takes
            # it into its #content fragment
            self._detach(last_node)
            save = self.foster_parenting
            self.foster_parenting = True
            self._place(last_node, *self._insertion_place(common_ancestor))
            self.foster_parenting = save

            # new clone of fmt; move furthest-block children into it
            # (this is the reparentChildren move, html-qt/htmltree.cpp:126-132)
            tok = fmt_entry[1]
            clone = self._new_node(name, list(self.attrs[fmt_id] or []))
            for ch in self.children[furthest]:
                self.parent[ch] = clone
            self.children[clone] = self.children[furthest]
            self.children[furthest] = []
            self._append(clone, furthest)

            # AFE bookkeeping
            self.active_formatting.remove(fmt_entry)
            if bookmark > len(self.active_formatting):
                bookmark = len(self.active_formatting)
            self.active_formatting.insert(bookmark, (clone, tok))
            # open elements bookkeeping
            self.open_elements.remove(fmt_id)
            self.open_elements.insert(
                self.open_elements.index(furthest) + 1, clone)

    def _any_other_end_tag(self, name: str) -> None:
        for idx in range(len(self.open_elements) - 1, -1, -1):
            nid = self.open_elements[idx]
            if self.tag[nid] == name:
                self._generate_implied_end(exclude=name)
                if self._current() != nid:
                    self._err("unexpected-end-tag")
                del self.open_elements[idx:]
                return
            if self.tag[nid] in SPECIAL:
                self._err("unexpected-end-tag")
                return

    # ------------------------------------------------------- mode helpers

    def _reset_insertion_mode(self) -> None:
        """WHATWG "reset the insertion mode appropriately" (13.2.4.1);
        fragment parsing picks its first mode with it too."""
        oe = self.open_elements
        for idx in range(len(oe) - 1, -1, -1):
            t = self.tag[oe[idx]]
            last = idx == 0
            if last and self.fragment_context is not None:
                # the root node stands in for the fragment's context
                t = self.fragment_context
            mode = _RESET_MODE.get(t)
            if mode == "in_select" and not last:
                # a select in a table, unless a template lies between
                for anc in reversed(oe[:idx]):
                    if self.tag[anc] == "template":
                        break
                    if self.tag[anc] == "table":
                        mode = "in_select_in_table"
                        break
            elif mode is None:
                if t in ("td", "th") and not last:
                    mode = "in_cell"
                elif t == "head" and not last:
                    mode = "in_head"
                elif t == "template":
                    mode = (self.template_modes[-1]
                            if self.template_modes else "in_template")
                elif t == "html":
                    mode = ("before_head" if self.head_id == -1
                            else "after_head")
                elif last:
                    mode = "in_body"
            if mode is not None:
                self.mode = mode
                return

    # --------------------------------------------------------- main drive

    def process(self, tokens: list[tuple]) -> None:
        """Build the tree from a complete token list, then EOF."""
        if self.reference_compat:
            self._process_compat(tokens)
            return
        self.feed(tokens)
        self._process_eof()

    def cdata_allowed(self) -> bool:
        """Whether ``<![CDATA[`` opens a CDATA section here: the current
        node is foreign (WHATWG 13.2.5.42)."""
        oe = self.open_elements
        return bool(oe) and self.ns[oe[-1]] != "html"

    def feed(self, tokens: list[tuple]) -> None:
        """Process ``tokens``; more may follow (no EOF)."""
        # hot loop: _process_token/_process_chars bodies inlined for the
        # dominant cases (plain HTML, in_body) — identical dispatch order,
        # one call frame less per token.  The out-of-line methods remain
        # the single source of truth for every reprocess site.
        tag_dispatch = self._TAG_DISPATCH
        ns = self.ns
        open_elements = self.open_elements
        for tok in tokens:
            kind = tok[0]
            if kind == "Character":
                if (not self.ignore_lf and self.mode == "in_body"
                        and open_elements
                        and ns[open_elements[-1]] == "html"):
                    # inlined _char_in_body fast path (no NUL)
                    data = tok[1]
                    if data and "\x00" not in data:
                        if self.active_formatting:
                            self._reconstruct_formatting()
                        self._insert_text(data)
                        if data.strip(_WS):
                            self.frameset_ok = False
                        continue
                self._process_chars(tok[1])
            elif kind == "StartTag" or kind == "EndTag":
                # inlined _process_token
                self.ignore_lf = False
                if (open_elements and ns[open_elements[-1]] != "html"
                        and not self._use_html_rules(tok)):
                    self._process_foreign_tag(tok)
                else:
                    tag_dispatch[self.mode](self, tok)
            elif kind == "Comment":
                self._mode_comment(tok[1])
            elif kind == "DOCTYPE":
                self._mode_doctype(tok)

    def _process_compat(self, tokens: list[tuple]) -> None:
        """Reference-shaped tree construction (reference_compat=True).

        Faithful reproduction of the reference parser's RUNTIME phase
        behavior — only Initial and BeforeHTML are implemented there; the
        other 21 modes are accept-and-ignore HTMLAbstractPhase instances
        (html-qt/htmlparser.cpp:19-41, htmlabstractphase.cpp:59-92):

        * characters reach phases one at a time via
          HTMLParser::characterToken → processCharacter
          (htmltokenizer.cpp:91, htmlparser.cpp:66-70); the
          SpaceCharacters→processStartTag routing in parseToken
          (htmlparser.cpp:86-88) is dead code — the tokenizer never
          constructs Space/CharactersToken objects (htmltokenizer.cpp:88)
          — and processStartTag ignores its token anyway, so whitespace
          is dropped identically either way.
        * Initial: only a DOCTYPE transitions (→ BeforeHTML,
          htmlinitialphase.cpp:41-66); start/end tags are logged and
          ignored (:22-31); a character would call
          openElements().last() on an EMPTY vector
          (htmltree.cpp:38-47) — undefined behavior/crash in the
          reference; the engine records the error and drops instead
          (a 10^12-doc job must not die on one doc).
        * BeforeHTML: first character or start tag inserts a bare
          <html> (token attributes DROPPED — insertHtmlElement builds
          a fresh token, htmlbeforehtmlphase.cpp:12-17) and the
          triggering character itself is consumed without insertion
          (:25-29); mode → BeforeHead and never changes again.
        * All later modes: every character appends to the <html> node's
          own text buffer (HTMLTreeNode::insertText,
          htmltree.cpp:115-119 — modeled as one #text child); tags and
          doctypes are ignored; comments hit the empty
          HTMLTree::insertComment (htmltree.cpp:62-65) — dropped.
        * EOF: BeforeHTML synthesizes <html>
          (htmlbeforehtmlphase.cpp:19-23); other phases do nothing.
        """
        mode = "initial"
        html_id = -1
        buf: list[str] = []
        for tok in tokens:
            kind = tok[0]
            if kind == "Character":
                data = tok[1]
                if mode == "initial":
                    self._err("compat-character-before-doctype")
                    continue
                if mode == "before_html":
                    html_id = self._new_node("html", attrs=[])
                    self._append(html_id, 0)
                    mode = "rest"
                    data = data[1:]  # triggering char consumed, not kept
                if data:
                    buf.append(data)
            elif kind == "StartTag":
                if mode == "before_html":
                    html_id = self._new_node("html", attrs=[])
                    self._append(html_id, 0)
                    mode = "rest"
                # all other start tags ignored
            elif kind == "DOCTYPE":
                if mode == "initial":
                    name = tok[1]
                    self.doctype = (tok[1], tok[2], tok[3])
                    nid = self._new_node("#doctype", text=name or "")
                    self._append(nid, 0)
                    mode = "before_html"
                # ignored elsewhere
            # EndTag / Comment: ignored in every phase
        if mode == "before_html":
            html_id = self._new_node("html", attrs=[])
            self._append(html_id, 0)
        if buf and html_id != -1:
            nid = self._new_node("#text", text="".join(buf))
            self._append(nid, html_id)
        if html_id != -1:
            self.open_elements.append(html_id)
        self.done = True

    def _process_chars(self, data: str) -> None:
        # dispatch possibly-mixed whitespace/content runs per current mode
        if self.ignore_lf:
            self.ignore_lf = False
            if data.startswith("\n"):
                data = data[1:]
        if (self.open_elements
                and self.ns[self.open_elements[-1]] != "html"
                and not self._use_html_rules(("Character", data))):
            # foreign content characters (WHATWG 13.2.6.5)
            if "\x00" in data:
                self._err("invalid-codepoint")
                data = data.replace("\x00", "�")
            self._insert_text(data)
            if data.strip(_WS):
                self.frameset_ok = False
            return
        char_dispatch = self._CHAR_DISPATCH
        while data:
            consumed = char_dispatch[self.mode](self, data)
            if consumed >= len(data):
                return
            data = data[consumed:]

    def _process_token(self, tok: tuple) -> None:
        self.ignore_lf = False
        if (self.open_elements
                and self.ns[self.open_elements[-1]] != "html"
                and not self._use_html_rules(tok)):
            self._process_foreign_tag(tok)
            return
        self._TAG_DISPATCH[self.mode](self, tok)

    # -------------------------------------------- foreign content routing

    def _is_html_ip(self, nid: int) -> bool:
        ns = self.ns[nid]
        name = self.tag[nid].lower()
        if ns == "svg" and name in _SVG_HTML_IP:
            return True
        if ns == "math" and name == "annotation-xml":
            enc = next((v.lower() for k, v in (self.attrs[nid] or [])
                        if k == "encoding"), "")
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _use_html_rules(self, tok: tuple) -> bool:
        """Tree-construction dispatcher condition (WHATWG 13.2.6)."""
        cur = self.open_elements[-1]
        ns = self.ns[cur]
        kind = tok[0]
        if ns == "math" and self.tag[cur] in _MATHML_TEXT_IP:
            if kind == "Character":
                return True
            if kind == "StartTag" and tok[1] not in ("mglyph", "malignmark"):
                return True
        if (ns == "math" and self.tag[cur] == "annotation-xml"
                and kind == "StartTag" and tok[1] == "svg"):
            return True
        if self._is_html_ip(cur) and kind in ("Character", "StartTag"):
            return True
        return False

    def _insert_foreign(self, name: str, attrs, ns: str,
                        self_closing: bool) -> None:
        """WHATWG "insert a foreign element" in ``ns`` ("svg" or "math"),
        after the spec's tag-name and attribute adjustments."""
        if ns == "svg":
            name = _SVG_TAG_ADJUST.get(name, name)
            adjust = _SVG_ATTR_ADJUST
        else:
            adjust = _MATH_ATTR_ADJUST
        nid = self._insert_element(
            name, [(_FOREIGN_ATTR_ADJUST.get(k, adjust.get(k, k)), v)
                   for k, v in attrs])
        self.ns[nid] = ns
        if self_closing and self.open_elements[-1] == nid:
            self.open_elements.pop()

    def _process_foreign_tag(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "Comment":
            self._insert_comment(tok[1])
            return
        if kind == "DOCTYPE":
            self._err("unexpected-doctype")
            return
        if kind == "StartTag":
            font_breakout = (name == "font" and any(
                k in ("color", "face", "size") for k, _ in tok[2]))
            if name in _FOREIGN_BREAKOUT or font_breakout:
                # HTML breakout: pop the foreign subtree, reprocess
                self._err("unexpected-html-element-in-foreign-content")
                while self.open_elements:
                    cur = self._current()
                    if (self.ns[cur] == "html"
                            or (self.ns[cur] == "math"
                                and self.tag[cur] in _MATHML_TEXT_IP)
                            or self._is_html_ip(cur)):
                        break
                    self.open_elements.pop()
                self._process_token(tok)
                return
            self._insert_foreign(name, tok[2], self.ns[self._current()],
                                 tok[3])
            return
        # EndTag: case-insensitive walk down the stack; an HTML-namespace
        # node on the way delegates back to the insertion-mode rules
        if self.tag[self._current()].lower() != name:
            self._err("unexpected-end-tag")
        for idx in range(len(self.open_elements) - 1, 0, -1):
            nid = self.open_elements[idx]
            if self.ns[nid] == "html":
                self._TAG_DISPATCH[self.mode](self, tok)
                return
            if self.tag[nid].lower() == name:
                del self.open_elements[idx:]
                return
        # nothing matched: ignore

    def _process_eof(self) -> None:
        """WHATWG end of file: run the current mode's EOF step until a
        mode stops parsing.  A mode with no _EOF_STEPS entry stops,
        unless a template is open: in_body and every mode that defers
        to it then close the template as in_template does."""
        while True:
            step = _EOF_STEPS.get(self.mode)
            if step is not None:
                step(self)
            elif self._template_open():
                self._err("eof-in-template")
                self._close_template()
            else:
                break
        self.done = True

    def _eof_text(self) -> None:
        # EOF inside unterminated RCDATA/RAWTEXT/script content
        self._err("expected-named-closing-tag-but-got-eof")
        self.open_elements.pop()
        self.mode = self.original_mode

    # ----------------------------------------------------------- comments

    def _mode_comment(self, data: str) -> None:
        if self.mode == "initial" or self.mode == "before_html":
            # HTMLInitialPhase::processCommentTag → document node
            # (html-qt/htmlinitialphase.cpp:34-39)
            self._insert_comment(data, parent=0)
        elif self.mode in ("after_body", "after_after_body"):
            target = self.open_elements[0] if self.mode == "after_body" else 0
            self._insert_comment(data, parent=target)
        elif self.mode == "in_table_text":
            self._flush_table_text()
            self._insert_comment(data)
        else:
            self._insert_comment(data)

    def _mode_doctype(self, tok: tuple) -> None:
        if self.mode != "initial":
            self._err("unexpected-doctype")
            return
        # HTMLInitialPhase::processDoctype (html-qt/htmlinitialphase.cpp:41-66)
        # + the full WHATWG quirks determination (13.2.6.4.1) the
        # reference truncates to the html/about:legacy-compat check
        _, name, public, system, correct = tok
        self.doctype = (name, public, system)
        nid = self._new_node("#doctype", text=name or "")
        self._append(nid, 0)
        pub = (public or "").lower()
        sysid = (system or "").lower()
        if (not correct or name != "html"
                or pub in _QUIRKS_PUBLIC_EXACT
                or sysid == ("http://www.ibm.com/data/dtd/v11/"
                             "ibmxhtml1-transitional.dtd")
                or pub.startswith(_QUIRKS_PUBLIC_PREFIXES)
                or (system is None
                    and pub.startswith(_QUIRKS_NO_SYSTEM_PREFIXES))):
            if not correct or name != "html":
                self._err("unknown-doctype")
            self.quirks_mode = "quirks"
        elif (pub.startswith(_LIMITED_QUIRKS_PREFIXES)
              or (system is not None
                  and pub.startswith(_QUIRKS_NO_SYSTEM_PREFIXES))):
            self.quirks_mode = "limited-quirks"
        self.mode = "before_html"

    # ------------------------------------------------------------ initial

    def _mode_initial_anything(self) -> None:
        self.quirks_mode = "quirks"
        self.mode = "before_html"

    def _char_initial(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws == len(data):
            return ws
        self._err("expected-doctype-but-got-chars")
        self._mode_initial_anything()
        return ws

    def _tag_initial(self, tok: tuple) -> None:
        self._err("expected-doctype-but-got-start-tag"
                  if tok[0] == "StartTag" else
                  "expected-doctype-but-got-end-tag")
        self._mode_initial_anything()
        self._process_token(tok)

    # -------------------------------------------------------- before html

    def _before_html_anything(self) -> None:
        # HTMLBeforeHtmlPhase::insertHtmlElement
        # (html-qt/htmlbeforehtmlphase.cpp:12-17): synthesize <html> root,
        # push on the open stack (HTMLTree::inserRoot, htmltree.cpp:49-54)
        nid = self._new_node("html", [])
        self._append(nid, 0)
        self.open_elements.append(nid)
        self.mode = "before_head"

    def _char_before_html(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws == len(data):
            return ws
        self._before_html_anything()
        return ws

    def _tag_before_html(self, tok: tuple) -> None:
        if tok[0] == "StartTag" and tok[1] == "html":
            nid = self._new_node("html", list(tok[2]))
            self._append(nid, 0)
            self.open_elements.append(nid)
            self.mode = "before_head"
            return
        if tok[0] == "EndTag" and tok[1] not in ("head", "body", "html", "br"):
            self._err("unexpected-end-tag-before-html")
            return
        self._before_html_anything()
        self._process_token(tok)

    # -------------------------------------------------------- before head

    def _before_head_anything(self) -> None:
        self.head_id = self._insert_element("head", [])
        self.mode = "in_head"

    def _char_before_head(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws == len(data):
            return ws
        self._before_head_anything()
        return ws

    def _tag_before_head(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag" and name == "html":
            self._tag_in_body(tok)
            return
        if kind == "StartTag" and name == "head":
            self.head_id = self._insert_element("head", list(tok[2]))
            self.mode = "in_head"
            return
        if kind == "EndTag" and name not in ("head", "body", "html", "br"):
            self._err("end-tag-after-implied-root")
            return
        self._before_head_anything()
        self._process_token(tok)

    # ------------------------------------------------------------ in head

    _HEAD_VOID = frozenset("base basefont bgsound link meta".split())

    def _in_head_anything(self) -> None:
        self.open_elements.pop()
        self.mode = "after_head"

    def _char_in_head(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws:
            self._insert_text(data[:ws])
        if ws == len(data):
            return ws
        self._in_head_anything()
        return ws

    def _tag_in_head(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            if name == "html":
                self._tag_in_body(tok)
                return
            if name in self._HEAD_VOID:
                self._insert_element(name, list(tok[2]), push=False)
                return
            if name in ("title", "noframes", "style", "script"):
                self._parse_text_element(name, list(tok[2]))
                return
            if name == "noscript":
                # scripting disabled: parse children normally
                self._insert_element(name, list(tok[2]))
                self.mode = "in_head_noscript"
                return
            if name == "template":
                # simplified in_template: content stays INSIDE the
                # template element (no separate fragment document), so the
                # extractor's SKIP_SUBTREES drop works; spec's per-template
                # mode stack approximated by reset-insertion-mode on close
                self._insert_element(name, list(tok[2]))
                self.active_formatting.append(MARKER)
                self.frameset_ok = False
                self.mode = "in_template"
                self.template_modes.append("in_template")
                return
            if name == "head":
                self._err("two-heads-are-not-better-than-one")
                return
        else:
            if name == "head":
                self._in_head_anything()
                return
            if name == "template":
                if not self._template_open():
                    # a stray </template> (also in a template-context
                    # fragment) must not reset the insertion mode
                    self._err("unexpected-end-tag-in-template")
                    return
                self._generate_implied_end(thorough=True)
                if self.tag[self._current()] != "template":
                    self._err("unexpected-end-tag-in-template")
                self._close_template()
                return
            if name not in ("body", "html", "br"):
                self._err("unexpected-end-tag")
                return
        self._in_head_anything()
        self._process_token(tok)

    def _template_open(self) -> bool:
        """Whether an HTML ``template`` element is on the stack."""
        tags, ns = self.tag, self.ns
        for nid in self.open_elements:
            if tags[nid] == "template" and ns[nid] == "html":
                return True
        return False

    def _close_template(self) -> None:
        # shared by </template> and EOF: pop to the template, clear the
        # formatting list to its marker, leave its insertion mode
        self._pop_until("template")
        self._clear_formatting_to_marker()
        if self.template_modes:
            self.template_modes.pop()
        self._reset_insertion_mode()

    def _noscript_anything(self, code: str) -> None:
        self._err(code)
        self.open_elements.pop()
        self.mode = "in_head"

    def _char_in_head_noscript(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws:
            self._insert_text(data[:ws])
        if ws == len(data):
            return ws
        self._noscript_anything("char-in-head-noscript")
        return ws

    def _tag_in_head_noscript(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag" and name in ("basefont", "bgsound", "link",
                                           "meta", "noframes", "style"):
            self._tag_in_head(tok)
            return
        if kind == "EndTag" and name == "noscript":
            self.open_elements.pop()
            self.mode = "in_head"
            return
        if kind == "EndTag" and name != "br":
            self._err("unexpected-end-tag-in-noscript")
            return
        self._noscript_anything("unexpected-tag-in-noscript")
        self._process_token(tok)

    # ---------------------------------------------------------- after head

    def _after_head_anything(self) -> None:
        self._insert_element("body", [])
        self.mode = "in_body"

    def _char_after_head(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws:
            self._insert_text(data[:ws])
        if ws == len(data):
            return ws
        self._after_head_anything()
        return ws

    def _tag_after_head(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            if name == "html":
                self._tag_in_body(tok)
                return
            if name == "body":
                self._insert_element("body", list(tok[2]))
                self.frameset_ok = False
                self.mode = "in_body"
                return
            if name == "frameset":
                self._insert_element("frameset", list(tok[2]))
                self.mode = "in_frameset"
                return
            if name in ("base", "basefont", "bgsound", "link", "meta",
                        "noframes", "script", "style", "template", "title"):
                self._err("unexpected-start-tag-out-of-head")
                self.open_elements.append(self.head_id)
                self._tag_in_head(tok)
                if self.head_id in self.open_elements:
                    self.open_elements.remove(self.head_id)
                return
            if name == "head":
                self._err("unexpected-head")
                return
        else:
            if name == "template":
                self._tag_in_head(tok)
                return
            if name not in ("body", "html", "br"):
                self._err("unexpected-end-tag")
                return
        self._after_head_anything()
        self._process_token(tok)

    # -------------------------------------------------------------- in body

    def _char_in_body(self, data: str) -> int:
        orig_len = len(data)
        if "\x00" in data:
            self._err("invalid-codepoint")
            data = data.replace("\x00", "")
        if data:
            self._reconstruct_formatting()
            self._insert_text(data)
            if data.strip(_WS):
                self.frameset_ok = False
        return orig_len

    # ---- in-body start-tag handlers, dict-dispatched (one dict probe
    # replaces the former ~25-test membership chain; the dispatch table
    # _IN_BODY_START is assembled after the class body).  Ordinary tags
    # (span/cite/abbr/...) miss the dict and take the two-call fast path.

    def _ibs_html(self, tok, name, attrs) -> None:
        self._err("unexpected-start-tag")
        if not self._template_open():
            self._merge_attrs(self.open_elements[0], attrs)

    def _ibs_in_head(self, tok, name, attrs) -> None:
        self._tag_in_head(tok)

    def _ibs_body(self, tok, name, attrs) -> None:
        self._err("unexpected-start-tag")
        if len(self.open_elements) > 1 \
                and self.tag[self.open_elements[1]] == "body" \
                and not self._template_open():
            self._merge_attrs(self.open_elements[1], attrs)
            self.frameset_ok = False

    def _ibs_frameset(self, tok, name, attrs) -> None:
        self._err("unexpected-start-tag")
        if (self.frameset_ok and len(self.open_elements) > 1
                and self.tag[self.open_elements[1]] == "body"):
            body = self.open_elements[1]
            self._detach(body)
            del self.open_elements[1:]
            self._insert_element("frameset", attrs)
            self.mode = "in_frameset"

    def _ibs_p_closer(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs)

    def _ibs_heading(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        if self.tag[self._current()] in _HEADINGS:
            self._err("unexpected-start-tag")
            self.open_elements.pop()
        self._insert_element(name, attrs)

    def _ibs_pre(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs)
        self.ignore_lf = True
        self.frameset_ok = False

    def _ibs_form(self, tok, name, attrs) -> None:
        if self.form_id != -1:
            self._err("unexpected-start-tag")
            return
        if self._in_button_scope("p"):
            self._close_p()
        self.form_id = self._insert_element(name, attrs)

    def _ibs_list_item(self, tok, name, attrs) -> None:
        # <li> closes an open li, <dd>/<dt> an open dd or dt, unless a
        # special element other than address/div/p comes first
        self.frameset_ok = False
        closes = ("li",) if name == "li" else ("dd", "dt")
        for nid in reversed(self.open_elements):
            t = self.tag[nid]
            if t in closes:
                self._generate_implied_end(exclude=t)
                self._pop_until(t)
                break
            if t in SPECIAL and t not in ("address", "div", "p"):
                break
        if self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs)

    def _ibs_plaintext(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs)
        self.tokenizer_switch = name

    def _ibs_button(self, tok, name, attrs) -> None:
        if self._in_scope("button"):
            self._err("unexpected-start-tag")
            self._generate_implied_end()
            self._pop_until("button")
        self._reconstruct_formatting()
        self._insert_element(name, attrs)
        self.frameset_ok = False

    def _ibs_a(self, tok, name, attrs) -> None:
        for entry in reversed(self.active_formatting):
            if entry == MARKER:
                break
            if self.tag[entry[0]] == "a":
                self._err("unexpected-start-tag-implies-end-tag")
                self._adoption_agency("a")
                if entry in self.active_formatting:
                    self.active_formatting.remove(entry)
                if entry[0] in self.open_elements:
                    self.open_elements.remove(entry[0])
                break
        self._reconstruct_formatting()
        nid = self._insert_element(name, attrs)
        self._push_formatting(nid, tok)

    def _ibs_nobr(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        if self._in_scope("nobr"):
            self._err("unexpected-start-tag-implies-end-tag")
            self._adoption_agency("nobr")
            self._reconstruct_formatting()
        nid = self._insert_element(name, attrs)
        self._push_formatting(nid, tok)

    def _ibs_formatting(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        nid = self._insert_element(name, attrs)
        self._push_formatting(nid, tok)

    def _ibs_marker_container(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        self._insert_element(name, attrs)
        self.active_formatting.append(MARKER)
        self.frameset_ok = False

    def _ibs_table(self, tok, name, attrs) -> None:
        if self.quirks_mode != "quirks" and self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs)
        self.frameset_ok = False
        self.mode = "in_table"

    def _ibs_void(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        self._insert_element(name, attrs, push=False)
        self.frameset_ok = False

    def _ibs_input(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        self._insert_element(name, attrs, push=False)
        typ = next((v for k, v in attrs if k == "type"), "")
        if typ.lower() != "hidden":
            self.frameset_ok = False

    def _ibs_param(self, tok, name, attrs) -> None:
        self._insert_element(name, attrs, push=False)

    def _ibs_hr(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        self._insert_element(name, attrs, push=False)
        self.frameset_ok = False

    def _ibs_image(self, tok, name, attrs) -> None:
        self._err("unexpected-start-tag")  # treat as img
        self._tag_in_body(("StartTag", "img", tok[2], tok[3]))

    def _ibs_textarea(self, tok, name, attrs) -> None:
        self._parse_text_element(name, attrs)
        self.ignore_lf = True
        self.frameset_ok = False

    def _ibs_xmp(self, tok, name, attrs) -> None:
        if self._in_button_scope("p"):
            self._close_p()
        self._reconstruct_formatting()
        self.frameset_ok = False
        self._parse_text_element(name, attrs)

    def _ibs_rawtext(self, tok, name, attrs) -> None:
        if name == "iframe":
            self.frameset_ok = False
        self._parse_text_element(name, attrs)

    def _ibs_select(self, tok, name, attrs) -> None:
        self._reconstruct_formatting()
        self._insert_element(name, attrs)
        self.frameset_ok = False
        if self.mode in ("in_table", "in_caption", "in_table_body",
                         "in_row", "in_cell"):
            self.mode = "in_select_in_table"
        else:
            self.mode = "in_select"

    def _ibs_option(self, tok, name, attrs) -> None:
        if self.tag[self._current()] == "option":
            self.open_elements.pop()
        self._reconstruct_formatting()
        self._insert_element(name, attrs)

    def _ibs_ruby(self, tok, name, attrs) -> None:
        if self._in_scope("ruby"):
            self._generate_implied_end(
                exclude=None if name in ("rb", "rtc") else "rtc")
        self._insert_element(name, attrs)

    def _ibs_ignored(self, tok, name, attrs) -> None:
        self._err("unexpected-start-tag-ignored")

    def _ibs_foreign_root(self, tok, name, attrs) -> None:
        # foreign-content root: namespace flips; subsequent tokens
        # route through _process_foreign_tag until breakout/close
        self._reconstruct_formatting()
        self._insert_foreign(name, attrs, name, tok[3])

    def _tag_in_body(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            handler = _IN_BODY_START.get(name)
            if handler is None:
                # ordinary element (span/cite/abbr/...)
                self._reconstruct_formatting()
                self._insert_element(name, list(tok[2]))
                return
            handler(self, tok, name, list(tok[2]))
            return

        # ---- end tags in body: same per-tag dict dispatch as start tags
        handler = _IN_BODY_END.get(name)
        if handler is None:
            self._any_other_end_tag(name)
            return
        handler(self, tok, name)

    def _ibe_body(self, tok, name) -> None:
        if not self._in_scope("body"):
            self._err("unexpected-end-tag")
            return
        self.mode = "after_body"

    def _ibe_html(self, tok, name) -> None:
        if not self._in_scope("body"):
            self._err("unexpected-end-tag")
            return
        self.mode = "after_body"
        self._process_token(tok)

    def _ibe_block(self, tok, name) -> bool:
        # also </li> (list-item scope) and </dd>, </dt>: exclude=name
        # keeps those three out of the implied end tags and is a no-op
        # for every other name routed here.  Returns whether it closed.
        if not self._has_in_scope(
                name, _SCOPE_LIST_ITEM if name == "li" else _SCOPE_DEFAULT):
            self._err("unexpected-end-tag")
            return False
        self._generate_implied_end(exclude=name)
        if self.tag[self._current()] != name:
            self._err("end-tag-too-early")
        self._pop_until(name)
        return True

    def _ibe_form(self, tok, name) -> None:
        node = self.form_id
        self.form_id = -1
        if node == -1 or node not in self.open_elements:
            self._err("unexpected-end-tag")
            return
        self._generate_implied_end()
        if self._current() != node:
            self._err("end-tag-too-early-ignored")
        self.open_elements.remove(node)

    def _ibe_p(self, tok, name) -> None:
        if not self._in_button_scope("p"):
            self._err("unexpected-end-tag")
            self._insert_element("p", [])
            if not self._in_button_scope("p"):
                return  # MAX_DEPTH cap kept it off the stack
        self._close_p()

    def _ibe_heading(self, tok, name) -> None:
        # single stack walk instead of six _in_scope scans: true iff some
        # heading appears above the first scope terminator (same
        # terminator set for all six, so the walks are interchangeable)
        for nid in reversed(self.open_elements):
            t = self.tag[nid]
            if t in _HEADINGS:
                break
            if t in _SCOPE_DEFAULT:
                self._err("unexpected-end-tag")
                return
        else:
            self._err("unexpected-end-tag")
            return
        self._generate_implied_end()
        if self.tag[self._current()] != name:
            self._err("end-tag-too-early")
        while self.open_elements:
            if self.tag[self.open_elements.pop()] in _HEADINGS:
                break

    def _ibe_formatting(self, tok, name) -> None:
        self._adoption_agency(name)

    def _ibe_marker_container(self, tok, name) -> None:
        if self._ibe_block(tok, name):
            self._clear_formatting_to_marker()

    def _ibe_br(self, tok, name) -> None:
        self._err("unexpected-end-tag-treated-as")
        self._reconstruct_formatting()
        self._insert_element("br", [], push=False)
        self.frameset_ok = False

    def _ibe_template(self, tok, name) -> None:
        self._tag_in_head(tok)

    # --------------------------------------------------------- in template

    # start tags the spec routes to the in-head rules from in_template
    # WITHOUT touching the template insertion-mode stack
    _TEMPLATE_HEADISH = frozenset(
        """base basefont bgsound link meta noframes script style
        template title""".split())

    def _tag_in_template(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if name == "template" and kind == "EndTag":
            self._tag_in_head(tok)
            return
        if kind == "StartTag":
            if name in self._TEMPLATE_HEADISH:
                # in-head rules, current template insertion mode KEPT:
                # <script>/<style>/<meta>/nested <template>/... inside
                # template content must not clobber the table routing
                # for tags that follow them
                self._tag_in_head(tok)
                return
            # spec in-template routing: table-structure start tags swap
            # the current template insertion mode for the matching
            # table mode and reprocess there, so template contents like
            # <tr><td> build real rows instead of loose text
            route = None
            if name in ("caption", "colgroup", "tbody", "tfoot",
                        "thead"):
                route = "in_table"
            elif name == "col":
                route = "in_column_group"
            elif name == "tr":
                route = "in_table_body"
            elif name in ("td", "th"):
                route = "in_row"
            if route is not None:
                if self.template_modes:
                    self.template_modes[-1] = route
                self.mode = route
                self._TAG_DISPATCH[self.mode](self, tok)
                return
            if name in ("head", "body", "frameset", "html"):
                self._err("unexpected-start-tag-in-template")
                return
            if self.template_modes:
                self.template_modes[-1] = "in_body"
            self.mode = "in_body"
            self._tag_in_body(tok)
            return
        if kind == "EndTag" and name in ("body", "html", "frameset"):
            self._err("unexpected-end-tag-in-template")
            return
        self._tag_in_body(tok)

    # ----------------------------------------------------------- text mode

    def _char_text(self, data: str) -> int:
        self._insert_text(data)
        return len(data)

    def _tag_text(self, tok: tuple) -> None:
        # in its text state the tokenizer emits no tag but the element's
        # own end tag; anything else would close it and be reprocessed
        self.open_elements.pop()
        self.mode = self.original_mode
        if tok[0] != "EndTag":
            self._process_token(tok)

    # ----------------------------------------------------------- in table

    def _char_in_table(self, data: str) -> int:
        if self.tag[self._current()] in _TABLE_CTX:
            self.pending_table_text = []
            self.original_mode = self.mode
            self.mode = "in_table_text"
            return 0
        # anything else: foster-parent via in_body
        self._err("unexpected-char-implies-table-voodoo")
        self.foster_parenting = True
        n = self._char_in_body(data)
        self.foster_parenting = False
        return n

    def _char_in_table_text(self, data: str) -> int:
        orig_len = len(data)
        if "\x00" in data:
            self._err("invalid-codepoint")
            data = data.replace("\x00", "")
        self.pending_table_text.append(data)
        return orig_len

    def _flush_table_text(self) -> None:
        text = "".join(self.pending_table_text)
        self.pending_table_text = []
        self.mode = self.original_mode
        if not text:
            return
        if text.strip(_WS):
            self._err("foster-parenting-character")
            self.foster_parenting = True
            self._reconstruct_formatting()
            self._insert_text(text)
            self.frameset_ok = False
            self.foster_parenting = False
        else:
            self._insert_text(text)

    def _tag_in_table_text(self, tok: tuple) -> None:
        self._flush_table_text()
        self._process_token(tok)

    def _clear_stack_to_table_context(self, stop: frozenset[str]) -> None:
        while self.open_elements and self.tag[self._current()] not in stop:
            self.open_elements.pop()

    _TABLE_STOP = frozenset({"table", "template", "html"})
    _TBODY_STOP = frozenset({"tbody", "tfoot", "thead", "template", "html"})
    _ROW_STOP = frozenset({"tr", "template", "html"})

    def _tag_in_table(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            attrs = list(tok[2])
            if name == "caption":
                self._clear_stack_to_table_context(self._TABLE_STOP)
                self.active_formatting.append(MARKER)
                self._insert_element(name, attrs)
                self.mode = "in_caption"
                return
            if name == "colgroup":
                self._clear_stack_to_table_context(self._TABLE_STOP)
                self._insert_element(name, attrs)
                self.mode = "in_column_group"
                return
            if name == "col":
                self._clear_stack_to_table_context(self._TABLE_STOP)
                self._insert_element("colgroup", [])
                self.mode = "in_column_group"
                self._process_token(tok)
                return
            if name in ("tbody", "tfoot", "thead"):
                self._clear_stack_to_table_context(self._TABLE_STOP)
                self._insert_element(name, attrs)
                self.mode = "in_table_body"
                return
            if name in ("td", "th", "tr"):
                self._clear_stack_to_table_context(self._TABLE_STOP)
                self._insert_element("tbody", [])
                self.mode = "in_table_body"
                self._process_token(tok)
                return
            if name == "table":
                self._err("unexpected-start-tag-implies-end-tag")
                if self._in_table_scope("table"):
                    self._pop_until("table")
                    self._reset_insertion_mode()
                    self._process_token(tok)
                return
            if name in ("style", "script", "template"):
                self._tag_in_head(tok)
                return
            if name == "input":
                typ = next((v for k, v in tok[2] if k == "type"), "")
                if typ.lower() == "hidden":
                    self._err("unexpected-hidden-input-in-table")
                    self._insert_element(name, list(tok[2]), push=False)
                    return
            if name == "form":
                self._err("unexpected-form-in-table")
                if self.form_id == -1:
                    self.form_id = self._insert_element(name, attrs, push=False)
                return
        else:
            if name == "table":
                if not self._in_table_scope("table"):
                    self._err("unexpected-end-tag")
                    return
                self._pop_until("table")
                self._reset_insertion_mode()
                return
            if name in ("body", "caption", "col", "colgroup", "html",
                        "tbody", "td", "tfoot", "th", "thead", "tr"):
                self._err("unexpected-end-tag")
                return
            if name == "template":
                self._tag_in_head(tok)
                return
        # anything else: foster parenting via in_body
        self._err("unexpected-implied-end-tag-in-table")
        self.foster_parenting = True
        self._tag_in_body(tok)
        self.foster_parenting = False

    def _tag_in_caption(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if (kind == "EndTag" and name == "caption") or \
           (kind == "StartTag" and name in ("caption", "col", "colgroup",
                                            "tbody", "td", "tfoot", "th",
                                            "thead", "tr")) or \
           (kind == "EndTag" and name == "table"):
            if not self._in_table_scope("caption"):
                self._err("unexpected-end-tag")
                return
            self._generate_implied_end()
            self._pop_until("caption")
            self._clear_formatting_to_marker()
            self.mode = "in_table"
            if not (kind == "EndTag" and name == "caption"):
                self._process_token(tok)
            return
        if kind == "EndTag" and name in ("body", "col", "colgroup", "html",
                                         "tbody", "td", "tfoot", "th",
                                         "thead", "tr"):
            self._err("unexpected-end-tag")
            return
        self._tag_in_body(tok)

    def _char_in_column_group(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws:
            self._insert_text(data[:ws])
        if ws == len(data):
            return ws
        if self.tag[self._current()] == "colgroup":
            self.open_elements.pop()
            self.mode = "in_table"
            return ws
        # fragment case (no open colgroup): spec says parse error,
        # ignore — consume the run so the dispatch loop makes progress
        self._err("unexpected-char-in-column-group")
        return ws + _non_ws_prefix(data[ws:])

    def _tag_in_column_group(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag" and name == "col":
            self._insert_element("col", list(tok[2]), push=False)
            return
        if kind == "EndTag" and name == "colgroup":
            if self.tag[self._current()] == "colgroup":
                self.open_elements.pop()
                self.mode = "in_table"
            else:
                self._err("unexpected-end-tag")
            return
        if kind == "EndTag" and name == "col":
            self._err("no-end-tag")
            return
        if name == "template":
            self._tag_in_head(tok)
            return
        if kind == "StartTag" and name == "html":
            self._tag_in_body(tok)
            return
        if self.tag[self._current()] == "colgroup":
            self.open_elements.pop()
            self.mode = "in_table"
            self._process_token(tok)

    def _tag_in_table_body(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            if name == "tr":
                self._clear_stack_to_table_context(self._TBODY_STOP)
                self._insert_element(name, list(tok[2]))
                self.mode = "in_row"
                return
            if name in ("td", "th"):
                self._err("unexpected-cell-in-table-body")
                self._clear_stack_to_table_context(self._TBODY_STOP)
                self._insert_element("tr", [])
                self.mode = "in_row"
                self._process_token(tok)
                return
            if name in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                if not (self._in_table_scope("tbody") or
                        self._in_table_scope("thead") or
                        self._in_table_scope("tfoot")):
                    self._err("unexpected-start-tag")
                    return
                self._clear_stack_to_table_context(self._TBODY_STOP)
                self.open_elements.pop()
                self.mode = "in_table"
                self._process_token(tok)
                return
        else:
            if name in ("tbody", "tfoot", "thead"):
                if not self._in_table_scope(name):
                    self._err("unexpected-end-tag")
                    return
                self._clear_stack_to_table_context(self._TBODY_STOP)
                self.open_elements.pop()
                self.mode = "in_table"
                return
            if name == "table":
                if not (self._in_table_scope("tbody") or
                        self._in_table_scope("thead") or
                        self._in_table_scope("tfoot")):
                    self._err("unexpected-end-tag")
                    return
                self._clear_stack_to_table_context(self._TBODY_STOP)
                self.open_elements.pop()
                self.mode = "in_table"
                self._process_token(tok)
                return
            if name in ("body", "caption", "col", "colgroup", "html",
                        "td", "th", "tr"):
                self._err("unexpected-end-tag")
                return
        self._tag_in_table(tok)

    def _tag_in_row(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag" and name in ("td", "th"):
            self._clear_stack_to_table_context(self._ROW_STOP)
            self._insert_element(name, list(tok[2]))
            self.mode = "in_cell"
            self.active_formatting.append(MARKER)
            return
        if kind == "EndTag" and name == "tr":
            if not self._in_table_scope("tr"):
                self._err("unexpected-end-tag")
                return
            self._clear_stack_to_table_context(self._ROW_STOP)
            self.open_elements.pop()
            self.mode = "in_table_body"
            return
        if (kind == "StartTag" and name in ("caption", "col", "colgroup",
                                            "tbody", "tfoot", "thead", "tr")) \
           or (kind == "EndTag" and name == "table"):
            if not self._in_table_scope("tr"):
                self._err("unexpected-end-tag")
                return
            self._clear_stack_to_table_context(self._ROW_STOP)
            self.open_elements.pop()
            self.mode = "in_table_body"
            self._process_token(tok)
            return
        if kind == "EndTag" and name in ("tbody", "tfoot", "thead"):
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag")
                return
            if self._in_table_scope("tr"):
                self._clear_stack_to_table_context(self._ROW_STOP)
                self.open_elements.pop()
                self.mode = "in_table_body"
                self._process_token(tok)
            return
        if kind == "EndTag" and name in ("body", "caption", "col",
                                         "colgroup", "html", "td", "th"):
            self._err("unexpected-end-tag")
            return
        self._tag_in_table(tok)

    def _close_cell(self) -> None:
        if self._in_table_scope("td"):
            self._tag_in_cell(("EndTag", "td"))
        elif self._in_table_scope("th"):
            self._tag_in_cell(("EndTag", "th"))

    def _tag_in_cell(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "EndTag" and name in ("td", "th"):
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag")
                return
            self._generate_implied_end()
            if self.tag[self._current()] != name:
                self._err("unexpected-cell-end-tag")
            self._pop_until(name)
            self._clear_formatting_to_marker()
            self.mode = "in_row"
            return
        if kind == "StartTag" and name in ("caption", "col", "colgroup",
                                           "tbody", "td", "tfoot", "th",
                                           "thead", "tr"):
            if not (self._in_table_scope("td") or self._in_table_scope("th")):
                self._err("unexpected-start-tag")
                return
            self._close_cell()
            self._process_token(tok)
            return
        if kind == "EndTag" and name in ("body", "caption", "col",
                                         "colgroup", "html"):
            self._err("unexpected-end-tag")
            return
        if kind == "EndTag" and name in ("table", "tbody", "tfoot",
                                         "thead", "tr"):
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag")
                return
            self._close_cell()
            self._process_token(tok)
            return
        self._tag_in_body(tok)

    # ------------------------------------------------------------ in select

    def _char_in_select(self, data: str) -> int:
        orig_len = len(data)
        if "\x00" in data:
            self._err("invalid-codepoint")
            data = data.replace("\x00", "")
        self._insert_text(data)
        return orig_len

    def _tag_in_select(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            if name == "html":
                self._tag_in_body(tok)
                return
            if name == "option":
                if self.tag[self._current()] == "option":
                    self.open_elements.pop()
                self._insert_element(name, list(tok[2]))
                return
            if name == "optgroup":
                if self.tag[self._current()] == "option":
                    self.open_elements.pop()
                if self.tag[self._current()] == "optgroup":
                    self.open_elements.pop()
                self._insert_element(name, list(tok[2]))
                return
            if name in ("select", "input", "keygen", "textarea"):
                self._err("unexpected-start-tag-in-select")
                if self._has_in_scope("select", frozenset({"html"})):
                    self._pop_until("select")
                    self._reset_insertion_mode()
                    if name != "select":
                        self._process_token(tok)
                return
            if name in ("script", "template"):
                self._tag_in_head(tok)
                return
        else:
            if name == "option":
                if self.tag[self._current()] == "option":
                    self.open_elements.pop()
                else:
                    self._err("unexpected-end-tag")
                return
            if name == "optgroup":
                if (self.tag[self._current()] == "option"
                        and len(self.open_elements) >= 2
                        and self.tag[self.open_elements[-2]] == "optgroup"):
                    self.open_elements.pop()
                if self.tag[self._current()] == "optgroup":
                    self.open_elements.pop()
                else:
                    self._err("unexpected-end-tag")
                return
            if name == "select":
                if not self._has_in_scope("select", frozenset({"html"})):
                    self._err("unexpected-end-tag")
                    return
                self._pop_until("select")
                self._reset_insertion_mode()
                return
            if name == "template":
                self._tag_in_head(tok)
                return
        self._err("unexpected-token-in-select")

    def _tag_in_select_in_table(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if name in ("caption", "table", "tbody", "tfoot", "thead",
                    "tr", "td", "th"):
            self._err("unexpected-table-element-in-select")
            if kind == "EndTag" and not self._in_table_scope(name):
                return
            self._pop_until("select")
            self._reset_insertion_mode()
            self._process_token(tok)
            return
        self._tag_in_select(tok)

    # ----------------------------------------------------------- after body

    def _char_after_body(self, data: str) -> int:
        ws = _ws_prefix(data)
        if ws:
            return self._char_in_body(data[:ws]) or ws
        self._err("unexpected-char-after-body")
        self.mode = "in_body"
        return 0

    def _tag_after_body(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag" and name == "html":
            self._tag_in_body(tok)
            return
        if kind == "EndTag" and name == "html":
            self.mode = "after_after_body"
            return
        self._err("unexpected-token-after-body")
        self.mode = "in_body"
        self._process_token(tok)

    def _tag_after_after_body(self, tok: tuple) -> None:
        if tok[0] == "StartTag" and tok[1] == "html":
            self._tag_in_body(tok)
            return
        self._err("unexpected-token-after-after-body")
        self.mode = "in_body"
        self._process_token(tok)

    # ---------------------------------------------------------- frameset

    _FRAMESET_CHAR_ERR = {
        "in_frameset": "unexpected-char-in-frameset",
        "after_frameset": "unexpected-char-after-frameset",
        "after_after_frameset": "expected-eof",
    }

    def _char_in_frameset(self, data: str) -> int:
        # also after_frameset and after_after_frameset
        ws = _ws_prefix(data)
        if ws:
            self._insert_text(data[:ws])
            return ws
        # consume the whole non-whitespace run in one step (each char is
        # individually ignored per spec; one error suffices) — returning
        # 1 per char made _process_chars re-slice O(n^2) on large docs
        self._err(self._FRAMESET_CHAR_ERR[self.mode])
        return _non_ws_prefix(data)

    def _tag_in_frameset(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "StartTag":
            if name == "frameset":
                self._insert_element(name, list(tok[2]))
                return
            if name == "frame":
                self._insert_element(name, list(tok[2]), push=False)
                return
            if name == "noframes":
                self._tag_in_head(tok)
                return
            if name == "html":
                self._tag_in_body(tok)
                return
        elif name == "frameset":
            if self.tag[self._current()] != "html":
                self.open_elements.pop()
            if self.tag[self._current()] != "frameset":
                self.mode = "after_frameset"
            return
        self._err("unexpected-token-in-frameset")

    def _tag_after_frameset(self, tok: tuple) -> None:
        kind, name = tok[0], tok[1]
        if kind == "EndTag" and name == "html":
            self.mode = "after_after_frameset"
            return
        if kind == "StartTag" and name == "noframes":
            self._tag_in_head(tok)
            return
        if kind == "StartTag" and name == "html":
            self._tag_in_body(tok)
            return
        self._err("unexpected-token-after-frameset")

    def _tag_after_after_frameset(self, tok: tuple) -> None:
        if tok[0] == "StartTag" and tok[1] in ("html", "noframes"):
            if tok[1] == "noframes":
                self._tag_in_head(tok)
            else:
                self._tag_in_body(tok)
            return
        self._err("expected-eof")


def _ws_prefix(data: str) -> int:
    m = _WS_PREFIX_RX.match(data)
    return m.end() if m else 0


def _non_ws_prefix(data: str) -> int:
    m = _NON_WS_PREFIX_RX.match(data)
    return m.end() if m else 0


def parse_fragment(html_text: str, *, context: str = "body",
                   reference_compat: bool = False,
                   collect_errors: bool = True) -> TreeBuilder:
    """WHATWG 13.4 HTML fragment parsing (innerHTML semantics).

    Parses ``html_text`` as the contents of a ``context`` element: the
    tokenizer starts in the state the context dictates (RCDATA for
    title/textarea, RAWTEXT for style/..., script data, PLAINTEXT),
    svg/math contexts parse their children as foreign content, and tree
    construction starts in the insertion mode the reset algorithm picks
    for the context.  The reference has no fragment API (whole-document
    only, html-qt/htmlparser.cpp:51-58); this is the engine extension
    that lets span-level HTML fragments (e.g. a crawl that stores table
    cells or <option> lists) parse with their real context semantics
    instead of as standalone documents.

    Returns a TreeBuilder whose <html> root node's children are the
    fragment; serialize with ``serialize_tree(tb, root=html_id)``.
    """
    return _parse(html_text, reference_compat, collect_errors,
                  context.lower())[0]


def parse(html_text: str, *, reference_compat: bool = False,
          collect_errors: bool = True) -> TreeBuilder:
    """Parse one document: tokenizer → tree builder.

    Engine version of HTMLParser::parse (html-qt/htmlparser.cpp:51-58):
    set text, run tokenizer, construct tree.  The tokenizer feeds the
    tree builder its tokens at each start tag that may switch the
    tokenizer's state and at ``<![CDATA[``, and the tree builder answers
    (html5lib's design); every caller takes this same path.
    """
    return _parse(html_text, reference_compat, collect_errors)[0]


def _parse(html_text: str, reference_compat: bool = False,
           collect_errors: bool = True, context: str | None = None,
           ) -> tuple[TreeBuilder, int, list[tuple[str, int]]]:
    """The one tokenizer → tree builder run behind :func:`parse` and
    :func:`parse_fragment` (``context`` set).  Returns the tree, the
    token count and the tokenizer's parse errors."""
    tb = TreeBuilder(reference_compat=reference_compat,
                     collect_errors=collect_errors)
    tk = HTMLTokenizer(html_text, reference_compat=reference_compat,
                       collect_errors=collect_errors)
    if context is not None:
        tk.last_start_tag = context  # appropriate end tag in text states
        if context in TEXT_STATES and not reference_compat:
            tk.state = getattr(tk, TEXT_STATES[context])
        root = tb._new_node("html", attrs=[])
        tb._append(root, 0)
        tb.open_elements.append(root)
        tb.fragment_root = root  # serialize/extract from here
        tb.fragment_context = context
        if context == "template" and not reference_compat:
            # spec 13.4 step 11: a template context seeds the stack of
            # template insertion modes, so table-structure routing and
            # nested-template closes resolve exactly as in a document
            tb.template_modes.append("in_template")
        if context in ("svg", "math"):
            # children of a foreign context parse as foreign content: give
            # the dispatcher a foreign current node to route through (HTML
            # breakout tags still escape to the html root, as in documents)
            fid = tb._new_node(context, attrs=[], ns=context)
            tb._append(fid, root)
            tb.open_elements.append(fid)
            tb.fragment_root = fid
        tb._reset_insertion_mode()  # picks the first mode (spec 13.4)
    if not reference_compat:
        # the reference's tree never drives its tokenizer
        tk.tree = tb  # tokenizer -> tree only: no reference cycle
    tokens, errors = tk.run()
    tb.process(tokens)
    return tb, tk.fed + len(tokens), errors


# in-body start-tag dispatch: tag name -> unbound handler (built once at
# import; one dict probe replaces the former ~25-test membership chain)
def _build_in_body_start() -> dict:
    tb = TreeBuilder
    d: dict = {}
    for n in ("base basefont bgsound link meta noframes script style "
              "template title").split():
        d[n] = tb._ibs_in_head
    for n in _P_CLOSERS:
        d[n] = tb._ibs_p_closer
    for n in _HEADINGS:
        d[n] = tb._ibs_heading
    for n in FORMATTING:
        d[n] = tb._ibs_formatting
    d["a"] = tb._ibs_a            # override the generic formatting entry
    d["nobr"] = tb._ibs_nobr
    for n in ("pre", "listing"):
        d[n] = tb._ibs_pre
    for n in ("applet", "marquee", "object"):
        d[n] = tb._ibs_marker_container
    for n in ("area", "br", "embed", "img", "keygen", "wbr"):
        d[n] = tb._ibs_void
    for n in ("param", "source", "track"):
        d[n] = tb._ibs_param
    for n in ("iframe", "noembed"):
        d[n] = tb._ibs_rawtext
    for n in ("optgroup", "option"):
        d[n] = tb._ibs_option
    for n in ("rb", "rtc", "rp", "rt"):
        d[n] = tb._ibs_ruby
    for n in ("caption col colgroup frame head tbody td tfoot th thead "
              "tr").split():
        d[n] = tb._ibs_ignored
    for n in ("math", "svg"):
        d[n] = tb._ibs_foreign_root
    d.update(
        html=tb._ibs_html, body=tb._ibs_body, frameset=tb._ibs_frameset,
        form=tb._ibs_form, li=tb._ibs_list_item, dd=tb._ibs_list_item,
        dt=tb._ibs_list_item, plaintext=tb._ibs_plaintext,
        button=tb._ibs_button, table=tb._ibs_table, input=tb._ibs_input,
        hr=tb._ibs_hr, image=tb._ibs_image, textarea=tb._ibs_textarea,
        xmp=tb._ibs_xmp, select=tb._ibs_select,
    )
    return d


_IN_BODY_START = _build_in_body_start()


def _build_in_body_end() -> dict:
    tb = TreeBuilder
    d: dict = {}
    for n in (*_P_CLOSERS, "li", "dd", "dt"):
        d[n] = tb._ibe_block
    for n in _HEADINGS:
        d[n] = tb._ibe_heading
    for n in FORMATTING:
        d[n] = tb._ibe_formatting
    for n in ("applet", "marquee", "object"):
        d[n] = tb._ibe_marker_container
    d.update(
        body=tb._ibe_body, html=tb._ibe_html, form=tb._ibe_form,
        p=tb._ibe_p, br=tb._ibe_br, template=tb._ibe_template,
    )
    return d


_IN_BODY_END = _build_in_body_end()


# insertion mode -> its end-of-file step (TreeBuilder._process_eof)
_EOF_STEPS = {
    "initial": TreeBuilder._mode_initial_anything,
    "before_html": TreeBuilder._before_html_anything,
    "before_head": TreeBuilder._before_head_anything,
    "in_head": TreeBuilder._in_head_anything,
    "in_head_noscript":
        lambda tb: tb._noscript_anything("eof-in-head-noscript"),
    "after_head": TreeBuilder._after_head_anything,
    "text": TreeBuilder._eof_text,
    "in_table_text": TreeBuilder._flush_table_text,
}

# mode-name -> unbound handler dispatch tables (built once at import;
# avoids per-token "_tag_" + mode string builds and getattr lookups)
TreeBuilder._TAG_DISPATCH = {
    name[len("_tag_"):]: fn
    for name, fn in vars(TreeBuilder).items() if name.startswith("_tag_")
}
TreeBuilder._CHAR_DISPATCH = {
    name[len("_char_"):]: fn
    for name, fn in vars(TreeBuilder).items() if name.startswith("_char_")
}
# modes whose character rules are another mode's (WHATWG: "process the
# token using the rules for" that mode)
TreeBuilder._CHAR_DISPATCH.update(
    in_template=TreeBuilder._char_in_body,
    in_caption=TreeBuilder._char_in_body,
    in_cell=TreeBuilder._char_in_body,
    in_table_body=TreeBuilder._char_in_table,
    in_row=TreeBuilder._char_in_table,
    in_select_in_table=TreeBuilder._char_in_select,
    after_after_body=TreeBuilder._char_after_body,
    after_frameset=TreeBuilder._char_in_frameset,
    after_after_frameset=TreeBuilder._char_in_frameset,
)
