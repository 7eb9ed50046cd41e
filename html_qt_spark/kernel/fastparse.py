"""Fused fast-path parser for simple well-formed HTML fragments.

``try_fast_parse`` scans the raw string with the tokenizer's fast-path
tag regexes and builds the DOM arrays directly — no token tuples, no
per-mode dispatch — for the restricted grammar that covers the
overwhelming majority of real-world content spans: ordinary/block/
heading/formatting/void elements, properly nested, no character
references, comments, doctypes, tables, raw-text elements or foreign
content.  On ANY construct outside that grammar it returns ``None`` and
the caller runs the exact spec pipeline (tokenizer → tree builder), so
observable behavior is identical by construction: every fast-path
handler below mirrors its `treebuilder` counterpart for precisely the
states the guards allow, and `tests/test_fastparse_differential.py`
pins fast-vs-full tree equality over the conformance fixture corpus
plus randomized simple documents.

Only valid with ``collect_errors=False`` (the extraction path): the
fast path does not record parse errors.  It is the one fast-grammar
scanner: ``parse`` tries it first, and ``fast_extract`` (its extraction
view, kept only for perfbench) is ``extract_spans`` over its tree.
"""

from __future__ import annotations

from .extractor import extract_spans
from .tokenizer import _CRLF_RX, _FAST_ATTR, _FAST_END, _FAST_START
from .treebuilder import (
    FORMATTING,
    IMPLIED_END,
    MAX_DEPTH,
    SPECIAL,
    TreeBuilder,
    _HEADINGS,
    _IN_BODY_END,
    _IN_BODY_START,
    _P_CLOSERS,
    _SCOPE_DEFAULT,
    _SCOPE_LIST_ITEM,
)

# start tags the fast machine implements (everything else that has a
# special in-body handler bails; dict-miss tags are ordinary elements)
_VOIDS = frozenset("area br embed img keygen wbr".split())
_PARAM_LIKE = frozenset("param source track".split())
# start tags _ibs_ignored drops with only a parse error
_IGNORED_STARTS = frozenset(
    "caption col colgroup frame head tbody td tfoot th thead tr".split())
_SIMPLE_FORMATTING = FORMATTING - {"a", "nobr"}

# every _IN_BODY_START key the machine handles; any other key bails
_HANDLED_STARTS = (_P_CLOSERS | _HEADINGS | _SIMPLE_FORMATTING | _VOIDS
                   | _PARAM_LIKE | _IGNORED_STARTS
                   | {"a", "hr", "input", "li", "dd", "dt"})

# end tags with a special handler the machine implements; other keys of
# _IN_BODY_END bail, dict-miss end tags take the _any_other_end_tag walk
_HANDLED_ENDS = (_P_CLOSERS | _HEADINGS | _SIMPLE_FORMATTING
                 | {"a", "p", "li", "dd", "dt", "br"})

_WS = "\t\n\f \r"


def try_fast_parse(html_text: str) -> TreeBuilder | None:
    """Parse ``html_text`` iff it stays inside the fast grammar;
    returns None (caller falls back to the exact pipeline) otherwise."""
    if "&" in html_text or "\x00" in html_text:
        return None
    if "\r" in html_text:
        html_text = _CRLF_RX.sub("\n", html_text)
    n = len(html_text)
    # must open with a START tag that takes the _tag_initial fused ladder
    # (names in the ladder's exclude set route through before_html/
    # before_head/in_head specially — e.g. a leading <br> or <head>)
    m0 = _FAST_START.match(html_text)
    if m0 is None or m0.group(1).lower() in \
            TreeBuilder._INITIAL_LADDER_EXCLUDE:
        return None

    tb = TreeBuilder(collect_errors=False)
    tag = tb.tag
    parent = tb.parent
    children = tb.children
    attrs_arr = tb.attrs
    text_arr = tb.text
    ns_arr = tb.ns

    def new_node(name: str, attrs, txt=None) -> int:
        nid = len(tag)
        tag.append(name)
        parent.append(-1)
        children.append([])
        attrs_arr.append(attrs)
        text_arr.append(txt)
        ns_arr.append("html")
        return nid

    # scaffolding exactly as the _tag_initial fused ladder builds it
    html_id = new_node("html", [])
    parent[html_id] = 0
    children[0].append(html_id)
    head_id = new_node("head", [])
    parent[head_id] = html_id
    children[html_id].append(head_id)
    body_id = new_node("body", [])
    parent[body_id] = html_id
    children[html_id].append(body_id)

    open_nids = [html_id, body_id]
    open_names = ["html", "body"]
    # active formatting: parallel (nid, token) entries; every entry's
    # element is on the open stack (bail whenever that would break)
    afe: list[tuple[int, tuple]] = []
    afe_nids: set[int] = set()
    frameset_ok = True

    fast_start = _FAST_START.match
    fast_end = _FAST_END.match
    find = html_text.find

    def insert(name: str, attrs, push: bool) -> int:
        parent_id = open_nids[-1]
        nid = new_node(name, attrs)
        parent[nid] = parent_id
        children[parent_id].append(nid)
        if push and len(open_nids) < MAX_DEPTH:
            open_nids.append(nid)
            open_names.append(name)
        return nid

    def pop_through(idx: int) -> bool:
        """del open[idx:], bailing if a formatting element would drop
        off the stack while its AFE entry survives."""
        for j in range(len(open_nids) - 1, idx - 1, -1):
            if open_nids[j] in afe_nids:
                return False
        del open_nids[idx:]
        del open_names[idx:]
        return True

    def close_p() -> bool:
        # generate implied end tags except p, then pop through p
        while open_names[-1] in IMPLIED_END and open_names[-1] != "p":
            if open_nids[-1] in afe_nids:  # pragma: no cover — impossible
                return False
            open_nids.pop()
            open_names.pop()
        try:
            idx = len(open_names) - 1 - open_names[::-1].index("p")
        except ValueError:
            return True  # MAX_DEPTH edge: p was never pushed
        return pop_through(idx)

    pos = 0
    while pos < n:
        lt = find("<", pos)
        if lt != pos:
            # text run up to the next tag (or EOF)
            data = html_text[pos:] if lt == -1 else html_text[pos:lt]
            pid = open_nids[-1]
            kids = children[pid]
            if kids and tag[kids[-1]] == "#text":
                text_arr[kids[-1]] += data
            else:
                nid = new_node("#text", None, data)
                parent[nid] = pid
                kids.append(nid)
            if frameset_ok and data.strip(_WS):
                frameset_ok = False
            if lt == -1:
                break
            pos = lt
        if html_text.startswith("/", lt + 1):
            fm = fast_end(html_text, lt)
            if fm is None:
                return None
            name = fm.group(1).lower()
            pos = fm.end()
            if name in _HANDLED_ENDS:
                if name in _SIMPLE_FORMATTING or name == "a":
                    # adoption agency, restricted to its degenerate case
                    entry_i = None
                    for i in range(len(afe) - 1, -1, -1):
                        if tag[afe[i][0]] == name:
                            entry_i = i
                            break
                    if entry_i is None:
                        # no AFE entry -> _any_other_end_tag: by the AFE
                        # invariant the element is not open, and the walk
                        # stops at the first special (body) -> ignore
                        continue
                    nid = afe[entry_i][0]
                    if nid != open_nids[-1]:
                        return None
                    open_nids.pop()
                    open_names.pop()
                    afe_nids.discard(nid)
                    del afe[entry_i]
                    continue
                if name == "p":
                    if "p" not in open_names:
                        # spec: synthesize an empty <p>, then close it
                        insert("p", [], push=False)
                        continue
                    if not close_p():
                        return None
                    continue
                if name == "li":
                    # list-item scope walk
                    in_scope = False
                    for t in reversed(open_names):
                        if t == "li":
                            in_scope = True
                            break
                        if t in _SCOPE_LIST_ITEM:
                            break
                    if not in_scope:
                        continue
                    while open_names[-1] in IMPLIED_END \
                            and open_names[-1] != "li":
                        open_nids.pop()
                        open_names.pop()
                    idx = len(open_names) - 1 - open_names[::-1].index("li")
                    if not pop_through(idx):
                        return None
                    continue
                if name in ("dd", "dt"):
                    if name not in open_names:
                        continue
                    while open_names[-1] in IMPLIED_END \
                            and open_names[-1] != name:
                        open_nids.pop()
                        open_names.pop()
                    idx = len(open_names) - 1 - open_names[::-1].index(name)
                    if not pop_through(idx):
                        return None
                    continue
                if name in _HEADINGS:
                    found = False
                    for t in reversed(open_names):
                        if t in _HEADINGS:
                            found = True
                            break
                        if t in _SCOPE_DEFAULT:
                            break
                    if not found:
                        continue
                    while open_names[-1] in IMPLIED_END:
                        open_nids.pop()
                        open_names.pop()
                    # pop until any heading comes off
                    idx = len(open_names) - 1
                    while idx > 0 and open_names[idx] not in _HEADINGS:
                        idx -= 1
                    if not pop_through(idx):
                        return None
                    continue
                if name == "br":
                    insert("br", [], push=False)
                    frameset_ok = False
                    continue
                # block end (_ibe_block): scope check, implied ends, pop
                if name not in open_names:
                    continue
                while open_names[-1] in IMPLIED_END:
                    open_nids.pop()
                    open_names.pop()
                if name not in open_names:  # pragma: no cover — guard
                    continue
                idx = len(open_names) - 1 - open_names[::-1].index(name)
                if not pop_through(idx):
                    return None
                continue
            if name in _IN_BODY_END:
                # special handler the machine does not implement: the
                # no-op cases (marker containers / form never open here)
                # still bail — cheap and provably safe
                return None
            # _any_other_end_tag
            for i in range(len(open_names) - 1, -1, -1):
                t = open_names[i]
                if t == name:
                    while len(open_names) - 1 > i \
                            and open_names[-1] in IMPLIED_END \
                            and open_names[-1] != name:
                        open_nids.pop()
                        open_names.pop()
                    if not pop_through(i):
                        return None
                    break
                if t in SPECIAL:
                    break  # ignore
            continue
        fm = fast_start(html_text, lt)
        if fm is None:
            return None
        name = fm.group(1).lower()
        pos = fm.end()
        handler_known = name in _HANDLED_STARTS
        if not handler_known and name in _IN_BODY_START:
            return None  # special handler outside the fast grammar
        # attributes (identical to the tokenizer fast path: keep-first)
        blob = fm.group(2)
        if blob:
            attrs: list[tuple[str, str]] = []
            seen = None
            for am in _FAST_ATTR.finditer(blob):
                v = am.group(2)
                if v is None:
                    v = am.group(3)
                if v is None:
                    v = am.group(4)
                k = am.group(1).lower()
                if seen is None:
                    seen = {k}
                elif k in seen:
                    continue  # duplicate-attribute: keep first
                else:
                    seen.add(k)
                attrs.append((k, v if v is not None else ""))
        else:
            attrs = []
        self_closing = fm.group(3) == "/"
        if not handler_known:
            # ordinary element: reconstruct (no-op by invariant) + insert
            insert(name, list(attrs), push=True)
            continue
        if name in _IGNORED_STARTS:
            continue
        if name in _P_CLOSERS:
            if "p" in open_names and not close_p():
                return None
            insert(name, list(attrs), push=True)
            continue
        if name in _HEADINGS:
            if "p" in open_names and not close_p():
                return None
            if open_names[-1] in _HEADINGS:
                open_nids.pop()
                open_names.pop()
            insert(name, list(attrs), push=True)
            continue
        if name in _SIMPLE_FORMATTING or name == "a":
            if name == "a":
                if any(tag[e[0]] == "a" for e in afe):
                    return None  # start-tag-implies-end-tag + adoption
            else:
                if sum(1 for e in afe if tag[e[0]] == name) >= 3:
                    return None  # Noah's Ark clause
            nid = insert(name, list(attrs), push=True)
            if open_nids[-1] != nid:
                return None  # MAX_DEPTH edge: AFE invariant would break
            afe.append((nid, ("StartTag", name, attrs, self_closing)))
            afe_nids.add(nid)
            continue
        if name in _VOIDS:
            insert(name, list(attrs), push=False)
            frameset_ok = False
            continue
        if name in _PARAM_LIKE:
            insert(name, list(attrs), push=False)
            continue
        if name == "hr":
            if "p" in open_names and not close_p():
                return None
            insert(name, list(attrs), push=False)
            frameset_ok = False
            continue
        if name == "input":
            insert(name, list(attrs), push=False)
            typ = next((v for k, v in attrs if k == "type"), "")
            if typ.lower() != "hidden":
                frameset_ok = False
            continue
        if name == "li":
            frameset_ok = False
            for i in range(len(open_names) - 1, -1, -1):
                t = open_names[i]
                if t == "li":
                    while open_names[-1] in IMPLIED_END \
                            and open_names[-1] != "li":
                        open_nids.pop()
                        open_names.pop()
                    idx = len(open_names) - 1 - open_names[::-1].index("li")
                    if not pop_through(idx):
                        return None
                    break
                if t in SPECIAL and t not in ("address", "div", "p"):
                    break
            if "p" in open_names and not close_p():
                return None
            insert(name, list(attrs), push=True)
            continue
        # dd / dt
        frameset_ok = False
        for i in range(len(open_names) - 1, -1, -1):
            t = open_names[i]
            if t in ("dd", "dt"):
                while open_names[-1] in IMPLIED_END \
                        and open_names[-1] != t:
                    open_nids.pop()
                    open_names.pop()
                idx = len(open_names) - 1 - open_names[::-1].index(t)
                if not pop_through(idx):
                    return None
                break
            if t in SPECIAL and t not in ("address", "div", "p"):
                break
        if "p" in open_names and not close_p():
            return None
        insert(name, list(attrs), push=True)

    # final state: identical to the spec pipeline after in-body EOF
    tb.open_elements = open_nids
    tb.active_formatting = list(afe)
    tb.mode = "in_body"
    tb.quirks_mode = "quirks"
    tb.head_id = head_id
    tb.frameset_ok = frameset_ok
    tb.done = True
    return tb


def fast_extract(html_text: str) -> list | None:
    """(kind, text, media_ref) spans for fast-grammar input, else None.

    ``extract_spans`` over the ``try_fast_parse`` tree.  No package
    module calls it; it stays because perfbench (replay.py and the
    html-pages reach count in workloads.py) times and counts it as its
    own layer.
    """
    tb = try_fast_parse(html_text)
    return None if tb is None else extract_spans(tb)
