"""WHATWG HTML5 tokenizer kernel (pure Python, Spark-free, run-coalescing).

Re-expresses the reference's character-at-a-time DFA
(html-qt/htmltokenizer.cpp:62-83: ``while (stateFn() && !streamAtEnd())``)
as a run-coalescing scanner: each accumulating state consumes a *run* of
ordinary characters with one compiled-regex scan, then handles the single
significant character that ended the run.  Spark parallelism is across
documents (this kernel runs inside a vectorized Arrow UDF); within a
document the DFA is inherently sequential.

State coverage: all ~40 states the reference implements
(html-qt/htmltokenizer.cpp:110-1429, catalogued in SURVEY.md §2.1) PLUS the
states it declares but never implements (htmltokenizer_p.h:88 "// ... RC Raw
Script"): RCDATA / RAWTEXT / script-data (incl. escaped & double-escaped),
PLAINTEXT, bogus-comment, comment-end-bang, CDATA.  Named character
references — broken in the reference (htmltokenizer.cpp:33-40,1473-1475) —
are resolved per spec via :mod:`.entities`.

``reference_compat=True`` reproduces the reference's catalogued divergences
(SURVEY.md §5.3) for fixture parity:
  * named entities never resolve (htmltokenizer.cpp:1473-1475);
  * NUL in the data state emits the NUL then jumps to tag-open
    (htmltokenizer.cpp:125-128);
  * astral numeric refs truncate to the high UTF-16 unit
    (htmltokenizer.cpp:1549);
  * RCDATA/RAWTEXT/script contents tokenize as ordinary markup
    (htmltokenizer_p.h:88).

Tokens are plain tuples (cheap to build, Arrow-friendly to serialize):
  ("Character", text)                       -- coalesced runs (SURVEY §2.5)
  ("StartTag", name, [(k, v), ...], self_closing: bool)
  ("EndTag", name)
  ("Comment", text)
  ("DOCTYPE", name|None, public|None, system|None, correct: bool)
Parse errors accumulate separately as (code, pos) using the reference's
html5lib error vocabulary (e.g. htmltokenizer.cpp:186,329,1515,1530).
"""

from __future__ import annotations

import re

from .entities import decode_numeric, match_named

# ---------------------------------------------------------------- constants

WHITESPACE = "\t\n\f "

# Start tags that can take the tokenizer out of the data state (WHATWG
# 13.2.6.2 / 13.2.6.4.7), mapped to the state they switch to; the
# reference never implements these switches (htmltokenizer_p.h:88).
# Whether a given tag switches is the tree builder's decision (svg
# <title> is foreign, <style> in <select> is ignored): with a tree
# attached the tokenizer hands it the tokens and applies its answer;
# without one (``tokenize``) the tag name alone decides.
TEXT_STATES = {
    "title": "_rcdata_state", "textarea": "_rcdata_state",
    "style": "_rawtext_state", "xmp": "_rawtext_state",
    "iframe": "_rawtext_state", "noembed": "_rawtext_state",
    "noframes": "_rawtext_state",
    "script": "_script_data_state", "plaintext": "_plaintext_state",
}

# ------------------------------------------------------ run-scan regexes
_DATA_RX = re.compile(r"[&<\x00]")
_RCDATA_RX = re.compile(r"[&<\x00]")
_RAWTEXT_RX = re.compile(r"[<\x00]")
_TAG_NAME_RUN = re.compile(r"[^\t\n\f />\x00]+")
_ATTR_NAME_RUN = re.compile(r"[^\t\n\f /=>\x00\"'<]+")
_ATTR_DQ_RUN = re.compile(r"[^\"&\x00]+")
_ATTR_SQ_RUN = re.compile(r"[^'&\x00]+")
_ATTR_UQ_RUN = re.compile(r"[^\t\n\f >&\x00\"'<=`]+")
_COMMENT_RUN = re.compile(r"[^-<\x00]+")
_BOGUS_RUN = re.compile(r"[^>\x00]+")
_DOCTYPE_NAME_RUN = re.compile(r"[^\t\n\f >\x00]+")
_ID_DQ_RUN = re.compile(r"[^\">\x00]+")
_ID_SQ_RUN = re.compile(r"[^'>\x00]+")
_WS_RUN = re.compile(r"[\t\n\f ]+")
_DEC_RUN = re.compile(r"[0-9]+")
_HEX_RUN = re.compile(r"[0-9a-fA-F]+")
_ALPHA = re.compile(r"[a-zA-Z]")
_SCRIPT_RX = re.compile(r"[<\x00]")
_SCRIPT_ESC_RX = re.compile(r"[<\-\x00]")

_CRLF_RX = re.compile(r"\r\n?")

# WHATWG lowercases ASCII letters only in tag, attribute and DOCTYPE
# names; str.lower() would also fold e.g. KELVIN SIGN (U+212A) to "k"
_ASCII_LOWER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                             "abcdefghijklmnopqrstuvwxyz")


def _ascii_lower(s: str) -> str:
    return s.lower() if s.isascii() else s.translate(_ASCII_LOWER)


# ---- fast-path tag regexes (data state only) -------------------------
# One regex match replaces ~6-10 state-machine calls for the overwhelmingly
# common well-formed tags.  The character classes are deliberately
# conservative: anything they don't match (charrefs in values, NULs,
# missing inter-attribute whitespace, exotic name chars, parse errors)
# falls back to the exact spec state machine, so observable behavior is
# identical — this is purely a dispatch-overhead optimization.
_FAST_START = re.compile(
    # possessive quantifiers (*+): a failed match may NOT backtrack into
    # fewer attributes — adversarial unclosed tags with thousands of
    # attributes would otherwise cost O(n^2); on failure the state machine
    # takes over anyway
    r"<([a-zA-Z][a-zA-Z0-9-]*+)"
    r"((?:[\t\n\f ]++[a-zA-Z_:][a-zA-Z0-9_:.-]*+"
    r"(?:[\t\n\f ]*+=[\t\n\f ]*+"
    r"(?:\"[^\"&\x00]*+\"|'[^'&\x00]*+'|[^\t\n\f >&\"'<=`\x00]++))?+)*+"
    r")[\t\n\f ]*+(/?+)>")
_FAST_ATTR = re.compile(
    r"[\t\n\f ]+([a-zA-Z_:][a-zA-Z0-9_:.-]*)"
    r"(?:[\t\n\f ]*=[\t\n\f ]*"
    r"(?:\"([^\"&\x00]*)\"|'([^'&\x00]*)'|([^\t\n\f >&\"'<=`\x00]+)))?")
_FAST_END = re.compile(r"</([a-zA-Z][a-zA-Z0-9-]*)[\t\n\f ]*>")


class HTMLTokenizer:
    """One-document tokenizer. Instantiate per document (cheap) or reuse
    via :meth:`reset` inside a batch loop."""

    __slots__ = (
        "html", "pos", "n", "tokens", "errors", "_charbuf",
        "tag_name", "tag_is_end", "self_closing", "attrs", "attr_name",
        "attr_value", "comment", "doctype_name", "doctype_public",
        "doctype_system", "doctype_keyword", "force_quirks",
        "last_start_tag", "temp_buf", "state", "return_state",
        "reference_compat", "collect_errors", "_data_state_ref", "tree", "fed",
    )

    def __init__(self, html_text: str = "", *, reference_compat: bool = False,
                 collect_errors: bool = True) -> None:
        self.reference_compat = reference_compat
        self.collect_errors = collect_errors
        # tree builder fed at each TEXT_STATES start tag and at
        # "<![CDATA[" (see _feed_tree); None: tokenize on names alone
        self.tree = None
        self.reset(html_text)

    def reset(self, html_text: str) -> None:
        # Input preprocessing (WHATWG 13.2.3.5): normalize CRLF / CR.
        if "\r" in html_text:
            html_text = _CRLF_RX.sub("\n", html_text)
        self.html = html_text
        self.pos = 0
        self.n = len(html_text)
        self.tokens: list[tuple] = []
        self.errors: list[tuple[str, int]] = []
        self._charbuf: list[str] = []
        self.tag_name = ""
        self.tag_is_end = False
        self.self_closing = False
        self.attrs: list[list[str]] = []  # [name_str, [value_parts]] pairs
        self.attr_name: list[str] = []
        self.attr_value: list[str] = []
        self.comment: list[str] = []
        self.doctype_name: list[str] | None = None
        self.doctype_public: list[str] | None = None
        self.doctype_system: list[str] | None = None
        self.doctype_keyword = ""  # "public" | "system": the id being read
        self.force_quirks = False
        self.last_start_tag = ""
        self.temp_buf: list[str] = []
        self.fed = 0  # tokens already handed to self.tree
        # stable bound-method ref: identity checks against self._data_state
        # would fail (a fresh bound method per attribute access)
        self._data_state_ref = self._data_state
        self.state = self._data_state_ref

    # ------------------------------------------------------------ plumbing

    def run(self) -> tuple[list[tuple], list[tuple[str, int]]]:
        """Tokenize to EOF; returns the tokens not yet fed to ``tree``
        (all of them without a tree) and the parse errors."""
        while True:
            st = self.state
            if not st():
                break
        self._flush_chars()
        # the bound-method refs point back at self: dropping them lets
        # refcounting free the tokenizer (and its tokens) without the GC
        self.state = self._data_state_ref = self.return_state = None
        return self.tokens, self.errors

    def _feed_tree(self) -> str | None:
        """Hand every token emitted so far to ``tree``; returns the
        TEXT_STATES key it asked the tokenizer to switch to, if any."""
        self._flush_chars()
        tokens = self.tokens
        tree = self.tree
        tree.feed(tokens)
        self.fed += len(tokens)
        tokens.clear()  # in place: _data_state's hot loop holds a binding
        switch = tree.tokenizer_switch
        tree.tokenizer_switch = None
        return switch

    def _err(self, code: str) -> None:
        if self.collect_errors:
            self.errors.append((code, self.pos))

    def _chars(self, s: str) -> None:
        self._charbuf.append(s)

    def _flush_chars(self) -> None:
        # clear IN PLACE: _data_state's hot loop holds a binding to this list
        buf = self._charbuf
        if buf:
            self.tokens.append(("Character", "".join(buf)))
            buf.clear()

    def _finish_attr(self) -> None:
        if self.attr_name:
            name = "".join(self.attr_name)
            self.attrs.append([name, self.attr_value])
            self.attr_name = []
            self.attr_value = []

    def _new_tag(self, is_end: bool) -> None:
        self.tag_name = ""
        self.tag_is_end = is_end
        self.self_closing = False
        self.attrs = []
        self.attr_name = []
        self.attr_value = []

    def _emit_tag(self) -> None:
        # inline _finish_attr/_flush_chars (hot: once per tag; the fast
        # tag path never populates attr_name, and charbuf is often empty)
        if self.attr_name:
            self._finish_attr()
        buf = self._charbuf
        if buf:
            self.tokens.append(("Character", "".join(buf)))
            buf.clear()
        # Emitting a tag always returns to the data state unless a
        # TEXT_STATES start tag switches it below.
        self.state = self._data_state_ref
        name = self.tag_name
        if self.tag_is_end:
            # end-tag sanity errors mirror emitCurrentToken
            # (html-qt/htmltokenizer.cpp:1563-1569)
            if self.attrs:
                self._err("attributes-in-end-tag")
            if self.self_closing:
                self._err("self-closing-flag-on-end-tag")
            self.tokens.append(("EndTag", name))
        else:
            out = [(k, "".join(vparts)) for k, vparts in self.attrs]
            if len(out) > 1:
                out = self._attr_list(out)
            self.tokens.append(("StartTag", name, out, self.self_closing))
            self.last_start_tag = name
            if name in TEXT_STATES:
                self._text_switch(name)

    def _attr_list(self, pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """A start tag's attributes: the first of each name is kept, each
        later one is a duplicate-attribute error at ``self.pos`` (just
        past the tag's ``>``)."""
        kept: dict[str, str] = {}
        for k, v in pairs:
            if k in kept:
                self._err("duplicate-attribute")
            else:
                kept[k] = v
        return list(kept.items())

    def _text_switch(self, name: str) -> bool:
        """After a TEXT_STATES start tag: enter the text state the tree
        builder asks for (without a tree, the one ``name`` maps to).
        Returns whether the state changed."""
        if self.reference_compat:
            return False
        switch = name if self.tree is None else self._feed_tree()
        if not switch:
            return False
        self.state = getattr(self, TEXT_STATES[switch])
        return True

    def _emit_comment(self) -> None:
        self._flush_chars()
        self.tokens.append(("Comment", "".join(self.comment)))
        self.comment = []

    def _emit_doctype(self) -> None:
        self._flush_chars()
        self.tokens.append((
            "DOCTYPE",
            "".join(self.doctype_name) if self.doctype_name is not None else None,
            "".join(self.doctype_public) if self.doctype_public is not None else None,
            "".join(self.doctype_system) if self.doctype_system is not None else None,
            not self.force_quirks,
        ))
        self.doctype_name = self.doctype_public = self.doctype_system = None
        self.force_quirks = False

    # -------------------------------------------------- character references

    def _consume_charref(self, additional_allowed: str = "",
                         in_attribute: bool = False) -> str | None:
        """Decode a charref at ``self.pos`` (just past ``&``).

        Returns replacement text (pos advanced past the reference) or None
        (pos untouched; caller keeps the literal ``&``).  Engine version of
        consumeEntity (html-qt/htmltokenizer.cpp:1438-1477) with the missing
        named branch filled in.
        """
        pos = self.pos
        if pos >= self.n:
            return None
        c = self.html[pos]
        if c in "\t\n\f <&" or (additional_allowed and c == additional_allowed):
            return None
        if c == "#":
            p = pos + 1
            hexmode = p < self.n and self.html[p] in "xX"
            if hexmode:
                p += 1
            m = (_HEX_RUN if hexmode else _DEC_RUN).match(self.html, p)
            if m is None:
                self._err("expected-numeric-entity")
                return None
            digits = m.group()
            p = m.end()
            if p < self.n and self.html[p] == ";":
                p += 1
            else:
                # html-qt/htmltokenizer.cpp:1514-1517
                self._err("numeric-entity-without-semicolon")
            cp = int(digits, 16 if hexmode else 10)
            text, err = decode_numeric(cp)
            if err:
                self._err(err)
            if self.reference_compat and cp > 0xFFFF and text != "�":
                # reference truncates to one UTF-16 unit
                # (html-qt/htmltokenizer.cpp:1549): lone high surrogate
                text = chr(0xD800 + (((cp - 0x10000) >> 10) & 0x3FF))
            self.pos = p
            return text
        # named reference — the branch the reference leaves empty
        # (html-qt/htmltokenizer.cpp:1473-1475)
        if self.reference_compat:
            return None
        found = match_named(self.html, pos)
        if found is None:
            return None
        rep, ln = found
        if self.html[pos + ln - 1] != ";":
            if in_attribute:
                nxt = self.html[pos + ln] if pos + ln < self.n else ""
                if nxt == "=" or nxt.isalnum():
                    return None  # legacy attribute suppression rule
            self._err("named-entity-without-semicolon")
        self.pos = pos + ln
        return rep

    # --------------------------------------------------------- text states

    def _data_state(self) -> bool:
        # Hot loop: stays inside this state across consecutive text runs
        # and fast-path tags instead of bouncing through run()'s dispatch
        # per special character.  Exits only on EOF or a real state change.
        html = self.html
        n = self.n
        search = _DATA_RX.search
        charbuf = self._charbuf
        tokens = self.tokens
        fast_end = _FAST_END.match
        fast_start = _FAST_START.match
        # `pos` lives in a local across the whole loop; self.pos is only
        # synchronized at exits and around calls that read it — cuts 3-4
        # attribute loads/stores per tag/text-run iteration off the
        # hottest loop in the kernel
        pos = self.pos
        while True:
            m = search(html, pos)
            if m is None:
                if pos < n:
                    charbuf.append(html[pos:])
                self.pos = n
                return False
            start = m.start()
            if start > pos:
                charbuf.append(html[pos:start])
            c = html[start]
            if c == "<":
                # fast path: whole well-formed tag in one regex (see
                # above).  One char peek picks end- vs start-tag so the
                # common case never pays a guaranteed-failing match.
                if html.startswith("/", start + 1):
                    fm = fast_end(html, start)
                else:
                    fm = None
                if fm:
                    # direct emit: fast end tags carry no attrs/flags and
                    # touch no other state
                    if charbuf:
                        tokens.append(("Character", "".join(charbuf)))
                        charbuf.clear()
                    tokens.append(("EndTag", fm.group(1).lower()))
                    pos = fm.end()
                    continue
                fm = fast_start(html, start)
                if fm:
                    # direct emit; only a TEXT_STATES name may then
                    # switch state
                    name = fm.group(1).lower()
                    if charbuf:
                        tokens.append(("Character", "".join(charbuf)))
                        charbuf.clear()
                    pos = fm.end()
                    blob = fm.group(2)
                    out: list[tuple[str, str]] = []
                    if blob:
                        for am in _FAST_ATTR.finditer(blob):
                            v = am.group(2)
                            if v is None:
                                v = am.group(3)
                            if v is None:
                                v = am.group(4)
                            out.append((am.group(1).lower(),
                                        v if v is not None else ""))
                        # dict(out) drops repeated names at C speed: only
                        # a tag with a duplicate pays for the rule
                        if len(out) > 1 and len(dict(out)) < len(out):
                            self.pos = pos
                            out = self._attr_list(out)
                    tokens.append(("StartTag", name, out, fm.group(3) == "/"))
                    self.last_start_tag = name
                    if name in TEXT_STATES and self._text_switch(name):
                        self.pos = pos
                        return True
                    continue
                self.pos = start + 1
                self.state = self._tag_open_state
                return True
            if c == "&":
                self.pos = start + 1
                t = self._consume_charref()
                pos = self.pos
                charbuf.append(t if t is not None else "&")
                continue
            # NUL
            self.pos = pos = start + 1
            self._err("invalid-codepoint")
            charbuf.append("\x00")
            if self.reference_compat:
                # reference bug: NUL falls through to tag-open
                # (html-qt/htmltokenizer.cpp:125-128)
                self.pos = pos
                self.state = self._tag_open_state
                return True

    def _rcdata_state(self) -> bool:
        m = _RCDATA_RX.search(self.html, self.pos)
        if m is None:
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            return False
        if m.start() > self.pos:
            self._chars(self.html[self.pos:m.start()])
        self.pos = m.start() + 1
        c = m.group()
        if c == "<":
            self.return_state = self._rcdata_state
            self.state = self._text_lt_state
        elif c == "&":
            t = self._consume_charref()
            self._chars(t if t is not None else "&")
        else:
            self._err("invalid-codepoint")
            self._chars("�")
        return True

    def _rawtext_state(self) -> bool:
        m = _RAWTEXT_RX.search(self.html, self.pos)
        if m is None:
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            return False
        if m.start() > self.pos:
            self._chars(self.html[self.pos:m.start()])
        self.pos = m.start() + 1
        if m.group() == "<":
            self.return_state = self._rawtext_state
            self.state = self._text_lt_state
        else:
            self._err("invalid-codepoint")
            self._chars("�")
        return True

    def _plaintext_state(self) -> bool:
        rest = self.html[self.pos:]
        if "\x00" in rest:
            self._err("invalid-codepoint")
            rest = rest.replace("\x00", "�")
        self._chars(rest)
        self.pos = self.n
        return False

    # ------------------------------------------ end tags of the text states
    # WHATWG writes the "less-than sign", "end tag open" and "end tag name"
    # states out once each for RCDATA, RAWTEXT, script data and escaped
    # script data; they differ only in the state they fall back to, which
    # is ``return_state`` here (set by _rcdata_state, _rawtext_state,
    # _script_lt_state and _script_escaped_lt_state)

    def _text_lt_state(self) -> bool:
        if self.pos < self.n and self.html[self.pos] == "/":
            self.pos += 1
            self.temp_buf = []
            self.state = self._text_end_tag_open_state
        else:
            self._chars("<")
            self.state = self.return_state
        return True

    def _text_end_tag_open_state(self) -> bool:
        if self.pos < self.n and _ALPHA.match(self.html, self.pos):
            self._new_tag(is_end=True)
            self.state = self._text_end_tag_name_state
        else:
            self._chars("</")
            self.state = self.return_state
        return True

    def _text_end_tag_name_state(self) -> bool:
        m = _TAG_NAME_RUN.match(self.html, self.pos)
        run = ""
        if m:
            # only ASCII alpha participates in appropriate-end-tag matching
            run = m.group()
            stop = len(run)
            for i, ch in enumerate(run):
                if not ch.isascii() or not ch.isalpha():
                    stop = i
                    break
            run = run[:stop]
        if run:
            self.tag_name += _ascii_lower(run)
            self.temp_buf.append(run)
            self.pos += len(run)
        appropriate = self.tag_name == self.last_start_tag
        c = self.html[self.pos] if self.pos < self.n else ""
        # NB: c == "" (EOF) must fall to anything-else — `"" in
        # WHITESPACE` is True for the str constant, which silently
        # swallowed `</script`+EOF into before-attribute-name
        if appropriate and c != "" and c in WHITESPACE:
            self.pos += 1
            self.state = self._before_attribute_name_state
        elif appropriate and c == "/":
            self.pos += 1
            self.state = self._self_closing_state
        elif appropriate and c == ">":
            self.pos += 1
            self._emit_tag()
        else:
            self._chars("</" + "".join(self.temp_buf))
            self.state = self.return_state
        return True

    # ----------------------------------------------------- script data

    def _script_data_state(self) -> bool:
        m = _SCRIPT_RX.search(self.html, self.pos)
        if m is None:
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            return False
        if m.start() > self.pos:
            self._chars(self.html[self.pos:m.start()])
        self.pos = m.start() + 1
        if m.group() == "<":
            self.state = self._script_lt_state
        else:
            self._err("invalid-codepoint")
            self._chars("�")
        return True

    def _script_lt_state(self) -> bool:
        self.return_state = self._script_data_state
        if self.html.startswith("!--", self.pos):
            # the script data escape start and escape start dash states
            # as one lookahead: "<!" or "<!-" without the second dash is
            # just text, which script data then emits anyway
            self.pos += 3
            self._chars("<!--")
            self.state = self._script_escaped_dash_dash_state
            return True
        return self._text_lt_state()

    def _script_escaped_state(self) -> bool:
        m = _SCRIPT_ESC_RX.search(self.html, self.pos)
        if m is None:
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            self._err("eof-in-script")
            return False
        if m.start() > self.pos:
            self._chars(self.html[self.pos:m.start()])
        self.pos = m.start() + 1
        c = m.group()
        if c == "-":
            self._chars("-")
            self.state = self._script_escaped_dash_state
        elif c == "<":
            self.state = self._script_escaped_lt_state
        else:
            self._err("invalid-codepoint")
            self._chars("�")
        return True

    def _script_escaped_dash_state(self) -> bool:
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-script")
            return False
        self.pos += 1
        if c == "-":
            self._chars("-")
            self.state = self._script_escaped_dash_dash_state
        elif c == "<":
            self.state = self._script_escaped_lt_state
        elif c == "\x00":
            self._err("invalid-codepoint")
            self._chars("�")
            self.state = self._script_escaped_state
        else:
            self._chars(c)
            self.state = self._script_escaped_state
        return True

    def _script_escaped_dash_dash_state(self) -> bool:
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-script")
            return False
        self.pos += 1
        if c == "-":
            self._chars("-")
        elif c == "<":
            self.state = self._script_escaped_lt_state
        elif c == ">":
            self._chars(">")
            self.state = self._script_data_state
        elif c == "\x00":
            self._err("invalid-codepoint")
            self._chars("�")
            self.state = self._script_escaped_state
        else:
            self._chars(c)
            self.state = self._script_escaped_state
        return True

    def _script_escaped_lt_state(self) -> bool:
        self.return_state = self._script_escaped_state
        if self.pos < self.n and _ALPHA.match(self.html, self.pos):
            self._chars("<")
            self.temp_buf = []
            self.state = self._script_double_escape_start_state
            return True
        return self._text_lt_state()

    def _script_double_escape_toggle(self, if_script, otherwise) -> bool:
        # WHATWG's script data double escape start and double escape end
        # states: the same scan, with the two outcomes swapped
        c = self.html[self.pos] if self.pos < self.n else ""
        if c and (c in WHITESPACE or c in "/>"):
            self.pos += 1
            self._chars(c)
            if "".join(self.temp_buf).lower() == "script":
                self.state = if_script
            else:
                self.state = otherwise
        elif c and _ALPHA.match(c):
            self.pos += 1
            self.temp_buf.append(c)
            self._chars(c)
        else:
            self.state = otherwise
        return True

    def _script_double_escape_start_state(self) -> bool:
        return self._script_double_escape_toggle(
            self._script_double_escaped_state, self._script_escaped_state)

    def _script_double_escape_end_state(self) -> bool:
        return self._script_double_escape_toggle(
            self._script_escaped_state, self._script_double_escaped_state)

    def _script_double_escaped_state(self) -> bool:
        m = _SCRIPT_ESC_RX.search(self.html, self.pos)
        if m is None:
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            self._err("eof-in-script")
            return False
        if m.start() > self.pos:
            self._chars(self.html[self.pos:m.start()])
        self.pos = m.start() + 1
        c = m.group()
        if c == "-":
            self._chars("-")
            self.state = self._script_double_escaped_dash_state
        elif c == "<":
            self._chars("<")
            self.state = self._script_double_escaped_lt_state
        else:
            self._err("invalid-codepoint")
            self._chars("�")
        return True

    def _script_double_escaped_dash_state(self) -> bool:
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-script")
            return False
        self.pos += 1
        if c == "-":
            self._chars("-")
            self.state = self._script_double_escaped_dash_dash_state
        elif c == "<":
            self._chars("<")
            self.state = self._script_double_escaped_lt_state
        elif c == "\x00":
            self._err("invalid-codepoint")
            self._chars("�")
            self.state = self._script_double_escaped_state
        else:
            self._chars(c)
            self.state = self._script_double_escaped_state
        return True

    def _script_double_escaped_dash_dash_state(self) -> bool:
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-script")
            return False
        self.pos += 1
        if c == "-":
            self._chars("-")
        elif c == "<":
            self._chars("<")
            self.state = self._script_double_escaped_lt_state
        elif c == ">":
            self._chars(">")
            self.state = self._script_data_state
        elif c == "\x00":
            self._err("invalid-codepoint")
            self._chars("�")
            self.state = self._script_double_escaped_state
        else:
            self._chars(c)
            self.state = self._script_double_escaped_state
        return True

    def _script_double_escaped_lt_state(self) -> bool:
        if self.pos < self.n and self.html[self.pos] == "/":
            self.pos += 1
            self._chars("/")
            self.temp_buf = []
            self.state = self._script_double_escape_end_state
        else:
            self.state = self._script_double_escaped_state
        return True

    # ------------------------------------------------------------ tag states

    def _tag_open_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:157-198
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-after-less-than-sign")
            self._chars("<")
            return False
        if c == "!":
            self.pos += 1
            self.state = self._markup_declaration_open_state
        elif c == "/":
            self.pos += 1
            self.state = self._end_tag_open_state
        elif _ALPHA.match(c):
            self._new_tag(is_end=False)
            self.state = self._tag_name_state
        elif c == "?":
            # htmltokenizer.cpp:186
            self._err("expected-tag-name-but-got-question-mark")
            self.comment = []
            self.state = self._bogus_comment_state
        else:
            self._err("expected-tag-name")
            self._chars("<")
            self.state = self._data_state
        return True

    def _end_tag_open_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:201-237
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("expected-closing-tag-but-got-eof")
            self._chars("</")
            return False
        if _ALPHA.match(c):
            self._new_tag(is_end=True)
            self.state = self._tag_name_state
        elif c == ">":
            self.pos += 1
            self._err("expected-closing-tag-but-got-right-bracket")
            self.state = self._data_state
        else:
            self._err("expected-closing-tag-but-got-char")
            self.comment = []
            self.state = self._bogus_comment_state
        return True

    def _tag_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:239-271 (run-coalesced)
        m = _TAG_NAME_RUN.match(self.html, self.pos)
        if m:
            self.tag_name += _ascii_lower(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-tag-name")
            return False
        self.pos += 1
        if c in WHITESPACE:
            self.state = self._before_attribute_name_state
        elif c == "/":
            self.state = self._self_closing_state
        elif c == ">":
            self._emit_tag()
        else:  # NUL
            self._err("invalid-codepoint")
            self.tag_name += "�"
        return True

    def _before_attribute_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:273-320 (whitespace-run fused)
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("expected-attribute-name-but-got-eof")
            return False
        if c == "/":
            self.pos += 1
            self.state = self._self_closing_state
        elif c == ">":
            self.pos += 1
            self._emit_tag()
        elif c == "=":
            self._err("equals-in-unquoted-attribute-value")
            self.pos += 1
            self._finish_attr()
            self.attr_name = ["="]
            self.state = self._attribute_name_state
        else:
            self._finish_attr()
            self.attr_name = []
            self.state = self._attribute_name_state
        return True

    def _attribute_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:322-359 (run-coalesced, lowered)
        m = _ATTR_NAME_RUN.match(self.html, self.pos)
        if m:
            self.attr_name.append(_ascii_lower(m.group()))
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-attribute-name")
            return False
        self.pos += 1
        if c == "=":
            self.state = self._before_attribute_value_state
        elif c in WHITESPACE:
            self.state = self._after_attribute_name_state
        elif c == "/":
            self.state = self._self_closing_state
        elif c == ">":
            self._emit_tag()
        elif c in "\"'<":
            self._err("invalid-character-in-attribute-name")
            self.attr_name.append(c)
        else:  # NUL
            self._err("invalid-codepoint")
            self.attr_name.append("�")
        return True

    def _after_attribute_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:361-407
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("expected-end-of-tag-but-got-eof")
            return False
        if c == "=":
            self.pos += 1
            self.state = self._before_attribute_value_state
        elif c == "/":
            self.pos += 1
            self.state = self._self_closing_state
        elif c == ">":
            self.pos += 1
            self._emit_tag()
        else:
            self._finish_attr()
            self.attr_name = []
            self.state = self._attribute_name_state
        return True

    def _before_attribute_value_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:409-453
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("expected-attribute-value-but-got-eof")
            return False
        if c == '"':
            self.pos += 1
            self.state = self._attribute_value_dq_state
        elif c == "'":
            self.pos += 1
            self.state = self._attribute_value_sq_state
        elif c == ">":
            self._err("expected-attribute-value-but-got-right-bracket")
            self.pos += 1
            self._emit_tag()
        else:
            if c in "<=`":
                self._err("unexpected-character-in-unquoted-attribute-value")
            self.state = self._attribute_value_uq_state
        return True

    def _attribute_value_quoted(self, run_rx, quote: str) -> bool:
        # html-qt/htmltokenizer.cpp:455-507 (run-coalesced)
        m = run_rx.match(self.html, self.pos)
        if m:
            self.attr_value.append(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-attribute-value-double-quote" if quote == '"'
                      else "eof-in-attribute-value-single-quote")
            return False
        self.pos += 1
        if c == quote:
            self.state = self._after_attribute_value_state
        elif c == "&":
            t = self._consume_charref(quote, in_attribute=True)
            self.attr_value.append(t if t is not None else "&")
        else:  # NUL
            self._err("invalid-codepoint")
            self.attr_value.append("�")
        return True

    def _attribute_value_dq_state(self) -> bool:
        return self._attribute_value_quoted(_ATTR_DQ_RUN, '"')

    def _attribute_value_sq_state(self) -> bool:
        return self._attribute_value_quoted(_ATTR_SQ_RUN, "'")

    def _attribute_value_uq_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:509-541
        m = _ATTR_UQ_RUN.match(self.html, self.pos)
        if m:
            self.attr_value.append(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-attribute-value-no-quotes")
            return False
        self.pos += 1
        if c in WHITESPACE:
            self.state = self._before_attribute_name_state
        elif c == ">":
            self._emit_tag()
        elif c == "&":
            t = self._consume_charref(">", in_attribute=True)
            self.attr_value.append(t if t is not None else "&")
        elif c in "\"'<=`":
            self._err("unexpected-character-in-unquoted-attribute-value")
            self.attr_value.append(c)
        else:
            self._err("invalid-codepoint")
            self.attr_value.append("�")
        return True

    def _after_attribute_value_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:553-582
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("unexpected-EOF-after-attribute-value")
            return False
        if c in WHITESPACE:
            self.pos += 1
            self.state = self._before_attribute_name_state
        elif c == "/":
            self.pos += 1
            self.state = self._self_closing_state
        elif c == ">":
            self.pos += 1
            self._emit_tag()
        else:
            self._err("unexpected-character-after-attribute-value")
            self.state = self._before_attribute_name_state
        return True

    def _self_closing_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:584-608
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("unexpected-EOF-after-solidus-in-tag")
            return False
        if c == ">":
            self.pos += 1
            self.self_closing = True
            self._emit_tag()
        else:
            self._err("unexpected-character-after-solidus-in-tag")
            self.state = self._before_attribute_name_state
        return True

    # --------------------------------------------------- comments & bogus

    def _bogus_comment_state(self) -> bool:
        # Spec-complete replacement for the reference's stub
        # (html-qt/htmltokenizer.cpp:610-614)
        m = _BOGUS_RUN.match(self.html, self.pos)
        if m:
            self.comment.append(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._emit_comment()
            return False
        self.pos += 1
        if c == ">":
            self._emit_comment()
            self.state = self._data_state
        else:  # NUL
            self._err("invalid-codepoint")
            self.comment.append("�")
        return True

    def _markup_declaration_open_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:617-663 (slice-compare lookahead —
        # free here because the whole doc is in memory)
        h, p = self.html, self.pos
        if h.startswith("--", p):
            self.pos = p + 2
            self.comment = []
            self.state = self._comment_start_state
        elif h[p:p + 7].lower() == "doctype":
            self.pos = p + 7
            self.state = self._doctype_state
        elif h.startswith("[CDATA[", p):
            self.pos = p + 7
            # a CDATA section opens only where the tree builder's current
            # node is foreign (WHATWG 13.2.5.42); without a tree, never
            tree = self.tree
            if tree is not None:
                self._feed_tree()
            if tree is not None and tree.cdata_allowed():
                self.state = self._cdata_section_state
            else:
                self._err("expected-dashes-or-doctype")
                self.comment = ["[CDATA["]
                self.state = self._bogus_comment_state
        else:
            self._err("expected-dashes-or-doctype")
            self.comment = []
            self.state = self._bogus_comment_state
        return True

    def _comment_start_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:665-697
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment")
            self._emit_comment()
            return False
        if c == "-":
            self.pos += 1
            self.state = self._comment_start_dash_state
        elif c == ">":
            self.pos += 1
            self._err("incorrect-comment")
            self._emit_comment()
            self.state = self._data_state
        else:
            self.state = self._comment_state
        return True

    def _comment_start_dash_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:699-735
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment")
            self._emit_comment()
            return False
        if c == "-":
            self.pos += 1
            self.state = self._comment_end_state
        elif c == ">":
            self.pos += 1
            self._err("incorrect-comment")
            self._emit_comment()
            self.state = self._data_state
        else:
            self.comment.append("-")
            self.state = self._comment_state
        return True

    def _comment_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:737-760 (run-coalesced)
        m = _COMMENT_RUN.match(self.html, self.pos)
        if m:
            self.comment.append(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment")
            self._emit_comment()
            return False
        self.pos += 1
        if c == "-":
            self.state = self._comment_end_dash_state
        elif c == "<":
            # comment-less-than nesting errors (modern spec) — data unchanged
            self.comment.append("<")
            if self.html.startswith("!--", self.pos):
                self._err("nested-comment")
        else:
            self._err("invalid-codepoint")
            self.comment.append("�")
        return True

    def _comment_end_dash_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:762-794
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment-end-dash")
            self._emit_comment()
            return False
        if c == "-":
            self.pos += 1
            self.state = self._comment_end_state
        else:
            self.comment.append("-")
            self.state = self._comment_state
        return True

    def _comment_end_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:796-834
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment-double-dash")
            self._emit_comment()
            return False
        if c == ">":
            self.pos += 1
            self._emit_comment()
            self.state = self._data_state
        elif c == "!":
            self.pos += 1
            self.state = self._comment_end_bang_state
        elif c == "-":
            self.pos += 1
            self._err("unexpected-dash-after-double-dash-in-comment")
            self.comment.append("-")
        else:
            self._err("unexpected-char-in-comment")
            self.comment.append("--")
            self.state = self._comment_state
        return True

    def _comment_end_bang_state(self) -> bool:
        # Spec-complete replacement for the reference's stub
        # (html-qt/htmltokenizer.cpp:836-840)
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            self._err("eof-in-comment-end-bang-state")
            self._emit_comment()
            return False
        if c == ">":
            self.pos += 1
            self._err("unexpected-bang-after-double-dash-in-comment")
            self._emit_comment()
            self.state = self._data_state
        elif c == "-":
            self.pos += 1
            self.comment.append("--!")
            self.state = self._comment_end_dash_state
        else:
            self.comment.append("--!")
            self.state = self._comment_state
        return True

    # ------------------------------------------------------------- doctype

    def _eof_in_doctype(self, code: str = "eof-in-doctype") -> bool:
        # EOF in any DOCTYPE state: the DOCTYPE is emitted, forcing quirks
        self._err(code)
        self.force_quirks = True
        self._emit_doctype()
        return False

    def _doctype_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:843-868
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype("expected-doctype-name-but-got-eof")
        if c in WHITESPACE:
            self.pos += 1
            self.state = self._before_doctype_name_state
        else:
            self._err("need-space-after-doctype")
            self.state = self._before_doctype_name_state
        return True

    def _before_doctype_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:870-914
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype("expected-doctype-name-but-got-eof")
        if c == ">":
            self.pos += 1
            self._err("expected-doctype-name-but-got-right-bracket")
            self.force_quirks = True
            self._emit_doctype()
            self.state = self._data_state
        elif c == "\x00":
            self.pos += 1
            self._err("invalid-codepoint")
            self.doctype_name = ["�"]
            self.state = self._doctype_name_state
        else:
            self.pos += 1
            self.doctype_name = [_ascii_lower(c)]
            self.state = self._doctype_name_state
        return True

    def _doctype_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:916-947 (run-coalesced)
        m = _DOCTYPE_NAME_RUN.match(self.html, self.pos)
        if m:
            self.doctype_name.append(_ascii_lower(m.group()))
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype("eof-in-doctype-name")
        self.pos += 1
        if c in WHITESPACE:
            self.state = self._after_doctype_name_state
        elif c == ">":
            self._emit_doctype()
            self.state = self._data_state
        else:  # NUL
            self._err("invalid-codepoint")
            self.doctype_name.append("�")
        return True

    def _after_doctype_name_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:950-1002 (6-char probe)
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        if self.pos >= self.n:
            return self._eof_in_doctype()
        c = self.html[self.pos]
        if c == ">":
            self.pos += 1
            self._emit_doctype()
            self.state = self._data_state
            return True
        probe = self.html[self.pos:self.pos + 6].lower()
        if probe == "public" or probe == "system":
            self.pos += 6
            self.doctype_keyword = probe
            self.state = self._after_doctype_keyword_state
        else:
            self._err("expected-space-or-right-bracket-in-doctype")
            self.force_quirks = True
            self.pos += 1
            self.state = self._bogus_doctype_state
        return True

    # WHATWG writes the states from the PUBLIC or SYSTEM keyword up to the
    # closing quote of its identifier out twice, differing only in the
    # identifier they fill; here ``doctype_keyword`` names it

    def _after_doctype_keyword_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1004-1045,1232-1270
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c in WHITESPACE:
            self.state = self._before_doctype_id_state
        elif c == '"' or c == "'":
            self._err("unexpected-char-in-doctype")
            self._open_doctype_id(c)
        elif c == ">":
            self._err("unexpected-end-of-doctype")
            self.force_quirks = True
            self._emit_doctype()
            self.state = self._data_state
        else:
            self._err("unexpected-char-in-doctype")
            self.force_quirks = True
            self.state = self._bogus_doctype_state
        return True

    def _before_doctype_id_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1047-1087,1272-1311
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c == '"' or c == "'":
            self._open_doctype_id(c)
        elif c == ">":
            self._err("unexpected-end-of-doctype")
            self.force_quirks = True
            self._emit_doctype()
            self.state = self._data_state
        else:
            self._err("unexpected-char-in-doctype")
            self.force_quirks = True
            self.state = self._bogus_doctype_state
        return True

    def _open_doctype_id(self, quote: str) -> None:
        if self.doctype_keyword == "public":
            self.doctype_public = []
        else:
            self.doctype_system = []
        self.state = (self._doctype_id_dq_state if quote == '"'
                      else self._doctype_id_sq_state)

    def _doctype_id(self, run_rx, quote: str) -> bool:
        # html-qt/htmltokenizer.cpp:1089-1151,1313-1379
        public = self.doctype_keyword == "public"
        buf = self.doctype_public if public else self.doctype_system
        m = run_rx.match(self.html, self.pos)
        if m:
            buf.append(m.group())
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c == quote:
            self.state = (self._after_doctype_public_id_state if public
                          else self._after_doctype_system_id_state)
        elif c == ">":
            self._err("unexpected-end-of-doctype")
            self.force_quirks = True
            self._emit_doctype()
            self.state = self._data_state
        else:  # NUL
            self._err("invalid-codepoint")
            buf.append("�")
        return True

    def _doctype_id_dq_state(self) -> bool:
        return self._doctype_id(_ID_DQ_RUN, '"')

    def _doctype_id_sq_state(self) -> bool:
        return self._doctype_id(_ID_SQ_RUN, "'")

    def _after_doctype_public_id_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1153-1191
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c in WHITESPACE:
            self.state = self._between_doctype_public_system_state
        elif c == ">":
            self._emit_doctype()
            self.state = self._data_state
        elif c == '"' or c == "'":
            self._err("unexpected-char-in-doctype")
            self.doctype_keyword = "system"
            self._open_doctype_id(c)
        else:
            self._err("unexpected-char-in-doctype")
            self.force_quirks = True
            self.state = self._bogus_doctype_state
        return True

    def _between_doctype_public_system_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1193-1230
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c == ">":
            self._emit_doctype()
            self.state = self._data_state
        elif c == '"' or c == "'":
            self.doctype_keyword = "system"
            self._open_doctype_id(c)
        else:
            self._err("unexpected-char-in-doctype")
            self.force_quirks = True
            self.state = self._bogus_doctype_state
        return True

    def _after_doctype_system_id_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1381-1410
        m = _WS_RUN.match(self.html, self.pos)
        if m:
            self.pos = m.end()
        c = self.html[self.pos] if self.pos < self.n else None
        if c is None:
            return self._eof_in_doctype()
        self.pos += 1
        if c == ">":
            self._emit_doctype()
            self.state = self._data_state
        else:
            self._err("unexpected-char-in-doctype")
            # NOTE: spec does NOT set force_quirks here
            self.state = self._bogus_doctype_state
        return True

    def _bogus_doctype_state(self) -> bool:
        # html-qt/htmltokenizer.cpp:1412-1429
        idx = self.html.find(">", self.pos)
        if idx == -1:
            self.pos = self.n
            self._emit_doctype()
            return False
        self.pos = idx + 1
        self._emit_doctype()
        self.state = self._data_state
        return True

    # --------------------------------------------------------------- CDATA

    def _cdata_section_state(self) -> bool:
        # Spec-complete replacement for the reference's stub
        # (html-qt/htmltokenizer.cpp:1431-1435): consume until "]]>"
        idx = self.html.find("]]>", self.pos)
        if idx == -1:
            self._err("eof-in-cdata")
            if self.pos < self.n:
                self._chars(self.html[self.pos:])
            self.pos = self.n
            return False
        if idx > self.pos:
            self._chars(self.html[self.pos:idx])
        self.pos = idx + 3
        self.state = self._data_state
        return True


def tokenize(html_text: str, *, reference_compat: bool = False,
             collect_errors: bool = True,
             ) -> tuple[list[tuple], list[tuple[str, int]]]:
    """One-shot convenience wrapper (mirrors the reference's
    tokenizer-only entry point, html-qt/htmltokenizer.h:88-92).  No tree
    builder is attached: TEXT_STATES tags switch on their name alone and
    ``<![CDATA[`` is always a bogus comment."""
    return HTMLTokenizer(html_text, reference_compat=reference_compat,
                         collect_errors=collect_errors).run()
