"""Named & numeric character-reference resolution (WHATWG §13.2.5.72-73).

The reference intends to load a 2,231-entry named-entity table from
``entities.json`` (html-qt/htmltokenizer.cpp:33-40) but the load is broken
(binary-JSON reader on a text file), so its named branch never resolves
(htmltokenizer.cpp:1473-1475).  This engine uses the identical public WHATWG
table shipped in the Python stdlib (``html.entities.html5``) and implements
the spec algorithm the reference left unfinished: longest-prefix match,
honoring the ~106 semicolon-less legacy names, plus the attribute-context
suppression rule.

Numeric references follow html-qt/htmltokenizer.cpp:1479-1554 semantics:
dec/hex parse, the windows-1252 remap table (htmltokenizer_p.h:172-201),
surrogate / out-of-range -> U+FFFD, control/noncharacter parse errors.
Unlike the reference (which truncates astral codepoints to one UTF-16 unit,
htmltokenizer.cpp:1549) we emit full codepoints; ``reference_compat`` mode in
the tokenizer reproduces the truncation for fixture parity.
"""

from __future__ import annotations

import html.entities
import re

# name (with or without trailing ';') -> replacement text.
ENTITIES: dict[str, str] = dict(html.entities.html5)

# Longest entity name, bounds the lookahead window when matching.
MAX_ENTITY_LEN: int = max(len(k) for k in ENTITIES)

# Names that are valid without a terminating semicolon (legacy set).
LEGACY_NO_SEMI: frozenset[str] = frozenset(
    k for k in ENTITIES if not k.endswith(";")
)

# First-character index to skip the prefix scan for obvious non-entities.
_FIRST_CHARS: frozenset[str] = frozenset(k[0] for k in ENTITIES)

# Every name is [A-Za-z0-9]+;? and at most MAX_ENTITY_LEN chars, so a
# match lies inside this run: only its prefixes need a lookup.
_NAME_RUN = re.compile(r"[A-Za-z0-9]{1,%d};?" % (MAX_ENTITY_LEN - 1))

# windows-1252 remap for numeric refs in 0x80..0x9F
# (mirrors html-qt/htmltokenizer_p.h:172-201; values are the public
# WHATWG "Numeric character reference end state" table).
WINDOWS_1252_REMAP: dict[int, int] = {
    0x00: 0xFFFD, 0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E,
    0x85: 0x2026, 0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6, 0x89: 0x2030,
    0x8A: 0x0160, 0x8B: 0x2039, 0x8C: 0x0152, 0x8E: 0x017D, 0x91: 0x2018,
    0x92: 0x2019, 0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013,
    0x97: 0x2014, 0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A,
    0x9C: 0x0153, 0x9E: 0x017E, 0x9F: 0x0178,
}


def match_named(buf: str, start: int) -> tuple[str, int] | None:
    """Longest-prefix named-entity match at ``buf[start:]``.

    ``start`` points just past the ``&``.  Returns ``(replacement,
    n_chars_consumed)`` or None.  Implements the missing named branch of
    the reference's consumeEntity (html-qt/htmltokenizer.cpp:1473-1475).
    """
    if start >= len(buf) or buf[start] not in _FIRST_CHARS:
        return None
    run = _NAME_RUN.match(buf, start).group()
    # Longest-first: a semicolon form always beats its legacy prefix.
    for ln in range(len(run), 0, -1):
        rep = ENTITIES.get(run[:ln])
        if rep is not None:
            return rep, ln
    return None


def decode_numeric(codepoint: int) -> tuple[str, str | None]:
    """Map a parsed numeric reference to its text + optional error code.

    Mirrors html-qt/htmltokenizer.cpp:1521-1553 (remap table, surrogate &
    range clamps, control/noncharacter error list) but emits full astral
    codepoints instead of a truncated UTF-16 unit.
    """
    err: str | None = None
    if codepoint in WINDOWS_1252_REMAP:
        err = "illegal-codepoint-for-numeric-entity"
        codepoint = WINDOWS_1252_REMAP[codepoint]
    elif 0xD800 <= codepoint <= 0xDFFF or codepoint > 0x10FFFF:
        err = "illegal-codepoint-for-numeric-entity"
        codepoint = 0xFFFD
    elif (
        0x0001 <= codepoint <= 0x0008
        or 0x000E <= codepoint <= 0x001F
        or 0x007F <= codepoint <= 0x009F
        or 0xFDD0 <= codepoint <= 0xFDEF
        or (codepoint & 0xFFFE) == 0xFFFE  # ...FFFE/...FFFF noncharacters
        or codepoint in (0x000B,)
    ):
        err = "illegal-codepoint-for-numeric-entity"
    return chr(codepoint), err
