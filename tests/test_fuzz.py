"""Seeded grammar-directed fuzz (SURVEY.md §5.2 item 6).

Invariants over random + mutated HTML: never crash, always terminate,
deterministic output, valid span kinds, consistent parent pointers.
Deterministic (seed=42 convention, TESTDATA.md): no flaky CI.
"""

from __future__ import annotations

import random

import pytest

from html_qt_spark.kernel.extractor import extract_html
from html_qt_spark.kernel.tokenizer import tokenize
from html_qt_spark.kernel.treebuilder import parse

TAGS = ["div", "p", "b", "i", "a", "ul", "li", "table", "tr", "td",
        "span", "h1", "em", "form", "select", "option", "script",
        "style", "title", "textarea", "pre", "br", "img", "nav",
        # r2: foreign content, integration points, frameset, template —
        # the tree builder's tokenizer switches and CDATA answers, the
        # compat and EOF paths
        "svg", "math", "foreignObject", "mi", "mtext", "annotation-xml",
        "template", "frameset", "frame", "noframes", "desc", "g", "font"]
WORDS = ["alpha", "beta", "gamma", "&amp;", "&#65;", "&unknown;", "<",
         ">", "&", "\u00e9", "\U0001F600", "x" * 50]


def _gen_html(rng: random.Random, depth: int = 0) -> str:
    parts = []
    for _ in range(rng.randint(1, 6)):
        r = rng.random()
        if r < 0.35 or depth > 5:
            parts.append(rng.choice(WORDS))
        elif r < 0.5:
            t = rng.choice(TAGS)
            attrs = ""
            if rng.random() < 0.5:
                q = rng.choice(['"', "'", ""])
                attrs = f" a{rng.randint(0, 3)}={q}v{rng.randint(0, 9)}{q}"
            parts.append(f"<{t}{attrs}>{_gen_html(rng, depth + 1)}</{t}>")
        elif r < 0.6:
            parts.append(f"<{rng.choice(TAGS)}>")  # unclosed
        elif r < 0.7:
            parts.append(f"</{rng.choice(TAGS)}>")  # stray close
        elif r < 0.8:
            parts.append(f"<!-- {rng.choice(WORDS)} -->")
        elif r < 0.85:
            parts.append(f"<img src=m://{rng.randint(0, 99)}>")
        elif r < 0.92:
            parts.append(rng.choice([
                "<![CDATA[cd<ata]]>",
                '<svg xlink:href="u" xml:lang="en">',
                "<font color=red>", "</svg>", "</math>",
                "<annotation-xml encoding=text/html>",
            ]))
        else:
            parts.append("<!DOCTYPE html>")
    return "".join(parts)


def _mutate(rng: random.Random, html: str) -> str:
    if not html:
        return html
    ops = rng.randint(1, 4)
    s = html
    for _ in range(ops):
        if not s:
            break
        i = rng.randrange(len(s))
        op = rng.random()
        if op < 0.3:
            s = s[:i] + s[i + 1:]                      # delete
        elif op < 0.6:
            s = s[:i] + rng.choice("<>&\"'\x00=/!") + s[i:]  # insert junk
        else:
            s = s[:i] + rng.choice("<>&\x00") + s[i + 1:]    # replace
    return s


@pytest.mark.parametrize("seed", range(40))
def test_fuzz_invariants(seed):
    rng = random.Random(42 * 1000 + seed)
    html = _gen_html(rng)
    if rng.random() < 0.5:
        html = _mutate(rng, html)

    # 1. tokenizer terminates, spec + compat modes
    for compat in (False, True):
        tokens, _ = tokenize(html, reference_compat=compat)
        # coalescing: no two adjacent Character tokens
        for a, b in zip(tokens, tokens[1:]):
            assert not (a[0] == "Character" and b[0] == "Character")

    # 2. tree parent/children consistency
    tb = parse(html)
    for nid in range(1, len(tb.tag)):
        p = tb.parent[nid]
        if p != -1:
            assert nid in tb.children[p]
    for nid, kids in enumerate(tb.children):
        for ch in kids:
            assert tb.parent[ch] == nid
    # a whole-document parse always ends with <body> or <frameset>
    # under <html>
    html_id = next(c for c in tb.children[0] if tb.tag[c] == "html")
    assert any(tb.tag[c] in ("body", "frameset")
               for c in tb.children[html_id]), html

    # 3. extraction: valid kinds, deterministic
    spans = extract_html(html)
    assert all(k in ("text", "media") for k, _, _ in spans)
    assert all((k == "media") == (m is not None) for k, _, m in spans)
    assert spans == extract_html(html)


def test_fuzz_large_document_terminates():
    rng = random.Random(4242)
    html = "".join(_gen_html(rng) for _ in range(300))
    spans = extract_html(html)
    assert isinstance(spans, list)


@pytest.mark.parametrize("seed", range(60, 90))
def test_extractor_matches_independent_oracle(seed):
    """Production event-stream extractor == naive recursive oracle
    (tests/oracle.py) on generated + mutated docs."""
    from html_qt_spark.kernel.treebuilder import parse as _parse
    from tests.oracle import oracle_extract

    rng = random.Random(99 * 1000 + seed)
    html = _gen_html(rng)
    if rng.random() < 0.5:
        html = _mutate(rng, html)
    tb = _parse(html)
    from html_qt_spark.kernel.extractor import extract_spans
    got = extract_spans(tb)
    want = oracle_extract(tb)
    assert got == want, f"html={html!r}"


def test_extractor_matches_oracle_on_fixture_pages():
    import json
    from pathlib import Path

    from html_qt_spark.kernel.treebuilder import parse as _parse
    from html_qt_spark.kernel.extractor import extract_spans
    from tests.oracle import oracle_extract

    docs = json.loads((Path(__file__).parent / "fixtures" / "extract" /
                       "pages.json").read_text())["docs"]
    for d in docs:
        tb = _parse(d["html"])
        assert extract_spans(tb) == oracle_extract(tb), d["doc_id"]
