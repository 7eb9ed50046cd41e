"""The head-metadata gate of doc_metadata (operators/extract.py::
_metadata_doc parses only spans that match ``_META_GATE``), pinned
against the ungated rule, which parses every text span.  No Spark.

A span the gate skips must yield all-null metadata when parsed, and
the per-document result must equal the ungated one.  Corpora: the
sf0.01 interleaved spans, the conformance fixture payloads, the
randomized simple-markup and trivial-grammar generators, generated
head-bearing pages split into spans, and hand-picked edge cases."""

from __future__ import annotations

import importlib.util
import itertools
import random
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from html_qt_spark.kernel.extractor import extract_metadata  # noqa: E402
from html_qt_spark.kernel.treebuilder import parse  # noqa: E402
from html_qt_spark.operators.extract import (  # noqa: E402
    _META_GATE,
    _metadata_doc,
)
from tests.test_trivialspans import (  # noqa: E402
    _random_doc,
    _random_trivial,
    fixture_payloads,
)

SF001 = "/root/testdata/sf0.01"
NULLS = (None, None, None, None)


def _ungated(kinds, texts):
    """_metadata_doc without the gate: every text span is parsed."""
    acc = NULLS
    for kind, html in zip(kinds or (), texts or ()):
        if kind == "media" or not html:
            continue
        if None not in acc:
            break
        try:
            got = extract_metadata(parse(html, collect_errors=False))
        except Exception:  # noqa: BLE001 — as the operator
            continue
        acc = tuple(g if a is None else a for a, g in zip(acc, got))
    return acc


def _check(docs) -> tuple[int, int]:
    """Assert gated == ungated per document, and all-null metadata for
    every span the gate skips; returns (spans selected, selected spans
    with some metadata)."""
    n_sel = n_meta = 0
    for kinds, texts in docs:
        assert _metadata_doc(kinds, texts, [None] * len(kinds)) == \
            _ungated(kinds, texts), texts
        for html in texts:
            if not html:
                continue
            got = extract_metadata(parse(html, collect_errors=False))
            if _META_GATE.search(html):
                n_sel += 1
                n_meta += got != NULLS
            else:
                assert got == NULLS, html
    return n_sel, n_meta


def _one_span_docs(texts):
    return [(["text"], [t]) for t in texts]


def test_gate_on_sf001_spans():
    spec = importlib.util.spec_from_file_location(
        "make_golden_spans", REPO / "tools" / "make_golden_spans.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    docs = [([r[2] for r in rows], [r[3] for r in rows])
            for rows in (list(g) for _, g in itertools.groupby(
                mod.load_interleaved(SF001), key=lambda r: r[0]))]
    assert len(docs) == 500
    assert sum(k == "text" for kinds, _ in docs for k in kinds) > 1000
    _check(docs)


def test_gate_on_fixture_payloads():
    n_sel, n_meta = _check(_one_span_docs(fixture_payloads()))
    assert n_sel >= 8 and n_meta >= 4, (n_sel, n_meta)


def test_gate_on_random_generators():
    rng = random.Random(20261018)
    _check(_one_span_docs([_random_doc(rng) for _ in range(1000)]))
    _check(_one_span_docs([_random_trivial(rng) for _ in range(1000)]))


_HEAD_BITS = [
    "<title>T {n}</title>", "<TITLE>u {n}</TITLE>",
    '<meta name="description" content="d{n}">',
    '<META NAME=Description content="D{n}">',
    '<link rel="canonical" href="/c{n}">', "<linK rel=canonical href=k{n}>",
    '<html lang="l{n}">', "<Html lang=H{n}>", "<svg><title>s{n}</title>",
    "<!-- <title>c{n}</title> -->", "<script>'<title>x{n}'</script>",
    "<textarea><title>a{n}</textarea>", "&lt;title&gt;e{n}",
    "<p>body {n}</p>", "<div>words {n}<b>bold</b></div>", "</title>",
    "<lin\u212a rel=canonical href=K{n}>", "<t\u0130tle>i{n}</t\u0130tle>",
]


def test_gate_on_generated_pages():
    """Pages whose head tags land in different spans, inside and outside
    raw text, comments and foreign content."""
    rng = random.Random(20261019)
    docs = []
    for _ in range(400):
        spans = ["".join(rng.choice(_HEAD_BITS).format(n=rng.randint(0, 9))
                         for _ in range(rng.randint(1, 4)))
                 for _ in range(rng.randint(1, 5))]
        kinds = [rng.choice(["text"] * 5 + ["media"]) for _ in spans]
        docs.append((kinds, spans))
    n_sel, n_meta = _check(docs)
    assert n_meta > 100, n_meta


EDGE_CASES = [
    "<TITLE>upper</TITLE>",
    "<p>body first</p><Html lang=de><p>more</p>",
    "<svg><title>svg title</title></svg>",
    "<!-- <title>commented</title> --><p>x</p>",
    "<ti\x00tle>nul in name</ti\x00tle>",
    "&lt;title&gt;escaped&lt;/title&gt;",
    '<linK rel=canonical href="https://x/y">',
    # KELVIN SIGN is not an ASCII letter: not a <link, all-null metadata
    "<lin\u212a rel=canonical href=u>",
    "<p>a</p><meta name=description content=late>",
]


def test_gate_edge_cases():
    _check(_one_span_docs(EDGE_CASES))
    _check([(["text"] * len(EDGE_CASES), EDGE_CASES)])
    assert _metadata_doc(["text"], [EDGE_CASES[1]], [None]) == \
        (None, None, None, "de")
    assert _metadata_doc(["text"], [EDGE_CASES[4]], [None]) == NULLS


def test_gate_skips_parse(monkeypatch):
    """Spans with no head start tag never reach the parser; one with a
    <title> start tag reaches it once."""
    from html_qt_spark.kernel import treebuilder

    calls: list[str] = []
    real = treebuilder.parse

    def counting(html, **kw):
        calls.append(html)
        return real(html, **kw)

    monkeypatch.setattr(treebuilder, "parse", counting)
    paras = ["<p>a</p>", "<p>b <b>c</b></p>", "<p>d &amp; e</p>"]
    assert _metadata_doc(["text"] * 3, paras, [None] * 3) == NULLS
    assert calls == []
    assert _metadata_doc(["text"] * 4, paras + ["<title>T</title>"],
                         [None] * 4) == ("T", None, None, None)
    assert calls == ["<title>T</title>"]
