"""Golden span-extraction tests (FIXTURES.md §5; SURVEY.md §5.2 item 3).

The per-row invariant from BASELINE.json input_hint: span-sequence equality
on (kind, text, media_ref, order) per document.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from html_qt_spark.kernel.extractor import extract_html

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures" / "extract" / "pages.json").read_text()
)["docs"]


@pytest.mark.parametrize("doc", FIXTURES, ids=[d["doc_id"] for d in FIXTURES])
def test_extract_spans_golden(doc):
    got = [
        {"kind": k, "text": t, "media_ref": m}
        for k, t, m in extract_html(doc["html"])
    ]
    assert got == doc["expected_spans"], (
        f"doc={doc['doc_id']}\n got={got}\nwant={doc['expected_spans']}"
    )


def test_offsets_strictly_ordered_property():
    # invariant from SURVEY.md §5.2 item 6: spans come out in document
    # order and only with kind text|media
    html = "<p>a</p><img src='1'><p>b</p><img src='2'><div>c</div>"
    spans = extract_html(html)
    assert [s[0] for s in spans] == ["text", "media", "text", "media", "text"]


def test_empty_and_trivial_docs():
    assert extract_html("") == []
    assert extract_html("<!-- only a comment -->") == []
    assert extract_html("<script>x()</script>") == []
    assert extract_html("bare text") == [("text", "bare text", None)]


def test_skip_subtree_tags_not_extracted():
    """In-body <noscript>/<datalist> are ordinary elements to the tree
    builder, but their subtrees are SKIP_SUBTREES for the extractor:
    their content is never emitted (the DOM walk is the contract)."""
    assert extract_html(
        '<div>visible<noscript>hidden<img src="m://px"></noscript>'
        "tail</div>") == [("text", "visibletail", None)]
    assert extract_html(
        "<p>a<datalist>opt</datalist>b</p>") == [("text", "ab", None)]


def test_metadata_extraction_matches_oracle():
    from html_qt_spark.kernel.extractor import extract_metadata
    from html_qt_spark.kernel.treebuilder import parse as _parse
    from tests.oracle import oracle_metadata

    cases = [
        '<html lang="en"><head><title>My  Page </title>'
        '<meta name="Description" content="d text">'
        '<link rel="canonical" href="https://x/y"></head><body>b</body>',
        "<title>only title",
        "<p>no head at all",
        '<html lang=fr><meta name=description content="">'
        "<title></title>",
        "<head><title>a</title><title>b</title></head>",  # first wins
        '<body><meta name="description" content="late meta in body">',
        '<link rel="CANONICAL" href="u1"><link rel=canonical href="u2">',
        '<!-- <title>commented</title> --><title>real</title>',
        '<svg><title>svg title</title></svg><title>html title</title>',
    ]
    for html in cases:
        tb = _parse(html)
        assert extract_metadata(tb) == oracle_metadata(tb), html


def test_metadata_fuzz_parity():
    import random

    from html_qt_spark.kernel.extractor import extract_metadata
    from html_qt_spark.kernel.treebuilder import parse as _parse
    from tests.oracle import oracle_metadata
    from tests.test_fuzz import _gen_html, _mutate

    for seed in range(40):
        rng = random.Random(31_000_000 + seed)
        html = _gen_html(rng)
        if rng.random() < 0.5:
            html = _mutate(rng, html)
        tb = _parse(html)
        assert extract_metadata(tb) == oracle_metadata(tb), repr(html[:120])
