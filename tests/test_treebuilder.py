"""html5lib .dat tree-construction conformance tests (SURVEY.md §5.2 item 2).

Covers the insertion modes the reference stubs out (21 of 23,
html-qt/htmlparser.cpp:19-41), implicit html/head/body synthesis
(htmlbeforehtmlphase.cpp:12-17), <html> attr merge
(htmlabstractphase.cpp:32-51), adoption agency and foster parenting
(hooks only in the reference: htmltree.cpp:126-132, htmltree.h:88).
"""

from __future__ import annotations

import gc
from pathlib import Path

import pytest

from html_qt_spark.kernel.serialize import serialize_tree
from html_qt_spark.kernel.treebuilder import parse, parse_fragment

FIXTURE_DIR = Path(__file__).parent / "fixtures" / "tree-construction"


def _load_cases():
    cases = []
    for f in sorted(FIXTURE_DIR.glob("*.dat")):
        blocks = f.read_text().split("\n\n#data\n")
        for i, block in enumerate(blocks):
            if block.startswith("#data\n"):
                block = block[len("#data\n"):]
            data, _, rest = block.partition("\n#errors\n")
            _errors, _, doc = rest.partition("#document\n")
            cases.append(pytest.param(
                data, doc.rstrip("\n"), id=f"{f.stem}::{i}"))
    return cases


@pytest.mark.parametrize("data,expected", _load_cases())
def test_tree_construction(data, expected):
    got = serialize_tree(parse(data))
    assert got == expected, f"input={data!r}\n--- got ---\n{got}\n--- want ---\n{expected}"


def test_parse_leaves_no_reference_cycle():
    # the tokenizer links to the tree it feeds, never back, and drops its
    # bound-method self references on exit: a parse is freed by
    # refcounting alone, so the cyclic GC never has to walk parsed trees
    from perfbench.corpus import html_corpus

    texts = [s["text"] for s in html_corpus(301, n=1)[0]["spans"]
             if s["kind"] == "text"]
    texts.append("<svg><![CDATA[a]]></svg><script>b</script><title>c")
    gc.collect()
    gc.disable()
    try:
        for text in texts:
            parse(text)
            parse_fragment(text, context="div")
            parse_fragment(text, context="svg")
        assert gc.collect() == 0
    finally:
        gc.enable()


@pytest.mark.parametrize("element", ["script", "textarea", "title"])
def test_text_element_past_max_depth(element):
    # past MAX_DEPTH the text element is still pushed: its text stays out
    # of the enclosing <div>, and its end tag (or EOF) pops only it
    from html_qt_spark.kernel.extractor import extract_html

    deep = "<div>" * 600
    text = f"<{element}>var a='<p>x</p>';"
    assert extract_html(f"{deep}{text}</{element}><p>after</p>") == \
        [("text", "after", None)]
    depth = len(parse(deep).open_elements)
    assert len(parse(f"{deep}{text}</{element}>").open_elements) == depth
    assert len(parse(f"{deep}{text}").open_elements) == depth


def test_parent_pointers_consistent():
    tb = parse("<div><p>a<b>c</b></p><ul><li>x</ul></div>")
    for nid in range(1, len(tb.tag)):
        p = tb.parent[nid]
        if p != -1:
            assert nid in tb.children[p]
    for nid, kids in enumerate(tb.children):
        for ch in kids:
            assert tb.parent[ch] == nid


def test_malformed_never_raises():
    # engine equivalent of the reference's infinite-loop guard
    # (htmltokenizer.cpp:66-80) — must terminate cleanly, not poison the job
    bad = ["</" * 50, "<table><table><table>", "<b>" * 200 + "</b>" * 300,
           "<p" + "\x00" * 10, "<!doctype", "<a href=&amp", "</p></p></p>",
           "<td>loose cell", "<tr>loose row", "<caption>loose"]
    for doc in bad:
        tb = parse(doc)
        assert tb.tag[0] == "#document"


def test_quirks_mode_determination():
    """Full WHATWG 13.2.6.4.1 doctype quirks tables (the reference only
    checks name/about:legacy-compat, htmlinitialphase.cpp:47-51)."""
    cases = [
        ("<!DOCTYPE html><p>x", "no-quirks"),
        ('<!DOCTYPE html SYSTEM "about:legacy-compat"><p>x', "no-quirks"),
        ("<p>x", "quirks"),                       # no doctype at all
        ("<!DOCTYPE foo><p>x", "quirks"),         # wrong name
        ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.0 Transitional//EN">',
         "quirks"),                               # prefix table
        ('<!DOCTYPE html PUBLIC "-//IETF//DTD HTML 2.0//EN">', "quirks"),
        ('<!DOCTYPE html PUBLIC "html">', "quirks"),  # exact match, ci
        ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">',
         "quirks"),                               # no system id -> quirks
        ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
         '"http://www.w3.org/TR/html4/loose.dtd">',
         "limited-quirks"),                       # system id -> limited
        ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN" '
         '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">',
         "limited-quirks"),
        ('<!DOCTYPE html SYSTEM '
         '"http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd">',
         "quirks"),                               # ibm system id
    ]
    for html, want in cases:
        tb = parse(html)
        got = tb.quirks_mode or "no-quirks"
        assert got == want, f"{html!r}: got {got}, want {want}"


def test_quirks_affects_table_p_closing():
    # in quirks mode <table> does NOT close an open <p> (spec condition
    # in the in-body table handler)
    no_quirks = parse("<!DOCTYPE html><p>a<table><tr><td>b</table>")
    quirks = parse("<p>a<table><tr><td>b</table>")

    def p_children(tb):
        pid = next(i for i in range(len(tb.tag)) if tb.tag[i] == "p")
        return [tb.tag[c] for c in tb.children[pid]]

    assert "table" not in p_children(no_quirks)
    assert "table" in p_children(quirks)
