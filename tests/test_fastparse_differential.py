"""Differential pinning of kernel/fastparse.py against the exact spec
pipeline: for every input the fast path ACCEPTS, the resulting
TreeBuilder state must be indistinguishable from the full
tokenizer -> tree-builder run.  Inputs: all tokenizer/tree-construction
conformance fixture payloads, the synthesized bench span shapes, and a
large randomized corpus of simple-grammar documents (including
mis-nested ones, which exercise both the bail paths and the
any-other-end-tag walk)."""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.fastparse import try_fast_parse  # noqa: E402
from html_qt_spark.kernel.tokenizer import HTMLTokenizer  # noqa: E402
from html_qt_spark.kernel.treebuilder import TreeBuilder  # noqa: E402

FIXTURES = Path(__file__).parent / "fixtures"


def slow_parse(html: str) -> TreeBuilder:
    tk = HTMLTokenizer(html, collect_errors=False)
    tokens, _ = tk.run()
    tb = TreeBuilder(collect_errors=False)
    tb.process(tokens)
    return tb


def state(tb: TreeBuilder) -> tuple:
    return (
        tb.tag, tb.parent, tb.children, tb.attrs, tb.text, tb.ns,
        [tb.tag[nid] for nid in tb.open_elements],
        [(tb.tag[e[0]], sorted(e[1][2])) for e in tb.active_formatting
         if e != -1],
        tb.mode, tb.quirks_mode, tb.frameset_ok,
        tb.head_id, tb.form_id,
    )


def assert_equivalent(html: str) -> bool:
    """Returns True when the fast path accepted the input."""
    from html_qt_spark.kernel.extractor import extract_spans
    from html_qt_spark.kernel.fastparse import fast_extract

    fast = try_fast_parse(html)
    slow = None
    if fast is not None:
        slow = slow_parse(html)
        assert state(fast) == state(slow), html
    # the extraction view must agree with the DOM walk over the spec
    # tree wherever it accepts
    spans = fast_extract(html)
    if spans is not None:
        if slow is None:
            slow = slow_parse(html)
        assert spans == extract_spans(slow), html
    return fast is not None


def test_bench_span_shapes_accepted():
    spans = [
        '<h1>Doc 7</h1><nav><a href="/">Home</a> <a href="/lang">en</a></nav>',
        "<p>plain body words here</p>",
        '<div><p>abc</p><footer><a href="/about">about</a> '
        '<a href="/contact">contact</a></footer></div>',
        "<p>" + "word " * 500 + "</p>",
    ]
    for s in spans:
        assert assert_equivalent(s), f"fast path rejected bench span: {s[:60]}"


def test_conformance_fixture_payloads():
    """Every fixture input: fast path either bails or agrees exactly."""
    n_inputs = n_fast = 0
    for sub in ("tokenizer", "tree-construction"):
        d = FIXTURES / sub
        if not d.is_dir():
            continue
        for f in sorted(d.iterdir()):
            raw = f.read_text(encoding="utf-8", errors="replace")
            docs = []
            if f.suffix == ".test":
                try:
                    docs = [t.get("input", "")
                            for t in json.loads(raw).get("tests", [])]
                except Exception:
                    continue
            elif f.suffix == ".dat":
                for block in raw.split("\n\n#data\n"):
                    body = block.split("\n#errors", 1)[0]
                    docs.append(body.removeprefix("#data\n"))
            for doc in docs:
                if not doc:
                    continue
                n_inputs += 1
                if assert_equivalent(doc):
                    n_fast += 1
    assert n_inputs > 200
    # the conformance corpus is mostly hostile inputs; the fast path just
    # must never accept-and-diverge.  Sanity: it accepts at least a few.
    assert n_fast > 0


TAGS = ["p", "div", "h1", "h2", "nav", "footer", "section", "ul", "li",
        "dd", "dt", "dl", "span", "em", "strong", "b", "i", "a", "code",
        "article", "blockquote", "figure", "figcaption", "main", "aside",
        # skipped-subtree tags that are ORDINARY to the tree builder —
        # the fast path must not emit their text
        "noscript", "datalist"]
VOIDS = ["br", "img", "hr", "input", "wbr", "embed", "source"]


def _random_doc(rng: random.Random) -> str:
    parts = [f"<{rng.choice(TAGS)}>"]  # ladder-qualifying opener
    for _ in range(rng.randint(1, 40)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice([
                "some words", " spaced  text ", "x", "Tab\there",
                "line\nbreak", "MiXeD Case Words", "1 2 3 4",
            ]))
        elif r < 0.60:
            t = rng.choice(TAGS)
            if rng.random() < 0.4:
                parts.append(
                    f'<{t} class="c{rng.randint(0, 3)}" '
                    f"data-x='{rng.randint(0, 9)}' flag>")
            else:
                parts.append(f"<{t.upper() if rng.random() < .2 else t}>")
        elif r < 0.80:
            # end tag, frequently mis-nested on purpose
            parts.append(f"</{rng.choice(TAGS)}>")
        elif r < 0.88:
            v = rng.choice(VOIDS)
            if v in ("img", "embed", "source") and rng.random() < 0.6:
                parts.append(
                    f'<{v} src="m://{rng.randint(0, 9)}"'
                    + (' alt="an alt"' if rng.random() < 0.4 else "")
                    + (">" if rng.random() < 0.5 else "/>"))
            else:
                parts.append(f"<{v}>" if rng.random() < 0.5 else f"<{v}/>")
        elif r < 0.94:
            # ignored start tags / stray end tags BETWEEN text runs merge
            # adjacent #text nodes — the word-count-sensitive case
            parts.append(rng.choice(["wordA", "a b", "x"]))
            parts.append(rng.choice(
                ["<caption>", "<tr>", "<td>", "</article>", "</span>"]))
            parts.append(rng.choice(["wordB", "c d", "y"]))
        else:
            t = rng.choice(TAGS + ["video", "audio"])
            parts.append(f"<{t}>{rng.choice(['x', 'y words'])}</{t}>")
    return "".join(parts)


def test_randomized_simple_corpus():
    rng = random.Random(20260821)
    n_fast = 0
    for _ in range(3000):
        doc = _random_doc(rng)
        if assert_equivalent(doc):
            n_fast += 1
    # the generator stays inside the fast grammar except for adoption/
    # Noah's-Ark/AFE-breaking cases, so acceptance must be high
    assert n_fast > 1500, n_fast


def test_skip_subtree_tags_not_extracted():
    """Regression: in-body <noscript>/<datalist> are ordinary elements
    to the tree builder but their subtrees are SKIP_SUBTREES for the
    extractor — the fast path must not emit their content (the DOM walk
    is the contract)."""
    from html_qt_spark.kernel.extractor import extract_html

    assert extract_html(
        '<div>visible<noscript>hidden<img src="m://px"></noscript>'
        "tail</div>") == [("text", "visibletail", None)]
    assert extract_html(
        "<p>a<datalist>opt</datalist>b</p>") == [("text", "ab", None)]
    assert_equivalent('<div>x<noscript>y<p>z</p></noscript>w</div>')
    assert_equivalent("<p>a<datalist><b>c</b></datalist>d</p>")


def test_bail_cases_return_none():
    for doc in [
        "text first", "<table><tr><td>x", "<p>a &amp; b</p>",
        "<!-- c --><p>x</p>", "<!DOCTYPE html><p>x</p>",
        "<script>var a;</script>", "<svg><circle/></svg>",
        "<br>leading-excluded", "<html><p>x</p>", "<pre>x</pre>",
        "<p>bad \x00 nul</p>", "</p>end first", "<p>unclosed <b>b<p>more",
    ]:
        fast = try_fast_parse(doc)
        if fast is not None:
            # accepted: must still agree with the spec pipeline
            assert state(fast) == state(slow_parse(doc)), doc
