"""Differential pinning of the trivial grammar (kernel/trivialbatch.py)
through its one-span view, kernel/trivialspans.py::trivial_extract,
against the exact spec pipeline: for every input the grammar ACCEPTS,
its spans must equal extract_spans over the tokenizer -> tree-builder
run, which takes no fast path.  Inputs: the bench span shapes, edge and
near-miss shapes, the conformance fixture payloads, a corpus of wilder
simple-markup documents (``_random_doc``) and a dedicated in-grammar +
near-miss randomized corpus.  ``slow_extract``, ``BENCH_SHAPES``,
``fixture_payloads``, ``_random_doc`` and ``_random_trivial`` are
shared with tests/test_trivialbatch.py and tests/test_metadata_gate.py."""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.extractor import extract_spans  # noqa: E402
from html_qt_spark.kernel.tokenizer import HTMLTokenizer  # noqa: E402
from html_qt_spark.kernel.treebuilder import TreeBuilder  # noqa: E402
from html_qt_spark.kernel.trivialspans import trivial_extract  # noqa: E402

FIXTURES = Path(__file__).parent / "fixtures"


def slow_extract(html: str) -> list:
    tk = HTMLTokenizer(html, collect_errors=False)
    tokens, _ = tk.run()
    tb = TreeBuilder(collect_errors=False)
    tb.process(tokens)
    return extract_spans(tb)


def assert_equivalent(html: str) -> bool:
    """True when the trivial path accepted the input."""
    spans = trivial_extract(html)
    if spans is None:
        return False
    assert spans == slow_extract(html), html
    return True


BENCH_SHAPES = [
    '<h1>Doc 7</h1><nav><a href="/">Home</a> <a href="/lang">en</a></nav>',
    "<p>plain body words here</p>",
    '<div><p>abc def</p><footer><a href="/about">about</a> '
    '<a href="/contact">contact</a></footer></div>',
    "<p>" + "word " * 500 + "</p>",
]


def test_bench_span_shapes_accepted():
    for s in BENCH_SHAPES:
        assert assert_equivalent(s), f"trivial path rejected: {s[:60]}"


def test_edge_shapes():
    cases_accept = [
        "<p></p>",                       # empty pair -> []
        "<p>   </p>",                    # whitespace-only -> []
        "<h3>one</h3>",
        "<li>item text</li>",
        "<blockquote>q</blockquote>",
        "<p>a</p> \n <p>b</p>",          # whitespace run between items
        "<p>a</p>between words<p>b</p>",  # raw run between items
        "<div></div>",
        "<div>direct text</div>",
        "<div>pre<p>mid</p>post</div>",   # raw runs around nested pair
        "<nav>drop me</nav>",
        "<nav><a>x</a><a>y</a></nav>",    # back-to-back closed links
        '<aside><a href="/a">l</a> tail</aside>',
        "<div><nav>x</nav>kept</div>",
        "<p>tab\there</p>",               # \t collapses
        "<p>line\nbreak</p>",             # \n collapses
        "<p>double  space</p>",
        "<h1>t</h1><h2>u</h2><p>v</p>",   # multi-item sequence
        "<p>></p>",                       # '>' is legal text
        "<footer></footer>",
    ]
    for s in cases_accept:
        assert assert_equivalent(s), f"should accept: {s!r}"


def test_bail_cases_return_none():
    """Everything outside the grammar must fall back (None), never
    accept-and-diverge.  Shapes here are near-misses of the grammar."""
    cases = [
        "plain text first",              # must start with a tag
        "<p>a &amp; b</p>",              # charref
        "<P>upper</P>",                  # uppercase tag
        "<p class='x'>attr on pair</p>",  # attrs only allowed on <a>
        "<p>unicode é</p>",         # non-ASCII text
        "<p>cr\rhere</p>",               # \r (CRLF normalization path)
        "<p>ff\fhere</p>",               # form feed
        "<p>nul\x00</p>",
        "<p>unclosed",
        "<p>a</p>trailing<",
        "<p>a<b>fmt</b></p>",            # formatting inside pair body
        "<div><div>nested</div></div>",  # grammar is one div level deep
        "<nav>bad<footer></footer></nav>",  # boiler inside boiler
        "<nav><a>open<a>again</a></a></nav>",  # nested <a>
        "<nav>x</footer>",               # mismatched boiler close
        "<span>inline top</span>",
        "<ul><li>x</li></ul>",           # ul wrapper not in grammar
        "<hr>",
        "<img src='x'>",
        "<pre>x</pre>",
        "<p/>self closing",
        '<a href="/">top-level link</a>',
        "<!-- comment --><p>x</p>",
        "<!DOCTYPE html><p>x</p>",
        "<p>a</p><script>x</script>",
    ]
    for s in cases:
        assert trivial_extract(s) is None, f"should bail: {s!r}"


def fixture_payloads() -> list[str]:
    """Every non-empty input of the tokenizer and tree-construction
    conformance fixtures."""
    docs: list[str] = []
    for sub in ("tokenizer", "tree-construction"):
        d = FIXTURES / sub
        if not d.is_dir():
            continue
        for f in sorted(d.iterdir()):
            raw = f.read_text(encoding="utf-8", errors="replace")
            if f.suffix == ".test":
                try:
                    docs += [t.get("input", "")
                             for t in json.loads(raw).get("tests", [])]
                except Exception:
                    continue
            elif f.suffix == ".dat":
                for block in raw.split("\n\n#data\n"):
                    body = block.split("\n#errors", 1)[0]
                    docs.append(body.removeprefix("#data\n"))
    return [doc for doc in docs if doc]


def test_conformance_fixture_payloads():
    docs = fixture_payloads()
    for doc in docs:
        assert_equivalent(doc)
    assert len(docs) > 200


_WORDS = ["alpha", "beta", "gamma", "x", "1", "two words", "a  b",
          "tab\tsep", "line\nsep", "  padded  ", "dots...", "d>e"]
_PTAGS = ["p", "h1", "h2", "h6", "li", "blockquote"]
_BTAGS = ["nav", "header", "footer", "aside"]


def _random_trivial(rng: random.Random) -> str:
    """In-grammar generator with occasional near-miss mutations."""
    def text() -> str:
        return rng.choice(_WORDS)

    def pair() -> str:
        t = rng.choice(_PTAGS)
        body = "".join(text() for _ in range(rng.randint(0, 3)))
        return f"<{t}>{body}</{t}>"

    def boiler() -> str:
        t = rng.choice(_BTAGS)
        inner = []
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.5:
                inner.append(text())
            else:
                attrs = ""
                if rng.random() < 0.6:
                    attrs = f' href="/l{rng.randint(0, 9)}"'
                if rng.random() < 0.2:
                    attrs += " data-x"
                inner.append(f"<a{attrs}>{text()}</a>")
        return f"<{t}>{''.join(inner)}</{t}>"

    def div() -> str:
        inner = []
        for _ in range(rng.randint(0, 4)):
            r = rng.random()
            inner.append(pair() if r < 0.4 else
                         boiler() if r < 0.7 else text())
        return f"<div>{''.join(inner)}</div>"

    parts = []
    r = rng.random()
    parts.append(pair() if r < 0.4 else boiler() if r < 0.7 else div())
    for _ in range(rng.randint(0, 5)):
        r = rng.random()
        parts.append(pair() if r < 0.35 else boiler() if r < 0.55 else
                     div() if r < 0.75 else text())
    doc = "".join(parts)
    if rng.random() < 0.25:  # near-miss mutation: must bail or agree
        mut = rng.random()
        if mut < 0.25:
            doc = doc.replace(">", "&gt;", 1)
        elif mut < 0.5:
            doc = "<span>" + doc
        elif mut < 0.75:
            i = rng.randrange(0, len(doc) + 1)
            doc = doc[:i] + rng.choice("<&\x00éA") + doc[i:]
        else:
            doc = doc.replace("</", "<", 1)
    return doc


TAGS = ["p", "div", "h1", "h2", "nav", "footer", "section", "ul", "li",
        "dd", "dt", "dl", "span", "em", "strong", "b", "i", "a", "code",
        "article", "blockquote", "figure", "figcaption", "main", "aside",
        # skipped-subtree tags that are ORDINARY to the tree builder —
        # the extractor must not emit their text
        "noscript", "datalist"]
VOIDS = ["br", "img", "hr", "input", "wbr", "embed", "source"]


def _random_doc(rng: random.Random) -> str:
    """Simple markup outside the trivial grammar: attributes, voids,
    media, ignored start tags and mis-nested end tags."""
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


def test_randomized_trivial_corpus():
    rng = random.Random(20260822)
    n_acc = 0
    for _ in range(4000):
        doc = _random_trivial(rng)
        if not doc or not doc.startswith("<"):
            continue
        if assert_equivalent(doc):
            n_acc += 1
    assert n_acc > 2000, n_acc


def test_fastparse_generator_corpus():
    """The wilder ``_random_doc`` documents (mis-nested tags,
    attributes, voids, ignored start tags): the trivial path must never
    accept-and-diverge on them either."""
    rng = random.Random(20260823)
    for _ in range(2000):
        assert_equivalent(_random_doc(rng))
