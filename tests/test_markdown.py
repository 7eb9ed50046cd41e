"""Markdown serialization: rule-level cases, production-vs-oracle
differential (structured fuzz + fixture pages), Spark operator contract."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.markdown import render_markdown  # noqa: E402
from html_qt_spark.kernel.treebuilder import parse  # noqa: E402


def md(html: str) -> str:
    return render_markdown(parse(html))


def test_headings_levels():
    assert md("<h1>A</h1><h2>B</h2><h6>F</h6>") == "# A\n\n## B\n\n###### F"
    assert md("<h3>  </h3>") == ""  # empty heading dropped


def test_paragraphs_and_inline_markers():
    assert md("<p>a <strong>b</strong> <em>c</em> <code>d()</code></p>") \
        == "a **b** *c* `d()`"
    assert md("<p><b>  </b>x</p>") == "x"  # empty marker pair dropped


def test_links_and_images():
    assert md("<p><a href='/u'>go</a></p>") == "[go](/u)"
    assert md("<p><a>nohref</a></p>") == "nohref"
    assert md("<p><img src='i.png' alt='pic'></p>") == "![pic](i.png)"
    assert md("<p><img alt='noref'></p>") == ""
    assert md("<p><a href=u><img src=s alt=a></a></p>") == "[![a](s)](u)"


def test_lists():
    assert md("<ul><li>x</li><li>y</li></ul>") == "- x\n- y"
    assert md("<ol><li>x</li><li>y</li></ol>") == "1. x\n2. y"
    assert md("<ul></ul>") == ""


def test_blockquote_pre_hr():
    assert md("<blockquote>q <b>t</b></blockquote>") == "> q **t**"
    assert md("<pre>  a\n  b\n</pre>") == "```\n  a\n  b\n\n```"
    assert md("<p>a</p><hr><p>b</p>") == "a\n\n---\n\nb"


def test_table():
    got = md("<table><tr><th>A</th><th>B</th></tr>"
             "<tr><td>1</td><td>2</td></tr></table>")
    assert got == "| A | B |\n| --- | --- |\n| 1 | 2 |"
    # no header row -> no separator
    got = md("<table><tr><td>1</td><td>2</td></tr></table>")
    assert got == "| 1 | 2 |"


def test_boilerplate_and_skips_dropped():
    got = md("<nav>n</nav><article><p>body</p></article>"
             "<footer>f</footer><script>s()</script>")
    assert got == "body"


def test_nested_containers_flatten_to_blocks():
    assert md("<div><div><p>deep</p></div>tail</div>") == "deep\n\ntail"


@pytest.mark.parametrize("seed", range(200, 240))
def test_markdown_matches_independent_oracle(seed):
    """Production explicit-stack renderer == naive recursive oracle on
    grammar-fuzzed documents (same generator as the span extractor's
    differential fuzz)."""
    from tests.oracle import oracle_markdown
    from tests.test_fuzz import _gen_html, _mutate

    rng = random.Random(7 * 100000 + seed)
    html = _gen_html(rng)
    if rng.random() < 0.5:
        html = _mutate(rng, html)
    tb = parse(html)
    assert render_markdown(tb) == oracle_markdown(tb), f"html={html!r}"


def test_markdown_matches_oracle_on_fixture_pages():
    import json

    from tests.oracle import oracle_markdown

    docs = json.loads((Path(__file__).parent / "fixtures" / "extract" /
                       "pages.json").read_text())["docs"]
    for d in docs:
        tb = parse(d["html"])
        assert render_markdown(tb) == oracle_markdown(tb), d["doc_id"]


def test_markdown_pathological_terminates():
    out = md("<div>" * 600 + "x")
    assert "x" in out
    out = md("<ul>" + "<li>i</li>" * 5000 + "</ul>")
    assert out.count("\n") == 4999


@pytest.fixture(scope="module")
def spark():
    from html_qt_spark.plans.session import get_spark

    s = get_spark(cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_extract_markdown_doc_operator(spark):
    from html_qt_spark.operators.extract import extract_markdown_doc
    from html_qt_spark.sources.interleaved import interleaved_nested

    out = extract_markdown_doc(
        interleaved_nested(spark, "/root/testdata/sf0.001")).collect()
    assert len(out) == 500
    r = {x.doc_id: x for x in out}["0"]
    assert r.markdown.startswith("# Doc 0")      # heading survives
    assert "![](img://" in r.markdown            # media interleaved
    assert not r.quarantined
    assert r.n_segments >= 3
    # nav/footer boilerplate never leaks into markdown
    assert "[Home](/)" not in r.markdown
    assert "about" not in r.markdown


def test_markdown_doc_binary_text_matches_string(spark):
    """BinaryType span text is decoded, not quarantined: the same
    document as StringType and as BinaryType gives the same row."""
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_markdown_doc

    html = "<h1>Titre</h1><p>café &amp; crème</p>"

    def nested(text_type, text):
        schema = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(T.StructType([
                T.StructField("kind", T.StringType()),
                T.StructField("text", text_type),
                T.StructField("media_ref", T.StringType()),
                T.StructField("offset", T.IntegerType()),
            ]))),
        ])
        return spark.createDataFrame([
            ("d", [("text", text, None, 0), ("media", None, "img://1", 1)]),
        ], schema=schema)

    as_str = extract_markdown_doc(nested(T.StringType(), html)).collect()
    as_bin = extract_markdown_doc(
        nested(T.BinaryType(), bytearray(html.encode("utf-8")))).collect()
    assert as_str == as_bin
    assert len(as_bin) == 1 and not as_bin[0].quarantined
    assert as_bin[0].markdown == "# Titre\n\ncafé & crème\n\n![](img://1)"


def test_markdown_doc_quarantine_on_oversize(spark):
    from html_qt_spark.operators.extract import extract_markdown_doc
    from html_qt_spark.streaming.extract_stream import NESTED_SCHEMA

    nested = spark.createDataFrame([
        ("ok", [("text", "<p>fine</p>", None, 0)]),
        ("big", [("text", "<p>" + "x" * 100 + "</p>", None, 0)]),
    ], schema=NESTED_SCHEMA)
    got = {r.doc_id: r for r in
           extract_markdown_doc(nested, max_span_bytes=50).collect()}
    assert not got["ok"].quarantined and got["ok"].markdown == "fine"
    assert got["big"].quarantined
    assert got["big"].n_segments == 0
    assert got["big"].markdown.startswith("ValueError:oversize-span")
