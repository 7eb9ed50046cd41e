"""Round-2 regressions for the four advisor findings (ADVICE.md r1→r2).

1. Tokenizer foreign-context desync: HTML breakout tags, HTML end tags
   that close foreign content and integration points must re-enable
   script/RAWTEXT/RCDATA switches so JS/CSS never leaks into extracted
   text (the tree builder decides every switch).
2. O(n^2) per-char consumption in frameset character handlers.
3. Meta-charset prescan must skip comments (WHATWG 13.2.3.2 step "comment").
4. EOF in text mode (unterminated RCDATA/RAWTEXT) must pop + normalize.
"""

from __future__ import annotations

import time

from html_qt_spark.kernel.encoding import sniff_encoding
from html_qt_spark.kernel.extractor import extract_html
from html_qt_spark.kernel.serialize import serialize_tree
from html_qt_spark.kernel.treebuilder import parse


def _texts(tb):
    return [tb.text[i] for i in range(len(tb.tag)) if tb.tag[i] == "#text"]


# ---------------------------------------------------------------- finding 1

def test_script_after_svg_breakout_does_not_leak():
    spans = extract_html(
        '<svg><div>x</div><script>var a = "<p>LEAK</p>";</script>done')
    joined = " ".join(s[1] or "" for s in spans)
    assert "LEAK" not in joined and "var a" not in joined
    assert "x" in joined and "done" in joined


def test_style_after_unclosed_svg_breakout_is_rawtext():
    spans = extract_html(
        "<svg><p>break</p><style>.a{content:'<b>css</b>'}</style>tail")
    joined = " ".join(s[1] or "" for s in spans)
    assert "css" not in joined and "content" not in joined
    assert "tail" in joined


def test_script_after_end_tag_that_closes_svg_does_not_leak():
    # </div> pops the unclosed <svg>: the script is HTML script data
    assert extract_html(
        "<div><svg></div><script>var x='<p>leak</p>';</script><p>after</p>"
    ) == [("text", "after", None)]


def test_cdata_not_latched_after_breakout():
    # after breakout, <![CDATA[ in plain HTML is a bogus comment, not text
    spans = extract_html("<svg><div>x</div></svg>ok<![CDATA[hidden]]>end")
    joined = " ".join(s[1] or "" for s in spans)
    assert "hidden" not in joined
    assert "ok" in joined and "end" in joined


def test_cdata_still_works_inside_foreign():
    tb = parse("<svg><![CDATA[a<b]]></svg>")
    assert "a<b" in _texts(tb)


def test_script_inside_svg_html_integration_point():
    spans = extract_html(
        "<svg><foreignObject><script>bad('<p>NO</p>')</script>"
        "<p>yes</p></foreignObject></svg>")
    joined = " ".join(s[1] or "" for s in spans)
    assert "NO" not in joined and "bad" not in joined
    assert "yes" in joined


def test_script_inside_mathml_text_integration_point():
    spans = extract_html("<math><mi><script>bad()</script>ok</mi></math>")
    joined = " ".join(s[1] or "" for s in spans)
    assert "bad" not in joined and "ok" in joined


def test_title_inside_svg_is_not_rcdata():
    # svg <title> is a foreign element: no RCDATA switch for the tag itself
    tb = parse("<svg><title>a<g>b</g></title></svg>")
    # <g> must be a real element (RCDATA would have made it text)
    assert "g" in [tb.tag[i] for i in range(len(tb.tag))]


def test_font_with_color_breaks_out_font_plain_does_not():
    spans = extract_html(
        '<svg><font color=red>t</font><script>leak1()</script></svg>a')
    assert "leak1" not in " ".join(s[1] or "" for s in spans)
    # plain <font> stays foreign: script after it is still foreign markup
    tb = parse("<svg><font>t</font></svg>")
    assert tb is not None  # no crash; behavior pinned by serialize below
    assert "svg font" in serialize_tree(tb)


def test_nested_svg_inside_integration_point_restores_foreign():
    # inner <svg> under foreignObject re-enters foreign content: CDATA legal
    tb = parse("<svg><foreignObject><svg><![CDATA[x<y]]></svg>"
               "</foreignObject></svg>")
    assert "x<y" in _texts(tb)


# ---------------------------------------------------------------- finding 2

def test_frameset_nonws_text_is_linear():
    doc = "<frameset></frameset>" + "x" * 200_000
    t0 = time.time()
    parse(doc)
    assert time.time() - t0 < 1.0  # was ~0.65s at 200k and O(n^2) beyond


def test_in_frameset_nonws_chars_ignored_ws_kept():
    tb = parse("<frameset>ab  cd</frameset>")
    assert all("a" not in t and "c" not in t for t in _texts(tb))


# ---------------------------------------------------------------- finding 3

def test_prescan_skips_commented_out_meta():
    enc, src = sniff_encoding(
        b"<!-- <meta charset=shift_jis> --><meta charset=utf-8><p>hi")
    assert enc == "utf-8" and src == "meta"


def test_prescan_unterminated_comment_hides_meta():
    enc, _ = sniff_encoding(b"<!-- <meta charset=shift_jis> oops")
    assert enc == "utf-8"  # falls through to utf-8 default


def test_prescan_real_meta_after_comment_block():
    enc, src = sniff_encoding(
        b"<!--x--><meta charset=koi8-r>" + "привет".encode("koi8-r"))
    assert (enc, src) == ("koi8-r", "meta")


# ---------------------------------------------------------------- finding 4

def test_eof_in_unterminated_title_synthesizes_body():
    tb = parse("<title>foo")
    tags = [tb.tag[i] for i in range(len(tb.tag))]
    assert "body" in tags
    assert "foo" in _texts(tb)


def test_eof_in_unterminated_rawtext_in_body():
    tb = parse("<body><p>x</p><style>.a{}")
    tags = [tb.tag[i] for i in range(len(tb.tag))]
    assert tags.count("body") == 1
    assert ".a{}" in _texts(tb)


def test_eof_inside_template_normalizes():
    tb = parse("<body><template><p>t")
    tags = [tb.tag[i] for i in range(len(tb.tag))]
    assert "template" in tags and "body" in tags
