"""html5lib-style tokenizer conformance tests (SURVEY.md §5.2 item 1).

Fixtures live in tests/fixtures/tokenizer/*.test (format in FIXTURES.md §3).
The runner feeds each input through the pure-Python kernel directly —
the same code the Spark UDF batches — exactly as the reference's
tokenizer-only entry point would be driven (html-qt/htmltokenizer.h:88-92).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from html_qt_spark.kernel.tokenizer import tokenize

FIXTURE_DIR = Path(__file__).parent / "fixtures" / "tokenizer"


def _load_cases():
    cases = []
    for f in sorted(FIXTURE_DIR.glob("*.test")):
        data = json.loads(f.read_text())
        for t in data["tests"]:
            cases.append(pytest.param(t, id=f"{f.stem}::{t['description']}"))
    return cases


def _to_fixture_format(tokens):
    out = []
    for tok in tokens:
        kind = tok[0]
        if kind == "Character":
            out.append(["Character", tok[1]])
        elif kind == "StartTag":
            row = ["StartTag", tok[1], dict(tok[2])]
            if tok[3]:
                row.append(True)
            out.append(row)
        elif kind == "EndTag":
            out.append(["EndTag", tok[1]])
        elif kind == "Comment":
            out.append(["Comment", tok[1]])
        elif kind == "DOCTYPE":
            out.append(["DOCTYPE", tok[1], tok[2], tok[3], tok[4]])
    return out


@pytest.mark.parametrize("case", _load_cases())
def test_tokenizer_fixture(case):
    tokens, errors = tokenize(
        case["input"],
        reference_compat=case.get("referenceCompat", False),
    )
    got = _to_fixture_format(tokens)
    assert got == case["output"], (
        f"input={case['input']!r}\n got={got}\nwant={case['output']}"
    )
    if "errors" in case:
        want_codes = case["errors"]
        got_codes = [c for c, _ in errors]
        assert got_codes == want_codes, (
            f"input={case['input']!r}\n got errors={got_codes}\nwant={want_codes}"
        )


def test_character_runs_are_coalesced():
    # SURVEY.md §2.5: chars emitted one at a time in the reference
    # (htmltokenizer.cpp:91,130) must coalesce into single runs here.
    tokens, _ = tokenize("abc&#65;def")
    assert tokens == [("Character", "abcAdef")]


def test_infinite_loop_guard_not_needed():
    # the reference kills parsing after 10 no-progress iterations
    # (htmltokenizer.cpp:66-80); the engine must always terminate on
    # pathological inputs without a guard
    for bad in ["<", "</", "<!", "<!-", "&#", "&#x", "<a b=", "<!doctype",
                "\x00" * 5, "<" * 100, "&" * 100]:
        tokenize(bad)  # must not hang or raise


def test_reset_reuses_instance():
    from html_qt_spark.kernel.tokenizer import HTMLTokenizer
    tk = HTMLTokenizer("<p>a</p>")
    t1, _ = tk.run()
    tk.reset("<div>b</div>")
    t2, _ = tk.run()
    assert t1[0] == ("StartTag", "p", [], False)
    assert t2[0] == ("StartTag", "div", [], False)


@pytest.mark.parametrize("ch", ["K", "İ", "ſ"])
def test_names_lowercase_ascii_letters_only(ch):
    # WHATWG lowercases ASCII upper alphas only; str.lower() would fold
    # KELVIN SIGN to "k" and I WITH DOT ABOVE to "i" + U+0307
    for html in (f"<LIN{ch} HREF{ch}=u>", f"<x><LIN{ch}\x00 HREF{ch}\x00=u>"):
        tokens, _ = tokenize(html)
        name, attrs = tokens[-1][1], tokens[-1][2]
        assert name.startswith(f"lin{ch}"), tokens
        assert attrs[0][0].startswith(f"href{ch}"), tokens
    tokens, _ = tokenize(f"<!DOCTYPE {ch}HTML{ch}>")
    assert tokens == [("DOCTYPE", f"{ch}html{ch}", None, None, True)]
    tokens, _ = tokenize(f"<p>x</P{ch}>")
    assert tokens[-1] == ("EndTag", f"p{ch}")


def test_kelvin_sign_link_is_not_a_link():
    from html_qt_spark.kernel.extractor import extract_metadata
    from html_qt_spark.kernel.treebuilder import parse

    assert extract_metadata(parse(
        "<linK rel=canonical href=u>", collect_errors=False)) == \
        (None, None, None, None)
    assert extract_metadata(parse(
        "<LINK rel=canonical href=u>", collect_errors=False))[2] == "u"
