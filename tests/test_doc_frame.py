"""The per-document Arrow frame behind extract_markdown_doc,
doc_parse_stats and doc_metadata (operators/extract.py::_per_doc_batch),
run in process with no Spark: the sf0.01 goldens that the DuckDB oracle
reads, the binary-text decode, and the parse-stats poison pill."""

from __future__ import annotations

import importlib.util
import itertools
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from html_qt_spark.operators.extract import (  # noqa: E402
    DOC_META_SCHEMA,
    DOC_STATS_SCHEMA,
    MARKDOWN_SCHEMA,
    _markdown_doc,
    _metadata_doc,
    _parse_stats_doc,
    _per_doc_batch,
)

SF001 = "/root/testdata/sf0.01"
FIXTURES = REPO / "tests" / "fixtures"


def _batch(docs, text_type=pa.string()) -> pa.RecordBatch:
    """[(doc_id, [(kind, text, media_ref), ...] | None)] -> the
    (doc_id, _kinds, _texts, _refs) batch the frame receives."""
    def lists(i):
        return [None if spans is None else [s[i] for s in spans]
                for _, spans in docs]

    return pa.RecordBatch.from_arrays([
        pa.array([d for d, _ in docs], pa.string()),
        pa.array(lists(0), pa.list_(pa.string())),
        pa.array(lists(1), pa.list_(text_type)),
        pa.array(lists(2), pa.list_(pa.string())),
    ], names=["doc_id", "_kinds", "_texts", "_refs"])


@pytest.fixture(scope="module")
def sf001_batch() -> pa.RecordBatch:
    """The sf0.01 interleaved corpus, one row per document, built by the
    same code that wrote the goldens."""
    spec = importlib.util.spec_from_file_location(
        "make_golden_spans", REPO / "tools" / "make_golden_spans.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows = mod.load_interleaved(SF001)
    return _batch([(doc_id, [(kind, text, ref)
                             for _, _, kind, text, ref in spans])
                   for doc_id, spans in itertools.groupby(
                       rows, key=lambda r: r[0])])


def _golden(name: str) -> list[dict]:
    return sorted(pq.read_table(FIXTURES / name).to_pylist(),
                  key=lambda r: r["doc_id"])


def _run(rb, fn, schema) -> list[dict]:
    return sorted(_per_doc_batch(rb, fn, schema).to_pylist(),
                  key=lambda r: r["doc_id"])


def test_markdown_matches_golden(sf001_batch):
    got = _run(sf001_batch, _markdown_doc, MARKDOWN_SCHEMA)
    assert len(got) == 500
    assert got == _golden("golden_markdown_sf001.parquet")


def test_doc_metadata_matches_golden(sf001_batch):
    got = _run(sf001_batch, _metadata_doc, DOC_META_SCHEMA)
    assert len(got) == 500
    assert got == _golden("golden_doc_metadata_sf001.parquet")


def test_parse_stats_match_golden(sf001_batch):
    got = _run(sf001_batch, _parse_stats_doc, DOC_STATS_SCHEMA)
    kinds = dict(zip(sf001_batch.column(0).to_pylist(),
                     sf001_batch.column(1).to_pylist()))
    assert [{"doc_id": r["doc_id"], "n_tokens": r["n_tokens"],
             "n_nodes": r["n_nodes"], "n_parse_errors": r["n_parse_errors"],
             "error_codes": r["error_codes"]} for r in got] \
        == _golden("golden_parse_stats_sf001.parquet")
    for r in got:
        ks = kinds[r["doc_id"]]
        assert r["n_media_spans_in"] == ks.count("media")
        assert r["n_text_spans_in"] == len(ks) - ks.count("media")


DOCS = [
    ("a", [("text", "<title>T</title><h1>Head</h1><p>café &amp; x</p>",
            None),
           ("media", None, "img://1"),
           ("text", "<p>tail</p>", None),
           ("text", None, None)]),
    ("b", [("text", "<html lang=fr><p>un</p>", None)]),
    ("empty", []),
    ("null", None),
]


@pytest.mark.parametrize("fn,schema", [
    (_markdown_doc, MARKDOWN_SCHEMA),
    (_parse_stats_doc, DOC_STATS_SCHEMA),
    (_metadata_doc, DOC_META_SCHEMA),
])
def test_binary_text_is_decoded(fn, schema):
    """UTF-8 bytes give the same rows as the string they encode."""
    binary = [(d, None if spans is None else [
        (k, None if t is None else t.encode("utf-8"), m)
        for k, t, m in spans]) for d, spans in DOCS]
    want = _per_doc_batch(_batch(DOCS), fn, schema)
    got = _per_doc_batch(_batch(binary, pa.binary()), fn, schema)
    assert got.equals(want)
    assert want.schema.names == schema.names


def test_null_span_list_rows():
    """A null span list emits no markdown row, a zero stats row and an
    all-null metadata row."""
    rb = _batch(DOCS)
    md = {r["doc_id"]: r for r in
          _per_doc_batch(rb, _markdown_doc, MARKDOWN_SCHEMA).to_pylist()}
    assert sorted(md) == ["a", "b", "empty"]
    assert md["a"] == {"doc_id": "a", "markdown": "# Head\n\ncafé & x"
                       "\n\n![](img://1)\n\ntail", "n_segments": 3,
                       "quarantined": False}
    stats = {r["doc_id"]: r for r in _per_doc_batch(
        rb, _parse_stats_doc, DOC_STATS_SCHEMA).to_pylist()}
    assert stats["null"] == {"doc_id": "null", "n_text_spans_in": 0,
                             "n_media_spans_in": 0, "n_tokens": 0,
                             "n_nodes": 0, "n_parse_errors": 0,
                             "error_codes": ""}
    assert (stats["a"]["n_text_spans_in"],
            stats["a"]["n_media_spans_in"]) == (3, 1)
    meta = {r["doc_id"]: r for r in _per_doc_batch(
        rb, _metadata_doc, DOC_META_SCHEMA).to_pylist()}
    blank = {"title": None, "meta_description": None,
             "canonical_url": None, "lang": None}
    assert meta["null"] == {"doc_id": "null", **blank}
    assert meta["empty"] == {"doc_id": "empty", **blank}
    assert (meta["a"]["title"], meta["b"]["lang"]) == ("T", "fr")


def test_parse_stats_poison_pill(monkeypatch):
    """A span the tokenizer raises on adds one parse error and its
    exception code; the task goes on and other documents' rows are
    unchanged."""
    from html_qt_spark.kernel import treebuilder

    rb = _batch(DOCS)
    want = _per_doc_batch(rb, _parse_stats_doc, DOC_STATS_SCHEMA).to_pylist()

    real = treebuilder.HTMLTokenizer

    class Poisoned(real):
        def __init__(self, html, *a, **kw):
            if html == "<p>tail</p>":
                raise RuntimeError("poison")
            super().__init__(html, *a, **kw)

    monkeypatch.setattr(treebuilder, "HTMLTokenizer", Poisoned)
    got = _per_doc_batch(rb, _parse_stats_doc, DOC_STATS_SCHEMA).to_pylist()
    assert got[1:] == want[1:]
    first = _parse_stats_doc(["text"], [DOCS[0][1][0][1]], [None])
    a = got[0]
    assert (a["n_text_spans_in"], a["n_media_spans_in"]) == (3, 1)
    assert (a["n_tokens"], a["n_nodes"]) == first[2:4]
    assert a["n_parse_errors"] == first[4] + 1
    assert a["error_codes"].split("|") == sorted(
        set(filter(None, first[5].split("|"))) | {"exception:RuntimeError"})
