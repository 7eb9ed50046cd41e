"""Pinning of the Arrow-vectorized batch extraction (kernel/trivialbatch
+ the shared batch core in operators/extract) against the exact spec
pipeline.  vec_trivial is compared directly with
extract_spans(parse(...)) — NOT with the Python trivial path — so an
RE2-vs-Python-re acceptance difference can only surface as a fallback,
never as a divergence.  The batch core is fuzzed in process against a
per-row reference computed with the kernel, under both groupings; the
Spark-level tests pin the full operators (quarantine, media
pass-through, span_idx numbering) against the same reference."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.trivialbatch import vec_trivial  # noqa: E402
from tests.test_trivialspans import (  # noqa: E402
    BENCH_SHAPES,
    _random_trivial,
    slow_extract,
)


def _vec_spans(texts: list, min_words: int = 1,
               max_link_density: float = 0.5):
    import pyarrow as pa

    res = vec_trivial(pa.array(texts, pa.string()),
                      min_words=min_words,
                      max_link_density=max_link_density)
    if res is None:
        return None
    accepted, norm_kept, kept_span = res
    per = [[] for _ in texts]
    for s, t in zip(kept_span, norm_kept.to_pylist()):
        per[int(s)].append(("text", t, None))
    return [per[j] if accepted[j] else None for j in range(len(texts))]


def test_bench_shapes_vectorized():
    out = _vec_spans(BENCH_SHAPES)
    for s, got in zip(BENCH_SHAPES, out):
        assert got is not None, f"vec path rejected: {s[:60]}"
        assert got == slow_extract(s), s


def test_nulls_and_rejects():
    texts = [None, "", "<p>a &amp; b</p>", "<p>ok text</p>",
             "<P>upper</P>", "plain"]
    out = _vec_spans(texts)
    assert out[0] is None and out[1] is None and out[2] is None
    assert out[3] == [("text", "ok text", None)]
    assert out[4] is None and out[5] is None


def test_negative_link_density_disables():
    import pyarrow as pa

    assert vec_trivial(pa.array(["<p>x</p>"]),
                       min_words=1, max_link_density=-0.5) is None


def test_min_words_vectorized():
    texts = ["<p>one</p>", "<p>two words</p>", "<p>a b c</p>",
             "<div>x<p>b b</p></div>"]
    for mw in (1, 2, 3):
        out = _vec_spans(texts, min_words=mw)
        for s, got in zip(texts, out):
            if got is not None:
                assert got == slow_extract(s, min_words=mw), (s, mw)


def test_randomized_corpora_vs_full_pipeline():
    from tests.test_fastparse_differential import _random_doc

    rng = random.Random(20260824)
    docs = [_random_trivial(rng) for _ in range(3000)]
    docs += [_random_doc(rng) for _ in range(1500)]
    docs = [d for d in docs if d]
    out = _vec_spans(docs)
    n_acc = 0
    for d, got in zip(docs, out):
        if got is None:
            continue
        n_acc += 1
        assert got == slow_extract(d), d
    assert n_acc > 1500, n_acc


# ---------------- Spark-level operator pinning ----------------


@pytest.fixture(scope="module")
def spark():
    from html_qt_spark.plans.session import get_spark

    s = get_spark(cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


EDGE_DOCS = [
    # (doc_id, [(kind, text, media_ref, offset)])
    ("d1", [("text", "<p>a b</p>", None, 0),
            ("media", None, "img://1", 1),
            ("text", "<table><tr><td>x</td></tr></table>", None, 2)]),
    ("d2", [("text", "", None, 0), ("text", None, None, 1)]),
    ("d3", [("weird", "<p>k</p>", None, 0),
            ("media", "alt text", "img://2", 1),
            ("text", '<h1>t</h1><nav><a href="/x">l</a></nav>', None, 2),
            ("text", "<p>a &amp; b</p>", None, 3)]),
    ("d4", [("text", "<div><p>deep</p><footer>f</footer></div>", None, 0),
            ("text", "<p>" + "w " * 40 + "</p>", None, 1)]),
    ("d5", []),
]


def _mk_nested(spark, docs):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]))),
    ])
    return spark.createDataFrame(
        [(d, [tuple(s) for s in spans]) for d, spans in docs], schema)


def _expected_doc_rows(docs, *, max_span_bytes=None):
    """Reference semantics of extract_spans_doc, straight from the
    kernel (the pre-vectorization row loop, reimplemented here)."""
    from html_qt_spark.kernel.extractor import extract_html
    from html_qt_spark.operators.extract import QUARANTINE_KIND

    rows = []
    for doc_id, spans in docs:
        if spans is None:
            continue
        out = []
        idx = 0
        try:
            for kind, text, ref, offset in spans:
                if kind == "media":
                    if isinstance(text, bytes):
                        text = text.decode("utf-8", "replace")
                    out.append((doc_id, idx, "media", text, ref, offset))
                    idx += 1
                    continue
                if not text:
                    continue
                if max_span_bytes and len(text) > max_span_bytes:
                    raise ValueError(f"oversize-span:{len(text)}")
                for k, t, m in extract_html(text):
                    out.append((doc_id, idx, k, t, m, offset))
                    idx += 1
        except Exception as exc:  # noqa: BLE001
            out = [(doc_id, 0, QUARANTINE_KIND,
                    f"{type(exc).__name__}:{exc}"[:512], None, 0)]
        rows.extend(out)
    return sorted(rows, key=lambda r: (r[0], r[1], str(r[2])))


def _collect6(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda r: (r[0], r[1], str(r[2])))


def test_spark_doc_mode_edges(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, EDGE_DOCS)
    assert _collect6(extract_spans_doc(df)) == _expected_doc_rows(EDGE_DOCS)


def test_spark_doc_mode_oversize_quarantine(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, EDGE_DOCS)
    got = _collect6(extract_spans_doc(df, max_span_bytes=30))
    assert got == _expected_doc_rows(EDGE_DOCS, max_span_bytes=30)


MEDIA_TRAP_DOCS = [
    # media spans whose TEXT matches the trivial grammar: the batch
    # classifier sees every value in the column, so these must not leak
    # phantom 'text' rows (review finding; fixed via filter_blocks)
    ("m1", [("media", "<p>hello world</p>", "img://1", 0),
            ("text", "<p>tail</p>", None, 1)]),
    ("m2", [("media", "<div><p>x</p></div>", "img://2", 0)]),
    ("m3", [("text", "<p>lead</p>", None, 0),
            ("media", "<h1>t</h1>", "vid://3", 1),
            ("text", "<p>end</p>", None, 2)]),
]


def test_media_text_matching_grammar_doc_mode(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, MEDIA_TRAP_DOCS)
    assert _collect6(extract_spans_doc(df)) == \
        _expected_doc_rows(MEDIA_TRAP_DOCS)


def test_media_text_matching_grammar_exploded(spark):
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_spans_exploded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ])
    flat = [(d, s[3], s[0], s[1], s[2])
            for d, spans in MEDIA_TRAP_DOCS for s in spans]
    got = _collect6(extract_spans_exploded(
        spark.createDataFrame(flat, schema)))
    assert got == _expected_doc_rows(MEDIA_TRAP_DOCS)


def test_nan_link_density_falls_back():
    """NaN threshold: every comparison is False, so the full pipeline
    drops all blocks — the closed-form paths must decline, not keep
    them."""
    import math

    from html_qt_spark.kernel.trivialspans import trivial_extract

    assert trivial_extract("<p>a b</p>",
                           max_link_density=math.nan) is None
    import pyarrow as pa

    assert vec_trivial(pa.array(["<p>a b</p>"]),
                       min_words=1, max_link_density=math.nan) is None
    assert slow_extract("<p>a b</p>", max_link_density=math.nan) == []


def test_spark_exploded_mode_edges(spark):
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_spans_exploded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ])
    flat = [(d, s[3], s[0], s[1], s[2])
            for d, spans in EDGE_DOCS for s in spans]
    df = spark.createDataFrame(flat, schema)
    got = _collect6(extract_spans_exploded(df))
    # exploded mode numbers spans per doc through its window — same
    # final contract as doc mode on non-quarantined docs; quarantine is
    # per SPAN here, so build the expectation span-wise
    from html_qt_spark.kernel.extractor import extract_html

    exp = []
    for doc_id, spans in EDGE_DOCS:
        out = []
        for kind, text, ref, offset in spans:
            if kind == "media":
                out.append(("media", text, ref, offset))
                continue
            if not text:
                continue
            for k, t, m in extract_html(text):
                out.append((k, t, m, offset))
        for i, (k, t, m, o) in enumerate(out):
            exp.append((doc_id, i, k, t, m, o))
    assert got == sorted(exp, key=lambda r: (r[0], r[1], str(r[2])))


# ---------------- batch core, in process (no Spark session) ----------------

def _doc_rb(docs, *, binary=False):
    """Doc-mode input batch: doc_id plus four parallel span lists (a
    None span list is a null list, as the ``spans.*`` projection gives
    for a null ``spans``)."""
    import pyarrow as pa

    text_ty = pa.binary() if binary else pa.string()

    def col(i, ty):
        return pa.array(
            [None if spans is None else [s[i] for s in spans]
             for _, spans in docs], pa.list_(ty))

    return pa.RecordBatch.from_arrays(
        [pa.array([d for d, _ in docs], pa.string()),
         col(0, pa.string()), col(1, text_ty), col(2, pa.string()),
         col(3, pa.int32())],
        names=["doc_id", "_kinds", "_texts", "_refs", "_offsets"])


def _exploded_rb(rows, *, binary=False):
    """Exploded-mode input batch from (doc_id, kind, text, ref, offset)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.string()),
         pa.array([r[4] for r in rows], pa.int32()),
         pa.array([0] * len(rows), pa.int32()),
         pa.array([r[1] for r in rows], pa.string()),
         pa.array([r[2] for r in rows],
                  pa.binary() if binary else pa.string()),
         pa.array([r[3] for r in rows], pa.string())],
        names=["doc_id", "offset", "_chunk", "kind", "text", "media_ref"])


def _rows(rb, names=("doc_id", "span_idx", "kind", "text", "media_ref",
                      "offset")):
    return sorted(zip(*(rb.column(n).to_pylist() for n in names)),
                  key=lambda r: (r[0], r[1], str(r[2])))


def _throwing_kernel(monkeypatch, seen=None):
    """Patch the kernel so residue spans containing 'boom' / 'bang'
    raise (two messages, so first-failure order is observable)."""
    from html_qt_spark.kernel import extractor

    real = extractor.extract_html

    def fake(html, **kw):
        if seen is not None:
            seen.append(html)
        s = html.decode("utf-8", "replace") if isinstance(html, bytes) \
            else html
        if "boom" in s:
            raise RuntimeError("boom")
        if "bang" in s:
            raise KeyError("bang")
        return real(html, **kw)

    monkeypatch.setattr(extractor, "extract_html", fake)


def test_doc_mode_stops_group_at_first_failure(monkeypatch):
    """A kernel failure ends its document: later residue spans of that
    document never reach the kernel, other documents' spans still do."""
    from html_qt_spark.operators.extract import _doc_batch

    seen: list = []
    _throwing_kernel(monkeypatch, seen)
    a = ["<p>a &amp; 1</p>", "<p><b>boom</b></p>", "<p>a &amp; 2</p>",
         "<p><b>bang</b></p>"]
    b = ["<p>b &amp; 1</p>", "<p>b &amp; 2</p>"]
    docs = [("a", [("text", a[0], None, 0), ("text", a[1], None, 1),
                   ("media", None, "img://1", 2), ("text", a[2], None, 3),
                   ("text", a[3], None, 4)]),
            ("b", [("text", b[0], None, 0), ("text", b[1], None, 1)])]
    got = _rows(_doc_batch(_doc_rb(docs)))
    assert seen == a[:2] + b
    assert got == _expected_doc_rows(docs)
    assert got[0][2:] == ("__quarantine__", "RuntimeError:boom", None, 0)


_LONG = "<p>" + "word " * 12 + "</p>"


def _random_span(rng, binary):
    from tests.test_fastparse_differential import _random_doc
    from tests.test_trivialspans import _random_trivial

    kind = rng.choice(["text"] * 6 + ["media", None, "weird"])
    text = rng.choice([
        None, "", _random_trivial(rng), _random_trivial(rng),
        _random_doc(rng), "<p>a &amp; b</p>", "<p>hello world</p>",
        "<p><b>boom</b> x</p>", "<p><i>bang</i></p>", _LONG,
        "<p>café " + "é" * 30 + "</p>"])
    if binary and text is not None:
        text = rng.choice([text.encode(), b"\xff\xfe" + text.encode()])
    ref = rng.choice([None, f"img://{rng.randint(0, 9)}"])
    offset = None if rng.random() < 0.1 else rng.randint(0, 99)
    return (kind, text, ref, offset)


def test_batch_core_randomized_vs_row_loop(monkeypatch):
    """800 seeded random batches, doc and exploded grouping, against the
    row-loop reference: null/empty lists, null kind/text/offset, binary
    text, grammar-matching media text, oversize spans and a throwing
    kernel."""
    from html_qt_spark.operators.extract import _doc_batch, _exploded_batch

    _throwing_kernel(monkeypatch)
    rng = random.Random(20261017)
    n_quarantined = n_binary = 0
    for batch in range(800):
        binary = rng.random() < 0.2
        n_binary += binary
        docs = []
        for d in range(rng.randint(0, 6)):
            r = rng.random()
            spans = None if r < 0.1 else [] if r < 0.2 else [
                _random_span(rng, binary)
                for _ in range(rng.randint(1, 5))]
            docs.append((f"d{batch}-{d}", spans))
        if batch % 2:
            cap = rng.choice([None, 40])
            rb = _doc_rb(docs, binary=binary)
            if rb.num_rows and rng.random() < 0.3:
                # sliced batch: list offsets that do not start at 0
                rb, docs = rb.slice(1), docs[1:]
            want = _expected_doc_rows(docs, max_span_bytes=cap)
            got = _rows(_doc_batch(rb, max_span_bytes=cap))
        else:
            rows = [(f"{d}-{j}",) + s for d, spans in docs
                    for j, s in enumerate(spans or ())]
            offset = {r[0]: r[4] for r in rows}
            # one group per row; quarantine rows keep the row's offset
            want = [r[:5] + (offset[r[0]],) for r in _expected_doc_rows(
                [(r[0], [r[1:]]) for r in rows])]
            got = _rows(_exploded_batch(_exploded_rb(rows, binary=binary)),
                        ("doc_id", "_inner", "kind", "text", "media_ref",
                         "offset"))
        assert got == want, batch
        n_quarantined += sum(r[2] == "__quarantine__" for r in got)
    assert n_quarantined > 50 and n_binary > 100
