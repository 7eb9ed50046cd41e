"""Spark integration tests: end-to-end pipeline + driver contract at
sf0.001 (SURVEY.md §5.2 items 4-5).  One shared local session."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from html_qt_spark.plans.session import get_spark

    s = get_spark(cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.count()
    assert rows > 0
    assert df.columns == ["doc_id", "span_idx", "kind", "text",
                          "media_ref", "offset"]


def test_doc_and_exploded_strategies_agree(spark):
    from html_qt_spark.operators.extract import (
        extract_spans_doc, extract_spans_exploded)
    from html_qt_spark.sources.interleaved import (
        interleaved_exploded, interleaved_nested)

    a = (extract_spans_doc(interleaved_nested(spark, SF))
         .orderBy("doc_id", "span_idx").collect())
    b = (extract_spans_exploded(interleaved_exploded(spark, SF))
         .orderBy("doc_id", "span_idx").collect())
    assert a == b


def test_span_sequence_invariants(spark):
    """Per-row invariant (BASELINE.json input_hint): ordered spans,
    strictly increasing span_idx, kind in {text, media}."""
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r.span_idx)
        assert [s.span_idx for s in spans] == list(range(len(spans)))
        assert all(s.kind in ("text", "media") for s in spans)
        offs = [s.offset for s in spans]
        assert offs == sorted(offs)
        for s in spans:
            if s.kind == "media":
                assert s.media_ref
            else:
                assert s.text


def test_extraction_matches_kernel_oracle(spark):
    """Spark extraction == pure-Python kernel run driver-side on the same
    synthesized spans (the slow obviously-correct path)."""
    from html_qt_spark.kernel.extractor import extract_html
    from html_qt_spark.operators.extract import extract_spans_doc
    from html_qt_spark.sources.interleaved import interleaved_nested

    nested = interleaved_nested(spark, SF).limit(50)
    got = {}
    for r in extract_spans_doc(nested).collect():
        got.setdefault(r.doc_id, []).append(
            (r.span_idx, r.kind, r.text, r.media_ref, r.offset))
    for r in nested.collect():
        want = []
        idx = 0
        for span in r.spans:
            if span.kind == "media":
                want.append((idx, "media", span.text, span.media_ref,
                             span.offset))
                idx += 1
                continue
            for k, t, m in extract_html(span.text or ""):
                want.append((idx, k, t, m, span.offset))
                idx += 1
        assert sorted(got.get(r.doc_id, [])) == sorted(want), r.doc_id


@pytest.mark.parametrize("qname", [
    "explode_spans", "span_stats", "media_join", "metrics_rollup",
    "exact_dedup", "quality_score", "cosine_topk", "minhash_signatures",
])
def test_oracle_parity_sample(spark, duck, qname):
    """Driver-style DuckDB parity for a representative oracle subset
    (full sweep lives in tools/check_parity.py)."""
    import __spark_entry__ as e

    sdf = e.queries()[qname](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    res = duck.execute(e.oracle_sql()[qname])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(
            tuple(repr(round(r[i], 6)) if isinstance(r[i], float)
                  else repr(r[i]) for i in order)
            for r in rows
        )

    assert norm(srows, scols) == norm(orows, ocols)


def test_extract_plan_is_shuffle_free(spark):
    """The doc-mode pipeline must be scan → project → agg(groupBy for
    nesting) → mapInPandas with NO extra exchanges after the nest."""
    import __spark_entry__ as e

    plan = e.entry(spark)._jdf.queryExecution().executedPlan().toString()
    # exactly one Exchange (the groupBy that builds the nested input);
    # extraction itself must add none
    assert plan.count("Exchange") <= 2, plan


def test_media_decode_stub(spark):
    from html_qt_spark.operators.multimodal import decode_media
    from html_qt_spark.sources.interleaved import interleaved_exploded
    from pyspark.sql import functions as F

    media = interleaved_exploded(spark, SF).where(F.col("kind") == "media")
    out = decode_media(media).collect()
    assert len(out) == media.count()
    assert all(r.modality in ("image", "video", "audio") for r in out)
    # deterministic: same ref → same metadata
    one = [r for r in out if r.media_ref == out[0].media_ref]
    assert all(r == one[0] for r in one)


def test_binary_input_pipeline(spark):
    """Raw-bytes documents (BinaryType spans.text) extract end-to-end:
    encoding sniffed per doc inside the Arrow UDF."""
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_spans_doc

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.BinaryType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]))),
    ])
    rows = [
        ("d1", [("text",
                 '<meta charset="windows-1252"><p>caf\xe9</p>'
                 .encode("windows-1252"), None, 0),
                ("media", None, "m://1", 1)]),
        ("d2", [("text", "\ufeff<p>utf16 doc</p>".encode("utf-16-le"),
                 None, 0)]),
        ("d3", [("text", "<p>plain utf-8 \u00e9</p>".encode(), None, 0)]),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {(r.doc_id, r.span_idx): (r.kind, r.text, r.media_ref)
           for r in extract_spans_doc(df).collect()}
    assert got[("d1", 0)] == ("text", "café", None)
    assert got[("d1", 1)] == ("media", None, "m://1")
    assert got[("d2", 0)] == ("text", "utf16 doc", None)
    assert got[("d3", 0)] == ("text", "plain utf-8 é", None)
