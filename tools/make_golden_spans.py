"""Generate golden extraction fixtures for the DuckDB correctness oracle.

The flagship extraction queries (extract_doc / extract_exploded /
extract_compat) are not SQL-expressible, so their oracle is a materialized
golden table: the **independent recursive extractor** (tests/oracle.py — a
deliberately naive DOM-walk implementation sharing only the tree builder,
whose own correctness is pinned by the html5lib-style .dat fixtures) is run
over the exact interleaved corpus the driver synthesizes at sf0.01, and its
spans are written as parquet.  The driver's oracle SQL then just reads the
parquet — rows + schema + value-hash all get checked.

Also writes a parse-stats golden (kernel-derived token/node/error counts;
the span-count columns of doc_parse_stats are *independently* recomputed in
SQL by the oracle and joined against this table).

Regenerate after any intentional kernel/extractor behavior change:

    python tools/make_golden_spans.py [sf_dir] [out_dir]

Defaults: sf_dir=/root/testdata/sf0.01, out_dir=tests/fixtures.
Deterministic: pure function of documents.parquet + the kernel.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from html_qt_spark.kernel.treebuilder import (  # noqa: E402
    _parse,
    parse,
    parse_fragment,
)
from html_qt_spark.sources.interleaved import INTERLEAVED_SPANS_SQL  # noqa: E402
from tests.oracle import (  # noqa: E402
    oracle_extract,
    oracle_markdown,
    oracle_metadata,
)

SPANS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("span_idx", pa.int32()),
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])

META_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("title", pa.string()),
    ("meta_description", pa.string()),
    ("canonical_url", pa.string()),
    ("lang", pa.string()),
])

MARKDOWN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("markdown", pa.string()),
    ("n_segments", pa.int32()),
    ("quarantined", pa.bool_()),
])

STATS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("n_tokens", pa.int32()),
    ("n_nodes", pa.int32()),
    ("n_parse_errors", pa.int32()),
    ("error_codes", pa.string()),
])


def load_interleaved(sf_dir: str) -> list[tuple]:
    """(doc_id, offset, kind, text, media_ref) rows, doc-grouped, offset
    order — the same deterministic synthesis the driver and the Spark
    queries use (single shared SQL text)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    return con.execute(
        'SELECT doc_id, "offset", kind, text, media_ref FROM ('
        + INTERLEAVED_SPANS_SQL
        + ') ORDER BY doc_id, "offset"').fetchall()


def golden_spans(rows: list[tuple], *, reference_compat: bool,
                 fragment_context: str | None = None) -> dict:
    cols = {k: [] for k in ("doc_id", "span_idx", "kind", "text",
                            "media_ref", "offset")}
    idx = 0
    prev_doc = None
    for doc_id, offset, kind, text, media_ref in rows:
        if doc_id != prev_doc:
            prev_doc, idx = doc_id, 0
        if kind == "media":
            spans = [("media", text, media_ref)]
        elif fragment_context is not None:
            tb = parse_fragment(text or "", context=fragment_context,
                                reference_compat=reference_compat)
            spans = oracle_extract(tb)
        else:
            tb = parse(text or "", reference_compat=reference_compat)
            spans = oracle_extract(tb)
        for k, t, m in spans:
            cols["doc_id"].append(doc_id)
            cols["span_idx"].append(idx)
            cols["kind"].append(k)
            cols["text"].append(t)
            cols["media_ref"].append(m)
            cols["offset"].append(offset)
            idx += 1
    return cols


def golden_metadata(rows: list[tuple]) -> dict:
    """Per-doc head metadata via the independent recursive extractor
    (tests/oracle.py::oracle_metadata); first occurrence across the
    doc's text spans wins."""
    per_doc: dict[str, list] = {}
    for doc_id, _offset, kind, text, _ref in rows:
        acc = per_doc.setdefault(doc_id, [None, None, None, None])
        if kind == "media" or not text or None not in acc:
            continue
        got = oracle_metadata(parse(text, collect_errors=False))
        for i in range(4):
            if acc[i] is None:
                acc[i] = got[i]
    cols = {k: [] for k in ("doc_id", "title", "meta_description",
                            "canonical_url", "lang")}
    for doc_id, (t, d, c, lg) in per_doc.items():
        cols["doc_id"].append(doc_id)
        cols["title"].append(t)
        cols["meta_description"].append(d)
        cols["canonical_url"].append(c)
        cols["lang"].append(lg)
    return cols


def golden_markdown(rows: list[tuple]) -> dict:
    """Per-doc Markdown via the independent recursive renderer
    (tests/oracle.py::oracle_markdown): text spans render in offset
    order, media spans interleave as image blocks, segments join with a
    blank line — mirroring operators/extract.py::extract_markdown_doc."""
    per_doc: dict[str, list[str]] = {}
    for doc_id, _offset, kind, text, media_ref in rows:
        blocks = per_doc.setdefault(doc_id, [])
        if kind == "media":
            if media_ref:
                blocks.append(f"![]({media_ref})")
            continue
        if not text:
            continue
        md = oracle_markdown(parse(text))
        if md:
            blocks.append(md)
    cols = {k: [] for k in ("doc_id", "markdown", "n_segments",
                            "quarantined")}
    for doc_id, blocks in per_doc.items():
        cols["doc_id"].append(doc_id)
        cols["markdown"].append("\n\n".join(blocks))
        cols["n_segments"].append(len(blocks))
        cols["quarantined"].append(False)
    return cols


def golden_parse_stats(rows: list[tuple]) -> dict:
    """Kernel token/node/error counts per doc (regression pin for the
    Spark doc_parse_stats plumbing; computed here OUTSIDE Spark)."""
    per_doc: dict[str, list] = {}
    for doc_id, _offset, kind, text, _ref in rows:
        acc = per_doc.setdefault(doc_id, [0, 0, 0, set()])
        if kind == "media" or not text:
            continue
        tb, n_tokens, errors = _parse(text)
        acc[0] += n_tokens
        acc[1] += len(tb.tag) - 1
        acc[2] += len(errors) + len(tb.errors)
        acc[3].update(c for c, _ in errors)
        acc[3].update(tb.errors)
    cols = {k: [] for k in ("doc_id", "n_tokens", "n_nodes",
                            "n_parse_errors", "error_codes")}
    for doc_id, (nt, nn, ne, codes) in per_doc.items():
        cols["doc_id"].append(doc_id)
        cols["n_tokens"].append(nt)
        cols["n_nodes"].append(nn)
        cols["n_parse_errors"].append(ne)
        cols["error_codes"].append("|".join(sorted(codes)))
    return cols


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2]) if len(sys.argv) > 2 else (
        REPO / "tests" / "fixtures")
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = load_interleaved(sf_dir)
    print(f"{len(rows)} interleaved spans from {sf_dir}")

    spec = golden_spans(rows, reference_compat=False)
    pq.write_table(pa.table(spec, schema=SPANS_SCHEMA),
                   out_dir / "golden_spans_sf001.parquet")
    print(f"golden_spans_sf001.parquet: {len(spec['doc_id'])} rows")

    compat = golden_spans(rows, reference_compat=True)
    pq.write_table(pa.table(compat, schema=SPANS_SCHEMA),
                   out_dir / "golden_spans_compat_sf001.parquet")
    print(f"golden_spans_compat_sf001.parquet: {len(compat['doc_id'])} rows")

    frag = golden_spans(rows, reference_compat=False,
                        fragment_context="td")
    pq.write_table(pa.table(frag, schema=SPANS_SCHEMA),
                   out_dir / "golden_spans_fragment_td_sf001.parquet")
    print("golden_spans_fragment_td_sf001.parquet: "
          f"{len(frag['doc_id'])} rows")

    md = golden_markdown(rows)
    pq.write_table(pa.table(md, schema=MARKDOWN_SCHEMA),
                   out_dir / "golden_markdown_sf001.parquet")
    print(f"golden_markdown_sf001.parquet: {len(md['doc_id'])} rows")

    stats = golden_parse_stats(rows)
    pq.write_table(pa.table(stats, schema=STATS_SCHEMA),
                   out_dir / "golden_parse_stats_sf001.parquet")
    print(f"golden_parse_stats_sf001.parquet: {len(stats['doc_id'])} rows")

    meta = golden_metadata(rows)
    pq.write_table(pa.table(meta, schema=META_SCHEMA),
                   out_dir / "golden_doc_metadata_sf001.parquet")
    print(f"golden_doc_metadata_sf001.parquet: {len(meta['doc_id'])} rows")


if __name__ == "__main__":
    main()
