"""Spark extraction operators: the vectorized Arrow path for the kernel.

Two physical strategies for the same logical op (BASELINE.json north_star:
"batch-tokenize raw HTML bytes ... emit ordered (kind,text,media_ref,offset)
spans per document"):

``extract_spans_doc``  — document-at-a-time ``mapInArrow``.  ZERO shuffles:
    each input row (doc_id, spans) maps to its output spans inside one Arrow
    batch.  This is the default path; at 10^12 docs the job is then scan →
    narrow map → write, and scales linearly with executors.

``extract_spans_exploded`` — span-at-a-time for skew: mega-documents whose
    spans are many/huge get their *spans* spread across tasks (explode is
    narrow), extraction runs per HTML fragment, and a single window restores
    per-document span numbering.  One shuffle (the window) buys per-span
    parallelism — use when doc-size skew stalls stragglers (SURVEY.md §4.2:
    value-computation skew AQE cannot see).

Both are thin callers of ONE batch operator, :func:`extract_span_batch`,
which holds every span rule (media pass-through, empty drop, oversize and
kernel-failure quarantine, per-group numbering) over flat Arrow arrays.
Doc mode groups spans by document, exploded mode makes every row its own
group.  Python runs only for the residue the RE2 batch classifier
(kernel/trivialbatch.py) cannot settle — no per-row Python UDFs
(input_hint mandate).

The three one-row-per-document operators (``extract_markdown_doc``,
``doc_parse_stats``, ``doc_metadata``) share ONE per-document Arrow
frame, :func:`_per_doc_batch`: it hands each document's span lists to
a plain Python function (binary text already decoded, a null span list
as None) and builds the output batch from the rows it returns, so each
operator is only its per-document rule.  All four document operators
read their input through one projection, :func:`_span_lists`.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])


QUARANTINE_KIND = "__quarantine__"


def _span_lists(df: DataFrame, *, offsets: bool = False) -> DataFrame:
    """(doc_id, spans) -> (doc_id, _kinds, _texts, _refs[, _offsets]).

    Flatten array<struct> into parallel primitive list columns BEFORE the
    Arrow boundary: Arrow conversion of array<struct> builds one Python
    dict per span (measured ~2.5x the whole kernel cost); primitive list
    columns convert as flat buffers.  JVM-side projection, zero
    shuffles.  All columns come from one array, so their list offsets
    and nulls always agree.
    """
    cols = [
        "doc_id",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
    ]
    if offsets:
        cols.append(F.col("spans.offset").alias("_offsets"))
    return df.select(*cols)


def extract_span_batch(kind, text, media_ref, group, *,
                       reference_compat: bool = False,
                       fragment_context: str | None = None,
                       max_span_bytes: int | None = None):
    """Extract a flat batch of spans that belong to groups (documents).

    ``kind``, ``text`` (string or binary) and ``media_ref`` are parallel
    Arrow arrays with one value per input span; ``group`` is a numpy
    int array of each span's group id, non-decreasing in span order.
    Returns a RecordBatch with one row per output span: ``group``,
    ``span`` (the source span's index; the failing span's on a
    quarantine row), ``idx`` (running index within
    the group, in span order), ``kind``, ``text``, ``media_ref``.
    Rows are grouped by path, not sorted; ``idx`` carries the order.

    The rules, held here once for both operators:

    - a ``media`` span passes through as one row (binary text decoded
      as UTF-8 with ``replace``);
    - a null or empty text span emits nothing;
    - a text span longer than ``max_span_bytes`` (codepoints; bytes
      for binary text) is a failure;
    - text outside ``reference_compat`` / ``fragment_context`` is
      classified by the RE2 batch path (``vec_trivial``; binary text
      through an ASCII view, see below), and only the residue runs
      ``extract_html`` on the original value, in ascending span order —
      spans after their group's first failure never run;
    - a failed group collapses to ONE ``QUARANTINE_KIND`` row (idx 0,
      media_ref null) whose text is the first failure in span order.

    The ASCII view of binary text turns every non-ASCII byte into
    ``\\x01``, which the ASCII-only grammar rejects; an accepted value is
    all ASCII, which ``decode_html`` maps to the same characters (a BOM
    is non-ASCII, and ``<meta`` is outside the grammar).

    Poison-pill policy: the engine version of the reference's fatal
    no-progress guard (html-qt/htmltokenizer.cpp:66-80), made non-fatal
    — a 10^12-doc job must not die on one span.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # looked up at call time, so a patched extractor.extract_html runs
    from html_qt_spark.kernel.extractor import extract_html
    from html_qt_spark.kernel.trivialbatch import filter_blocks, vec_trivial

    n = len(kind)
    str_ty = pa.string()
    group = np.asarray(group, dtype=np.int64)
    textual = pa.types.is_string(text.type)
    media = pc.fill_null(pc.equal(kind, "media"), False).to_numpy(
        zero_copy_only=False)
    # byte length settles emptiness from the offsets alone; the oversize
    # cap counts codepoints of string text, as len() does
    length = pc.utf8_length(text) if textual and max_span_bytes \
        else pc.binary_length(text)
    tlen = pc.fill_null(length, 0).to_numpy(zero_copy_only=False)
    text_ok = ~media & (tlen > 0)
    oversize = text_ok & (tlen > max_span_bytes) if max_span_bytes \
        else np.zeros(n, dtype=bool)

    accepted = np.zeros(n, dtype=bool)
    norm_kept = pa.array([], str_ty)
    kept_span = within = np.empty(0, np.int64)
    if not reference_compat and fragment_context is None:
        accepted, norm_kept, kept_span = vec_trivial(
            text if textual else pc.replace_substring_regex(
                text, r"[^\x00-\x7f]", "\x01").cast(str_ty))
        accepted = accepted & text_ok & ~oversize
        # vec_trivial classified EVERY value (media text included); drop
        # the blocks of spans the masks above just rejected
        norm_kept, kept_span, within = filter_blocks(
            norm_kept, kept_span, accepted)

    # failures, in span order: a group's first failure stops it — a
    # residue span after a known oversize span or after a kernel
    # exception in its group never runs
    n_groups = int(group[-1]) + 1 if n else 0
    first_fail = np.full(n_groups, n, dtype=np.int64)
    fails: dict[int, str] = {}
    for j in np.flatnonzero(oversize).tolist():
        # codepoint length from the vectorized scan — never
        # materialize the (by definition huge) span itself
        fails[j] = f"ValueError:oversize-span:{int(tlen[j])}"
        first_fail[group[j]] = min(first_fail[group[j]], j)
    residue = np.flatnonzero(text_ok & ~accepted & ~oversize)
    results: dict[int, list] = {}
    for j, html in zip(residue.tolist(),
                       pc.take(text, pa.array(residue)).to_pylist()):
        g = group[j]
        if j > first_fail[g]:
            continue
        try:
            results[j] = extract_html(
                html, reference_compat=reference_compat,
                fragment_context=fragment_context)
        except Exception as exc:  # noqa: BLE001 — poison pill
            fails[j] = f"{type(exc).__name__}:{exc}"[:512]
            first_fail[g] = j
    span_ok = (first_fail == n)[group]

    # per-span output counts -> running idx base within the group (a
    # failed group's counts never reach a surviving group's base)
    n_out = np.bincount(kept_span, minlength=n)
    n_out[media] = 1
    for j, res in results.items():
        n_out[j] = len(res)
    csum = np.concatenate(([0], np.cumsum(n_out)))
    base = csum[:-1] - csum[np.searchsorted(group, group)]

    jm = np.flatnonzero(media & span_ok)
    jm_pa = pa.array(jm, pa.int64())
    media_text = pc.take(text, jm_pa)
    media_text = media_text.cast(str_ty) if textual else pa.array(
        [None if v is None else v.decode("utf-8", "replace")
         for v in media_text.to_pylist()], str_ty)
    vk = span_ok[kept_span]
    if not vk.all():
        kept_span, within = kept_span[vk], within[vk]
        norm_kept = pc.filter(norm_kept, pa.array(vk))
    p_span: list[int] = []
    p_idx: list[int] = []
    p_kind: list[str] = []
    p_text: list[str | None] = []
    p_ref: list[str | None] = []
    for j, res in results.items():
        if not span_ok[j]:
            continue
        for i, (k, t, m) in enumerate(res):
            p_span.append(j)
            p_idx.append(int(base[j]) + i)
            p_kind.append(k)
            p_text.append(t)
            p_ref.append(m)
    q_group = np.flatnonzero(first_fail < n)
    q_span = first_fail[q_group]

    nm, nv, nq = len(jm), len(kept_span), len(q_group)
    span = np.concatenate([jm, kept_span, np.asarray(p_span, np.int64),
                           q_span])
    idx = np.concatenate([base[jm], base[kept_span] + within,
                          np.asarray(p_idx, np.int64),
                          np.zeros(nq, np.int64)])
    return pa.RecordBatch.from_arrays([
        pa.array(group[span], pa.int64()),
        pa.array(span, pa.int64()),
        pa.array(idx.astype(np.int32), pa.int32()),
        pa.array(["media"] * nm + ["text"] * nv + p_kind
                 + [QUARANTINE_KIND] * nq, str_ty),
        pa.concat_arrays([
            media_text, norm_kept.cast(str_ty), pa.array(p_text, str_ty),
            pa.array([fails[int(j)] for j in q_span], str_ty)]),
        pa.concat_arrays([
            pc.take(media_ref, jm_pa).cast(str_ty), pa.nulls(nv, str_ty),
            pa.array(p_ref, str_ty), pa.nulls(nq, str_ty)]),
    ], names=["group", "span", "idx", "kind", "text", "media_ref"])


def _doc_batch(rb, **opts):
    """One (doc_id, kinds, texts, refs, offsets) batch of parallel span
    lists -> OUT_SCHEMA rows.  A document is a group; a null span list
    has no spans and so no rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_id, kinds, texts, refs, offsets = rb.columns
    out = extract_span_batch(
        pc.list_flatten(kinds), pc.list_flatten(texts),
        pc.list_flatten(refs),
        pc.list_parent_indices(kinds).to_numpy(zero_copy_only=False),
        **opts)
    kind = out.column("kind")
    offset = pc.take(pc.list_flatten(offsets), out.column("span"))
    return pa.RecordBatch.from_arrays([
        pc.take(doc_id, out.column("group")).cast(pa.string()),
        out.column("idx"), kind, out.column("text"),
        out.column("media_ref"),
        pc.if_else(pc.equal(kind, QUARANTINE_KIND), 0, offset)
        .cast(pa.int32()),
    ], names=["doc_id", "span_idx", "kind", "text", "media_ref", "offset"])


def extract_spans_doc(df: DataFrame, *, reference_compat: bool = False,
                      max_span_bytes: int | None = None,
                      fragment_context: str | None = None) -> DataFrame:
    """(doc_id, spans) → (doc_id, span_idx, kind, text, media_ref, offset).

    Narrow transformation: no shuffle, no driver round-trip.  Input text
    spans run through the fused tokenize→tree→extract kernel; media spans
    pass through at their document position.

    ``fragment_context``: parse each text span with innerHTML semantics
    as the contents of that context element (WHATWG 13.4) — a crawl
    storing non-document snippets (table cells, option lists, svg
    islands) extracts them in their real context instead of through the
    full-document state machine.  Threads straight to the kernel
    (kernel/extractor.py::extract_html).

    A span larger than ``max_span_bytes`` or a kernel exception
    quarantines the DOCUMENT into one row with kind=QUARANTINE_KIND
    (reason in ``text``, offset 0) instead of failing the task; rules in
    :func:`extract_span_batch`.
    """

    def process(batches):
        for rb in batches:
            yield _doc_batch(rb, reference_compat=reference_compat,
                             fragment_context=fragment_context,
                             max_span_bytes=max_span_bytes)

    # mapInArrow: the batch core works on the Arrow arrays themselves, so
    # no per-row conversion runs on either side of the boundary
    return _span_lists(df, offsets=True).mapInArrow(process,
                                                    schema=OUT_SCHEMA)


def _per_doc_batch(rb, fn, schema: T.StructType):
    """One (doc_id, kinds, texts, refs) batch -> ``schema`` rows.

    ``fn(kinds, texts, refs)`` sees one document's span lists as Python
    lists — a null span list as None, binary text decoded once through
    kernel/encoding.py::decode_html — and returns the row's values
    after doc_id, or None for no row.
    """
    import pyarrow as pa

    from html_qt_spark.kernel.encoding import decode_html

    doc_id, kinds, texts, refs = rb.columns
    binary = pa.types.is_binary(texts.type.value_type)
    rows = []
    for d, k, t, r in zip(doc_id.to_pylist(), kinds.to_pylist(),
                          texts.to_pylist(), refs.to_pylist()):
        if binary and t is not None:
            t = [None if v is None else decode_html(v) for v in t]
        row = fn(k, t, r)
        if row is not None:
            rows.append((d, *row))
    arrow_type = {"string": pa.string(), "int": pa.int32(),
                  "boolean": pa.bool_()}
    out = pa.schema([(f.name, arrow_type[f.dataType.simpleString()])
                     for f in schema])
    return pa.RecordBatch.from_arrays(
        [pa.array([row[i] for row in rows], f.type)
         for i, f in enumerate(out)], schema=out)


def _per_doc(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """(doc_id, spans) -> one ``schema`` row per document ``fn`` keeps
    (:func:`_per_doc_batch`): narrow mapInArrow, zero shuffles."""

    def process(batches):
        for rb in batches:
            yield _per_doc_batch(rb, fn, schema)

    return _span_lists(df).mapInArrow(process, schema=schema)


MARKDOWN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("quarantined", T.BooleanType()),
])


def _markdown_doc(kinds, texts, refs, *, max_span_bytes: int | None = None):
    """One document -> (markdown, n_segments, quarantined); no row for a
    null span list.  A text span longer than ``max_span_bytes``
    codepoints or a kernel exception quarantines the document: the
    markdown is the failure message, n_segments 0."""
    if kinds is None:
        return None
    from html_qt_spark.kernel.markdown import render_markdown
    from html_qt_spark.kernel.treebuilder import parse

    blocks: list[str] = []
    try:
        for kind, html, ref in zip(kinds, texts, refs):
            if kind == "media":
                if ref:
                    blocks.append(f"![]({ref})")
                continue
            if not html:
                continue
            if max_span_bytes and len(html) > max_span_bytes:
                raise ValueError(f"oversize-span:{len(html)}")
            md = render_markdown(parse(html))
            if md:
                blocks.append(md)
    except Exception as exc:  # noqa: BLE001 — poison pill
        return f"{type(exc).__name__}:{exc}"[:512], 0, True
    return "\n\n".join(blocks), len(blocks), False


def extract_markdown_doc(df: DataFrame, *,
                         max_span_bytes: int | None = None) -> DataFrame:
    """(doc_id, spans) → (doc_id, markdown, n_segments, quarantined):
    the structure-preserving Markdown rendering of each document
    (kernel/markdown.py spec) — headings, lists, tables, code fences,
    links/images — with media spans interleaved at their document
    position as image/link blocks.

    Narrow mapInArrow through the per-document frame, zero shuffle,
    document-level poison-pill quarantine (:func:`_markdown_doc`).  One
    output row per document with a non-null span list.
    """
    return _per_doc(df, functools.partial(
        _markdown_doc, max_span_bytes=max_span_bytes), MARKDOWN_SCHEMA)


DOC_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_text_spans_in", T.IntegerType()),
    T.StructField("n_media_spans_in", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("n_nodes", T.IntegerType()),
    T.StructField("n_parse_errors", T.IntegerType()),
    # '|'-joined sorted distinct codes: a metrics table carries scalar
    # columns so downstream sort/compare/export tooling never chokes on
    # list cells (array<string> broke the correctness harness in r1)
    T.StructField("error_codes", T.StringType()),
])


def _parse_stats_doc(kinds, texts, refs):
    """One document -> (n_text_spans_in, n_media_spans_in, n_tokens,
    n_nodes, n_parse_errors, error_codes).  A span whose tokenizer or
    tree builder raises adds no tokens or nodes, one parse error and
    the code ``exception:<ExcType>``."""
    from html_qt_spark.kernel.tokenizer import HTMLTokenizer
    from html_qt_spark.kernel.treebuilder import TreeBuilder

    n_text = n_media = n_tokens = n_nodes = n_errs = 0
    codes: set[str] = set()
    for kind, html in zip(kinds or (), texts or ()):
        if kind == "media":
            n_media += 1
            continue
        n_text += 1
        if not html:
            continue
        try:
            tokens, errors = HTMLTokenizer(html).run()
            tb = TreeBuilder(collect_errors=True)
            tb.process(tokens)
        except Exception as exc:  # noqa: BLE001 — poison pill
            n_errs += 1
            codes.add(f"exception:{type(exc).__name__}")
            continue
        n_tokens += len(tokens)
        n_nodes += len(tb.tag) - 1
        n_errs += len(errors) + len(tb.errors)
        codes.update(c for c, _ in errors)
        codes.update(tb.errors)
    return (n_text, n_media, n_tokens, n_nodes, n_errs,
            "|".join(sorted(codes)))


def doc_parse_stats(df: DataFrame) -> DataFrame:
    """(doc_id, spans) → per-document parse metrics.

    The reference records errors as ParserErrorToken rows interleaved in
    the token stream (html-qt/htmltokenizer.cpp:94-101); the engine
    surfaces them as a metrics table instead (SURVEY.md §2.2): token
    count, DOM node count, parse-error count + distinct codes per doc
    (:func:`_parse_stats_doc`).  One row per input document, through the
    same zero-shuffle per-document frame as Markdown.
    """
    return _per_doc(df, _parse_stats_doc, DOC_STATS_SCHEMA)


# block-start tags are safe HTML cut points for the extractor: a block tag
# always flushes the open text block, so no emitted text span straddles a
# cut (chunk-extraction == whole-extraction on block-structured content)
_BLOCK_CUT_RX = (
    r"(?=<(?:p|div|h[1-6]|section|article|table|ul|ol|li|tr|blockquote|"
    r"header|footer|nav|aside|main|pre)[\s>/])")
# contexts where a literal "<p" inside them is NOT a real tag — a span
# containing any of these openers is never split (correctness over
# parallelism; the poison-pill/oversize quarantine still bounds it)
_UNSAFE_SPLIT_RX = (
    r"(?i)<(?:script|style|textarea|title|xmp|pre|iframe|noembed|"
    r"noframes|plaintext|svg|math)[\s>/]|<!--|<!\[CDATA\[")


def chunk_split_exploded(df_exploded: DataFrame, *,
                         threshold_bytes: int = 1 << 20,
                         target_chunk_bytes: int = 256 << 10) -> DataFrame:
    """Split oversized text spans into chunk rows (SURVEY §4.2 mega-doc
    path): one 1-GB span otherwise lands on ONE task — value-computation
    skew AQE cannot see, and the exact hazard the reference's no-progress
    guard (html-qt/htmltokenizer.cpp:66-80) aborts on.

    All JVM-side: regex-split at block-start tags (lookahead keeps the
    tag with its following chunk), greedy-pack pieces to
    ``target_chunk_bytes`` via a running-length window, reassemble each
    chunk with one groupBy.  Only spans > ``threshold_bytes`` that are
    free of raw-text/comment/foreign openers are split — anything else
    passes through whole, so splitting never changes extraction output
    on content it can't prove safe.  Output schema = input +
    ``_chunk:int`` ordering column, consumed by
    :func:`extract_spans_exploded`.

    The window+groupBy shuffle is keyed (doc_id, offset) and runs ONLY
    over the filtered mega-spans (a vanishing fraction of a crawl), so
    the common path stays shuffle-free.
    """
    from pyspark.sql import Window

    eligible = (
        (F.col("kind") == "text")
        & (F.length("text") > threshold_bytes)
        & (~F.col("text").rlike(_UNSAFE_SPLIT_RX))
    )
    passthrough = (df_exploded.where(~eligible | eligible.isNull())
                   .withColumn("_chunk", F.lit(0)))
    mega = df_exploded.where(eligible)
    pieces = mega.select(
        "doc_id", "offset", "kind", "media_ref",
        F.posexplode(F.split("text", _BLOCK_CUT_RX))
        .alias("_piece_idx", "_piece"),
    )
    w = (Window.partitionBy("doc_id", "offset").orderBy("_piece_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = pieces.withColumn(
        "_chunk",
        (F.coalesce(F.sum(F.length("_piece")).over(w), F.lit(0))
         / F.lit(target_chunk_bytes)).cast("int"))
    chunks = (
        packed.groupBy("doc_id", "offset", "kind", "media_ref", "_chunk")
        .agg(F.concat_ws(
            "",
            F.sort_array(F.collect_list(F.struct("_piece_idx", "_piece")))
            .getField("_piece")).alias("text"))
    )
    cols = ["doc_id", "offset", "kind", "text", "media_ref", "_chunk"]
    return passthrough.select(*cols).unionByName(chunks.select(*cols))


def _exploded_batch(rb, **opts):
    """One (doc_id, offset, _chunk, kind, text, media_ref) batch ->
    extracted rows numbered by ``_inner``.  Every row is its own group,
    so a failing span quarantines only itself; doc_id, offset and
    _chunk come from the row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    doc_id, offset, chunk, kind, text, media_ref = rb.columns
    out = extract_span_batch(kind, text, media_ref,
                             np.arange(rb.num_rows), **opts)
    row = out.column("group")
    return pa.RecordBatch.from_arrays([
        pc.take(doc_id, row).cast(pa.string()),
        pc.take(offset, row).cast(pa.int32()),
        pc.take(chunk, row).cast(pa.int32()),
        out.column("idx"), out.column("kind"), out.column("text"),
        out.column("media_ref"),
    ], names=["doc_id", "offset", "_chunk", "_inner", "kind", "text",
              "media_ref"])


def extract_spans_exploded(df_exploded: DataFrame, *,
                           fragment_context: str | None = None
                           ) -> DataFrame:
    """Skew path over the exploded form (doc_id, offset, kind, text,
    media_ref[, _chunk]): per-span extraction + one window to number
    spans.  ``fragment_context`` as in :func:`extract_spans_doc`.

    Mega-documents parallelize across their spans; the window shuffle is
    keyed on doc_id so AQE's skew-join splitting and post-shuffle
    coalescing apply.  The UDF emits FLAT rows (no array<struct> build +
    posexplode round-trip — measured ~2x the kernel cost).

    A ``_chunk`` column (from :func:`chunk_split_exploded`) slots into
    the ordering between ``offset`` and the intra-fragment index, so
    chunked mega-spans renumber back into document order.
    """
    has_chunk = "_chunk" in df_exploded.columns
    if not has_chunk:
        df_exploded = df_exploded.withColumn("_chunk", F.lit(0))

    def process(batches):
        for rb in batches:
            yield _exploded_batch(rb, fragment_context=fragment_context)

    # explicit projection pins the positional column order the Arrow UDF
    # reads AND guarantees only these six columns cross the boundary
    # (guide §4.1: an opaque function otherwise ships every column)
    narrow = df_exploded.select(
        "doc_id", "offset", "_chunk", "kind", "text", "media_ref")
    extracted = narrow.mapInArrow(
        process, schema="doc_id string, offset int, _chunk int, "
                        "_inner int, kind string, text string, "
                        "media_ref string")
    w = Window.partitionBy("doc_id").orderBy("offset", "_chunk", "_inner")
    return (
        extracted
        .withColumn("span_idx",
                    (F.row_number().over(w) - F.lit(1)).cast("int"))
        .select("doc_id", "span_idx", "kind", "text", "media_ref", "offset")
    )


DOC_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("meta_description", T.StringType()),
    T.StructField("canonical_url", T.StringType()),
    T.StructField("lang", T.StringType()),
])


# the elements extract_metadata reads come only from their own start
# tags (html attributes only from an <html start tag).  A NUL in a name
# becomes U+FFFD, and the tokenizer lowercases ASCII letters only
_META_GATE = re.compile(r"<(?:title|meta|link|html)", re.I | re.A)


def _metadata_doc(kinds, texts, refs):
    """One document -> (title, meta_description, canonical_url, lang),
    the first non-null value across its text spans winning; a span the
    kernel fails on is skipped, and a span with no ``_META_GATE`` start
    tag, which can only yield all-null metadata, is never parsed."""
    from html_qt_spark.kernel.extractor import extract_metadata
    from html_qt_spark.kernel.treebuilder import parse

    acc = (None, None, None, None)
    for kind, html in zip(kinds or (), texts or ()):
        if kind == "media" or not html or not _META_GATE.search(html):
            continue
        if None not in acc:
            break
        try:
            got = extract_metadata(parse(html, collect_errors=False))
        except Exception:  # noqa: BLE001 — poison pill
            continue
        acc = tuple(g if a is None else a for a, g in zip(acc, got))
    return acc


def doc_metadata(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> per-document head metadata (title, meta
    description, canonical link, html lang), first occurrence across the
    document's text spans winning (:func:`_metadata_doc`).  Same
    zero-shuffle per-document frame as Markdown; one row per input
    document (all-NULL when the document carries no head metadata)."""
    return _per_doc(df, _metadata_doc, DOC_META_SCHEMA)
