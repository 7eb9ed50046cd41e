"""Batch-vectorized trivial-span extraction over Arrow string arrays.

The one implementation of the trivial grammar (guide §4.2: hand whole
batches to vectorized native libraries instead of looping over rows in
Python).  For spans inside it the extraction result is computable with
RE2/pyarrow.compute alone — the span text never becomes a Python
object.  Everything it rejects is the residue, which runs
``extractor.extract_html`` (the spec pipeline).

Grammar (ASCII-only, bare lowercase tags, no ``&``/``<`` in text, so
``str.split()``/``str.strip()`` coincide with their ASCII meaning):

  SPAN   := ITEM (ITEM | TEXT)*
  ITEM   := PAIR | BOILER | '<div>' (PAIR | BOILER | TEXT)* '</div>'
  PAIR   := '<t>' TEXT? '</t>'            t in {p h1-h6 li blockquote}
  BOILER := '<b>' (TEXT | APAIR)* '</b>'  b in {nav header footer aside}
  APAIR  := '<a' ATTRS '>' TEXT? '</a>'
  ATTRS  := (WS name ('="' dq-value '"')?)*
  TEXT   := one or more of: printable ASCII minus '&' '<', tab, newline

``dq-value`` excludes ``"``, ``&``, ``<``, ``>`` and control characters.

Why each construct is output-equivalent to the spec pipeline,
``extract_spans(parse(...))`` (pinned by tests/test_trivialbatch.py and
tests/test_trivialspans.py against the tokenizer -> tree builder run):

* None of the tags above gets special handling in the before_html,
  before_head, in_head or after_head rules, so the document scaffolds
  to html/head/body, and none is a raw-text/template/foreign/table
  element.
* PAIR tags are BLOCK_TAGS: the open tag flushes any pending text run
  and starts a block; the matching close pops it (p via close-p, h1-6
  via the heading branch, li/blockquote via their scope walks — with
  nothing below them but body/div, every walk reduces to "pop self").
  The body (no markup inside) is therefore exactly one text block.
* BOILER tags are BLOCK_TAGS *and* BOILERPLATE_CONTAINERS: everything
  inside — text runs and well-formed ``<a>`` pairs — is dropped
  (boiler_depth > 0), and the matched close tag restores depth 0.
  ``<a>`` pairs close before the next one opens, so the active-
  formatting checks (one open <a>, Noah's Ark) never fire.
* ``<div>`` is a BLOCK_TAG p-closer wrapping the same items one level
  deep (the grammar is non-recursive: a nested div is residue).
* TEXT runs between items are each a complete text block: every
  neighboring event is a block push or pop, which flushes the run and
  clears the #text-merge state, so no run ever merges with another.
* A block is emitted iff its normalized text is non-empty: with
  ``MIN_WORDS = 1`` a non-empty block has enough words, and link words
  are always 0 outside boiler containers, so the link-density gate is
  ``0 <= MAX_LINK_DENSITY`` (extractor.py constants).

Valid only for document parsing (no fragment context) without
reference_compat; the batch core in operators/extract.py runs the
classifier in that mode alone.

The batch path:

1. classify: one anchored RE2 match of the grammar per span;
2. reduce to blocks: replace each boilerplate container (with its whole
   link-strip content) by one ``\\x01`` separator, then every remaining
   tag by one separator.  Every tag in the grammar is a block
   push/pop, so the separator-delimited pieces are EXACTLY the
   extractor's text blocks in document order (no two text runs can
   merge: some tag event always sits between them);
3. normalize columnar: whitespace-collapse (only blocks a memchr-style
   count proves non-trivial; the rest just trim) and drop empty blocks.

``\\x01`` cannot occur in classified text (the grammar's text class is
printable-ASCII + tab/newline) nor survive from attribute values (the
value class excludes control characters).
"""

from __future__ import annotations

# the grammar of the module docstring, as RE2 patterns
_B = r"[\t\n -%'-;=-~]"
_ATTR = r"(?:[\t\n ]+[a-z][a-z0-9-]*(?:=\"[^\"&<>\x00-\x1f]*\")?)*"
_APAIR = rf"<a{_ATTR}[\t\n ]*>{_B}*</a>"
_LINKTEXT = rf"(?:{_B}+|{_APAIR})*"
_PTAGS = ("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote")
_BTAGS = ("nav", "header", "footer", "aside")
_PAIR = "(?:" + "|".join(rf"<{t}>{_B}*</{t}>" for t in _PTAGS) + ")"
_BOILER = "(?:" + "|".join(rf"<{t}>{_LINKTEXT}</{t}>" for t in _BTAGS) + ")"
_DIV = rf"<div>(?:{_PAIR}|{_BOILER}|{_B}+)*</div>"
_ITEM = rf"(?:{_PAIR}|{_BOILER}|{_DIV})"
CLASS_RE2 = rf"\A{_ITEM}(?:{_ITEM}|{_B}+)*\z"
_TAG_RE2 = r"</?[a-z][a-z0-9]*>"
_SEP = "\x01"


def vec_trivial(tv):
    """Vectorized trivial extraction over a pyarrow string array of
    span texts (nulls allowed, they are simply not accepted).

    Returns ``(accepted, norm_kept, kept_span)`` where ``accepted`` is
    a numpy bool array per input span, ``norm_kept`` a pyarrow string
    array of all emitted block texts, and ``kept_span`` the int64 input
    index of each emitted block (non-decreasing; blocks of one span
    appear in document order).  ``accepted[j]`` True means span j's
    full extraction result is exactly its slice of ``norm_kept``, every
    block of kind 'text' with media_ref None.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    accepted = pc.fill_null(
        pc.match_substring_regex(tv, CLASS_RE2), False
    ).to_numpy(zero_copy_only=False)
    empty_blocks = pa.array([], pa.string())
    empty_span = np.empty(0, np.int64)
    idx = np.flatnonzero(accepted)
    if len(idx) == 0:
        return accepted, empty_blocks, empty_span

    sel = pc.take(tv, pa.array(idx))
    c = pc.replace_substring_regex(sel, pattern=_BOILER, replacement=_SEP)
    c = pc.replace_substring_regex(c, pattern=_TAG_RE2, replacement=_SEP)
    blocks = pc.split_pattern(c, pattern=_SEP)
    # split_pattern yields at least one piece per (non-null) input, and
    # idx is non-empty here, so flat is never empty
    flat = blocks.values
    boffs = blocks.offsets.to_numpy().astype(np.int64)

    # normalize: collapse runs of {space, tab, newline} (the only
    # whitespace the grammar admits) to one space, then strip.  A
    # substring-count pre-filter keeps the allocating RE2 replace off
    # the (overwhelmingly common) already-single-spaced blocks.
    nontrivial = pc.or_(
        pc.or_(pc.greater(pc.count_substring(flat, "\t"), 0),
               pc.greater(pc.count_substring(flat, "\n"), 0)),
        pc.greater(pc.count_substring(flat, "  "), 0),
    ).to_numpy(zero_copy_only=False)
    norm = pc.utf8_trim(flat, " ")
    nz = np.flatnonzero(nontrivial)
    if len(nz):
        fixed = pc.utf8_trim(pc.replace_substring_regex(
            pc.take(flat, pa.array(nz)),
            pattern=r"[\t\n ]+", replacement=" "), " ")
        remap = np.arange(len(flat), dtype=np.int64)
        remap[nz] = len(flat) + np.arange(len(nz), dtype=np.int64)
        norm = pc.take(pa.concat_arrays(
            [norm.combine_chunks() if isinstance(norm, pa.ChunkedArray)
             else norm, fixed]), pa.array(remap))

    keep_np = pc.not_equal(norm, "").to_numpy(zero_copy_only=False)
    kept_pos = np.flatnonzero(keep_np)
    norm_kept = pc.take(norm, pa.array(kept_pos))
    # flat block position -> local accepted-span ordinal -> input index
    local = np.searchsorted(boffs, kept_pos, side="right") - 1
    return accepted, norm_kept, idx[local]


def filter_blocks(norm_kept, kept_span, accepted):
    """Re-filter a ``vec_trivial`` block set after the caller tightened
    the accepted mask (media rows, empty text, oversize spans), and
    compute each surviving block's ordinal within its span.

    ``vec_trivial`` classifies EVERY value in the column — including,
    say, a media span whose text happens to parse as trivial HTML — so
    callers that exclude whole categories must drop those spans' blocks
    too, or they would emit phantom rows (found by review, pinned by
    tests/test_trivialbatch.py::test_media_text_matching_grammar).

    Returns ``(norm_kept, kept_span, within)`` with normalized empty
    shapes.  ``within`` stays valid under any later whole-span
    filtering (ordinals are per span, so removing other spans' blocks
    cannot change them).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(kept_span):
        keep = accepted[kept_span]
        if not keep.all():
            kept_span = kept_span[keep]
            norm_kept = pc.filter(norm_kept, pa.array(keep))
    if isinstance(norm_kept, pa.ChunkedArray):
        norm_kept = norm_kept.combine_chunks()
    if not len(kept_span):
        return pa.array([], pa.string()), np.empty(0, np.int64), \
            np.empty(0, np.int64)
    run_starts = np.concatenate(
        ([0], np.flatnonzero(np.diff(kept_span)) + 1))
    within = np.arange(len(kept_span), dtype=np.int64)
    seg_len = np.diff(np.concatenate((run_starts, [len(kept_span)])))
    within -= np.repeat(within[run_starts], seg_len)
    return norm_kept, kept_span, within
