"""Kernel replay: per-layer time and counts of the extraction kernel.

Runs a sample of text spans in the benchmark's own process through the
kernel's public functions, in the order ``extract_html`` calls them:
``vec_trivial`` (whole sample, one batch) -> ``trivial_extract`` ->
``fast_extract`` -> ``try_fast_parse`` (which ``parse`` repeats) ->
``tokenize`` -> ``TreeBuilder.process`` -> ``extract_spans``.  Every
call is timed as a span under the replay's root span, and every result
must equal ``extract_html`` on the same span (or raise the same
exception type), so the replay cannot drift from the real path.
"""

from __future__ import annotations

import time

from spans import Tracer

LAYERS = ("trivialbatch", "trivialspans", "fastparse", "tokenizer",
          "treebuilder", "extractor")


class ReplayMismatch(AssertionError):
    pass


def replay(texts: list[str], tracer: Tracer) -> dict[str, float]:
    """Replay ``texts`` (non-empty HTML strings) and return the kernel
    per-layer metrics; raises :class:`ReplayMismatch` when a replayed
    result differs from ``extract_html``."""
    import numpy as np
    import pyarrow as pa

    from html_qt_spark.kernel.extractor import extract_html, extract_spans
    from html_qt_spark.kernel.fastparse import fast_extract, try_fast_parse
    from html_qt_spark.kernel.tokenizer import tokenize
    from html_qt_spark.kernel.treebuilder import TreeBuilder
    from html_qt_spark.kernel.trivialbatch import filter_blocks, vec_trivial
    from html_qt_spark.kernel.trivialspans import trivial_extract

    n = dict.fromkeys(("trivialspans.attempts", "trivialspans.accepted",
                       "fastparse.attempts", "fastparse.accepted",
                       "tokenizer.tokens", "tokenizer.bytes",
                       "treebuilder.nodes", "extractor.spans_out",
                       "kernel.quarantined.any"), 0)
    quarantined: dict[str, int] = {}
    pc = time.perf_counter
    record = tracer.record

    def _one(html: str) -> list:
        """One span down the unaccepted path, each call timed."""
        n["trivialspans.attempts"] += 1
        t0 = pc()
        got = trivial_extract(html)
        record("kernel.trivialspans", t0, pc(), "replay")
        if got is not None:
            n["trivialspans.accepted"] += 1
            return got
        n["fastparse.attempts"] += 1
        t0 = pc()
        got = fast_extract(html)
        record("kernel.fastparse", t0, pc(), "replay")
        if got is not None:
            n["fastparse.accepted"] += 1
            return got
        n["fastparse.attempts"] += 1
        t0 = pc()
        tb = try_fast_parse(html)
        record("kernel.fastparse", t0, pc(), "replay")
        if tb is not None:
            n["fastparse.accepted"] += 1
        else:
            t0 = pc()
            tokens, _ = tokenize(html, collect_errors=False)
            t1 = pc()
            record("kernel.tokenizer", t0, t1, "replay")
            tb = TreeBuilder(collect_errors=False)
            tb.process(tokens)
            record("kernel.treebuilder", t1, pc(), "replay")
            n["tokenizer.tokens"] += len(tokens)
            n["tokenizer.bytes"] += len(html.encode())
        n["treebuilder.nodes"] += len(tb.tag)
        t0 = pc()
        got = extract_spans(tb)
        record("kernel.extractor", t0, pc(), "replay")
        n["extractor.spans_out"] += len(got)
        return got

    # first calls pay one-time imports (pyarrow.compute, regex builds);
    # the workers paid those during warm-up, so the replay does too
    vec_trivial(pa.array(["<p>warm</p>"]))
    extract_html("<!DOCTYPE html><p>warm &amp; up</p>")
    with tracer.span("kernel.replay", pass_id="replay"):
        t0 = pc()
        accepted, norm_kept, kept_span = vec_trivial(pa.array(texts))
        blocks, owner, _ = filter_blocks(norm_kept, kept_span, accepted)
        record("kernel.trivialbatch", t0, pc(), "replay")
        by_span: dict[int, list] = {int(j): [] for j in
                                    np.flatnonzero(accepted)}
        for j, t in zip(owner.tolist(), blocks.to_pylist()):
            by_span[j].append(("text", t, None))

        for j, html in enumerate(texts):
            if j in by_span:
                got = by_span[j]
            else:
                try:
                    got = _one(html)
                except Exception as exc:  # noqa: BLE001 -- compared below
                    got = type(exc).__name__
                    quarantined[got] = quarantined.get(got, 0) + 1
                    n["kernel.quarantined.any"] += 1
            try:
                want = extract_html(html)
            except Exception as exc:  # noqa: BLE001 -- compared below
                want = type(exc).__name__
            if got != want:
                raise ReplayMismatch(
                    f"replay differs from extract_html on sampled span {j}")
    self_t = tracer.self_times()
    out = {f"{layer}.s": self_t.get(f"kernel.{layer}", 0.0)
           for layer in LAYERS}
    n_acc = len(by_span)
    out["trivialbatch.accepted"] = n_acc
    out["trivialbatch.accept_ratio"] = n_acc / len(texts) if texts else 0.0
    for k in ("trivialspans.attempts", "trivialspans.accepted",
              "fastparse.attempts", "fastparse.accepted",
              "tokenizer.tokens", "treebuilder.nodes",
              "extractor.spans_out", "kernel.quarantined.any"):
        out[k] = n[k]
    tok_s = out["tokenizer.s"]
    out["tokenizer.mb_per_s"] = (n["tokenizer.bytes"] / 1e6 / tok_s
                                 if tok_s else 0.0)
    total = sum(out[f"{layer}.s"] for layer in LAYERS)
    parse = out["tokenizer.s"] + out["treebuilder.s"] + out["extractor.s"]
    out["kernel.parse_share"] = parse / total if total else 0.0
    out["kernel.quarantined_by_type"] = quarantined
    return out
