"""Throughput of the html-pages path across article body sizes.

    python3 perfbench/sizescan.py [--seed 1] [--mb 5] [--rounds 5]

Run from the repository root.  The html-pages body sizes (4-24 KB) are
chosen, not measured, so this scan checks that the choice only scales
the run: for each body-size band it generates about ``--mb`` MB of
pages with the html-pages generator and reports

- ``mb_per_s`` of ``extract_spans_doc`` noop passes over the cached
  pages on ``local[<cpus>]``, as an untraced run measures it, and
- the kernel replay's MB/s (one core), ``tokenizer.mb_per_s`` and
  ``kernel.parse_share`` over up to 1 MB of each band's text spans, in
  this process, as a traced run measures them.

Host speed drifts within minutes, so the bands are not measured one
after another: each of ``--rounds`` rounds measures every band once,
and the table gives each band's median over the rounds.  If those
figures stay flat across the bands, per-byte cost does not depend on
page size in this range.  Prints one Markdown table.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

BANDS = ((1000, 2000), (4000, 8000), (12000, 24000), (32000, 64000),
         (96000, 128000))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--mb", type=float, default=5.0)
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args(argv)

    import corpus
    import run
    from measure import median
    from replay import LAYERS, replay
    from spans import Tracer
    from workloads import HtmlPages

    work = os.path.join(run.WORK_BASE, f"sizescan-{os.getpid()}")
    cpus, _ = run.prepare_env(work)
    spark = None
    bands = {}
    try:
        spark = run.start_session(cpus, event_log=False)
        run.warm_workers(spark, cpus)
        for lo, hi in BANDS:
            n = max(cpus * 4, int(args.mb * 1e6 / ((lo + hi) / 2)))
            docs = corpus.html_corpus(args.seed, n, body=(lo, hi))
            wl = HtmlPages(args.seed, os.path.join(work, f"b{lo}"), cpus)
            wl._write_pages(docs)
            wl.build(spark)
            wl.warm(spark)
            sample, size = [], 0
            for d in docs:
                for sp in d["spans"]:
                    if sp["kind"] != "media" and sp["text"] and size < 1e6:
                        sample.append(sp["text"])
                        size += len(sp["text"].encode())
            bands[lo, hi] = {"wl": wl, "n": n, "sample": sample,
                             "sample_mb": size / 1e6, "e2e": [],
                             "kernel": [], "tok": [], "share": []}
        for r in range(args.rounds):
            for b in bands.values():
                wl = b["wl"]
                t0 = time.perf_counter()
                wl.run_pass(spark, r)
                b["e2e"].append(wl.stats["bytes"] / 1e6
                                / (time.perf_counter() - t0))
                k = replay(b["sample"], Tracer())
                b["kernel"].append(b["sample_mb"] / sum(
                    k[f"{layer}.s"] for layer in LAYERS))
                b["tok"].append(k["tokenizer.mb_per_s"])
                b["share"].append(k["kernel.parse_share"])
    finally:
        run.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"seed {args.seed}, local[{cpus}], median of {args.rounds} "
          "rounds")
    print("| body | pages | input MB | mb_per_s | kernel MB/s (1 core) "
          "| tokenizer.mb_per_s | kernel.parse_share |")
    print("|---|---|---|---|---|---|---|")
    for (lo, hi), b in bands.items():
        print(f"| {lo // 1000}-{hi // 1000} KB | {b['n']} "
              f"| {b['wl'].stats['bytes'] / 1e6:.2f} "
              f"| {median(b['e2e']):.2f} | {median(b['kernel']):.2f} "
              f"| {median(b['tok']):.2f} | {median(b['share']):.3f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
