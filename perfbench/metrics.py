"""Names, units and directions of every metric the benchmark prints.

``END_TO_END`` is printed by an untraced run (``--trace 0``) and
``PER_LAYER`` by a traced run (``--trace 1``), for every workload; a
layer a workload does not exercise reads 0.  BENCHMARK.json lists the
same names (pinned by tests/test_catalogue.py).
"""

from __future__ import annotations

from eventlog import METRIC_NAMES as STAGE_METRICS

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "mb_per_s": ("MB/s", "higher"),
    "pass_s": ("s", "lower"),
    "core_s_per_gb": ("core-s/GB", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

_STAGE_UNITS = {
    "executor_run_s": ("s", "lower"), "executor_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"), "shuffle_write_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"), "fetch_wait_s": ("s", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "peak_exec_mem_bytes": ("bytes", "lower"), "tasks": ("count", "lower"),
    "task_max_over_median": ("ratio", "lower"),
}

STAGE_PREFIXES = ("extract", "pipeline", "dedup")
CURATION_STAGES = ("input", "quality", "exact_dedup", "near_dedup",
                   "rebalanced", "written")

PER_LAYER = {
    # plans.session and the input generator
    "session.start_s": ("s", "lower"),
    "input.gen_s": ("s", "lower"),
    "input.build_s": ("s", "lower"),
    "input.docs": ("count", "higher"),
    "input.spans": ("count", "higher"),
    "input.mb": ("MB", "higher"),
    # operators.extract: Arrow boundary vs kernel
    "extract.input_s": ("s", "lower"),
    "extract.arrow_roundtrip_s": ("s", "lower"),
    "extract.kernel_s": ("s", "lower"),
}
for _p in STAGE_PREFIXES:
    for _m in STAGE_METRICS:
        PER_LAYER[f"{_p}.{_m}"] = _STAGE_UNITS[_m]
PER_LAYER.update({
    # kernel replay
    "trivialbatch.s": ("s", "lower"),
    "trivialbatch.accepted": ("count", "higher"),
    "trivialbatch.accept_ratio": ("ratio", "higher"),
    "trivialspans.s": ("s", "lower"),
    "trivialspans.attempts": ("count", "lower"),
    "trivialspans.accepted": ("count", "higher"),
    "fastparse.s": ("s", "lower"),
    "fastparse.attempts": ("count", "lower"),
    "fastparse.accepted": ("count", "higher"),
    "tokenizer.s": ("s", "lower"),
    "tokenizer.tokens": ("count", "lower"),
    "tokenizer.mb_per_s": ("MB/s", "higher"),
    "treebuilder.s": ("s", "lower"),
    "treebuilder.nodes": ("count", "lower"),
    "extractor.s": ("s", "lower"),
    "extractor.spans_out": ("count", "higher"),
    "kernel.quarantined.any": ("count", "lower"),
    "kernel.parse_share": ("ratio", "lower"),
    # plans.pipeline
    "pipeline.wall_ms": ("ms", "lower"),
    "pipeline.lineage_s": ("s", "lower"),
    "pipeline.output_bytes": ("bytes", "lower"),
    "pipeline.docs_out": ("count", "higher"),
    "pipeline.spans_out": ("count", "higher"),
    "pipeline.quarantined": ("count", "lower"),
})
for _s in CURATION_STAGES:
    PER_LAYER[f"curation.stage_rows.{_s}"] = ("count", "higher")
PER_LAYER.update({
    # operators.dedup
    "dedup.lsh_pairs_s": ("s", "lower"),
    "dedup.lsh_pairs": ("count", "lower"),
    "dedup.components_s": ("s", "lower"),
    # failures and the tracing itself
    "failed_ratio": ("ratio", "lower"),
    "trace.pass_s_untraced": ("s", "lower"),
    "trace.pass_s_traced": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
})
