"""Per-layer stage metrics from Spark's own event log.

The benchmark turns the event log on for the traced part of a run and
tags each timed job with the local property :data:`LAYER_PROP` before
running it.  After the session stops, :func:`layer_metrics` reads every
log under the directory and sums task metrics per tag.  Metrics come
from the recorded tasks, not from printed plans, so stages that adaptive
execution reuses or skips are counted exactly once.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

LAYER_PROP = "perfbench.layer"

METRIC_NAMES = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
    "peak_exec_mem_bytes", "tasks", "task_max_over_median")

_WANTED = (b'{"Event":"SparkListenerJobStart"',
           b'{"Event":"SparkListenerTaskEnd"')


def _events(path: str):
    """Job-start and task-end events of one log file (other lines, such
    as the large SQL plan events, are skipped before JSON parsing)."""
    with open(path, "rb") as f:
        for line in f:
            if line.startswith(_WANTED):
                yield json.loads(line)


def _log_files(root: str) -> list[list[str]]:
    """Event log files grouped per application, in rolling order."""
    apps = []
    for entry in sorted(os.listdir(root)):
        p = os.path.join(root, entry)
        if os.path.isdir(p):
            files = glob.glob(os.path.join(p, "events_*"))
            files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
            apps.append(files)
        elif os.path.isfile(p):
            apps.append([p])
    return apps


def layer_metrics(root: str) -> tuple[dict[str, dict[str, float]], int]:
    """``({layer: {metric: value}}, failed_tasks)`` over every log under
    ``root``.  ``task_max_over_median`` is the slowest task's run time
    over the median task's, taken in the layer's busiest stage (largest
    summed executor run time)."""
    acc: dict[str, dict[str, float]] = {}
    stage_runs: dict[tuple[str, int, int], list[float]] = {}
    failed = 0
    for app, files in enumerate(_log_files(root)):
        stage_layer: dict[int, str | None] = {}
        for path in files:
            for ev in _events(path):
                if ev["Event"] == "SparkListenerJobStart":
                    layer = (ev.get("Properties") or {}).get(LAYER_PROP)
                    for sid in ev.get("Stage IDs", []):
                        # a reused stage appears again in later jobs;
                        # its tasks ran under the first job listing it
                        stage_layer.setdefault(sid, layer)
                    continue
                info = ev.get("Task Info", {})
                if info.get("Failed") or ev.get(
                        "Task End Reason", {}).get("Reason") != "Success":
                    failed += 1
                layer = stage_layer.get(ev["Stage ID"])
                if layer is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                a = acc.setdefault(layer, dict.fromkeys(METRIC_NAMES, 0.0))
                run_s = m.get("Executor Run Time", 0) / 1e3
                a["executor_run_s"] += run_s
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                a["peak_exec_mem_bytes"] = max(
                    a["peak_exec_mem_bytes"],
                    m.get("Peak Execution Memory", 0))
                a["tasks"] += 1
                stage_runs.setdefault(
                    (layer, app, ev["Stage ID"]), []).append(run_s)
    busiest: dict[str, tuple[float, list[float]]] = {}
    for (layer, _, _), runs in stage_runs.items():
        if layer not in busiest or sum(runs) > busiest[layer][0]:
            busiest[layer] = (sum(runs), runs)
    for layer, (_, runs) in busiest.items():
        med = statistics.median(runs)
        acc[layer]["task_max_over_median"] = (max(runs) / med if med
                                              else 1.0)
    return acc, failed
