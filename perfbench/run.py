"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  One driver process runs the program on
``local[<cpus>]`` (all CPUs this process may use).  A run:

1. generates the seeded input once, then sets up three times (session
   start, caching the input, Python worker warm-up); ``setup_s`` is the
   generation time plus the median set-up;
2. runs one untimed warm-up pass;
3. measures a closed loop of passes for ``--seconds`` (each pass starts
   only after the previous one completed; at least one pass runs);
4. checks the program's output against an independent reference and
   exits 1 on any mismatch.

With ``--trace 0`` it prints the end-to-end metrics.  With ``--trace 1``
it splits the measuring time: half untraced, then, in a fresh session
with Spark's event log on, half with job tags and spans (after an untagged
warm-up pass), followed by the layer probes and the kernel replay; it prints the per-layer metrics
and the tracing overhead between the two halves.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's full record (sample summaries, cpus, driver memory, seed,
input size and digest, git SHA), also written under
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(work: str) -> tuple[int, str]:
    """Point every process the run starts at ``work`` and size the
    session to this host: all usable CPUs, and a driver heap of a
    quarter of host memory capped at 1 GB (``SPARK_GRAFT_DRIVER_MEM``
    wins when set).  Returns (cpus, driver memory)."""
    cpus = len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or \
        f"{min(1024, host_memory_mb() // 4)}m"
    tmp = os.path.join(work, "tmp")
    evdir = os.path.join(work, "eventlog")
    for d in (tmp, evdir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
    })
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return cpus, mem


def start_session(cpus: int, event_log: bool):
    from pyspark import SparkContext

    from html_qt_spark.plans.session import get_spark

    if SparkContext._jvm is not None:
        # the JVM outlives a stopped session; new sessions read their
        # defaults from its system properties
        SparkContext._jvm.java.lang.System.setProperty(
            "spark.eventLog.enabled", "true" if event_log else "false")
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cpus: int) -> None:
    """One task per core slot, each importing the kernel, so no timed
    pass pays Python worker start-up."""
    def _warm(batches):
        import pyarrow as pa

        from html_qt_spark.kernel.extractor import extract_html
        from html_qt_spark.kernel.trivialbatch import vec_trivial

        extract_html("<!DOCTYPE html><p>warm &amp; up</p>")
        vec_trivial(pa.array(["<p>warm</p>"]))
        yield from batches

    (spark.range(0, cpus, 1, cpus).mapInArrow(_warm, "id long")
     .write.format("noop").mode("overwrite").save())


def set_up(wl, cpus: int, tracer, k, event_log: bool = False):
    """Start a session, cache the generated input, warm the workers;
    returns (session, set-up seconds)."""
    t0 = time.perf_counter()
    with tracer.span("setup", k):
        with tracer.span("plans.session", k):
            spark = start_session(cpus, event_log)
        with tracer.span("input.build", k):
            wl.build(spark)
        with tracer.span("workers.warm", k):
            warm_workers(spark, cpus)
    return spark, time.perf_counter() - t0


def stop_all(spark) -> None:
    """Stop the session, end the JVM and wait until every process the
    run started (the JVM and the Python workers it forked) has ended."""
    from pyspark import SparkContext

    from measure import tree_sample

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the JVM exits when its standard input closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while tree_sample(os.getpid())[2] > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(spark, wl, seconds: float, tracer, first_pass: int,
            layer: str | None):
    """Closed loop of passes for ``seconds``; returns (pass walls,
    process-tree CPU seconds, per-pass peak process-tree RSS bytes, host
    steal share over the passes)."""
    from measure import TreeSampler, host_cpu_times, steal_share, tree_sample
    from workloads import tag_jobs

    pid = os.getpid()
    sampler = TreeSampler(pid)
    cpu0 = tree_sample(pid)[0]
    host0 = host_cpu_times()
    sampler.start()
    times: list[float] = []
    peaks: list[int] = []
    try:
        end = time.perf_counter() + seconds
        i = first_pass
        while True:
            if layer:
                tag_jobs(spark, layer)
            with tracer.span("pass", i):
                t0 = time.perf_counter()
                wl.run_pass(spark, i)
                t1 = time.perf_counter()
            times.append(t1 - t0)
            peaks.append(sampler.lap())
            i += 1
            if t1 >= end:
                break
    finally:
        if layer:
            tag_jobs(spark, None)
        sampler.stop()
    return (times, tree_sample(pid)[0] - cpu0, peaks,
            steal_share(host0, host_cpu_times()))


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def program_digest() -> str:
    """sha256 over the program's Python sources, so a record names the
    code it measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "html_qt_spark")
    for dp, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dp, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def end_to_end(wl, times, cpu_s, peaks, gen_s, setups) -> dict:
    from measure import median

    docs, gb = wl.stats["docs"], wl.stats["bytes"] / 1e9
    return {
        "docs_per_s": median([docs / t for t in times]),
        "mb_per_s": median([gb * 1e3 / t for t in times]),
        "pass_s": median(times),
        "core_s_per_gb": cpu_s / (len(times) * gb),
        "peak_rss_mb": median(peaks) / 1e6,
        "setup_s": gen_s + median(setups),
    }


def per_layer(wl, tracer, layer_stats, failed_tasks, probes, kernel,
              untraced, traced, attempted, failed) -> dict:
    from measure import median
    from metrics import PER_LAYER, STAGE_METRICS, STAGE_PREFIXES

    out = dict.fromkeys(PER_LAYER, 0.0)
    builds = [s["end"] - s["start"] for s in tracer.spans
              if s["name"] == "input.build"]
    starts = [s["end"] - s["start"] for s in tracer.spans
              if s["name"] == "plans.session"]
    gen = [s["end"] - s["start"] for s in tracer.spans
           if s["name"] == "input.gen"]
    out.update({
        # the first session start launches the JVM; later ones reuse it
        "session.start_s": starts[0],
        "input.gen_s": gen[0],
        "input.build_s": median(builds),
        "input.docs": wl.stats["docs"],
        "input.spans": wl.stats["spans"],
        "input.mb": wl.stats["bytes"] / 1e6,
    })
    for prefix in STAGE_PREFIXES:
        for m in STAGE_METRICS:
            out[f"{prefix}.{m}"] = layer_stats.get(prefix, {}).get(m, 0.0)
    out.update({k: v for k, v in probes.items() if k in PER_LAYER})
    out.update({k: v for k, v in kernel.items() if k in PER_LAYER})
    u, t = median(untraced), median(traced)
    out.update({
        "failed_ratio": (failed + failed_tasks) / attempted,
        "trace.pass_s_untraced": u,
        "trace.pass_s_traced": t,
        "trace.overhead_ratio": t / u - 1.0,
    })
    return out


def run(args) -> int:
    from measure import summary
    from metrics import END_TO_END, PER_LAYER
    from spans import NullTracer, Tracer

    # fail fast, before any file is written or process started, when the
    # program is absent
    import html_qt_spark  # noqa: F401
    from workloads import WORKLOADS

    work = os.path.join(WORK_BASE,
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus, mem = prepare_env(work)

    tracer = Tracer() if args.trace else NullTracer()
    # set-up spans are recorded in both modes: setup_s is read from them
    setup_tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, work, cpus)
    spark = None
    problems: list[str] = []
    failed = 0
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    try:
        # the input is a pure function of the seed: generate it once
        with setup_tracer.span("input.gen", "gen") as g:
            wl.generate()
        gen_s = g["end"] - g["start"]
        setups = []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, secs = set_up(wl, cpus, setup_tracer, k)
            setups.append(secs)
        lap("setups")
        wl.warm(spark)
        lap("warm")
        seconds = args.seconds / 2 if args.trace else args.seconds
        times, cpu_s, peaks, steal = measure(spark, wl, seconds,
                                             NullTracer(), 0, None)
        lap("measure")
        p, f = wl.check(spark, len(times))
        lap("check")
        problems += p
        failed += f
        # the check covers the warm-up pass and the measured passes
        attempted = wl.stats["docs"] * (len(times) + 1)
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "cpus": cpus, "driver_memory": mem,
            "git_sha": git_sha(), "program_digest": program_digest(),
            "input": dict(wl.stats, mb=wl.stats["bytes"] / 1e6,
                          digest=wl.digest),
            "input_gen_s": gen_s,
            "setup_s": summary(setups),
            "pass_s": summary(times),
            "docs_per_s": summary([wl.stats["docs"] / t for t in times]),
            "host_steal_share": steal,
        }
        if not args.trace:
            metrics = end_to_end(wl, times, cpu_s, peaks, gen_s, setups)
            units = END_TO_END
        else:
            wl.clear_outputs()
            spark.stop()
            spark, _ = set_up(wl, cpus, tracer, "traced", event_log=True)
            # untagged, so the event log's layer metrics leave it out
            wl.warm(spark)
            lap("traced_setup")
            traced = measure(spark, wl, seconds, tracer, len(times),
                             wl.layer)[0]
            lap("traced_measure")
            probes = wl.probes(spark, tracer)
            lap("probes")
            if "problem" in probes:
                problems.append(probes["problem"])
            texts = wl.replay_texts()
            kernel = {}
            if texts:
                from replay import ReplayMismatch, replay
                try:
                    kernel = replay(texts, tracer)
                except ReplayMismatch as exc:
                    problems.append(f"{args.workload}: {exc}")
            lap("replay")
            spark.stop()
            spark = None
            from eventlog import layer_metrics
            layer_stats, failed_tasks = layer_metrics(
                os.path.join(work, "eventlog"))
            lap("eventlog")
            metrics = per_layer(wl, setup_tracer, layer_stats, failed_tasks,
                                probes, kernel, times, traced, attempted,
                                failed)
            failed += failed_tasks
            units = PER_LAYER
            record["traced_pass_s"] = summary(traced)
            record["kernel_quarantined_by_type"] = kernel.get(
                "kernel.quarantined_by_type", {})
            record["self_time_s"] = tracer.self_times()
        record["problems"] = problems
        record["phase_s"] = phases
        result = {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k][0]}
                        for k in units},
        }
        record["result"] = result
        os.makedirs(os.path.join(WORK_BASE, "results"), exist_ok=True)
        stem = os.path.join(WORK_BASE, "results",
                            f"{args.workload}-seed{args.seed}-"
                            f"trace{args.trace}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if args.trace:
            tracer.dump(stem + ".spans.json")
        for p in problems:
            print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
        print(json.dumps(record, default=str))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except Exception:  # noqa: BLE001 -- report and exit non-zero
        traceback.print_exc()
        return 2


if __name__ == "__main__":
    sys.exit(main())
