#!/usr/bin/env python3
"""ER engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload er_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``.
Each iteration is one job, the first in a fresh SparkSession on
local[4], as a CLI run does it: the session start is timed as
``setup_s``, the job as ``wall_s``, and its outputs are checked untimed.
Iterations run one after another until ``--seconds`` have passed; one
job takes longer than that on both workloads. The last stdout line is
the result JSON: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of jobs run under spans. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
MASTER = "local[4]"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "output_f1": "ratio",
    "nonheap_peak_mb": "MB",
}
# root spans: the timed phases of an iteration
PHASES = ("cold", "resumed")
SPANS = (
    "mentions", "candidates", "idf_fit", "me_scores", "mm_scores", "assignments",
    "store.commit", "store.load", "pubtator.scan", "preprocess", "attach",
)
SPAN_FIELDS = {"pct": "%", "jobs": "count", "tasks": "count", "slots": "tasks",
               "cores": "cores", "shuffle_write_mb": "MB", "spill_mb": "MB"}
COUNTS = {
    "mentions.rows": "count", "mentions.surfaces": "count",
    "candidates.key_rows": "count", "candidates.rows": "count",
    "candidates.max_block": "count", "candidates.link_yield": "ratio",
    "idf_fit.vocab": "count", "me_scores.pairs": "count", "me_scores.match_ratio": "ratio",
    "mm_scores.pairs": "count", "mm_scores.match_ratio": "ratio",
    "assignments.cc_rounds": "count", "assignments.clusters": "count",
    "assignments.nil_clusters": "count",
    "store.bytes_written_mb": "MB", "store.stages_resumed": "count",
    "preprocess.scan_tasks": "count", "preprocess.context_rows": "count",
    "preprocess.mention_rows": "count",
}
RUN_LEVEL = {"run.jobs": "count", "run.driver_gap_s": "s", "run.cpu_s": "s", "run.traced_wall_s": "s"}
PER_LAYER = {
    **{f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()},
    **{f"phase.{p}_pct": "%" for p in PHASES},
    **COUNTS,
    **RUN_LEVEL,
}


def _probe_loop(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def probe_1t_s() -> float:
    """bench.py's fixed-work single-thread CPU probe."""
    t0 = time.perf_counter()
    _probe_loop(10_000_000)
    return time.perf_counter() - t0


def probe_membw_gbps() -> float:
    """bench.py's memory-bandwidth probe: 64 MiB copied twice."""
    import numpy as np

    buf = np.zeros(2**23)
    t0 = time.perf_counter()
    for _ in range(2):
        buf = buf.copy()
    return 2 * 2 * (2**23 * 8) / (time.perf_counter() - t0) / 1e9


def start_spark():
    from entity_linking_in_biomedical_spark.session import get_spark

    work = WORK / "work"
    # the engine's own session settings (driver memory included); only
    # where Spark and the JVM write files is changed
    return get_spark(
        "perfbench",
        master=MASTER,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def memory_mb(spark) -> dict:
    """The Spark driver's memory high-water marks, in MB.

    Only the JVM's non-heap pools and the Python driver's RSS are steady
    enough to be a metric. The heap's peak (and with it the JVM's VmHWM)
    follows how far G1 let the young generation grow before collecting,
    and swings by a third or more between identical runs, so it is
    reported as context only."""
    jvm = spark._jvm
    pools = {"HEAP": 0, "NON_HEAP": 0}
    by_pool = {}
    for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        peak = p.getPeakUsage().getUsed()
        pools[str(p.getType().name())] += peak
        by_pool[f"jvm_peak_mb.{p.getName()}"] = peak / 2**20
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return {
        **by_pool,
        "jvm_heap_peak_mb": pools["HEAP"] / 2**20,
        "jvm_non_heap_peak_mb": pools["NON_HEAP"] / 2**20,
        "jvm_vm_hwm_mb": hwm_kb / 1024,
        "python_max_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit, so that
    the next session starts a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_values(tracer, counts: dict, jobs: list[dict], segments: list) -> dict:
    """Per-layer values of one traced job."""
    from spans import busy_seconds

    spans = tracer.spans
    traced_wall = sum(s.duration for s in spans if s.parent is None)
    out = {}
    for name in SPANS:
        # attach: what the ER phases spend outside every layer span
        match = [
            s for s in spans
            if ((s.parent is None and s.name in PHASES) if name == "attach" else s.name == name)
        ]
        self_s = sum(tracer.self_time(s) for s in match)
        task_s = sum(s.task_s for s in match)
        cpu_s = sum(s.cpu_s for s in match)
        out[f"{name}.pct"] = 100 * self_s / traced_wall
        out[f"{name}.jobs"] = sum(s.jobs for s in match)
        out[f"{name}.tasks"] = sum(s.tasks for s in match)
        out[f"{name}.slots"] = task_s / self_s if self_s else 0.0
        out[f"{name}.cores"] = cpu_s / self_s if self_s else 0.0
        out[f"{name}.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in match) / 2**20
        out[f"{name}.spill_mb"] = sum(s.spill_bytes for s in match) / 2**20
    for p in PHASES:
        phase_s = sum(s.duration for s in spans if s.parent is None and s.name == p)
        out[f"phase.{p}_pct"] = 100 * phase_s / traced_wall
    timed = [j for j in jobs if any(a <= j["submitted"] <= b for a, b in segments)]
    out["run.jobs"] = len(timed)
    out["run.cpu_s"] = sum(j["cpu_s"] for j in timed)
    out["run.driver_gap_s"] = sum((b - a) - busy_seconds(timed, a, b) for a, b in segments)
    out["run.traced_wall_s"] = traced_wall
    out["preprocess.scan_tasks"] = out["pubtator.scan.tasks"]
    out["store.stages_resumed"] = sum(s.name == "store.load" for s in spans)
    return {**{k: 0 for k in COUNTS}, **counts, **out}


def run_job(wl, traced: bool, verify: bool) -> dict:
    """One iteration: start a session, stage the inputs, time the job,
    check its outputs, stop the session. With ``traced`` the job runs
    under spans and the per-layer values are taken."""
    import spans
    from workloads import NullTracer

    t = time.perf_counter()
    spark = start_spark()
    out = {"session_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        wl.stage(spark)
        out["stage_s"] = time.perf_counter() - t
        tracer = spans.Tracer(spark) if traced else None
        window = spans.JobWindow(spark) if traced else None
        with spans.instrument(tracer) if tracer else contextlib.nullcontext():
            if window:
                window.open()
            it = wl.iterate(spark, tracer or NullTracer())
        jobs = window.close() if window else []
        t = time.perf_counter()
        out["f1"], problems = wl.check(it)
        out["check_s"] = time.perf_counter() - t
        if problems:
            raise AssertionError("; ".join(problems))
        out.update(wall=it.wall, phases=[b - a for a, b in it.segments])
        if tracer:
            tracer.attribute(jobs)
            out["layers"] = _layer_values(tracer, wl.counts(it), jobs, it.segments)
            out["spans"] = tracer.to_records()
        if verify:
            t = time.perf_counter()
            wl.verify(spark)
            out["verify_s"] = time.perf_counter() - t
        out["memory"] = memory_mb(spark)
        out["spark"] = spark.version
        wl.done(it)
    finally:
        stop_spark(spark)
    return out


def measure(wl, seconds: float, traced: bool) -> dict:
    """Closed loop of ``run_job`` for ``seconds``: each iteration starts
    after the previous one has ended, in a session of its own."""
    jobs, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while True:
        attempted += 1
        try:
            job = run_job(wl, traced, verify=attempted == 1)
        except Exception:  # noqa: BLE001 - an iteration's failure is counted, the loop goes on
            failed += 1
            print(f"iteration {attempted} failed:\n{traceback.format_exc()}", file=sys.stderr)
        else:
            print(f"iteration {attempted}: {job['wall']:.3f} s{' (traced)' if traced else ''}", file=sys.stderr)
            jobs.append(job)
        if time.perf_counter() >= t_end or failed >= 2 or attempted >= 50:
            break
    return {"attempted": attempted, "failed": failed, "jobs": jobs}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The synthetic corpus generator draws embeddings while iterating a
    # set of strings, so its output depends on the string hash seed; a
    # fixed seed makes the same --seed give the same inputs.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    work = WORK / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every file Spark and the JVMs write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))
    import workloads  # imports the engine; fails outside a checkout

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "master": MASTER, "nproc": os.cpu_count(), "python": platform.python_version(),
        "probe_1t_s": probe_1t_s(), "probe_membw_gbps_before": probe_membw_gbps(),
    }
    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, str(work))
    context["input_gen_s"] = time.perf_counter() - t

    m = measure(wl, args.seconds, bool(args.trace))
    jobs = m["jobs"]
    context["timed_docs"] = wl.timed_docs
    for k in ("spark", "session_s", "stage_s", "wall", "phases", "check_s", "verify_s", "memory"):
        context[k] = [j[k] for j in jobs if k in j]
    context["probe_membw_gbps_after"] = probe_membw_gbps()

    def median(key):
        return statistics.median(key(j) for j in jobs)

    metrics: dict[str, tuple[float, str]] = {}
    if jobs and args.trace:
        metrics = {k: (median(lambda j: j["layers"][k]), u) for k, u in PER_LAYER.items()}
    elif jobs:
        wall = median(lambda j: j["wall"])
        values = {
            "setup_s": median(lambda j: j["session_s"]),
            "wall_s": wall,
            "docs_per_s": wl.timed_docs / wall,
            "output_f1": median(lambda j: j["f1"]),
            "nonheap_peak_mb": median(
                lambda j: j["memory"]["jvm_non_heap_peak_mb"] + j["memory"]["python_max_rss_mb"]
            ),
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}

    traces = WORK / "traces"
    traces.mkdir(exist_ok=True)
    with open(traces / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump({"context": context, "spans": [j["spans"] for j in jobs if "spans" in j]}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": m["failed"] == 0 and bool(metrics),
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
