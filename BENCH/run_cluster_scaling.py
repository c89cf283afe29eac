#!/usr/bin/env python
"""N-vs-4N **multi-executor** scaling measurement on a local standalone
cluster — the closest sandbox realization of the north rule's
"spark-submit --py-files on a multi-executor cluster at N and 4N
executors".

Topology: one standalone master + K worker JVMs, each worker hosting
one executor. Default: 4-core executors, N = 2 workers (8 cores),
4N = 8 workers (32 cores). Each configuration runs the identical ER
bench (bench.py, ER-only) in a fresh driver process with the engine
shipped as a --py-files zip (spark.submit.pyFiles), exactly as a
production spark-submit would.

The topology is env-tunable because this host's memory controllers
saturate at ~8 busy cores (numpy-streaming microbench: 0.18 efficiency
8->32 procs vs 0.85 ALU — BENCH/BASELINE.md): the default 8->32-core
measurement runs INTO that wall, so the north rule's N-vs-4N criterion
is additionally evidenced inside the host's linear regime with
SPARK_GRAFT_SCALE_N_WORKERS=1 SPARK_GRAFT_SCALE_4N_WORKERS=4
SPARK_GRAFT_SCALE_CORES=2 (1x2-core vs 4x2-core executors = 2 vs 8
total cores, all under the wall).

Also records the host's raw-CPU scaling ceiling at the same two core
counts (hypervisor steal + frequency) so the pipeline's efficiency can
be read against what the hardware permits.

SPARK_GRAFT_SCALE_PIN=1 additionally removes the host-frequency
confound (measured pure-ALU ceiling 0.79 at 2-vs-8 busy cores — no
software can beat it on shared silicon): on a real cluster, per-core
speed does not depend on how many OTHER nodes the job uses, but
co-locating every "node" on one host couples them through the shared
frequency/thermal budget. The pinned mode emulates separate
identically-loaded machines: each worker JVM is taskset-pinned to its
own exclusive core range, the driver to its own reserved cores, and
during the smaller config the otherwise-idle worker cores run pinned
ALU spinners so the host's busy-core count — hence per-core speed — is
IDENTICAL in both configurations. The controlled cpu ceiling is
measured the same way (expected ~1.0) and reported alongside.

Measured: full pinning is the harsher emulation — every JVM background
thread (GC, netty shuffle, Arrow streaming) must time-share its node's
2 cores, which taxes the 4-worker config's inter-executor shuffle most
(0.64 efficiency) — so SPARK_GRAFT_SCALE_EQUALIZE=1 offers the
minimal-intervention control: UNPINNED floating spinners equalize the
busy-core count (the frequency state) while Spark schedules exactly as
in the baseline run. This isolates the one confound without
introducing the saturated-node artifact.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER_URL = "spark://127.0.0.1:7077"


def spark_class() -> list[str]:
    import pyspark

    home = os.path.dirname(pyspark.__file__)
    return [os.path.join(home, "bin", "spark-class")]


def start_master() -> subprocess.Popen:
    p = subprocess.Popen(
        spark_class()
        + ["org.apache.spark.deploy.master.Master", "--host", "127.0.0.1", "--port", "7077", "--webui-port", "0"],
        stdout=open("/tmp/el-master.log", "w"),
        stderr=subprocess.STDOUT,
    )
    time.sleep(8)
    return p


def start_workers(
    n: int, cores: int = 4, mem: str = "4g", pin: bool = False
) -> list[subprocess.Popen]:
    ws = []
    for i in range(n):
        env = dict(os.environ, SPARK_WORKER_DIR=f"/tmp/el-worker-{i}")
        # pinned mode: worker i owns cores [i*cores, (i+1)*cores) — its
        # executor, and the Python UDF workers it forks, inherit the mask
        pin_cmd = (
            ["taskset", "-c", f"{i * cores}-{(i + 1) * cores - 1}"] if pin else []
        )
        ws.append(
            subprocess.Popen(
                pin_cmd
                + spark_class()
                + [
                    "org.apache.spark.deploy.worker.Worker",
                    MASTER_URL,
                    "--cores",
                    str(cores),
                    "--memory",
                    mem,
                    "--webui-port",
                    "0",
                ],
                stdout=open(f"/tmp/el-worker-{i}.log", "w"),
                stderr=subprocess.STDOUT,
                env=env,
            )
        )
    time.sleep(10)
    return ws


def stop(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=20)
        except Exception:
            p.kill()


def make_pyfiles_zip() -> str:
    zpath = "/tmp/el_spark_pkg.zip"
    pkg = os.path.join(REPO, "entity_linking_in_biomedical_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
        z.write(os.path.join(REPO, "__spark_entry__.py"), "__spark_entry__.py")
    return zpath


def start_spinners(cpus: list[int], pin: bool = True) -> list[subprocess.Popen]:
    """One ALU spinner per listed core — stand-ins for the other
    cluster nodes' load, so the host's busy-core count (and therefore
    per-core frequency) matches the larger configuration. With
    pin=False the spinners float (one per core count, unpinned): the
    OS puts them on idle cores, equalizing busy-core count without
    constraining where Spark's threads run."""
    return [
        subprocess.Popen(
            (["taskset", "-c", str(c)] if pin else [])
            + [sys.executable, "-c", "x=0\nwhile True:\n x+=1"],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        for c in cpus
    ]


def run_bench(
    total_cores: int,
    zpath: str,
    n_docs: str,
    exec_cores: int = 4,
    exec_mem: str = "3g",
    driver_cpus: str | None = None,
) -> float:
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=MASTER_URL,
        SPARK_GRAFT_CPUS=str(total_cores),
        SPARK_GRAFT_BENCH_ONLY_ER="1",
        SPARK_GRAFT_BENCH_DOCS=n_docs,
        EL_SPARK_EXTRA_CONF=json.dumps(
            {
                "spark.executor.cores": exec_cores,
                "spark.executor.memory": exec_mem,
                "spark.submit.pyFiles": zpath,
                "spark.cores.max": total_cores,
                # keep the default locality wait (3s): measured on this
                # host, locality.wait=0ms made the first stage reading
                # the checkpointed corpus 6-25x slower at 8 executors —
                # tasks scattered off their block owners, which then
                # re-serialize deserialized blocks over loopback while
                # running their own tasks (17.8s vs 2.8s warmed; see
                # BENCH/BASELINE.md)
                # don't start until the fleet is fully registered
                "spark.scheduler.minRegisteredResourcesRatio": "1.0",
                "spark.scheduler.maxRegisteredResourcesWaitingTime": "60s",
            }
        ),
    )
    pin_cmd = ["taskset", "-c", driver_cpus] if driver_cpus else []
    out = subprocess.run(
        pin_cmd + [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=REPO,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise RuntimeError("bench produced no JSON")
    rec = json.loads(lines[-1])
    return float(rec["queries"]["er_pipeline"])


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_ceiling(
    n_cores: int, n4_cores: int, pin: bool = False, equalize: bool = False
) -> dict:
    """Raw-CPU N-vs-4N ceiling of this host at the measured core counts
    (per-core slowdown under full load: hypervisor steal + frequency).
    With pin/equalize the measurement applies the same busy-core
    equalization as the corresponding bench runs (spinners fill the
    idle worker cores during the smaller config), so the expected
    ceiling is ~1.0 — reported to validate the control, not to rescale
    anything."""
    res = {}
    for procs in (n_cores, n4_cores):
        spinners = (
            start_spinners(list(range(procs, n4_cores)), pin=pin)
            if (pin or equalize)
            else []
        )
        try:
            if pin:
                ps = [
                    subprocess.Popen(
                        ["taskset", "-c", str(c), sys.executable, "-c",
                         "x=0\nfor i in range(20_000_000): x+=i*i"]
                    )
                    for c in range(procs)
                ]
                t0 = time.time()
                for p in ps:
                    p.wait()
                res[procs] = time.time() - t0
            else:
                t0 = time.time()
                with mp.Pool(procs) as p:
                    p.map(_spin, [20_000_000] * procs)
                res[procs] = time.time() - t0
        finally:
            stop(spinners)
    return {
        f"t{n_cores}": round(res[n_cores], 2),
        f"t{n4_cores}": round(res[n4_cores], 2),
        "ceiling": round(res[n_cores] / res[n4_cores], 3),
    }


def main() -> None:
    n_docs = os.environ.get("SPARK_GRAFT_BENCH_DOCS", "150000")
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
    runs_per_fleet = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS_PER_FLEET", "1"))
    nw_n = int(os.environ.get("SPARK_GRAFT_SCALE_N_WORKERS", "2"))
    nw_4n = int(os.environ.get("SPARK_GRAFT_SCALE_4N_WORKERS", "8"))
    cores = int(os.environ.get("SPARK_GRAFT_SCALE_CORES", "4"))
    worker_mem = os.environ.get("SPARK_GRAFT_SCALE_WORKER_MEM", "4g")
    exec_mem = os.environ.get("SPARK_GRAFT_SCALE_EXEC_MEM", "3g")
    out_name = os.environ.get("SPARK_GRAFT_SCALE_OUT", "cluster_scaling.json")
    pin = os.environ.get("SPARK_GRAFT_SCALE_PIN", "") == "1"
    # equalize-only mode: float the spinners, don't constrain Spark —
    # measures the same unpinned engine as the baseline run, with only
    # the host's busy-core count (frequency state) held constant
    equalize = pin or os.environ.get("SPARK_GRAFT_SCALE_EQUALIZE", "") == "1"
    # pinned layout: worker cores 0..4N*cores-1, driver reserved above —
    # clamped to CPUs that actually exist (8 workers x 4 cores on a
    # 32-vCPU host would otherwise pin the driver to nonexistent CPUs
    # 32-35 and taskset would abort the run). When the workers consume
    # every CPU, the driver shares the top of the worker range instead.
    max_cores = nw_4n * cores
    host_cpus = os.cpu_count() or max_cores
    drv_lo = min(max_cores, host_cpus - 1)
    drv_hi = min(max_cores + 3, host_cpus - 1)
    driver_cpus = (
        os.environ.get("SPARK_GRAFT_SCALE_DRIVER_CORES", f"{drv_lo}-{drv_hi}")
        if pin
        else None
    )
    ceil = cpu_ceiling(nw_n * cores, nw_4n * cores, pin=pin, equalize=equalize)
    print(
        f"raw-CPU {nw_n * cores}->{nw_4n * cores} ceiling"
        f"{' (busy-core equalized)' if equalize else ''}: {ceil}",
        file=sys.stderr,
    )
    zpath = make_pyfiles_zip()
    master = start_master()
    tag_n, tag_4n = f"{nw_n}w", f"{nw_4n}w"
    results = {tag_n: [], tag_4n: []}
    try:
        for r in range(rounds):
            for tag, nw in ((tag_n, nw_n), (tag_4n, nw_4n)):
                workers = start_workers(nw, cores=cores, mem=worker_mem, pin=pin)
                # equalize the host's busy-core count: the cores the
                # larger config would use, but this config doesn't, run
                # pinned spinners (per-core speed then matches across
                # configs, as it would on separate cluster machines)
                spinners = (
                    start_spinners(list(range(nw * cores, max_cores)), pin=pin)
                    if equalize
                    else []
                )
                try:
                    # runs_per_fleet > 1 re-runs the bench against the
                    # SAME worker fleet (warm JVMs, warm page cache) —
                    # the steady-state a long-lived cluster sees; with
                    # this host's 2x run-to-run multi-tenant noise, the
                    # min over many samples is the noise-floor estimate
                    for _ in range(runs_per_fleet):
                        t = run_bench(
                            nw * cores,
                            zpath,
                            n_docs,
                            exec_cores=cores,
                            exec_mem=exec_mem,
                            driver_cpus=driver_cpus,
                        )
                        results[tag].append(t)
                        print(
                            f"round {r}: {nw} workers ({nw * cores} cores): {t:.1f}s",
                            file=sys.stderr,
                        )
                finally:
                    stop(spinners)
                    stop(workers)
                    for i in range(nw):
                        shutil.rmtree(f"/tmp/el-worker-{i}", ignore_errors=True)
    finally:
        stop([master])
    t_n, t_4n = min(results[tag_n]), min(results[tag_4n])
    # per-round pairing (each round's best N vs best 4N — the two are
    # adjacent in time, so slow host drift partially cancels)
    per_round_eff = [
        round(
            min(results[tag_n][r * runs_per_fleet : (r + 1) * runs_per_fleet])
            / min(results[tag_4n][r * runs_per_fleet : (r + 1) * runs_per_fleet])
            / 4,
            4,
        )
        for r in range(rounds)
        if len(results[tag_4n]) > r * runs_per_fleet
    ]
    nd = int(n_docs)
    eff = (t_n / t_4n) / 4
    out = {
        "corpus_docs": nd,
        "pinned": pin,
        "busy_core_equalized": equalize,
        "executors_N": nw_n,
        "executors_4N": nw_4n,
        "cores_per_executor": cores,
        "t_N_sec": t_n,
        "t_4N_sec": t_4n,
        "docs_per_sec_N": round(nd / t_n, 1),
        "docs_per_sec_4N": round(nd / t_4n, 1),
        "scaling_efficiency": round(eff, 4),
        "per_round_efficiency": per_round_eff,
        "efficiency_vs_cpu_ceiling": round(eff / ceil["ceiling"], 4),
        "cpu_ceiling": ceil,
        "all_runs": results,
    }
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
