#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_ref --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's tables from the
seed (once per seed, under ``.perfbench/data``), runs the engine in a
fresh worker process with a fixed heap and ``local[N]``, and prints as
the last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A run record with the seed, N,
heap, row counts, versions and every pass is kept next to the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import gen
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))

HEAP = "1g"
# local[2] even on bigger hosts: at these input sizes stages rarely have
# more than two tasks, and the spare cores keep the JIT and driver threads
# from competing with task threads, which steadies the timings.
MAX_CPUS = 2
WORKER_TIMEOUT_S = 165


def canary_s() -> float:
    """Seconds for a fixed float64 GEMM chain on one thread: a host-speed
    probe that explains uniform shifts between runs. ``einsum`` without
    path optimization runs its own single-threaded loop, not BLAS."""
    a = np.full((256, 256), 1.000001)
    x = np.einsum("ij,jk->ik", a, a)
    t0 = time.perf_counter()
    for _ in range(40):
        x = np.einsum("ij,jk->ik", x, a) * 1e-3
    return time.perf_counter() - t0


def inputs(root: str, seed: int) -> tuple[str, dict[str, int]]:
    """The generated tables for ``seed``, made once per seed."""
    d = os.path.join(root, ".perfbench", "data", f"s{seed}")
    marker = os.path.join(d, "_rows.json")
    if not os.path.exists(marker):
        tables = gen.generate(seed)
        tmp = f"{d}.tmp-{os.getpid()}"
        gen.write(tables, tmp)
        with open(os.path.join(tmp, "_rows.json"), "w") as fh:
            json.dump({name: t.num_rows for name, t in tables.items()}, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(marker) as fh:
        return d, json.load(fh)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_worker(cmd: list[str], env: dict, log_path: str) -> int:
    """Run the worker in its own process group; afterwards stop anything
    left in the group and wait until it is gone."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            deadline = time.time() + 10
            while _group_alive(proc.pid) and time.time() < deadline:
                time.sleep(0.1)
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its worker: SystemExit unwinds through
    # run_worker's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sow_pyspark_scripts_spark", "registry.py")):
        print("perfbench: run from the repository root (engine sources not found)", file=sys.stderr)
        return 2

    data_dir, rows = inputs(root, args.seed)
    run_dir = os.path.join(root, ".perfbench", "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # with the worker's fixed heap (-Xms = -Xmx), two malloc arenas
        # keep peak RSS repeatable from run to run
        "MALLOC_ARENA_MAX": "2",
        # the same string hashes, so set orders on the engine's Python
        # side repeat from run to run
        "PYTHONHASHSEED": "0",
    })
    canary_pre = canary_s()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--data", data_dir, "--run-dir", run_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--spawned-at", repr(time.time()),
    ]
    code = run_worker(cmd, env, os.path.join(run_dir, "worker.log"))
    canary_post = canary_s()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        print(f"perfbench: worker exited with {code}; see {run_dir}/worker.log", file=sys.stderr)
        return 1
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)
    rec.update(seed=args.seed, cpus=cpus, rows=rows, canary_s=[canary_pre, canary_post])
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    failed = len(rec["errors"])
    attempted = rec["attempted"]
    print(
        f"run {args.workload} seed={args.seed} {rec['master']} heap={rec['heap']} "
        f"warm_passes={len(rec['warm_passes'])} host_steal_s={rec['steal_s']:.2f} "
        f"rows={json.dumps(rows)} versions={json.dumps(rec['versions'])}"
    )
    for e in rec["errors"]:
        print("FAILED", e)
    out = result_metrics(rec)
    for k, v in out.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted} query runs)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def declared_metrics() -> dict[str, dict[str, str]]:
    """Metric name -> unit, for the end-to-end and per-layer lists."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {key: {m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer")}


def pass_s(passes: list[dict]) -> float:
    """Wall time of one steady-state pass: per query of the mix, the
    median over ``passes`` of its builder call plus the median of its
    noop-sink write, summed. Medians per query and per phase keep a
    host stall that hits one call in one pass from moving the figure."""
    return sum(
        statistics.median(p["q"][q][phase] for p in passes)
        for q in passes[0]["q"]
        for phase in ("build_s", "materialize_s")
    )


def result_metrics(rec: dict) -> dict[str, dict]:
    """The metrics a run reports: end-to-end from an untraced run,
    per-layer from a traced one."""
    if rec["trace"]:
        values = dict(rec["layers"])
        values.update({
            "registry.import_s": rec["registry.import_s"],
            "session.start_s": rec["session.start_s"],
            "warm.s": rec["warm.s"],
            "host.canary_s": statistics.mean(rec["canary_s"]),
        })
        units = declared_metrics()["per_layer"]
    else:
        values = {
            "pass_s": pass_s(rec["timed_passes"]),
            "setup_s": rec["setup_s"],
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        units = declared_metrics()["end_to_end"]
    return {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())}


if __name__ == "__main__":
    sys.exit(main())
