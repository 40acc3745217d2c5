#!/usr/bin/env python
"""Full-registry EXECUTION sweep at a given scale factor, with a
built-in post-throttle tail recheck.

Round-7 lesson (VERDICT r7 "What's wrong" #4): a 30-minute sustained
sweep throttles this host, so the slowest-tail entries mix genuine
plan walls with load-band artifacts — and the re-measurements that
separate the two lived only in prose. This tool makes the artifact
self-contained: after the sweep finishes it cools down, re-runs the
slowest N queries in isolation (cache cleared, idle host), and records
both numbers side by side under ``post_throttle_recheck``. A query
that stays slow on the recheck is a real wall; one that collapses to
a few seconds was throttle.

Usage:
  python tools/run_sweep.py --round 8 [--sf-dir /root/testdata/sf0.1]
        [--tail-recheck 12] [--out SF01_RUNSWEEP_r{N}.json]

Writes one JSON artifact at the repo root (default
``SF01_RUNSWEEP_r{N}.json``) with: per-query seconds, interleaved GEMM
canary readings (host-throttle attribution), the slowest tail, and the
recheck table. Execution-only (``.count()``), no oracle compare — the
value-parity twin is ``tools/full_correctness.py --sf-dir ... --out
CORRECTNESS_SF01_r{N}.json``; together they form the standing
per-round sf0.1 gate (VERDICT r7 task #1).
"""

from __future__ import annotations

import argparse
import gc
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def canary() -> dict:
    """bench.py's host-throttle canary (fixed-work GEMM probe)."""
    import bench

    return bench._cpu_microbench()


def run_one(spark, qs, name, sf_dir):
    spark.catalog.clearCache()
    gc.collect()  # release localCheckpoint RDD refs (battery lesson r6)
    t = time.time()
    n = qs[name](spark, sf_dir).count()
    return round(time.time() - t, 2), n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tail-recheck", type=int, default=12)
    ap.add_argument("--cooldown-sec", type=int, default=60)
    ap.add_argument("--only", default=None, help="comma-separated subset")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as em
    from sow_pyspark_scripts_spark.session import get_spark

    spark = get_spark()
    qs = em.queries()
    names = sorted(qs) if not args.only else args.only.split(",")

    canaries = {"pre": canary()}
    sec_by_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.time()
    for i, name in enumerate(names):
        if i and i % 25 == 0:
            canaries[f"q{i}"] = canary()
            print(json.dumps({"canary": canaries[f"q{i}"], "at": i}))
            sys.stdout.flush()
        try:
            sec, n = run_one(spark, qs, name, args.sf_dir)
            sec_by_query[name] = sec
            print(json.dumps({"query": name, "sec": sec, "rows": n}))
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            errors[name] = str(e)[:300]
            print(json.dumps({"query": name, "error": errors[name]}))
        sys.stdout.flush()
    total = round(time.time() - t_all, 1)
    canaries["post"] = canary()

    slowest = sorted(sec_by_query.items(), key=lambda kv: -kv[1])
    tail = [n for n, _ in slowest[: args.tail_recheck]]

    # post-throttle recheck: cool down, then re-run the tail in
    # isolation so genuine walls and load-band artifacts separate.
    print(json.dumps({"cooldown_sec": args.cooldown_sec}))
    sys.stdout.flush()
    time.sleep(args.cooldown_sec)
    recheck = {"canary_pre": canary(), "sec_by_query": {}}
    for name in tail:
        try:
            sec, _ = run_one(spark, qs, name, args.sf_dir)
            recheck["sec_by_query"][name] = {
                "in_sweep": sec_by_query[name],
                "recheck": sec,
            }
            print(json.dumps({"recheck": name, "sec": sec,
                              "in_sweep": sec_by_query[name]}))
        except Exception as e:  # noqa: BLE001
            recheck["sec_by_query"][name] = {"error": str(e)[:300]}
        sys.stdout.flush()
    recheck["canary_post"] = canary()

    artifact = {
        "sf": args.sf_dir,
        "n": len(sec_by_query),
        "errors": errors,
        "total_sec": total,
        "note": (
            "every registered query executed once (execution sweep, "
            ".count(), no oracle compare); single warm session, "
            "alphabetical order, cache cleared per query; slowest "
            f"{args.tail_recheck} re-run in isolation after a "
            f"{args.cooldown_sec}s cooldown (post_throttle_recheck) so "
            "load-band artifacts are separable from genuine walls "
            "inside the artifact itself"
        ),
        "canaries": canaries,
        "slowest": [{n: s} for n, s in slowest[:25]],
        "post_throttle_recheck": recheck,
        "sec_by_query": dict(sorted(sec_by_query.items())),
    }
    out = args.out or f"SF01_RUNSWEEP_r{args.round:02d}.json"
    (REPO / out).write_text(json.dumps(artifact, indent=1) + "\n")
    print(json.dumps({"out": out, "n": len(sec_by_query),
                      "errors": len(errors), "total_sec": total}))


if __name__ == "__main__":
    main()
