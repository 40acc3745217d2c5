#!/usr/bin/env python
"""Full-registry EXECUTION sweep at a given scale factor, with a
built-in post-throttle tail recheck: a CLI over ``tools/runner.py``.

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
recheck table. Execution-only: each query is one timed build plus noop
write after the runner's isolation step, and ``leaked_rdds`` counts the
persistent RDDs left after the release step that ends it; no oracle
compare — the value-parity twin is ``tools/full_correctness.py --sf-dir ... --out
CORRECTNESS_SF01_r{N}.json``; together they form the standing
per-round sf0.1 gate (VERDICT r7 task #1).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools import runner  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tail-recheck", type=int, default=12)
    ap.add_argument("--cooldown-sec", type=int, default=60)
    ap.add_argument("--only", default=None, help="comma-separated subset")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    run = runner.Runner("run_sweep", args.sf_dir)
    names = sorted(runner.registry.QUERIES) if not args.only else args.only.split(",")

    pre = runner.canary()
    t_all = time.time()
    recs, canaries = runner.sweep(run, names, canary_every=25)
    total = round(time.time() - t_all, 1)
    canaries = {"pre": pre, **canaries, "post": runner.canary()}
    sec_by_query = {r["query"]: r["sec"][-1] for r in recs if "error" not in r}
    errors = {r["query"]: r["error"] for r in recs if "error" in r}
    leaked = {r["query"]: r["leaked_rdds"] for r in recs if r["leaked_rdds"]}

    slowest = sorted(sec_by_query.items(), key=lambda kv: -kv[1])
    tail = [n for n, _ in slowest[: args.tail_recheck]]

    # post-throttle recheck: cool down, then re-run the tail in
    # isolation so genuine walls and load-band artifacts separate.
    print(json.dumps({"cooldown_sec": args.cooldown_sec}))
    sys.stdout.flush()
    time.sleep(args.cooldown_sec)
    recheck = {"canary_pre": runner.canary(), "sec_by_query": {}}
    for name in tail:
        rec = run.run(name)
        if "error" in rec:
            recheck["sec_by_query"][name] = {"error": rec["error"]}
        else:
            recheck["sec_by_query"][name] = {
                "in_sweep": sec_by_query[name],
                "recheck": rec["sec"][-1],
            }
            print(json.dumps({"recheck": name, "sec": rec["sec"][-1],
                              "in_sweep": sec_by_query[name]}))
        sys.stdout.flush()
    recheck["canary_post"] = runner.canary()
    run.stop()

    artifact = {
        "sf": args.sf_dir,
        "n": len(sec_by_query),
        "errors": errors,
        "total_sec": total,
        "note": (
            "every registered query executed once (execution sweep, "
            "timed build + noop write, no oracle compare); single warm "
            "session, alphabetical order, runner isolation step per "
            "query; slowest "
            f"{args.tail_recheck} re-run in isolation after a "
            f"{args.cooldown_sec}s cooldown (post_throttle_recheck) so "
            "load-band artifacts are separable from genuine walls "
            "inside the artifact itself"
        ),
        "canaries": canaries,
        "slowest": [{n: s} for n, s in slowest[:25]],
        # persistent RDDs left after each query's release step (only > 0)
        "leaked_rdds": leaked,
        "post_throttle_recheck": recheck,
        "sec_by_query": dict(sorted(sec_by_query.items())),
    }
    out = args.out or f"SF01_RUNSWEEP_r{args.round:02d}.json"
    (REPO / out).write_text(json.dumps(artifact, indent=1) + "\n")
    print(json.dumps({"out": out, "n": len(sec_by_query),
                      "errors": len(errors), "total_sec": total}))


if __name__ == "__main__":
    main()
