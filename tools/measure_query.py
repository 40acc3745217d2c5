"""Per-query optimization instrument: isolated timing + plan capture, a
CLI over ``tools/runner.py``.

For each named query: one unmeasured warm pass (codegen/page-cache),
then ``--repeat`` measured passes through the noop sink (guide §1.4),
each after the runner's isolation step; then dump
``.explain("formatted")`` to a file with the process-global counters
normalised (``runner.normalise_plan``), so two captures compare with
plain ``diff``. GEMM canaries bracket the run (BASELINE.md healthy
reference ~0.06/0.9-1.1) so a throttled host is visible in the artifact
itself.

Usage:
  python tools/measure_query.py NAME [NAME ...] [--sf-dir DIR]
      [--plans-out DIR] [--suffix before|after] [--repeat N]

Writes one JSON line per query: {"query":..., "sec":[...], "plan": path}
plus the runner's layered record of the last measured pass (build_s,
materialize_s, leaked_rdds and the event-log counters), and a final
summary line with the canaries and the event-log job attribution.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools import runner  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-out", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default=None, help="plan file suffix, e.g. before/after")
    ap.add_argument("--repeat", type=int, default=1, help="measured passes per query")
    ap.add_argument("--no-warm", action="store_true", help="skip the unmeasured warm pass")
    ap.add_argument(
        "--explain-only",
        action="store_true",
        help="capture plans without timing (usable on a loaded host)",
    )
    args = ap.parse_args()
    if args.explain_only and not args.plans_out:
        ap.error("--explain-only requires --plans-out (ADVICE r8: "
                 "otherwise the loop records neither timing nor plan)")

    pre = runner.canary()
    run = runner.Runner("measure_query", args.sf_dir, event_log=True)
    out = []
    for name in args.names:
        if name not in runner.registry.QUERIES:
            out.append({"query": name, "error": "unknown"})
            continue
        if args.explain_only:
            rec = {"query": name, "sec": []}
        else:
            rec = run.run(name, warm=0 if args.no_warm else 1, repeat=args.repeat)
        out.append(rec)
        if args.plans_out and "error" not in rec:
            Path(args.plans_out).mkdir(parents=True, exist_ok=True)
            suffix = f"_{args.suffix}" if args.suffix else ""
            p = Path(args.plans_out) / f"{name}{suffix}.txt"
            try:
                p.write_text(run.explain(name))
                rec["plan"] = str(p)
            except Exception as exc:  # noqa: BLE001 — recorded per query
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
    post = runner.canary()
    attribution = run.stop()
    for rec in out:
        print(json.dumps(rec))
    print(json.dumps({"canary_pre": pre, "canary_post": post, "sf_dir": args.sf_dir, **attribution}))


if __name__ == "__main__":
    main()
