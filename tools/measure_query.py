"""Per-query optimization instrument (round 8): isolated timing + plan capture.

For each named query: clear cache, release pins, one unmeasured warm
pass (codegen/page-cache), one measured pass through the noop sink
(guide §1.4), then dump ``.explain("formatted")`` to a file with the
process-global counters normalised (see ``normalise_plan``), so two
captures compare with plain ``diff``. GEMM
canaries bracket the run (BASELINE.md healthy reference ~0.06/0.9-1.1)
so a throttled host is visible in the artifact itself.

Usage:
  python tools/measure_query.py NAME [NAME ...] [--sf-dir DIR]
      [--plans-out DIR] [--suffix before|after] [--repeat N]

Writes one JSON line per query: {"query":..., "sec":[...], "plan": path}
and a final summary line with the canaries.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


# Counters a plan string takes from the JVM rather than from the query:
# expression ids (#12), plan ids, RDD ids and the
# lambda variables of higher-order functions (x_18, y_3). They move with
# whatever ran earlier in the process, e.g. an ANN index build.
_PLAN_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([xy])_\d+\b"), r"\1_N"),
)


def normalise_plan(plan: str) -> str:
    """``plan`` with the process-global counters replaced by ``N``."""
    for pat, repl in _PLAN_COUNTERS:
        plan = pat.sub(repl, plan)
    return plan


def _canary() -> dict:
    import bench

    return bench._cpu_microbench()


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

    from sow_pyspark_scripts_spark import registry
    from sow_pyspark_scripts_spark.functions.pin import release_pins
    from sow_pyspark_scripts_spark.session import get_spark

    pre = _canary()
    spark = get_spark(app_name="measure_query")
    spark.sparkContext.setLogLevel("ERROR")

    out = []
    for name in args.names:
        if name not in registry.QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        release_pins(spark)
        spark.catalog.clearCache()
        gc.collect()
        rec: dict = {"query": name}
        try:
            if not args.no_warm and not args.explain_only:
                registry.QUERIES[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            secs = []
            for _ in range(0 if args.explain_only else args.repeat):
                release_pins(spark)
                spark.catalog.clearCache()
                gc.collect()
                spark.sparkContext.setJobGroup(f"measure:{name}", name)
                t0 = time.perf_counter()
                registry.QUERIES[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                secs.append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobGroup("", "")
            rec["sec"] = secs
            if args.plans_out:
                Path(args.plans_out).mkdir(parents=True, exist_ok=True)
                suffix = f"_{args.suffix}" if args.suffix else ""
                plan = registry.QUERIES[name](spark, args.sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                p = Path(args.plans_out) / f"{name}{suffix}.txt"
                p.write_text(normalise_plan(plan))
                rec["plan"] = str(p)
        except Exception as exc:  # noqa: BLE001 — recorded per query
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        print(json.dumps(rec))
        sys.stdout.flush()
    post = _canary()
    print(json.dumps({"canary_pre": pre, "canary_post": post, "sf_dir": args.sf_dir}))


if __name__ == "__main__":
    main()
