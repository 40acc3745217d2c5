#!/usr/bin/env python
"""Generate PLANS.md: a machine-derived physical-plan inventory for every
registered query — the scale audit as data, not prose.

For each compilable query the report counts the plan features that
decide 100 TB behavior: shuffles (Exchange hashpartitioning), broadcast
joins, sort-merge joins, single-partition exchanges (legitimate only for
scalar/tiny aggregates), parquet scans, Arrow-boundary Python operators,
and whether a global top-k uses TakeOrderedAndProject. Queries with
eager side effects (format writes, streaming drains) are compiled too —
their side effect at sf0.001 is cheap — so the table is complete.

A CLI over ``tools/runner.py`` (its session; plans are compiled, not
run). Run: python tools/plan_report.py  (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import runner  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

PYTHON_OPS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapGroupsInPandasWithState",
    "BatchEvalPython",
)


def _strip_cached_subtrees(plan: str) -> str:
    """Drop the cached-plan text InMemoryRelation embeds in the tree
    string: those lines describe the ONE materialization of a persisted
    relation, and counting them once per InMemoryTableScan reference
    overstates shuffles/scans (observed: the PCA query's single cached
    covariance build counted ~300 times)."""

    def indent(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    out, skip_deeper_than = [], None
    for line in plan.splitlines():
        d = indent(line)
        if skip_deeper_than is not None:
            if d > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "InMemoryRelation" in line:
            skip_deeper_than = d
            continue
        out.append(line)
    return "\n".join(out)


def main() -> None:
    run = runner.Runner("plan_report", SF_DIR, master="local[8]", shuffle_partitions=8)
    rows = []
    for name in sorted(runner.registry.QUERIES):
        try:
            plan = run.build(name)._jdf.queryExecution().executedPlan().toString()
            plan = _strip_cached_subtrees(plan)
        except Exception as e:  # noqa: BLE001
            rows.append((name, None, str(e)[:60]))
            continue
        feats = {
            "shuffle": len(re.findall(r"Exchange hashpartitioning", plan)),
            "1part": len(re.findall(r"Exchange SinglePartition", plan)),
            "bcast": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "scans": len(re.findall(r"FileScan|Scan parquet", plan)),
            "topk": "Y" if "TakeOrderedAndProject" in plan else "",
            "py": "/".join(sorted({op for op in PYTHON_OPS if op in plan})) or "",
            "cartesian": "!!" if "CartesianProduct" in plan else "",
        }
        rows.append((name, feats, None))

    lines = [
        "# PLANS — physical-plan inventory (generated by tools/plan_report.py)",
        "",
        f"Compiled at {SF_DIR} with shuffle.partitions=8. Columns: shuffles =",
        "`Exchange hashpartitioning` count; 1-part = `Exchange SinglePartition`",
        "count (legitimate only above scalar/tiny aggregates — the hygiene and",
        "plan-contract tests enforce that); bcast/smj = join strategies; scans =",
        "file scans; topk = TakeOrderedAndProject; py = Arrow Python operators.",
        "CartesianProduct anywhere is a failure (also enforced by tests).",
        "",
        "| query | shuffles | 1-part | bcast | smj | scans | topk | python |",
        "|---|---|---|---|---|---|---|---|",
    ]
    errs = []
    for name, feats, err in rows:
        if feats is None:
            errs.append(f"- `{name}`: PLAN ERROR {err}")
            continue
        lines.append(
            f"| `{name}`{feats['cartesian']} | {feats['shuffle']} | {feats['1part']} "
            f"| {feats['bcast']} | {feats['smj']} | {feats['scans']} "
            f"| {feats['topk']} | {feats['py']} |"
        )
    if errs:
        lines += ["", "## Compile errors", *errs]
    run.stop()
    out = os.path.join(runner.REPO, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(rows)} queries")


if __name__ == "__main__":
    main()
