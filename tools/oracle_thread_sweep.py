#!/usr/bin/env python
"""Determinism sweep over every registered oracle (VERDICT r4 task #5).

The r3/r4 semdedup flake survived two rounds of targeted fixes because
each fix pinned ONE site; this tool enumerates the class. Two passes:

1. STATIC LINT — find every oracle whose SQL contains a raw float
   ``sum(...)`` (not one of the exact-integer pinned forms from
   functions/det.py) in a query that also rounds with ``floor(``.
   Every hit must either be pinned or carry a documented
   bounded-magnitude argument (the ALLOWLIST below, audited by
   tests/test_oracle_determinism.py).

2. DYNAMIC SWEEP — run EVERY oracle twice on the same DuckDB database,
   once at threads=1 and once at threads=32, and compare the full
   result multisets. Any difference is exactly the driver-flake class:
   a value that depends on the engine's parallel sum order.

A CLI over ``tools/runner.py``: the DuckDB views and the cell canon are
the runner's (those of the oracle rule).

Usage: python tools/oracle_thread_sweep.py [--sf-dir DIR]
Writes DETERMINISM_SWEEP.json at the repo root; prints one summary line.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools import runner  # noqa: E402

# Pinned forms emitted by functions/det.py helpers (exact integer sums —
# associative, no order exposure) and other exact-by-construction sums.
_PINNED_SUM = re.compile(
    r"sum\(\s*(?:"
    r"CAST\(\s*floor\("          # quant_sql products / mean_grid
    r"|\(\s*CAST\(\s*floor\("    # d2 grid diffs
    r")",
    re.IGNORECASE,
)
_ANY_SUM = re.compile(r"sum\(", re.IGNORECASE)
_INT_SUM = re.compile(
    # integer-exact sums: CASE WHEN ... 1/0, counts, md5-derived BIGINTs,
    # already-integer columns (heuristic: no '.' literal and no '*' of two
    # raw value columns inside) — the lint only needs to be conservative
    # in the FLAG direction; anything ambiguous is flagged and must be
    # allowlisted with a reason.
    r"sum\(\s*(?:CASE\b|CAST\(|-?\d+\s*\)|n_|cnt\b|c\b\s*\))",
    re.IGNORECASE,
)


def lint_oracle(sql: str) -> list[str]:
    """Return the raw-float-sum fragments in an oracle that also rounds."""
    if "floor(" not in sql.lower():
        return []
    hits = []
    for m in _ANY_SUM.finditer(sql):
        frag = sql[m.start() : m.start() + 120].replace("\n", " ")
        if _PINNED_SUM.match(sql[m.start() :]):
            continue
        if _INT_SUM.match(sql[m.start() :]):
            continue
        hits.append(frag)
    return hits


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    oracles = runner.registry.resolved_oracles()
    t0 = time.time()

    lint = {name: lint_oracle(sql) for name, sql in oracles.items()}
    lint = {k: v for k, v in lint.items() if v}

    results = {}
    for threads in (1, 32):
        con = runner.duck(args.sf_dir)
        con.execute(f"SET threads={threads}")
        for name, sql in oracles.items():
            try:
                rows = con.execute(sql).fetchall()
                key = sorted(tuple(runner.canon(c) for c in r) for r in rows)
            except Exception as e:  # noqa: BLE001 — recorded, not hidden
                key = f"ERROR: {e}"
            results.setdefault(name, {})[threads] = key
        con.close()

    mismatches = sorted(
        name for name, r in results.items() if r[1] != r[32]
    )
    out = {
        "lint_flagged": {k: v[:3] for k, v in sorted(lint.items())},
        "lint_flagged_count": len(lint),
        "thread_mismatches": mismatches,
        "oracles_swept": len(oracles),
        "sec": round(time.time() - t0, 1),
    }
    (REPO / "DETERMINISM_SWEEP.json").write_text(json.dumps(out, indent=2))
    print(json.dumps({k: out[k] for k in
                      ("lint_flagged_count", "thread_mismatches",
                       "oracles_swept", "sec")}))
    return 0 if not mismatches else 1


if __name__ == "__main__":
    sys.exit(main())
