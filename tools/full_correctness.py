#!/usr/bin/env python
"""Full-registry driver-sim: run EVERY registered query against its
DuckDB oracle at sf0.01 (the driver's correctness scale) from a fresh
process, and dump one row per query to CORRECTNESS_FULL_r{N}.json. A
CLI over ``tools/runner.py``: the check is the runner's one oracle rule,
``tests/conftest.py:assert_oracle_match``.

The per-round driver samples the first 50 registered queries; pytest
checks all of them but leaves no committed artifact. This tool closes
that gap (VERDICT.md round-2 item #5): the verdict can diff full
coverage across rounds without a 12-minute pytest rerun.

Usage: python tools/full_correctness.py [--round N] [--sf-dir DIR]
Writes CORRECTNESS_FULL_r{N}.json at the repo root and prints one
summary JSON line.

--dump-dir DIR (VERDICT r5 task #2) additionally writes one forensic
file per query: both sides' canonical sorted rows at FULL precision
(``repr`` + python type tag per cell, duckdb/pyspark versions in the
header), so the next driver-vs-builder contract divergence is a
line-diff instead of a multi-round mystery. ``--dump-limit`` caps rows
per side (default 20000; counts and a digest always recorded). Each
dumped query's row also records ``strict_match``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools import runner  # noqa: E402


def _forensic(v) -> str:
    """Full-precision, type-tagged cell repr for the divergence dump.

    Unlike ``runner.canon`` (which rounds floats and drops type identity to
    absorb benign cross-engine noise), this keeps everything: a driver
    whose hash is type-aware (the round-5 HUGEINT lesson) diverges in a
    way only a type-tagged dump can show.
    """
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_forensic(x) for x in v) + "]"
    return f"{v!r}:{type(v).__name__}"


def _write_dump(dump_dir, name, scols, srows_f, dcols, drows_f, limit):
    import hashlib
    import platform

    import duckdb
    import pyspark

    path = Path(dump_dir) / f"{name}.txt"
    with open(path, "w") as fh:
        fh.write(f"# query: {name}\n")
        fh.write(
            f"# pyspark={pyspark.__version__} duckdb={duckdb.__version__} "
            f"python={platform.python_version()}\n"
        )
        for side, cols, rows in (
            ("spark", scols, srows_f),
            ("oracle", dcols, drows_f),
        ):
            digest = hashlib.sha256(
                "\n".join("\t".join(r) for r in rows).encode()
            ).hexdigest()[:16]
            fh.write(
                f"--- {side} cols={cols} rows={len(rows)} "
                f"sha256/16={digest} ---\n"
            )
            for r in rows[:limit]:
                fh.write("\t".join(r) + "\n")
            if len(rows) > limit:
                fh.write(f"... {len(rows) - limit} more rows elided ...\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated subset")
    ap.add_argument(
        "--dump-dir", default=None,
        help="write per-query full-precision type-tagged row dumps here",
    )
    ap.add_argument("--dump-limit", type=int, default=20000)
    ap.add_argument(
        "--out", default=None,
        help="artifact filename (repo-root relative); default "
        "CORRECTNESS_FULL_r{round}.json. The standing per-round sf0.1 "
        "parity gate (VERDICT r7 #1) uses --sf-dir /root/testdata/sf0.1 "
        "--out CORRECTNESS_SF01_r{N}.json",
    )
    args = ap.parse_args()
    if args.dump_dir:
        os.makedirs(args.dump_dir, exist_ok=True)

    import __spark_entry__ as em

    run = runner.Runner("full_correctness", args.sf_dir, shuffle_partitions=16)
    con = runner.duck(args.sf_dir)
    queries = em.queries()
    oracles = em.oracle_sql()
    names = args.only.split(",") if args.only else list(queries)
    out: dict[str, dict] = {}
    t_all = time.time()
    for name in names:
        row: dict = {"ok": False, "err": None}
        try:
            sql = oracles.get(name)
            if sql is None:
                # rows-only contract: the query runs, stable schema on re-run
                run.isolate()
                sdf = run.build(name)
                sdf.collect()
                row.update(ok=sdf.schema == run.build(name).schema, mode="rows_only")
            else:
                row["err"] = run.check(name, con, sql)
                row["ok"] = row["err"] is None
                if args.dump_dir:
                    # strict compare: full-precision repr + python type
                    # tag per cell, so latent float/type drift shows in
                    # the run where it first appears
                    sdf = run.build(name)
                    scols = sorted(sdf.columns)
                    srows_f = sorted(tuple(_forensic(r[c]) for c in scols) for r in sdf.collect())
                    res = con.execute(sql)
                    dcols = [d[0] for d in res.description]
                    idx = [dcols.index(c) for c in sorted(dcols)]
                    drows_f = sorted(tuple(_forensic(r[i]) for i in idx) for r in res.fetchall())
                    row["strict_match"] = srows_f == drows_f
                    _write_dump(
                        args.dump_dir, name, scols, srows_f,
                        sorted(dcols), drows_f, args.dump_limit,
                    )
        except Exception as e:  # record, keep going
            row["err"] = str(e)[:300]
        out[name] = row
        print(json.dumps({"query": name, "ok": row["ok"]}), flush=True)

    path = REPO / (args.out or f"CORRECTNESS_FULL_r{args.round:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    n_ok = sum(1 for r in out.values() if r["ok"])
    print(json.dumps({
        "total": len(out), "pass": n_ok, "fail": len(out) - n_ok,
        "sec": round(time.time() - t_all, 1), "artifact": str(path),
    }))
    run.stop()


if __name__ == "__main__":
    main()
