"""The query runner (``tools/runner.py``) under ``bench.py`` and ``tools/``.

- Its layered records hold their invariants on a real run: a fresh
  ``tools/measure_query.py`` process (so the event log is on) over two
  sf0.001 queries, one of them an index build whose jobs run on
  ``ThreadPoolExecutor`` threads.
- The CLIs stay thin: no second session set-up, isolation step,
  ``count()`` timer, ``TABLES`` or ``_canon`` outside the runner.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

from .conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_measure_query_layered_records():
    names = ["flagship_incident_etl", "similarity_index_build"]
    proc = subprocess.run(
        [sys.executable, "tools/measure_query.py", *names, "--sf-dir", SF_DIR],
        cwd=REPO, capture_output=True, text=True, timeout=900, env=dict(os.environ),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    recs, summary = lines[:-1], lines[-1]
    assert [r["query"] for r in recs] == names
    for r in recs:
        assert "error" not in r, r
        # the timed pass is build + write and nothing else
        assert r["build_s"] + r["materialize_s"] <= r["sec"][-1] + 1e-3, r
        assert r["exec.jobs"] >= 1, r
        assert r["jobs"] >= r["exec.jobs"], r
        assert r["leaked_rdds"] == 0, r
    assert recs[0]["end"] <= recs[1]["start"]
    # every job submitted while the queries ran belongs to exactly one
    assert summary["unattributed_jobs"] == 0, summary
    assert summary["window_jobs"] == sum(r["jobs"] for r in recs), (summary, recs)


def _offences(path: pathlib.Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Attribute) and node.attr == "builder" and (
            isinstance(node.value, ast.Name) and node.value.id == "SparkSession"
        ):
            out.append(f"{where}: SparkSession.builder (use runner.Runner)")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "clearCache":
                out.append(f"{where}: clearCache() (use Runner.isolate)")
            elif node.func.attr == "count" and not node.args and not node.keywords:
                out.append(f"{where}: DataFrame count() (time the noop write: Runner.run)")
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id in ("TABLES", "_canon"):
                    out.append(f"{where}: {t.id} defined (use runner.TABLES / runner.canon)")
        elif isinstance(node, ast.FunctionDef) and node.name == "_canon":
            out.append(f"{where}: _canon defined (use runner.canon)")
        elif isinstance(node, ast.Import) and any(a.name.startswith("urllib") for a in node.names):
            out.append(f"{where}: urllib import (job metrics come from the event log)")
        elif isinstance(node, ast.ImportFrom) and any(a.name == "get_spark" for a in node.names):
            out.append(f"{where}: get_spark import (use runner.Runner)")
    return out


def test_tools_are_thin_clis_over_the_runner():
    files = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
    offences = [o for f in files if f.name != "runner.py" for o in _offences(f)]
    assert not offences, "\n".join(offences)
