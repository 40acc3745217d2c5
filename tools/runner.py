"""One query runner under ``bench.py`` and every CLI in ``tools/``.

It owns the session (always from ``session.get_spark``), the isolation
step (``release_pins``, ``clearCache``, ``gc.collect()``), the one timed
pass (the query's DataFrame build, then its write to the noop sink,
under the job group ``<app>:<query>``), the oracle check
(``perfbench/oracle.py``, which applies
``tests/conftest.py:assert_oracle_match``), the fixture ``TABLES``, the
GEMM canary and ``normalise_plan``.

With ``event_log=True`` the session writes an uncompressed Spark event
log, and :meth:`Runner.stop` parses it through ``perfbench/spans.py``
into one layered record per query: ``build_s``, ``build_jobs``,
``materialize_s`` and the ``window_stats`` counters of the last timed
pass. Jobs are attributed by time window, not by job group, because the
index builds launch jobs from ``ThreadPoolExecutor`` threads that do not
inherit the caller's group.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench import oracle, spans  # noqa: E402
from sow_pyspark_scripts_spark import registry  # noqa: E402
from sow_pyspark_scripts_spark.functions.pin import release_pins  # noqa: E402
from sow_pyspark_scripts_spark.session import get_spark  # noqa: E402
from sow_pyspark_scripts_spark.sources import TABLES  # noqa: E402
from tests.conftest import _canon as canon  # noqa: E402,F401 — the oracle rule's cell canon

# Counters a plan string takes from the JVM rather than from the query:
# expression ids (#12), plan ids, RDD ids and the lambda variables of
# higher-order functions (x_18, y_3). They move with whatever ran
# earlier in the process, e.g. an ANN index build.
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


def canary() -> dict[str, float]:
    """The host-throttle canary, ``bench._cpu_microbench``."""
    from bench import _cpu_microbench

    return _cpu_microbench()


def duck(sf_dir: str):
    """An in-memory DuckDB with one view per fixture table."""
    return oracle.connect(sf_dir, TABLES)


def _lines(log_dir: str):
    for n in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, n)) as fh:
            yield from fh


def sweep(run: "Runner", names, canary_every: int = 0) -> tuple[list[dict], dict]:
    """One timed pass per query, printing a JSON line for each:
    ``{"query", "sec", "leaked_rdds"}`` or ``{"query", "error"}``; and,
    before every ``canary_every``-th query, ``{"canary", "at"}``.
    Returns the records and the canaries keyed ``q<position>``."""
    recs, canaries = [], {}
    for i, name in enumerate(names):
        if canary_every and i and i % canary_every == 0:
            canaries[f"q{i}"] = canary()
            print(json.dumps({"canary": canaries[f"q{i}"], "at": i}), flush=True)
        rec = run.run(name)
        recs.append(rec)
        line = {"error": rec["error"]} if "error" in rec else {
            "sec": rec["sec"][-1], "leaked_rdds": rec["leaked_rdds"]}
        print(json.dumps({"query": name, **line}), flush=True)
    return recs, canaries


class Runner:
    """One session over one fixture directory, and the record of every
    query run through it."""

    def __init__(self, app_name: str, sf_dir: str, event_log: bool = False, **session):
        conf = dict(session.pop("extra_conf", None) or {})
        self.log_dir = None
        if event_log:
            self.log_dir = tempfile.mkdtemp(prefix="spark-graft-eventlog-")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.app, self.sf_dir = app_name, sf_dir
        self.spark = get_spark(app_name=app_name, extra_conf=conf, **session)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = spans.Tracer()
        self.records: list[dict] = []
        self._span_ids: list[tuple[int, int | None]] = []  # (query, last timed build) per record

    def isolate(self) -> int:
        """The isolation step: release pins, drop cached relations and
        collect Python garbage (ContextCleaner frees localCheckpoint
        blocks on GC). Returns the persistent RDDs left afterwards."""
        release_pins(self.spark)
        self.spark.catalog.clearCache()
        gc.collect()
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def build(self, name: str):
        return registry.QUERIES[name](self.spark, self.sf_dir)

    def run(self, name: str, warm: int = 0, repeat: int = 1) -> dict:
        """``warm`` unmeasured passes, then ``repeat`` timed ones, each
        after the isolation step. The record keeps every timed pass's
        wall seconds in ``sec``, the last one's ``build_s`` and
        ``materialize_s``, and ``leaked_rdds`` read after the release
        step that ends the query. An exception ends the query and is
        recorded as ``error``."""
        sc, tr = self.spark.sparkContext, self.tracer
        rec: dict = {"query": name, "sec": []}
        build_span = None
        with tr.span("query", name) as q:
            try:
                for i in range(warm + repeat):
                    self.isolate()
                    sc.setJobGroup(f"{self.app}:{name}", name)
                    try:
                        with tr.span("build", name) as b:
                            df = self.build(name)
                        with tr.span("materialize", name) as m:
                            df.write.format("noop").mode("overwrite").save()
                    finally:
                        sc.setJobGroup("", "")
                    if i >= warm:
                        rec["sec"].append(round(m.end - b.start, 3))
                        rec.update(build_s=round(b.dur, 4), materialize_s=round(m.dur, 4),
                                   start=b.start, end=m.end)
                        build_span = b.id
            except Exception as exc:  # noqa: BLE001 — recorded per query; the run continues
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                rec["leaked_rdds"] = self.isolate()
        self.records.append(rec)
        self._span_ids.append((q.id, build_span))
        return rec

    def check(self, name: str, con, sql: str) -> str | None:
        """Why ``name``'s result differs from its oracle ``sql``, or None."""
        with self.tracer.span("query", name):
            self.isolate()
            try:
                return oracle.check(self.build(name), con, sql)
            finally:
                self.isolate()

    def explain(self, name: str) -> str:
        """``name``'s formatted plan with the counters normalised."""
        with self.tracer.span("query", name):
            self.isolate()
            qe = self.build(name)._jdf.queryExecution()
            mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            return normalise_plan(qe.explainString(mode))

    def stop(self) -> dict:
        """Stop the session. With the event log on, add each timed
        query's layered record, and return ``window_jobs``, the jobs
        submitted between the first query span's start and the last
        one's end, and ``unattributed_jobs``, those of them inside no
        query span. Without an event log, return ``{}``."""
        self.spark.stop()
        log = None
        if self.log_dir:
            log = spans.parse_event_log(_lines(self.log_dir))
            shutil.rmtree(self.log_dir, ignore_errors=True)
        out: dict = {}
        qspans = [s for s in self.tracer.spans if s.name == "query"]
        # an existing session (getOrCreate) keeps its own confs: no log
        if log is not None and log.jobs and qspans:
            top = spans.attribute_jobs(log.jobs, qspans)
            inner = spans.attribute_jobs(log.jobs, self.tracer.spans)
            lo, hi = qspans[0].start, qspans[-1].end
            window = [j.id for j in log.jobs if lo <= j.submit <= hi]
            out = {"window_jobs": len(window),
                   "unattributed_jobs": sum(1 for j in window if j not in top)}
        for rec, (qid, bid) in zip(self.records, self._span_ids):
            if out and bid is not None:
                rec["jobs"] = sum(1 for s in top.values() if s == qid)
                rec["build_jobs"] = sum(1 for s in inner.values() if s == bid)
                stats = spans.window_stats(log, rec["start"], rec["end"])
                rec.update({k: round(v, 4) for k, v in stats.items()})
        return out
