"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q

The attribution test starts a one-core local Spark session; the others
need no JVM.
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import gen
import oracle
import run
import spans as sp
import worker
from workloads import WORKLOADS


def _write(seed, path):
    gen.write(gen.generate(seed), str(path))
    return path


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _write(7, tmp_path / "a")
    b = _write(7, tmp_path / "b")
    c = _write(8, tmp_path / "c")
    names = [f"{t}.parquet" for t in gen.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    # region and nation are fixed vocabularies; every drawn table differs
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert set(differ) == {f"{t}.parquet" for t in gen.TABLES if t not in ("region", "nation")}


def test_generator_keeps_keys_unique_and_foreign_keys_resolved():
    t = {k: v.to_pydict() for k, v in gen.generate(3).items()}
    orders, lines = t["orders"], t["lineitem"]
    assert len(set(orders["o_orderkey"])) == len(orders["o_orderkey"])
    assert set(orders["o_custkey"]) <= set(t["customer"]["c_custkey"])
    pk = list(zip(lines["l_orderkey"], lines["l_linenumber"]))
    assert len(set(pk)) == len(pk)
    assert set(lines["l_orderkey"]) <= set(orders["o_orderkey"])
    assert set(lines["l_partkey"]) <= set(t["part"]["p_partkey"])
    assert set(lines["l_suppkey"]) <= set(t["supplier"]["s_suppkey"])
    docs = t["documents"]
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert any(x.endswith(" dup") for x in docs["text"])


def _span(i, parent, start, end):
    return sp.Span(i, f"s{i}", "w/p/q", parent, start, end)


def test_self_time_subtracts_covered_child_time():
    # root [0,10]: children [1,4] and [3,6] overlap -> cover 5s; a child
    # sticking out past the parent only counts inside it
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 9.0, 12.0),
        _span(4, 1, 2.0, 2.5),
        _span(5, None, 20.0, 21.0),
    ]
    st = sp.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(1.0)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = sp.Tracer()
    with tr.span("pass", "w/p0"):
        with tr.span("query", "w/p0/q") as q:
            time.sleep(0.01)
    assert [s.parent for s in tr.spans] == [None, 0]
    assert q.dur >= 0.01 and tr.spans[0].end >= q.end
    off = sp.Tracer(enabled=False)
    with off.span("pass", "w/p0") as s:
        pass
    assert off.spans == [] and s.dur >= 0


def test_time_window_attribution_catches_a_thread_pool_job(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]").appName("perfbench-attribution")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tr = sp.Tracer()
    try:
        spark.sparkContext.setJobGroup("caller", "caller")
        spark.range(10).count()  # outside every span
        with tr.span("query", "w/p0/pooled"):
            with tr.span("build", "w/p0/pooled") as build:
                with ThreadPoolExecutor(max_workers=1) as pool:
                    assert pool.submit(lambda: spark.range(100).count()).result() == 100
            with tr.span("materialize", "w/p0/pooled") as mat:
                spark.range(50).count()
    finally:
        spark.stop()
    lines = []
    for n in os.listdir(log_dir):
        with open(log_dir / n) as fh:
            lines.extend(fh)
    log = sp.parse_event_log(lines)
    assert len(log.jobs) == 3
    owner = sp.attribute_jobs(log.jobs, tr.spans)
    first = min(j.id for j in log.jobs)
    assert first not in owner
    assert sorted(owner.values()) == [build.id, mat.id]
    assert sp.window_stats(log, build.start, build.end)["exec.jobs"] == 1


def test_window_stats_on_hand_built_log():
    log = sp.EventLog(
        jobs=[sp.Job(0, 1.0, 2.0, [0]), sp.Job(1, 2.5, 4.0, [1, 2]), sp.Job(2, 9.0, 9.5, [3])],
        tasks=[
            sp.Task(0, 1.0, 1.5, 0.5, 0.4, 0.0, 1024 * 1024, 0, 2 * 1024 * 1024),
            sp.Task(1, 2.5, 2.6, 0.1, 0.1, 0.0, 0, 0, 0),
            sp.Task(1, 2.5, 2.6, 0.1, 0.1, 0.0, 0, 0, 0),
            sp.Task(1, 2.5, 3.4, 0.9, 0.8, 0.1, 0, 1024 * 1024, 0),
            sp.Task(3, 9.0, 9.5, 0.5, 0.5, 0.0, 0, 0, 0),
        ],
    )
    m = sp.window_stats(log, 0.0, 5.0)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (2, 2, 4)
    assert m["exec.driver_idle_s"] == pytest.approx(5.0 - 1.0 - 1.5)
    assert m["exec.task_skew"] == pytest.approx(0.9 / 0.1)
    assert m["exec.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["exec.spill_mb"] == pytest.approx(1.0)
    assert m["sources.scan_mb"] == pytest.approx(2.0)


def _fake_record(trace: int) -> dict:
    q = {"build_s": 0.5, "materialize_s": 0.25, "catalyst_s": 0.1}

    def one_pass(label, wall, start):
        return {
            "label": label, "q": {n: dict(q) for n in WORKLOADS["etl_ref"]},
            "pins_released": 0, "wall_s": wall, "start": start, "end": start + wall,
            "leaked_rdds": 0, "retained_heap_mb": 80.0,
        }

    rec = {
        "workload": "etl_ref", "trace": trace, "registry.import_s": 1.0, "session.start_s": 8.0,
        "warm.s": 20.0, "setup_s": 30.0, "peak_rss_mb": 1500.0, "canary_s": [0.2, 0.3],
        "timed_passes": [one_pass("pass0", 3.0, 100.0), one_pass("pass1", 2.5, 104.0)],
    }
    if trace:
        rec["untraced_passes"] = rec["timed_passes"]
        rec["traced_passes"] = [one_pass("pass0", 3.1, 200.0)]
        rec["index_files"], rec["index_mb"] = 0, 0.0
        rec["probes"] = {k: 1.0 for k in (
            "sources.spread_s", "functions.sketch_s", "operators.shingles_s", "operators.cc_s",
        )}
        rec["layers"] = worker.layer_metrics(
            rec, sp.Tracer(), sp.EventLog([], []), sorted({x for mix in WORKLOADS.values() for x in mix})
        )
    return rec


def test_emitted_metric_names_are_valid_and_declared():
    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    name_ok = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = run.result_metrics(_fake_record(trace))
        declared = {m["name"]: m["unit"] for m in spec[key]}
        assert set(out) == set(declared)
        for name, v in out.items():
            assert name_ok.fullmatch(name), name
            assert v["unit"] == declared[name]


def test_pass_s_sums_per_query_medians():
    rec = _fake_record(0)
    slow = rec["timed_passes"][0]["q"]["text_pipeline_e3"]
    slow["build_s"] += 5.0  # one slow query in one pass of three
    rec["timed_passes"].append(copy.deepcopy(rec["timed_passes"][1]))
    assert run.pass_s(rec["timed_passes"]) == pytest.approx(0.75 * len(WORKLOADS["etl_ref"]))


def test_traced_layers_add_up_to_the_per_query_metrics():
    m = _fake_record(1)["layers"]
    q_sum = sum(v for k, v in m.items() if k.startswith("q."))
    assert m["plans.build_s"] + m["exec.materialize_s"] == pytest.approx(q_sum)
    assert q_sum <= m["trace.pass_s"]
    assert m["trace.overhead_s"] == pytest.approx(3.1 - 2.75)


def test_check_flags_a_planted_wrong_row():
    duckdb = pytest.importorskip("duckdb")

    class Frame:  # the two DataFrame members the oracle rule uses
        def __init__(self, columns, rows):
            self.columns = columns
            self._rows = [dict(zip(columns, r)) for r in rows]

        def collect(self):
            return self._rows

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', 1.25::DOUBLE)) t(k, s, x)"
    right = [(2, "b", 1.25 + 1e-12), (1, "a", 0.5)]  # order and float noise are fine
    assert oracle.check(Frame(["k", "s", "x"], right), con, sql) is None
    assert oracle.check(Frame(["s", "x", "k"], [(r[1], r[2], r[0]) for r in right]), con, sql) is None
    wrong = [(1, "a", 0.5), (2, "b", 1.5)]
    assert "row 1 mismatch" in oracle.check(Frame(["k", "s", "x"], wrong), con, sql)
    assert "row count" in oracle.check(Frame(["k", "s", "x"], right[:1]), con, sql)
    assert "column mismatch" in oracle.check(Frame(["k", "s", "y"], right), con, sql)
