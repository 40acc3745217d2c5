"""One benchmark run inside a fresh Python process (started by run.py).

Untraced (``--trace 0``): warm up, time passes for ``--seconds``, check
every query against its oracle, and report pass time, set-up time and
peak RSS. Traced (``--trace 1``): the same set-up, then untraced passes
and traced passes for half of ``--seconds`` each, the direct layer
probes and the oracle check, with Spark's event log on; the per-layer
metrics come from the traced pass with the median wall time.

The result is written as JSON to ``<run-dir>/record.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import tempfile
import time

import spans as sp
from workloads import WARM_PASSES, WORKLOADS

ROOT = os.getcwd()
MB = 1024 * 1024


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this host's vCPUs, summed
    over all of them: a record of host contention, not a metric."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class Runner:
    """Runs passes over one workload's mix and keeps their records."""

    def __init__(self, spark, name: str, data_dir: str, tracer: sp.Tracer):
        from sow_pyspark_scripts_spark import registry
        from sow_pyspark_scripts_spark.functions.pin import release_pins

        self.spark, self.name, self.data_dir, self.tracer = spark, name, data_dir, tracer
        self.queries = WORKLOADS[name]
        self.builders = registry.QUERIES
        self.release_pins = release_pins
        self.attempted = 0
        self.errors: list[str] = []

    def run_pass(self, label: str, catalyst: bool = False) -> dict:
        """One trip through the mix, each query materialized through the
        noop sink. Before each query: release_pins, clearCache and
        gc.collect(). After the pass: System.gc() and the retained heap."""
        spark, tr = self.spark, self.tracer
        rec = {"label": label, "q": {}, "pins_released": 0}
        with tr.span("pass", f"{self.name}/{label}") as pass_span:
            for q in self.queries:
                rec["pins_released"] += self.release_pins(spark)
                spark.catalog.clearCache()
                gc.collect()
                self.attempted += 1
                trace_id = f"{self.name}/{label}/{q}"
                qr = {"build_s": 0.0, "materialize_s": 0.0, "catalyst_s": 0.0}
                try:
                    with tr.span("query", trace_id):
                        with tr.span("build", trace_id) as s:
                            df = self.builders[q](spark, self.data_dir)
                        qr["build_s"] = s.dur
                        if catalyst:
                            with tr.span("catalyst", trace_id) as s:
                                df._jdf.queryExecution().executedPlan()
                            qr["catalyst_s"] = s.dur
                        with tr.span("materialize", trace_id) as s:
                            df.write.format("noop").mode("overwrite").save()
                        qr["materialize_s"] = s.dur
                except Exception as exc:  # noqa: BLE001 — recorded; the run continues
                    self.errors.append(f"{label}/{q}: {type(exc).__name__}: {exc}"[:400])
                    qr["error"] = True
                rec["q"][q] = qr
            rec["pins_released"] += self.release_pins(spark)
            spark.catalog.clearCache()
        rec["wall_s"] = pass_span.dur
        rec["start"], rec["end"] = pass_span.start, pass_span.end
        jvm = spark.sparkContext._jvm
        rec["leaked_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        rec["retained_heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / MB
        return rec

    def passes_for(self, seconds: float, prefix: str, catalyst: bool = False) -> list[dict]:
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.run_pass(f"{prefix}{len(out)}", catalyst))
        return out

    def check(self) -> dict[str, str | None]:
        """Each query's result against its oracle, outside any timed pass."""
        import oracle
        from sow_pyspark_scripts_spark import registry
        from sow_pyspark_scripts_spark.sources.parquet import TABLES

        oracles = registry.resolved_oracles()
        con = oracle.connect(self.data_dir, TABLES)
        out = {}
        try:
            for q in self.queries:
                self.release_pins(self.spark)
                self.spark.catalog.clearCache()
                self.attempted += 1
                try:
                    out[q] = oracle.check(self.builders[q](self.spark, self.data_dir), con, oracles[q])
                except Exception as exc:  # noqa: BLE001 — recorded; the run continues
                    out[q] = f"{type(exc).__name__}: {exc}"[:400]
                if out[q] is not None:
                    self.errors.append(f"check/{q}: {out[q]}")
        finally:
            con.close()
        return out


def probes(spark, data_dir: str, tracer: sp.Tracer, trace: str) -> dict[str, float]:
    """Direct calls into single library layers, each materialized."""
    from pyspark.sql import functions as F

    from sow_pyspark_scripts_spark.functions.pin import pin_eager
    from sow_pyspark_scripts_spark.functions.sketch import approx_pctls
    from sow_pyspark_scripts_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from sow_pyspark_scripts_spark.operators.graph import connected_components
    from sow_pyspark_scripts_spark.sources.parquet import read_table, spread

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    docs = read_table(spark, data_dir, "documents")
    with tracer.span("sources.spread", f"{trace}/spread") as s:
        noop(spread(docs))
        noop(spread(read_table(spark, data_dir, "embeddings")))
    out["sources.spread_s"] = s.dur
    with tracer.span("functions.sketch", f"{trace}/sketch") as s:
        lineitem = read_table(spark, data_dir, "lineitem")
        lineitem.agg(approx_pctls("l_extendedprice", tuple(i / 10 for i in range(1, 10)))).collect()
    out["functions.sketch_s"] = s.dur
    with tracer.span("operators.shingles", f"{trace}/shingles") as s:
        sigs = minhash_signatures(word_shingles(docs, distinct=False)).transform(pin_eager)
    out["operators.shingles_s"] = s.dur
    pairs = lsh_candidate_pairs(sigs).transform(pin_eager)
    with tracer.span("operators.cc", f"{trace}/cc") as s:
        noop(connected_components(
            docs.select("doc_id"), pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ))
    out["operators.cc_s"] = s.dur
    return out


def index_listing(root: str) -> tuple[int, float]:
    files, size = 0, 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size / MB


def median_pass(passes: list[dict]) -> dict:
    """The pass with the median wall time (lower middle for even counts)."""
    ranked = sorted(passes, key=lambda p: p["wall_s"])
    return ranked[(len(ranked) - 1) // 2]


def layer_metrics(rec: dict, tracer: sp.Tracer, log: sp.EventLog, all_queries) -> dict[str, float]:
    """Per-layer metrics of the traced median pass."""
    chosen = median_pass(rec["traced_passes"])
    qs = chosen["q"]
    m = {f"q.{q}_s": 0.0 for q in all_queries}
    for q, r in qs.items():
        m[f"q.{q}_s"] = r["build_s"] + r["materialize_s"]
    m["plans.build_s"] = sum(r["build_s"] for r in qs.values())
    m["exec.materialize_s"] = sum(r["materialize_s"] for r in qs.values())
    m["catalyst.plan_s"] = sum(r["catalyst_s"] for r in qs.values())
    m["streaming.drain_s"] = sum(r["build_s"] for q, r in qs.items() if q.startswith("streaming_"))
    pass_trace = f"{rec['workload']}/{chosen['label']}"
    builds = {s.id for s in tracer.spans if s.name == "build" and s.trace.startswith(pass_trace + "/")}
    owner = sp.attribute_jobs(log.jobs, tracer.spans)
    m["plans.build_jobs"] = sum(1 for sid in owner.values() if sid in builds)
    m.update(sp.window_stats(log, chosen["start"], chosen["end"]))
    m["functions.pin_released"] = chosen["pins_released"]
    m["functions.pin_leaked_rdds"] = chosen["leaked_rdds"]
    m["session.retained_heap_mb"] = chosen["retained_heap_mb"]
    m["trace.pass_s"] = chosen["wall_s"]
    m["trace.overhead_s"] = chosen["wall_s"] - statistics.median(p["wall_s"] for p in rec["untraced_passes"])
    m["sources.index_files"], m["sources.index_mb"] = rec["index_files"], rec["index_mb"]
    m.update(rec["probes"])
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    tracer = sp.Tracer(enabled=False)
    rec: dict = {"workload": args.workload, "trace": args.trace}

    with tracer.span("registry.import", args.workload) as s:
        from sow_pyspark_scripts_spark import registry  # noqa: F401
        from sow_pyspark_scripts_spark.session import get_spark
    rec["registry.import_s"] = s.dur

    # a fixed heap: -Xms equal to the -Xmx that SPARK_GRAFT_DRIVER_MEM sets
    conf = {"spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"]}
    if args.trace:
        log_dir = os.path.join(args.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with tracer.span("session.start", args.workload) as s:
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{args.cpus}]", extra_conf=conf)
    rec["session.start_s"] = s.dur
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    rec["versions"] = {
        "pyspark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    rec["heap"] = spark.conf.get("spark.driver.memory")
    rec["master"] = spark.conf.get("spark.master")

    runner = Runner(spark, args.workload, args.data, tracer)
    with tracer.span("warm", args.workload) as s:
        rec["warm_passes"] = [runner.run_pass(f"warm{i}") for i in range(WARM_PASSES[args.workload])]
    rec["warm.s"] = s.dur
    rec["setup_s"] = time.time() - args.spawned_at
    steal0 = host_steal_s()

    if args.trace:
        rec["untraced_passes"] = runner.passes_for(args.seconds / 2, "untraced")
        tracer.enabled = True
        rec["traced_passes"] = runner.passes_for(args.seconds / 2, "pass", catalyst=True)
        # the first probe round warms the probes' plans; the second is kept
        tracer.enabled = False
        probes(spark, args.data, tracer, f"{args.workload}/probe0")
        tracer.enabled = True
        rec["probes"] = probes(spark, args.data, tracer, f"{args.workload}/probe1")
        tracer.enabled = False
    else:
        rec["timed_passes"] = runner.passes_for(args.seconds, "pass")
    rec["timed_end"] = time.time() - args.spawned_at
    rec["steal_s"] = host_steal_s() - steal0
    # read before the check, which runs DuckDB in this process
    rec["python_hwm_mb"], rec["jvm_hwm_mb"] = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
    rec["peak_rss_mb"] = rec["python_hwm_mb"] + rec["jvm_hwm_mb"]
    rec["check"] = runner.check()
    rec["check_end"] = time.time() - args.spawned_at
    rec["index_files"], rec["index_mb"] = index_listing(os.path.join(tempfile.gettempdir(), "spark_ann_index"))
    rec["attempted"], rec["errors"] = runner.attempted, runner.errors

    spark.stop()
    if gateway_proc is not None:
        gateway_proc.stdin.close()
        gateway_proc.wait(timeout=60)
    rec["stop_end"] = time.time() - args.spawned_at

    if args.trace:
        tracer.dump(os.path.join(args.run_dir, "spans.json"))
        lines = []
        for n in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, n)) as fh:
                lines.extend(fh)
        all_queries = sorted({q for mix in WORKLOADS.values() for q in mix})
        rec["layers"] = layer_metrics(rec, tracer, sp.parse_event_log(lines), all_queries)

    with open(os.path.join(args.run_dir, "record.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
