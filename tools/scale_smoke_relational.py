"""Relational-tier scale smoke (VERDICT r2 #4): run the headline
TPC-H-shape / events queries at sf1 (10x the sf0.1 row counts) and
report wall-clock scaling.

sf1 is synthesized ENTIRELY inside Spark by replicating each sf0.1
relation ``mult`` times with consistently offset surrogate keys
(replica i shifts every *key* column by i * (max_key + 1) of its
domain), so foreign keys keep resolving to exactly one replica and
every join/group produces mult x the rows with mult x the key
cardinality — the honest way to scale a star schema without changing
its selectivities. Non-key attributes repeat, which is what real
horizontal growth looks like (same domains, more rows). Events shift
event_id/user_id but keep timestamps, so time-window queries see
mult x density per window (the worst case for window/session state).
region/nation and the corpus tables copy through unchanged.

Near-linear wall-clock vs the sf0.1 bench numbers = the partition
strategy holds; anything super-linear is a design bug to fix (round 2's
smoke caught two). Results are recorded in BASELINE.md.

A CLI over ``tools/runner.py``: its session (``get_spark`` at
``local[32]``, 64 shuffle partitions, a 48g heap), its isolation step
and its timed build plus noop write.

Usage: python tools/scale_smoke_relational.py [--mult 10] [--out /tmp/scale_rel]
Writes one JSON line per query and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tools import runner  # noqa: E402

SF01 = "/root/testdata/sf0.1"

# key columns per table: every column here shifts by i * (domain max + 1)
# in replica i, keyed by the DOMAIN (custkey in both customer and orders
# must shift by the same stride)
KEYS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
}

# headline relational / events set (bench.py names) — the TPC-H shapes,
# joins, windows, upsert, recursive SQL, and the event-stream shapes
QUERIES = [
    "flagship_incident_etl",
    "snowflake_etl_e2",
    # r8 (VERDICT r7 #4): the r7 sweep fix — 1024-way bucketed cogroup,
    # Python invoked 1024 times regardless of corpus size — demonstrated
    # at mult x the order/lineitem counts
    "api_cogroup_pandas",
    "agg_pricing_summary",
    "agg_shipping_priority",
    "win_topn_per_group",
    "upsert_latest_by_key",
    "win_row_number_chunk",
    "join_volume_shipping",
    "subq_scalar_avg",
    "join_asof",
    "scd2_intervals",
    "sql_recursive_bom",
    "basket_affinity_pairs",
    "agg_bitmap_distinct",
    "expr_variant_extract",
    "feature_pit_training_matrix",
    "join_spatial_grid",
    "shard_consistent_hash",
    "events_tumbling_agg",
    "events_sessionize",
    "events_json_props",
    "events_funnel",
    "events_attribution_shapley",
    "stats_ks_distance",
    "dq_psi_drift",
    "ml_cv_fold_ols",
    "stats_bh_fdr",
    "ml_map_mrr",
    "similarity_rrf_fusion",
    "scd2_intervals",
]


def _read(spark: SparkSession, table: str) -> DataFrame:
    # read_table handles the events TIMESTAMP(NANOS) legacy conversion;
    # the replica is written back as plain TIMESTAMP (micros), which
    # read_table passes through unchanged on the query side
    from sow_pyspark_scripts_spark.sources import read_table

    return read_table(spark, SF01, table)


def _stride(spark: SparkSession, table: str, col: str) -> int:
    return int(_read(spark, table).agg(F.max(col)).collect()[0][0]) + 1


def synth(spark: SparkSession, out: Path, mult: int) -> None:
    out.mkdir(parents=True, exist_ok=True)
    # one stride per key DOMAIN, taken from the domain's primary table
    domain_src = {
        "custkey": ("customer", "c_custkey"),
        "suppkey": ("supplier", "s_suppkey"),
        "partkey": ("part", "p_partkey"),
        "orderkey": ("orders", "o_orderkey"),
        "eventid": ("events", "event_id"),
        "userid": ("events", "user_id"),
    }
    strides = {d: _stride(spark, t, c) for d, (t, c) in domain_src.items()}

    for t in ["region", "nation", "documents", "embeddings"]:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            src = Path(SF01) / f"{t}.parquet"
            if src.is_dir():
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)

    for t, keycols in KEYS.items():
        base = _read(spark, t)
        rep = base.crossJoin(
            spark.range(mult).select(F.col("id").alias("__rep"))
        )
        shifted: DataFrame = rep
        for col, domain in keycols.items():
            shifted = shifted.withColumn(
                col, F.col(col) + F.col("__rep") * F.lit(strides[domain])
            )
        shifted.drop("__rep").repartition(32).write.mode("overwrite").parquet(
            str(out / f"{t}.parquet")
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/scale_rel")
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    args = ap.parse_args()

    out = Path(args.out) / f"x{args.mult}"
    run = runner.Runner(
        "scale_smoke_relational", str(out), master="local[32]", shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "48g"},
    )
    t0 = time.time()
    synth(run.spark, out, args.mult)
    print(json.dumps({"synth_sec": round(time.time() - t0, 1), "mult": args.mult}))

    names = args.queries.split(",") if args.queries else list(dict.fromkeys(QUERIES))
    # each query runs after the runner's isolation step: no cross-query
    # cache reuse, and localCheckpoint blocks freed (late-battery
    # entries otherwise inflate from block pressure)
    recs, _ = runner.sweep(run, names)
    run.stop()
    secs = [r["sec"][-1] for r in recs if "error" not in r]
    print(json.dumps({"total_sec": round(sum(secs), 1), "n": len(secs)}))


if __name__ == "__main__":
    main()
