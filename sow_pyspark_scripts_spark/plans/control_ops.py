"""Process-control / placement tier: the operational recurrences a
data platform runs continuously — drift alarms on the ingest stream,
feature normalization for training, shard placement that survives
cluster resizes, and deterministic negative-pair mining for
contrastive training.

Scale notes baked into each builder:
- the CUSUM chart is the second application of the Skorokhod
  reflection identity (see ``win_capped_running_sum``): the
  clamped-at-zero alarm recurrence C_t = max(0, C_{t-1} + d_t - κ)
  collapses to prefix-sum minus running-min — two window passes keyed
  on event_type over a day-grain rollup. Deviations are scaled by
  n_days so they stay bigint-exact (they sum to zero by construction);
  κ and the decision interval h are integer fractions of the exact
  grand total;
- quantile normalization NEVER ranks raw rows: the fact collapses to
  the bounded (returnflag x quantity) keyspace (~150 rows), mid-ranks
  are doubled-integer-exact on the rollup (the ``stats_mann_whitney``
  trick), and the per-row transform is a broadcast join of the tiny
  lookup back onto the fact — one scan, one broadcast, no global sort;
- consistent-hash placement evaluates the WHOLE ring move in one pass:
  36 virtual nodes broadcast against the corpus (bounded nested-loop
  fan-out), one hash aggregate computes both the 8-shard and 9-shard
  owners via conditional min_by, and the per-shard rollup diffs them.
  The defining CH property — growing the ring only moves keys INTO
  the new shard, never between old shards — is asserted exactly in a
  property test;
- negative-pair mining draws k pseudo-random partners per anchor with
  pure hash arithmetic on the dense doc_id space (no RNG state, no
  shuffle of the corpus to sample it) and resolves partner metadata
  with one equi-join — reproducible across runs/cluster sizes, the
  property a training pipeline needs for resumable epoch shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# dq_cusum_alarm — clamped CUSUM drift alarm via the reflection identity
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
    FROM events GROUP BY 1, 2
),
scaled AS (
    SELECT event_type, day, x,
           COUNT(*) OVER (PARTITION BY event_type) AS n_days,
           SUM(x) OVER (PARTITION BY event_type) AS t
    FROM daily
),
dev AS (
    SELECT event_type, day,
           n_days * x - t - (t // 20) AS step, t
    FROM scaled
),
pre AS (
    SELECT event_type, day, t,
           SUM(step) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
    FROM dev
),
refl AS (
    SELECT event_type, day, t, s,
           MIN(s) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_min
    FROM pre
)
SELECT event_type, day,
       s - LEAST(run_min, 0) AS cusum,
       s - LEAST(run_min, 0) > t // 4 AS alarm
FROM refl
"""


@query("dq_cusum_alarm", _CUSUM_ORACLE)
def dq_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart per event_type: the clamped
    recurrence C_t = max(0, C_{t-1} + (x_t - target) - κ) accumulates
    persistent upward drift in daily volume and alarms when C_t
    exceeds the decision interval h — the standard sequential-QC
    screen for slow ingest regressions that per-day z-tests miss
    (each day is individually unremarkable; the cumulative sum is
    not). Like `win_capped_running_sum`, the clamp is NOT iterated:
    the Skorokhod reflection identity gives C_t = S_t - min(0, min
    prefix S) from one prefix sum + one prefix min over the same
    event_type-keyed window. Deviations are scaled by n_days
    (d_t = n_days·x_t - T, summing to zero exactly), so every
    accumulator is bigint-exact; allowance κ = T/20 and decision
    interval h = T/4 are exact integer fractions of the grand total.
    The fact collapses to day grain first — windows order a
    calendar-bounded relation per key.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "x"
        )
    )
    per_type = Window.partitionBy("event_type")
    scaled = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(per_type).alias("n_days"),
        F.sum("x").over(per_type).alias("t"),
    )
    step = (
        F.col("n_days") * F.col("x") - F.col("t") - F.expr("t div 20")
    ).alias("step")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = scaled.select("event_type", "day", "t", step).withColumn(
        "s", F.sum("step").over(w)
    )
    refl = pre.withColumn("run_min", F.min("s").over(w))
    cusum = F.col("s") - F.least(F.col("run_min"), F.lit(0))
    return refl.select(
        "event_type",
        "day",
        cusum.alias("cusum"),
        (cusum > F.expr("t div 4")).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# feature_quantile_rank_normalize — quantile transform via bounded rollup
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH rollup AS (
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
),
ranked AS (
    SELECT l_returnflag, qty, cnt,
           COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before,
           SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
    FROM rollup
),
lookup AS (
    SELECT l_returnflag, qty,
           floor(CAST(2 * cum_before + cnt + 1 AS DOUBLE) / (2 * n) * 1e6
                 + 0.5) / 1e6 AS qnorm
    FROM ranked
)
SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
       CAST(li.l_quantity AS BIGINT) AS qty, lk.qnorm
FROM lineitem li
JOIN lookup lk
  ON li.l_returnflag = lk.l_returnflag
 AND CAST(li.l_quantity AS BIGINT) = lk.qty
"""


@query("feature_quantile_rank_normalize", _QNORM_ORACLE)
def feature_quantile_rank_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile (rank) normalization of a feature within its group —
    map each quantity to its mid-rank percentile in [0,1] under the
    returnflag's empirical distribution, the transform that makes
    heavy-tailed features comparable across groups before training
    (rank-based, so it is immune to outliers where
    `feature_scale_minmax` is not). The naive form globally sorts
    every row; here the fact collapses to the bounded
    (returnflag x quantity) keyspace (~150 rollup rows), mid-ranks are
    doubled-integer-exact prefix sums over that rollup (the
    `stats_mann_whitney` tie trick: 2·cum_before + cnt + 1), and the
    per-row transform is a broadcast join of the tiny lookup back onto
    the fact. One scan of the fact, no sort of it, no window over it.
    """
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    rollup = li.groupBy("l_returnflag", qty.alias("qty")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wb = (
        Window.partitionBy("l_returnflag")
        .orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = rollup.select(
        "l_returnflag",
        "qty",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    lookup = ranked.select(
        "l_returnflag",
        "qty",
        r6(
            (2 * F.col("cum_before") + F.col("cnt") + 1).cast("double")
            / (2 * F.col("n"))
        ).alias("qnorm"),
    )
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", qty.alias("qty")
    ).join(F.broadcast(lookup), ["l_returnflag", "qty"])


# ---------------------------------------------------------------------------
# shard_consistent_hash — ring placement + resize move accounting
# ---------------------------------------------------------------------------

_SHARDS_BEFORE = 8
_REPLICAS = 4
_RING = 1 << 60  # 15 hex chars of md5

_CH_ORACLE = f"""
WITH vnodes AS (
    SELECT v // {_REPLICAS} AS shard,
           CAST('0x' || substr(md5('shard-' || CAST(v // {_REPLICAS} AS VARCHAR)
                 || '-' || CAST(v % {_REPLICAS} AS VARCHAR)), 1, 15) AS BIGINT)
               AS vpos
    FROM (SELECT UNNEST(generate_series(0,
                 {(_SHARDS_BEFORE + 1) * _REPLICAS - 1})) AS v)
),
docs AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS dpos
    FROM documents
),
cand AS (
    SELECT d.doc_id, v.shard,
           (v.vpos - d.dpos + {_RING}) % {_RING} AS dist
    FROM docs d, vnodes v
),
owners AS (
    SELECT doc_id,
           arg_min(shard, CASE WHEN shard < {_SHARDS_BEFORE}
                               THEN dist ELSE dist + {2 * _RING} END)
               AS owner_before,
           arg_min(shard, dist) AS owner_after
    FROM cand GROUP BY 1
),
before_c AS (
    SELECT owner_before AS shard, COUNT(*) AS n_before
    FROM owners GROUP BY 1
),
after_c AS (
    SELECT owner_after AS shard, COUNT(*) AS n_after,
           SUM(CASE WHEN owner_before <> owner_after THEN 1 ELSE 0 END)
               AS moved_in
    FROM owners GROUP BY 1
)
SELECT COALESCE(b.shard, a.shard) AS shard,
       COALESCE(b.n_before, 0) AS n_before,
       COALESCE(a.n_after, 0) AS n_after,
       COALESCE(a.moved_in, 0) AS moved_in
FROM before_c b FULL OUTER JOIN after_c a ON b.shard = a.shard
"""


@query("shard_consistent_hash", _CH_ORACLE)
def shard_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard placement with resize accounting: documents
    map onto a 60-bit hash ring owned by {_SHARDS_BEFORE} shards x
    {_REPLICAS} virtual nodes, then a 9th shard joins the ring, and the
    result reports per-shard doc counts before/after plus how many docs
    moved in — the placement math behind every keyed sink (Kafka
    partitions, ES shard routing — the reference's `es.mapping.id`
    routing at `sql_to_es_etl.py:141` is the degenerate modulo form
    that reshuffles EVERYTHING on resize; consistent hashing moves only
    ~1/(n+1) of keys, all INTO the new shard — asserted exactly in a
    property test). One broadcast of the 36-vnode ring against the
    corpus (bounded fan-out), one hash aggregate computing both owners
    via conditional arg-min (the old-ring owner masks new-shard vnodes
    by pushing their distance beyond the ring span — exact bigint, no
    second pass), and a tiny per-shard rollup diff. All hashes are
    md5-derived 60-bit bigints, the `dq_table_checksum` convention.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("doc-"), F.col("doc_id"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("dpos"),
    )
    vnodes = spark.range((_SHARDS_BEFORE + 1) * _REPLICAS).select(
        (F.col("id") / _REPLICAS).cast("long").alias("shard"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("shard-"),
                        (F.col("id") / _REPLICAS).cast("long"),
                        F.lit("-"),
                        F.col("id") % _REPLICAS,
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("vpos"),
    )
    cand = docs.join(F.broadcast(vnodes)).select(
        "doc_id",
        "shard",
        ((F.col("vpos") - F.col("dpos") + _RING) % _RING).alias("dist"),
    )
    owners = cand.groupBy("doc_id").agg(
        F.min_by(
            "shard",
            F.when(F.col("shard") < _SHARDS_BEFORE, F.col("dist")).otherwise(
                F.col("dist") + F.lit(2 * _RING)
            ),
        ).alias("owner_before"),
        F.min_by("shard", "dist").alias("owner_after"),
    )
    before_c = owners.groupBy(F.col("owner_before").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    after_c = owners.groupBy(F.col("owner_after").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(
            F.when(F.col("owner_before") != F.col("owner_after"), 1).otherwise(
                0
            )
        ).alias("moved_in"),
    )
    return (
        before_c.join(after_c, "shard", "full_outer")
        .select(
            "shard",
            F.coalesce("n_before", F.lit(0)).alias("n_before"),
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("moved_in", F.lit(0)).alias("moved_in"),
        )
    )


# ---------------------------------------------------------------------------
# sample_negative_pairs — deterministic hash-ring contrastive negatives
# ---------------------------------------------------------------------------

_K_NEG = 4

_NEG_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS total FROM documents),
anchors AS (
    SELECT d.doc_id AS anchor_id, d.source AS anchor_source, j.j, n.total
    FROM documents d
    CROSS JOIN (SELECT UNNEST(generate_series(1, {_K_NEG})) AS j) j
    CROSS JOIN n
),
drawn AS (
    SELECT anchor_id, anchor_source, j,
           (anchor_id * 2654435761 + j * 40503) % total AS raw, total
    FROM anchors
),
resolved AS (
    SELECT anchor_id, anchor_source, j,
           CASE WHEN raw = anchor_id THEN (raw + 1) % total ELSE raw END
               AS neg_id
    FROM drawn
)
SELECT r.anchor_id, r.j, r.neg_id,
       r.anchor_source = d.source AS hard
FROM resolved r JOIN documents d ON r.neg_id = d.doc_id
"""


@query("sample_negative_pairs", _NEG_ORACLE)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training:
    each anchor document draws {_K_NEG} pseudo-random partners via pure
    hash arithmetic over the dense doc_id space (Knuth multiplicative
    step per draw index, self-collisions deflected to the next id) and
    tags same-source pairs as hard negatives. No RNG state, no shuffle
    of the corpus to sample it: the draw is a per-row expression
    (bounded {_K_NEG}x fan-out), and partner metadata resolves with one
    equi-join on doc_id — so an epoch's pair set is bit-identical
    across reruns, executors, and cluster sizes, which is what makes a
    100 TB contrastive pipeline resumable mid-epoch. The corpus size N
    enters as a broadcast scalar. With a non-dense id space, compose
    with the two-phase global row number (`win_row_number_chunk`) to
    mint one.
    """
    docs = read_table(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    js = spark.range(1, _K_NEG + 1).select(F.col("id").alias("j"))
    anchors = docs.select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("anchor_source")
    ).join(F.broadcast(js)).join(F.broadcast(total))
    raw = (F.col("anchor_id") * 2654435761 + F.col("j") * 40503) % F.col(
        "total"
    )
    resolved = anchors.select(
        "anchor_id",
        "anchor_source",
        "j",
        F.when(raw == F.col("anchor_id"), (raw + 1) % F.col("total"))
        .otherwise(raw)
        .alias("neg_id"),
    )
    return resolved.join(
        docs.select(F.col("doc_id").alias("neg_id"), "source"), "neg_id"
    ).select(
        "anchor_id",
        "j",
        "neg_id",
        (F.col("anchor_source") == F.col("source")).alias("hard"),
    )
