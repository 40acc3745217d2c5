"""Layout / recall / randomness tuning tier: the measurements that
decide physical and algorithmic knobs — multi-scale burst structure
(which window size to monitor), ANN probe width (recall vs cost),
sort-order choice for delta compression (storage layout), and a
randomness test on residual signs (is the "trend" real).

Scale notes baked into each builder:
- the Haar energy pyramid computes ALL three scales from one day-grain
  rollup: a bounded 3x level explode, sign = parity of the position
  within the block, and one hash aggregate per — integer sums until
  the final per-level normalization. No iterative halving passes over
  the fact;
- multiprobe IVF reuses the same broadcast codebook as nprobe=1
  (`similarity_topk_ivf`) and widens only the QUERY side to its 2
  nearest cells (bounded 2x candidate fan-out; candidates stay
  indexed by their single home cell) — the standard recall knob,
  priced as a plan change, not a rewrite;
- the delta-encoding benefit compares candidate sort orders with
  KEYED windows only (supplier-keyed vs order-keyed lag) — no global
  sort of either layout is ever materialized; bit costs are exact
  integers via bin()-length, the engine-portable floor(log2)+1;
- the runs test is two window passes over the calendar-bounded daily
  rollup and a closed-form z — the Wald-Wolfowitz guard that the
  residual signs of a fitted trend are exchangeable (a failed runs
  test means autocorrelation is masquerading as trend).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import cos_grid_sql, d2_grid_sql, mean_grid_sql, r6
from ..registry import query

_M6V = mean_grid_sql("v")
from ..sources import read_table


# ---------------------------------------------------------------------------
# events_haar_energy — multi-scale burst energy from one rollup
# ---------------------------------------------------------------------------

_HAAR_LEVELS = [1, 2, 3]

_HAAR_ORACLE = f"""
WITH daily AS (
    SELECT event_type,
           CAST(date_diff('day', TIMESTAMP '2024-01-01',
                          date_trunc('day', ts)) AS BIGINT) AS d,
           COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
leveled AS (
    SELECT event_type, lvl, d // (1 << lvl) AS block,
           CASE WHEN (d // (1 << (lvl - 1))) % 2 = 0 THEN x ELSE -x END
               AS signed_x
    FROM daily
    CROSS JOIN (SELECT UNNEST({_HAAR_LEVELS!r}) AS lvl)
),
details AS (
    SELECT event_type, lvl, block, SUM(signed_x) AS detail
    FROM leveled GROUP BY 1, 2, 3
)
SELECT event_type, lvl,
       floor(SUM(CAST(detail AS DOUBLE) * detail) / (1 << lvl) * 1e4 + 0.5)
           / 1e4 AS energy
FROM details GROUP BY 1, 2
"""


@query("events_haar_energy", _HAAR_ORACLE)
def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy pyramid over daily volume: per event_type,
    the detail energy at 2-day, 4-day, and 8-day scales — the
    multi-scale readout that says WHICH window size carries the
    variation (energy concentrated at level 1 = day-to-day jitter;
    at level 3 = weekly regime shifts), i.e. which monitoring window
    `events_anomaly_zscore` should use. All three scales come from
    ONE day-grain rollup: each day row explodes to its 3 levels
    (bounded 3x), the Haar sign is the parity of the half-block
    position ((d >> (lvl-1)) & 1), and one hash aggregate per
    (type, level, block) sums signed counts — integer-exact until the
    final 1/2^lvl normalization. No sequential halving passes, no
    second scan of the fact.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("datediff(date_trunc('day', ts), timestamp'2024-01-01')")
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("x"))
    lvls = spark.createDataFrame([(l,) for l in _HAAR_LEVELS], "lvl int")
    leveled = daily.join(F.broadcast(lvls)).select(
        "event_type",
        "lvl",
        F.expr("d div (1 << lvl)").alias("block"),
        F.when(
            F.expr("(d div (1 << (lvl - 1))) % 2") == 0, F.col("x")
        )
        .otherwise(-F.col("x"))
        .alias("signed_x"),
    )
    details = leveled.groupBy("event_type", "lvl", "block").agg(
        F.sum("signed_x").alias("detail")
    )
    return details.groupBy("event_type", "lvl").agg(
        (
            F.floor(
                F.sum(F.col("detail").cast("double") * F.col("detail"))
                / F.expr("(1 << lvl)")
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("energy")
    )


# ---------------------------------------------------------------------------
# similarity_topk_ivf_multiprobe — the IVF recall knob as a plan change
# ---------------------------------------------------------------------------

_MULTIPROBE_ORACLE = f"""
WITH flat AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cent AS (SELECT label AS cent_id, pos, {_M6V} AS c FROM flat GROUP BY label, pos),
dists AS (
  SELECT f.vec_id, c.cent_id,
         {d2_grid_sql('f.v', 'c.c')} AS d2
  FROM flat f JOIN cent c ON f.pos = c.pos
  GROUP BY f.vec_id, c.cent_id
),
ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
  FROM dists
),
cells AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
qprobes AS (
  SELECT r.vec_id AS qid, r.cent_id AS cell
  FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
  WHERE r.rn <= 2 AND e.vec_id < 20
),
pairflat AS (
  SELECT q.qid, c.vec_id AS cid,
         CAST(unnest(eq.embedding) AS DOUBLE) AS qv,
         CAST(unnest(ec.embedding) AS DOUBLE) AS cv
  FROM qprobes q
  JOIN cells c ON q.cell = c.cell AND c.vec_id <> q.qid
  JOIN embeddings eq ON eq.vec_id = q.qid
  JOIN embeddings ec ON ec.vec_id = c.vec_id
),
sims AS (
  SELECT qid, cid, {cos_grid_sql('qv', 'cv')} AS sim
  FROM pairflat GROUP BY 1, 2
)
SELECT qid, cid, sim, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT qid, cid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
  FROM sims
) WHERE rnk <= 5
"""


@query("similarity_topk_ivf_multiprobe", _MULTIPROBE_ORACLE)
def similarity_topk_ivf_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF ANN with nprobe=2 — the recall knob turned one notch from
    `similarity_topk_ivf`: each query scores candidates in its TWO
    nearest centroid cells, recovering the neighbors that sit just
    across a cell boundary (the dominant recall loss of nprobe=1) for
    ~2x candidate cost. Candidates stay indexed by their single home
    cell — only the bounded query side fans out — so the corpus
    partitioning and the broadcast codebook are IDENTICAL to the
    nprobe=1 plan; recall is priced as a plan change, not a rebuild.
    Same rounded-cosine ranking discipline (1e-6 floor, id
    tie-break).
    """
    from ..functions.vectors import quant_arr
    from ..operators.similarity import _norm2_pre, _sim_grid, ivf_cells_multi, topk_per_query

    emb = read_table(spark, sf_dir, "embeddings")
    _, probes = ivf_cells_multi(emb, nprobe=2)
    home = probes.where(F.col("probe_rank") == 1).select("vec_id", "cell")
    cand = (
        emb.join(home, "vec_id")
        .select(
            F.col("vec_id").alias("cid"),
            quant_arr(F.col("embedding")).alias("ce"),
            "cell",
        )
        .withColumn("cn2", _norm2_pre(F.col("ce")))
    )
    q = (
        emb.where(F.col("vec_id") < 20)
        .join(probes, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            quant_arr(F.col("embedding")).alias("qe"),
            F.col("cell").alias("qcell"),
        )
        .withColumn("qn2", _norm2_pre(F.col("qe")))
    )
    pairs = cand.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell")) & (F.col("qid") != F.col("cid")),
    )
    sims = pairs.select(
        "qid",
        "cid",
        _sim_grid(F.col("qe"), F.col("ce"), F.col("qn2"), F.col("cn2")).alias("sim"),
    )
    return topk_per_query(sims, F.col("sim").desc(), 5)


# ---------------------------------------------------------------------------
# sort_delta_encoding_benefit — which sort order compresses the column
# ---------------------------------------------------------------------------

_DELTA_ORACLE = """
WITH cents AS (
    SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
by_supp AS (
    SELECT 'supplier_shipdate' AS layout,
           y - lag(y) OVER (PARTITION BY l_suppkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                     y, l_partkey)
               AS delta
    FROM cents
),
by_order AS (
    SELECT 'orderkey_line' AS layout,
           y - lag(y) OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, y, l_suppkey, l_partkey)
               AS delta
    FROM cents
),
deltas AS (SELECT * FROM by_supp UNION ALL SELECT * FROM by_order)
SELECT layout,
       COUNT(delta) AS n_deltas,
       SUM(CASE WHEN delta = 0 THEN 1
                ELSE length(bin(abs(delta))) + 1 END) AS total_bits,
       floor(SUM(CASE WHEN delta = 0 THEN 1
                      ELSE length(bin(abs(delta))) + 1 END)
             / CAST(COUNT(delta) AS DOUBLE) * 1e4 + 0.5) / 1e4
           AS bits_per_value
FROM deltas GROUP BY 1
"""


@query("sort_delta_encoding_benefit", _DELTA_ORACLE)
def sort_delta_encoding_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout tuning: estimate the delta-encoding cost of the
    price column under two candidate sort orders — (supplier,
    shipdate) clustering vs the natural (orderkey, linenumber) — as
    total bits = Σ (floor(log2|Δ|)+2) per successive delta (sign bit +
    magnitude; zero deltas cost 1). Smaller wins: this is the readout
    behind choosing a table's SORT BY / Z-ORDER (`sort_zorder_cluster`
    picks multi-dim keys; this prices single-dim orders), because
    parquet DELTA_BINARY_PACKED and general-purpose compressors both
    feed on small successive deltas. Both layouts are evaluated with
    KEYED windows (supplier-keyed, order-keyed) — the global sort they
    emulate is never materialized; bit costs use bin()-length, the
    engine-portable exact floor(log2)+1 on bigints.
    """
    li = read_table(spark, sf_dir, "lineitem")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    # (orderkey, linenumber) is NOT unique in the fixtures — ties make
    # lag() nondeterministic, so every ordering ends in (y, keys): rows
    # still tied after that are interchangeable WITH EQUAL y, which
    # leaves the delta sequence invariant.
    cents = li.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        y.alias("y"),
    )
    ws = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "y", "l_partkey"
    )
    wo = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "y", "l_suppkey", "l_partkey"
    )
    by_supp = cents.select(
        F.lit("supplier_shipdate").alias("layout"),
        (F.col("y") - F.lag("y").over(ws)).alias("delta"),
    )
    by_order = cents.select(
        F.lit("orderkey_line").alias("layout"),
        (F.col("y") - F.lag("y").over(wo)).alias("delta"),
    )
    deltas = by_supp.unionByName(by_order)
    bits = F.when(F.col("delta") == 0, 1).otherwise(
        F.length(F.bin(F.abs(F.col("delta")))) + 1
    )
    return deltas.groupBy("layout").agg(
        F.count("delta").alias("n_deltas"),
        F.sum(bits).alias("total_bits"),
        (
            F.floor(
                F.sum(bits) / F.count("delta").cast("double") * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("bits_per_value"),
    )


# ---------------------------------------------------------------------------
# stats_runs_test — Wald-Wolfowitz randomness of daily residual signs
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
    FROM events GROUP BY 1, 2
),
signed AS (
    SELECT event_type, day, x,
           CASE WHEN x * COUNT(*) OVER (PARTITION BY event_type)
                     > SUM(x) OVER (PARTITION BY event_type)
                THEN 1 ELSE 0 END AS s
    FROM daily
),
runs AS (
    SELECT event_type, s,
           CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
                     IS DISTINCT FROM s THEN 1 ELSE 0 END AS new_run
    FROM signed
),
agg AS (
    SELECT event_type,
           SUM(s) AS n1, COUNT(*) - SUM(s) AS n2, SUM(new_run) AS r
    FROM runs GROUP BY 1
)
SELECT event_type, n1, n2, r,
       floor((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
             * 1e6 + 0.5) / 1e6 AS z
FROM agg
"""


@query("stats_runs_test", _RUNS_ORACLE)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: are the above/below-mean signs of
    daily revenue exchangeable, or do they clump (autocorrelation) /
    alternate (overdispersion)? Too FEW runs is the classic signature
    of a regime drifting under a flat mean — the nonparametric guard
    to run before trusting `stats_mann_kendall_trend`'s monotone
    story or an anomaly monitor's independence assumption. The
    above-mean comparison is cross-multiplied
    (x·n_days > Σx — bigint-exact, no float mean), runs count via one
    keyed lag window over the calendar-bounded rollup, and the
    normal approximation is closed-form from (n1, n2, R). One scan,
    two tiny windows.
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
    signed = daily.select(
        "event_type",
        "day",
        F.when(
            F.col("x") * F.count(F.lit(1)).over(per_type)
            > F.sum("x").over(per_type),
            1,
        )
        .otherwise(0)
        .alias("s"),
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    runs = signed.select(
        "event_type",
        "s",
        F.when(
            ~F.lag("s").over(wd).eqNullSafe(F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("s").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    n1, n2, r = (F.col(c).cast("double") for c in ("n1", "n2", "r"))
    n = n1 + n2
    er = 2 * n1 * n2 / n + 1
    vr = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
    return agg.select(
        "event_type",
        "n1",
        "n2",
        "r",
        r6((r - er) / F.sqrt(vr)).alias("z"),
    )
