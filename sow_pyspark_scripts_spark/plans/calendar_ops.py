"""Calendar / chain tier: time-grid repair (linear interpolation over
missing days), business-day SLA arithmetic, bounded-horizon absorbing
Markov conversion probability, and the GROUP BY ALL SQL surface.

Scale notes baked into each builder:
- linear interpolation is two pairs of keyed ignore-nulls windows
  (last known value/day looking back, first known looking forward)
  over a calendar-densified grid — the grid is bounded (keys x days),
  the fact is touched once, and the interpolation weight is exact
  integer day arithmetic with one final division;
- business days use the closed-form weekday counter
  f(d) = 5·(d div 7) + min(d mod 7, 5) anchored on a known Monday —
  O(1) per row, no calendar explode — minus a broadcast holiday
  range-count (tiny BNL join, the `join_band_lookup` shape);
- the absorbing-Markov readout rolls the fact ONCE into the
  (from,to) transition matrix (the `events_markov_transitions`
  rollup), then unrolls p_k = R + Q·p_{k-1} four times as joins over
  the ~5x5 relation — matrix iteration at codebook scale, the
  `graph_pagerank_iter` discipline applied to funnel analysis;
- GROUP BY ALL is pure syntax (analyzer sugar) — the query proves the
  SQL front door accepts it and plans the identical aggregate.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# events_linear_interpolate — calendar-gap repair beyond LOCF
# ---------------------------------------------------------------------------

_LERP_DAYS = 30
_LERP_BUCKETS = 50

_LERP_ORACLE = f"""
WITH daily AS (
    SELECT user_id % {_LERP_BUCKETS} AS bucket,
           CAST(date_diff('day', TIMESTAMP '2024-01-01',
                          date_trunc('day', ts)) AS BIGINT) AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
),
grid AS (
    SELECT b.bucket, d.day, dl.cents
    FROM (SELECT DISTINCT bucket FROM daily) b
    CROSS JOIN (SELECT UNNEST(generate_series(0, {_LERP_DAYS - 1})) AS day) d
    LEFT JOIN daily dl USING (bucket, day)
),
fenced AS (
    SELECT bucket, day, cents,
           last_value(cents IGNORE NULLS) OVER
               (PARTITION BY bucket ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY bucket ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           first_value(cents IGNORE NULLS) OVER
               (PARTITION BY bucket ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY bucket ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
    FROM grid
)
SELECT bucket, day,
       floor(CASE
           WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
           WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
           WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
           ELSE pv + CAST(nv - pv AS DOUBLE) * (day - pd) / (nd - pd)
       END / 100 * 1e4 + 0.5) / 1e4 AS filled_value,
       cents IS NULL AS was_missing
FROM fenced
"""


@query("events_linear_interpolate", _LERP_ORACLE)
def events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over calendar gaps: per user bucket, daily
    purchase revenue is densified onto the full 30-day grid and every
    missing day gets the straight line between its nearest known
    neighbors (edges fall back to nearest-known) — the repair a
    forecasting pipeline wants where `events_locf_fill`'s step
    function biases trends down. Four ignore-nulls keyed windows (two
    looking back, two forward) provide (prev value, prev day, next
    value, next day); the weight (day-pd)/(nd-pd) is exact integer
    day arithmetic, divided once at output. The grid is bounded
    (buckets x days, a broadcast spine) — fact rows are touched once
    in the day-grain rollup, and all windows run on the grid, never
    the fact.
    """
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        (F.col("user_id") % _LERP_BUCKETS).alias("bucket"),
        F.expr("datediff(date_trunc('day', ts), timestamp'2024-01-01')")
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    buckets = daily.select("bucket").distinct()
    days = spark.range(_LERP_DAYS).select(F.col("id").alias("day"))
    grid = buckets.join(F.broadcast(days)).join(daily, ["bucket", "day"], "left")
    back = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("bucket")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    fenced = grid.select(
        "bucket",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(back).alias("pv"),
        F.last(known_day, ignorenulls=True).over(back).alias("pd"),
        F.first("cents", ignorenulls=True).over(fwd).alias("nv"),
        F.first(known_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    filled = (
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv")).cast("double")
            * (F.col("day") - F.col("pd"))
            / (F.col("nd") - F.col("pd"))
        )
    )
    return fenced.select(
        "bucket",
        "day",
        (F.floor(filled / 100 * 1e4 + F.lit(0.5)) / 1e4).alias(
            "filled_value"
        ),
        F.col("cents").isNull().alias("was_missing"),
    )


# ---------------------------------------------------------------------------
# expr_business_days_latency — closed-form weekday SLA arithmetic
# ---------------------------------------------------------------------------

# 1994-12-26 is a Monday BEFORE every date in the fixtures, so
# (days since anchor) is non-negative and mod 7 maps 0..4 -> Mon..Fri.
_ANCHOR = "1994-12-26"
_HOLIDAYS = ["1995-05-29", "1995-07-04", "1995-12-25", "1996-01-01",
             "1996-07-04", "1996-12-25"]
_HOLIDAY_VALUES = ", ".join(f"(TIMESTAMP '{h}')" for h in _HOLIDAYS)


def _bd_sql(col: str) -> str:
    d = f"date_diff('day', TIMESTAMP '{_ANCHOR}', {col})"
    return f"(5 * ({d} // 7) + least({d} % 7, 5))"


_BDAYS_ORACLE = f"""
WITH ship AS (
    SELECT l_orderkey, MIN(l_shipdate) AS first_ship
    FROM lineitem GROUP BY 1
),
spans AS (
    SELECT o.o_orderkey, o.o_orderdate, s.first_ship,
           date_diff('day', o.o_orderdate, s.first_ship) AS cal_days,
           {_bd_sql('s.first_ship')} - {_bd_sql('o.o_orderdate')} AS wd
    FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
),
hol AS (
    SELECT o_orderkey, COUNT(*) AS holidays
    FROM spans
    JOIN (VALUES {_HOLIDAY_VALUES}) h(d)
      ON h.d >= o_orderdate AND h.d < first_ship
     AND date_diff('day', TIMESTAMP '{_ANCHOR}', h.d) % 7 < 5
    GROUP BY 1
)
SELECT s.o_orderkey, s.cal_days,
       s.wd - COALESCE(h.holidays, 0) AS business_days
FROM spans s LEFT JOIN hol h USING (o_orderkey)
"""


@query("expr_business_days_latency", _BDAYS_ORACLE)
def expr_business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship latency in BUSINESS days: the SLA metric
    contracts are written in, computed with the closed-form weekday
    counter f(d) = 5·(d div 7) + min(d mod 7, 5) over days since a
    known Monday anchor — O(1) integer arithmetic per row, where the
    naive form explodes a calendar spine per order (rows x latency
    fan-out). Holidays subtract via a broadcast literal holiday table
    range-counted per span (weekday holidays only — weekend holidays
    are already excluded by f) — a bounded nested-loop join like
    `join_band_lookup`. The ship date comes from one orderkey-grain
    rollup of lineitem. Everything is bigint-exact; replaces nothing
    in the reference (its TAT at `sql_to_es_etl.py:62-64` counts
    calendar days) — this is the enterprise-correct variant.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))

    def bd(colname):
        d = F.datediff(F.col(colname), F.lit(_ANCHOR).cast("timestamp"))
        weeks = F.expr(f"datediff({colname}, timestamp'{_ANCHOR}') div 7")
        return 5 * weeks + F.least(d % 7, F.lit(5))

    spans = orders.join(
        ship, orders.o_orderkey == ship.l_orderkey
    ).select(
        "o_orderkey",
        "o_orderdate",
        "first_ship",
        F.datediff("first_ship", "o_orderdate").cast("long").alias("cal_days"),
        (bd("first_ship") - bd("o_orderdate")).alias("wd"),
    )
    hols = spark.createDataFrame(
        [(h,) for h in _HOLIDAYS], "d string"
    ).select(F.col("d").cast("timestamp").alias("d"))
    wd_hol = F.expr(f"datediff(d, timestamp'{_ANCHOR}') % 7") < 5
    hol_counts = (
        spans.join(
            F.broadcast(hols),
            (F.col("d") >= F.col("o_orderdate"))
            & (F.col("d") < F.col("first_ship")),
        )
        .where(wd_hol)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("holidays"))
    )
    return spans.join(hol_counts, "o_orderkey", "left").select(
        "o_orderkey",
        "cal_days",
        (F.col("wd") - F.coalesce("holidays", F.lit(0))).alias(
            "business_days"
        ),
    )


# ---------------------------------------------------------------------------
# events_absorbing_markov — bounded-horizon conversion probability
# ---------------------------------------------------------------------------

_ABSORB = "purchase"
_HORIZON = 4

_ABSORB_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events
),
trans AS (
    SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
    FROM seq WHERE nxt IS NOT NULL AND event_type <> '{_ABSORB}'
    GROUP BY 1, 2
),
p AS (
    SELECT src, dst,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS pr
    FROM trans
),
r AS (
    SELECT src, SUM(CASE WHEN dst = '{_ABSORB}' THEN pr ELSE 0 END) AS pr_hit
    FROM p GROUP BY 1
),
q AS (SELECT src, dst, pr FROM p WHERE dst <> '{_ABSORB}'),
p1 AS (SELECT src, pr_hit AS v FROM r),
p2 AS (
    SELECT r.src, r.pr_hit + COALESCE(SUM(q.pr * p1.v), 0) AS v
    FROM r LEFT JOIN q ON q.src = r.src LEFT JOIN p1 ON p1.src = q.dst
    GROUP BY r.src, r.pr_hit
),
p3 AS (
    SELECT r.src, r.pr_hit + COALESCE(SUM(q.pr * p2.v), 0) AS v
    FROM r LEFT JOIN q ON q.src = r.src LEFT JOIN p2 ON p2.src = q.dst
    GROUP BY r.src, r.pr_hit
),
p4 AS (
    SELECT r.src, r.pr_hit + COALESCE(SUM(q.pr * p3.v), 0) AS v
    FROM r LEFT JOIN q ON q.src = r.src LEFT JOIN p3 ON p3.src = q.dst
    GROUP BY r.src, r.pr_hit
)
SELECT src AS start_state,
       floor(v * 1e6 + 0.5) / 1e6 AS p_convert_{_HORIZON}steps
FROM p4
"""


@query("events_absorbing_markov", _ABSORB_ORACLE)
def events_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon absorbing-Markov conversion: from each starting
    state, the probability of reaching '{_ABSORB}' within {_HORIZON}
    transitions under the empirical chain — the forward-looking number
    `events_markov_transitions` (one-step matrix) feeds into, and the
    principled alternative to eyeballing funnels when paths branch.
    The fact is rolled ONCE into the (src,dst) transition counts (one
    user-keyed lead window + hash aggregate); the recurrence
    p_k = R + Q·p_{{k-1}} unrolls {_HORIZON} times as joins over the
    ~4x4 transient matrix relation — `graph_pagerank_iter`'s
    fixed-iteration discipline at codebook scale, so each step is a
    broadcast join of tiny relations, never a fact pass. Row
    normalization uses a per-src window over the tiny rollup.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull() & (F.col("event_type") != _ABSORB))
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    p = trans.withColumn(
        "pr",
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy("src")),
    )
    r = p.groupBy("src").agg(
        F.sum(
            F.when(F.col("dst") == _ABSORB, F.col("pr")).otherwise(0.0)
        ).alias("pr_hit")
    )
    q = p.where(F.col("dst") != _ABSORB).select("src", "dst", "pr")
    # localCheckpoint: r and q feed every unrolled step — truncate once
    r = r.transform(_pin_lazy)
    q = q.transform(_pin_lazy)
    pk = r.select("src", F.col("pr_hit").alias("v"))
    for _ in range(_HORIZON - 1):
        stepped = (
            r.join(q, "src", "left")
            .join(
                pk.select(F.col("src").alias("dst"), F.col("v").alias("pv")),
                "dst",
                "left",
            )
            .groupBy("src", "pr_hit")
            .agg(
                (
                    F.first("pr_hit")
                    + F.coalesce(F.sum(F.col("pr") * F.col("pv")), F.lit(0.0))
                ).alias("v")
            )
            .select("src", "v")
        )
        pk = stepped
    return pk.select(
        F.col("src").alias("start_state"),
        r6(F.col("v")).alias(f"p_convert_{_HORIZON}steps"),
    )


# ---------------------------------------------------------------------------
# sql_group_by_all — analyzer-sugar surface parity
# ---------------------------------------------------------------------------

_GBA_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
FROM orders
GROUP BY ALL
"""


@query("sql_group_by_all", _GBA_ORACLE)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL through the SQL front door: the analyzer infers the
    grouping keys from the non-aggregate select list (both Spark 4 and
    DuckDB support the sugar) and plans the identical hash aggregate —
    worth a parity query because analysts paste exactly this syntax,
    and an engine claiming SQL-surface compatibility must accept it.
    """
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gba")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders_gba
        GROUP BY ALL
        """
    )
