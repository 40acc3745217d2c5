"""Data-quality / feature-engineering tier: the audits and feature
builders a 100 TB warehouse runs before anyone trusts a table — column
profiling, referential-integrity checks, Benford screening — plus the
customer-analytics features (RFM scores, revenue concentration,
last-touch attribution) built on the same relational surface the
reference exposes (SURVEY.md §2.4-2.6).

Scale notes baked into each builder:
- the profile is ONE aggregate pass over the table (the n-way exact
  distinct costs an Expand; the 100 TB variant swaps in
  approx_count_distinct and loses nothing else);
- integrity checks are anti-joins — dims broadcast, the one big-big
  check (childless orders) shuffles on the join key like any fact join;
- Gini needs a global ordering, which uses the two-phase bucketed row
  number (operators/relational.py) — the fact table shuffles once, no
  single-partition window;
- RFM quartile boundaries are three 1-row aggregates broadcast back,
  never a per-user sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..operators.relational import with_global_row_number
from ..functions.sketch import approx_pctl, approx_pctls
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# dq_profile_columns — one-pass column profile ("ANALYZE TABLE" surface)
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(round(min({col}), 2) AS DOUBLE)"
            mx = f"CAST(round(max({col}), 2) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"min({col})", f"max({col})"
        parts.append(
            f"""
            SELECT '{col}' AS column_name,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nulls,
                   count(DISTINCT {col}) AS n_distinct,
                   {mn} AS min_num, {mx} AS max_num,
                   {ms} AS min_str, {xs} AS max_str
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


@query("dq_profile_columns", _profile_oracle())
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the orders table — row count, null
    count, exact distinct count, numeric min/max (2 dp) and string
    min/max — the first thing a pipeline runs on an unfamiliar 100 TB
    table. ONE aggregate pass computes every statistic (the exact
    n-column distinct costs Catalyst an Expand — n× the scan rows
    through one shuffle; at 100 TB you swap approx_count_distinct in
    and the rest of the plan is unchanged), then a stack() unpivots the
    1-row aggregate into one row per column — the pivot happens on one
    row, not on the data.
    """
    orders = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(col).isNull().cast("long")).cast("long").alias(f"nn_{col}")
        )
        aggs.append(F.countDistinct(col).alias(f"nd_{col}"))
        if kind == "num":
            aggs.append(F.round(F.min(col), 2).cast("double").alias(f"mn_{col}"))
            aggs.append(F.round(F.max(col), 2).cast("double").alias(f"mx_{col}"))
        else:
            aggs.append(F.min(col).alias(f"ms_{col}"))
            aggs.append(F.max(col).alias(f"xs_{col}"))
    one = orders.agg(*aggs)
    rows = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            rows.append(
                f"'{col}', nn_{col}, nd_{col}, mn_{col}, mx_{col}, "
                "CAST(NULL AS STRING), CAST(NULL AS STRING)"
            )
        else:
            rows.append(
                f"'{col}', nn_{col}, nd_{col}, CAST(NULL AS DOUBLE), "
                f"CAST(NULL AS DOUBLE), ms_{col}, xs_{col}"
            )
    stack = (
        f"stack({len(_PROFILE_COLS)}, " + ", ".join(rows)
        + ") as (column_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
    )
    return one.select(F.expr(stack), "n_rows").select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


# ---------------------------------------------------------------------------
# dq_referential_integrity — FK orphan audit across the star schema
# ---------------------------------------------------------------------------


@query(
    "dq_referential_integrity",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS relationship,
           (SELECT count(*) FROM lineitem) AS n_child_rows,
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'orders without lineitem (childless)',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned foreign keys along every
    edge of the star schema, plus the reverse check (parents with no
    children). Each check is a left_anti join + count — the dim-sided
    ones (customer, nation) broadcast, the fact-fact one (orders vs
    lineitem) shuffles both sides on the key exactly like the joins the
    schema exists to serve. Anti-join IS the scan-shaped way to audit
    FKs at 100 TB: no sort, no distinct materialization, short-circuit
    per probe key. The four 1-row counts union into one audit report.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey")

    def check(name: str, child: DataFrame, parent: DataFrame, cond) -> DataFrame:
        total = child.agg(F.count(F.lit(1)).alias("n_child_rows"))
        orphans = child.join(parent, cond, "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        return (
            total.crossJoin(F.broadcast(orphans))
            .select(
                F.lit(name).alias("relationship"), "n_child_rows", "n_orphans"
            )
        )

    return (
        check(
            "lineitem.l_orderkey -> orders", li, orders,
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .unionByName(
            check(
                "orders.o_custkey -> customer", orders, F.broadcast(cust),
                F.col("o_custkey") == F.col("c_custkey"),
            )
        )
        .unionByName(
            check(
                "customer.c_nationkey -> nation", cust, F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
        )
        .unionByName(
            check(
                "orders without lineitem (childless)", orders, li,
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
        )
    )


# ---------------------------------------------------------------------------
# dq_benford_screen — first-significant-digit distribution vs Benford
# ---------------------------------------------------------------------------


@query(
    "dq_benford_screen",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 0.01
    ),
    hist AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT sum(n) AS t FROM hist)
    SELECT digit, n,
           floor(n / CAST(t AS DOUBLE) * 1e6 + 0.5) / 1e6 AS observed_freq,
           floor(log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6 AS benford_freq,
           abs(floor(n / CAST(t AS DOUBLE) * 1e6 + 0.5) / 1e6
               - floor(log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6) AS abs_dev
    FROM hist, tot
    """,
)
def dq_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals — the classic cheap fraud /
    synthetic-data detector: the first significant digit of natural
    monetary amounts follows log10(1+1/d). The digit is extracted from
    the CENTS integer's decimal string (first char of
    floor(price*100+.5) as text), never from log10 of a float — a price
    of exactly 100.00 would straddle the log10 power-of-ten boundary by
    one ulp and flip digits between engines. One hash aggregate over 9
    groups + a broadcast 1-row total; frequencies and the Benford
    expectation are both half-up rounded at 1e-6 before the deviation
    so the comparison is engine-stable.
    """
    orders = read_table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") >= 0.01).select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    hist = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = hist.agg(F.sum("n").alias("t"))
    obs = r6(F.col("n") / F.col("t").cast("double"))
    exp = r6(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")))
    return hist.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        obs.alias("observed_freq"),
        exp.alias("benford_freq"),
        F.abs(obs - exp).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# events_rfm_segments — recency/frequency/monetary quartile scoring
# ---------------------------------------------------------------------------


@query(
    "events_rfm_segments",
    """
    WITH p AS (
      SELECT user_id,
             date_diff('day',
                       CAST(max(ts) AS DATE),
                       (SELECT CAST(max(ts) AS DATE) FROM events)) AS recency_days,
             count(*) AS frequency,
             CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)), 2) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    q AS (
      SELECT
        floor(quantile_disc(recency_days, 0.25) * 1e6 + 0.5) / 1e6 AS r1,
        floor(quantile_disc(recency_days, 0.50) * 1e6 + 0.5) / 1e6 AS r2,
        floor(quantile_disc(recency_days, 0.75) * 1e6 + 0.5) / 1e6 AS r3,
        floor(quantile_disc(frequency, 0.25) * 1e6 + 0.5) / 1e6 AS f1,
        floor(quantile_disc(frequency, 0.50) * 1e6 + 0.5) / 1e6 AS f2,
        floor(quantile_disc(frequency, 0.75) * 1e6 + 0.5) / 1e6 AS f3,
        floor(quantile_disc(monetary, 0.25) * 1e6 + 0.5) / 1e6 AS m1,
        floor(quantile_disc(monetary, 0.50) * 1e6 + 0.5) / 1e6 AS m2,
        floor(quantile_disc(monetary, 0.75) * 1e6 + 0.5) / 1e6 AS m3
      FROM p
    )
    SELECT user_id, recency_days, frequency, monetary,
           1 + CAST(recency_days > r1 AS BIGINT) + CAST(recency_days > r2 AS BIGINT)
             + CAST(recency_days > r3 AS BIGINT) AS r_score,
           1 + CAST(frequency > f1 AS BIGINT) + CAST(frequency > f2 AS BIGINT)
             + CAST(frequency > f3 AS BIGINT) AS f_score,
           1 + CAST(monetary > m1 AS BIGINT) + CAST(monetary > m2 AS BIGINT)
             + CAST(monetary > m3 AS BIGINT) AS m_score
    FROM p, q
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation of purchasers —
    the feature triple behind most churn / LTV models. One keyed
    aggregate builds the per-user triple (monetary through an exact
    DECIMAL sum then rounded — double summation cent-flips across
    engines); quartile boundaries are ONE more 1-row sketch-percentile
    aggregate (approx_pctl == quantile_disc at the functions/sketch.py
    accuracy pin — mergeable fixed-bound state, never an exact buffer
    of every user, VERDICT r6 #4), broadcast back as a cross join —
    never an ntile, which
    would globally sort every user through a window. Scores count how
    many boundaries the value exceeds (1..4); boundaries are half-up
    rounded at 1e-6 first so ulp differences between
    engines can't flip a comparison; at 100 TB the same expression is
    the production boundary estimator.
    """
    events = read_table(spark, sf_dir, "events")
    p = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(F.round("value", 6).cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("monetary"),
        )
    )
    anchor = events.where(F.col("event_type") == "purchase").agg(
        F.max(F.to_date("ts")).alias("anchor_day")
    )
    p = p.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff("anchor_day", "last_day").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary",
    )
    # ONE sketch per column queried at all 3 quartiles (r9,
    # functions/sketch.approx_pctls — was 9 independent summaries)
    q = p.agg(
        *[
            r6(
                F.element_at(approx_pctls(c, (0.25, 0.50, 0.75)), i)
            ).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i in (1, 2, 3)
        ]
    )

    def score(col: str, pfx: str):
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{pfx}1")).cast("bigint")
            + (v > F.col(f"{pfx}2")).cast("bigint")
            + (v > F.col(f"{pfx}3")).cast("bigint")
        ).cast("bigint")

    return p.crossJoin(F.broadcast(q)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days", "r").alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# agg_gini_revenue — revenue concentration (Gini / Lorenz) over customers
# ---------------------------------------------------------------------------


@query(
    "agg_gini_revenue",
    """
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rn
      FROM rev
    ),
    s AS (
      SELECT count(*) AS n, sum(cents) AS t, sum(rn * cents) AS w
      FROM ranked
    )
    SELECT n AS n_customers,
           CAST(t AS DOUBLE) / 100 AS total_revenue,
           floor((2.0 * w / (CAST(n AS DOUBLE) * t)
                  - CAST(n + 1 AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 AS gini
    FROM s
    """,
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    one-number answer to "how skewed is our revenue?" (and, at training
    time, "how skewed is this sampling weight distribution?"). Revenue
    is summed as integer CENTS so every engine agrees bit-for-bit; the
    rank-weighted form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n needs a GLOBAL
    ascending rank, which uses the two-phase bucketed row number
    (operators/relational.py with_global_row_number) — the customer
    relation shuffles once on an order-preserving bucket key instead of
    collapsing into a single-partition window. All weighted sums stay
    BIGINT until the final double division, rounded half-up at 1e-6.
    """
    orders = read_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "cents"
        )
    )
    ranked = with_global_row_number(rev, ["cents", "o_custkey"], "rn")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("t"),
        F.sum(F.col("rn") * F.col("cents")).alias("w"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("t").cast("double") / 100).alias("total_revenue"),
        r6(
            F.lit(2.0) * F.col("w") / (F.col("n").cast("double") * F.col("t"))
            - (F.col("n") + 1).cast("double") / F.col("n")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# events_attribution_last_touch — last-touch channel attribution
# ---------------------------------------------------------------------------


@query(
    "events_attribution_last_touch",
    """
    WITH tagged AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           count(*) AS n_purchases,
           CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
                           AS DECIMAL(18,6)), 2) AS DOUBLE) AS attributed_value
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent PRECEDING non-purchase event type (the "channel");
    purchases with no prior touch are '(direct)'. One keyed window —
    last(ignorenulls) over (user, ts) with an unbounded-to-minus-1 row
    frame — does the per-user scan in a single pass; (user_id, ts) is
    unique in the fixture so the frame is deterministic. The attributed
    value is an exact DECIMAL sum rounded to cents (double summation
    drifts across engines). Keyed window + hash aggregate: partitions
    by user, no global sort, streams at any scale.
    """
    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = events.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("channel"),
    )
    return (
        tagged.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(direct)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.round("value", 6).cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
    )
