"""Warehouse-build operations tier: SCD2 interval construction,
deterministic stratified sampling, explicit-tie-break argmax, the Q21
multi-correlated-exists shape, and unrolled-iteration PageRank.

The reference's ETL scripts rebuild full snapshots every run
(SURVEY.md §2.10 exec_month_loop); a warehouse on 100 TB instead needs
history tracking (SCD2), per-stratum samples for eval sets, and graph
centrality over entity links. Everything here is pure DataFrame — the
iterative PageRank drives the loop from Python but each iteration is a
declarative join+agg Catalyst optimizes independently.

Determinism rules: every window ordering is total (ts is unique per
user in the fixture, and every rank order ends with a unique id);
argmax ties break explicitly on the smallest key rather than relying
on either engine's mode()/max_by() tie behavior, which is undefined in
both; PageRank emits 6dp half-up-rounded scores.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "scd2_intervals",
    f"""
    WITH marked AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts FROM marked
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           event_type AS attr,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                    '{_TS_FMT_DUCK}') AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL) AS is_current
    FROM changes
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: compress each user's
    event_type history into validity intervals [valid_from, valid_to)
    with an is_current flag — the standard dimension-history load a
    warehouse runs on every ingest.

    Two window passes, both partitioned by user_id: change detection
    (lag ≠ current) then interval closing (lead over the surviving
    change rows). Per-user windows scale — the shuffle key is user_id,
    there is no global ordering anywhere. ts is unique per user in the
    fixture so the ordering is total; a production run would order by
    (ts, event_id)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = marked.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", "event_type", "ts")
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(nxt, _TS_FMT_SPARK).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "sample_stratified",
    """
    SELECT event_id, event_type
    FROM (
        SELECT event_id, event_type,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR) || ':strat'), event_id
               ) AS rn
        FROM events
    )
    WHERE rn <= 50
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 50 rows per event_type,
    chosen by md5 rank — content-addressed like sample_hash_split, so
    the sample is stable across reruns, engines, and cluster sizes (no
    RNG, no seed plumbing). This is how you cut a fixed eval set per
    stratum out of a 100 TB corpus.

    The window partitions by stratum; with K strata the shuffle has K
    keys, so for small K at huge scale you'd salt the rank into
    two stages (per-partition top-50 then merge) — Spark's
    TakeOrdered does exactly that shape for the global case."""
    ev = read_table(spark, sf_dir, "events")
    h = F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":strat")))
    w = Window.partitionBy("event_type").orderBy(h, "event_id")
    return (
        ev.select("event_id", "event_type", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 50)
        .drop("rn")
    )


@query(
    "agg_argmax_per_group",
    """
    SELECT event_type, user_bucket AS top_bucket, c AS n_events
    FROM (
        SELECT event_type, user_bucket, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, user_bucket) AS rn
        FROM (
            SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        )
    )
    WHERE rn = 1
    """,
)
def agg_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax with an explicit tie-break: the busiest user bucket per
    event type. Both Spark's max_by() and DuckDB's arg_max() leave tie
    order undefined, so a cross-engine-stable argmax must rank
    explicitly — count desc, then smallest bucket.

    The pre-aggregate collapses events to ≤ |types|·10 rows before the
    window ever runs, so the 'rank within group' shuffle moves a
    constant-size table no matter the input scale."""
    ev = read_table(spark, sf_dir, "events")
    wc = (
        ev.groupBy("event_type", (F.col("user_id") % 10).cast("long").alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), "user_bucket")
    return (
        wc.select("event_type", "user_bucket", "c", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("user_bucket").alias("top_bucket"),
            F.col("c").alias("n_events"),
        )
    )


@query(
    "subq_exists_chain",
    """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def subq_exists_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for returns in
    multi-supplier orders — a correlated EXISTS and NOT EXISTS chained
    on the same self-joined fact table.

    Decorrelated to one semi join (some other supplier shares the
    order) and one anti join (no other supplier also returned),
    both hash joins keyed on l_orderkey with the suppkey inequality
    as a residual condition. All three legs shuffle on the same key,
    so AQE lines them up in one exchange; the dim lookup (supplier
    name) is a broadcast at the very end, after the fact rows have
    been winnowed."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    cand = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    ).distinct()
    others_r = (
        li.where(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("o3_orderkey"),
            F.col("l_suppkey").alias("o3_suppkey"),
        )
        .distinct()
    )
    survivors = (
        cand.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            others_r,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        survivors.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank as chained CTEs (DuckDB oracle)."""
    head = """
    WITH edges AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""
    step = """,
    pr{k} AS (
        SELECT nodes.node,
               {one_minus_d} / (SELECT n FROM nn) + {d} * coalesce(m.s, 0) AS pr
        FROM nodes LEFT JOIN (
            SELECT e.dst, sum(p.pr / o.od) AS s
            FROM edges e
            JOIN pr{prev} p ON p.node = e.src
            JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
        ) m ON m.dst = nodes.node
    )"""
    sql = head
    for k in range(1, _PR_ITERS + 1):
        sql += step.format(k=k, prev=k - 1, d=_PR_D, one_minus_d=round(1 - _PR_D, 4))
    sql += f"""
    SELECT node, floor(pr * 1e6 + 0.5) / 1e6 AS pagerank
    FROM pr{_PR_ITERS}
    """
    return sql


@query("graph_pagerank_iter", _pagerank_oracle())
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 3 synchronous iterations, no dangling-mass
    redistribution) over the supplier→customer trade graph — link
    analysis over entity edges, the second iterative-algorithm pattern
    beside connected components (operators/graph.py).

    Python drives the fixed iteration count but every iteration is one
    declarative join+agg. Scale-shaping decisions, in plan order:
    (1) node ids are LONGS (suppkey*2 / custkey*2+1, bipartite-disjoint)
    through every shuffle and sort; the 's'/'c' string labels the oracle
    emits are reconstructed only in the final projection — 8-byte keys
    beat strings on every exchange and sort comparator. (2) The edge
    table is built with ONE shuffle: the orders dim broadcasts into the
    fact scan, an explicit repartition(src) lays the raw pairs out
    hash(src), and because hash(src) already clusters (src, dst), both
    the dedup groupBy(src, dst) AND the out-degree window over src run
    exchange-free on that layout — which is also the layout persisted
    for the iterations. (3) Per iteration the probe join on src moves
    only the n-row rank vector (shuffle_hash hint: the rank side is the
    hash build, the big cached edge side streams without the
    per-iteration sort a merge join would force); the only full exchange
    left is the groupBy(dst) contribution shuffle — the irreducible
    communication of synchronous PageRank. (4) Nodes persist hash(node),
    which the rank update's left join (node == dst) satisfies against
    the contribution aggregate's hash(dst) layout. The node count rides
    along as a broadcast 1-row aggregate rather than a driver-side
    collect."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.lit(1))
        .select("src", "dst")
        .withColumn(
            "od",
            F.count(F.lit(1)).over(Window.partitionBy("src")).cast("double"),
        )
        .transform(_pin_lazy)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(_pin_lazy)
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contribs = (
            edges.join(ranks.hint("shuffle_hash"), F.col("node") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("od")).alias("s"))
        )
        ranks = (
            nodes.join(
                contribs.hint("shuffle_hash"), F.col("dst") == F.col("node"), "left"
            )
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.lit(round(1 - _PR_D, 4)) / F.col("n")
                    + F.lit(_PR_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("s"), (F.col("node") / 2).cast("long")),
        )
        .otherwise(F.concat(F.lit("c"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node"),
        r6(F.col("pr")).alias("pagerank"),
    )


@query(
    "events_date_spine_gapfill",
    """
    WITH bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(spine.day, '%Y-%m-%d') AS day,
           coalesce(n, 0) AS n,
           coalesce(sum_value, 0.0) AS sum_value
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def events_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: a generated calendar joined against daily
    purchase totals so days with zero activity appear as explicit zero
    rows — the prerequisite for any time-series model or dashboard
    (missing rows silently read as 'no data' otherwise).

    The spine is sequence() over the observed [min,max] date bounds —
    a 1-row aggregate exploded to |days| rows, broadcast onto the daily
    aggregate. Spine size grows with the calendar, not the data: at
    100 TB it is still a few thousand rows."""
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("e_day"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return (
        F.broadcast(spine)
        .join(daily, F.col("day") == F.col("e_day"), "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "feature_scale_minmax",
    """
    WITH stats AS (
        SELECT event_type,
               min(value) AS vmin,
               max(value) AS vmax
        FROM events GROUP BY event_type
    )
    SELECT event_id,
           e.event_type,
           CASE WHEN vmax = vmin THEN 0.0
                ELSE floor((value - vmin) / (vmax - vmin) * 1e6 + 0.5) / 1e6
           END AS value_scaled
    FROM events e JOIN stats USING (event_type)
    """,
)
def feature_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling to [0,1] — the training-data
    normalization pass, computed as a grouped stats aggregate broadcast
    back onto the stream (two scans of one column, zero UDFs, no
    driver round-trip for the statistics).

    The degenerate group (constant value) maps to 0.0 explicitly; the
    scale itself is rounded 6dp half-up so results are engine-stable.
    At 100 TB the stats side is |groups| rows — always broadcastable —
    and Catalyst pushes the column pruning into both scans."""
    ev = read_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("s_type")).agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    return (
        ev.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .select(
            "event_id",
            "event_type",
            F.when(F.col("vmax") == F.col("vmin"), F.lit(0.0))
            .otherwise(
                r6((F.col("value") - F.col("vmin")) / (F.col("vmax") - F.col("vmin")))
            )
            .alias("value_scaled"),
        )
    )


@query(
    "join_full_outer_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
        SELECT o_orderkey,
               round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                          ELSE o_totalprice END, 2) AS price
        FROM orders
    )
    SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN v1.price <> v2.price THEN 'changed'
                ELSE 'same' END AS change,
           count(*) AS n
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    GROUP BY 1
    """,
)
def join_full_outer_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions via FULL OUTER join —
    the audit a warehouse runs after every load: what was added,
    removed, changed, unchanged. (v2 simulates an incremental load:
    every 10th key restored, every 7th key repriced.)

    Full outer is the one join that must keep both sides' unmatched
    rows; Spark plans it as a single shuffle on the key with both
    sides streamed — no broadcast is possible by definition, so at
    100 TB this is exactly one co-partitioned exchange per side, and
    the change classification is a post-join map."""
    orders = read_table(spark, sf_dir, "orders")
    v1 = orders.where(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k1"), F.round("o_totalprice", 2).alias("p1")
    )
    v2 = orders.select(
        F.col("o_orderkey").alias("k2"),
        F.round(
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
            2,
        ).alias("p2"),
    )
    diff = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    change = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("same")
    )
    return diff.select(change.alias("change")).groupBy("change").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT cur, nxt, count(*) AS n
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY cur, nxt
    ),
    totals AS (SELECT cur, sum(n) AS tot FROM pairs GROUP BY cur)
    SELECT pairs.cur, nxt, n,
           floor(CAST(n AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS p
    FROM pairs JOIN totals ON pairs.cur = totals.cur
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the sequence-model prior
    a behavioral pipeline extracts before training anything heavier.

    One user-keyed lead() window builds the bigrams (per-user windows,
    no global ordering), then two tiny aggregates over the ≤ |types|²
    pair domain; probabilities divide exact counts and round half-up,
    so the matrix is engine-stable. At 100 TB the window shuffles once
    on user_id and everything after is constant-size."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy(F.col("cur").alias("t_cur")).agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), F.col("cur") == F.col("t_cur"))
        .select(
            "cur",
            "nxt",
            "n",
            r6(F.col("n").cast("double") / F.col("tot")).alias("p"),
        )
    )


@query(
    "feature_winsorize",
    """
    WITH cuts AS (
        SELECT event_type,
               quantile_disc(value, 0.05) AS p05,
               quantile_disc(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT event_id,
           e.event_type,
           floor(least(greatest(value, p05), p95) * 1e6 + 0.5) / 1e6 AS value_w,
           (value < p05 OR value > p95) AS clipped
    FROM events e JOIN cuts USING (event_type)
    """,
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp values into [p05, p95] and flag
    what was clipped — the outlier-taming pass run before scaling or
    training on heavy-tailed features.

    The cut points come from approx_percentile, Spark's mergeable
    percentile sketch — the 100 TB path, since exact percentiles need a
    global sort. With accuracy >= the fixture row count the sketch
    degenerates to the exact order statistic (== DuckDB quantile_disc),
    so the SAME operator is oracle-checkable at test scale and still a
    true sketch at production scale (plans/advanced.py precedent). The
    |groups|-row cut table broadcasts back onto the stream."""
    ev = read_table(spark, sf_dir, "events")
    cuts = ev.groupBy(F.col("event_type").alias("c_type")).agg(
        F.expr("approx_percentile(value, 0.05, 1000000)").alias("p05"),
        F.expr("approx_percentile(value, 0.95, 1000000)").alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(cuts), F.col("event_type") == F.col("c_type"))
        .select(
            "event_id",
            "event_type",
            r6(clamped).alias("value_w"),
            ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias(
                "clipped"
            ),
        )
    )


@query(
    "events_time_weighted_avg",
    """
    WITH spans AS (
        SELECT user_id, value, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
        FROM events
    )
    SELECT user_id, n_spans,
           CAST((CAST(num * 100 AS HUGEINT) * 1000000 + CAST(den AS HUGEINT) * 50)
                // (CAST(den AS HUGEINT) * 100) AS DOUBLE) / 1e6 AS twavg
    FROM (
        SELECT user_id,
               count(*) AS n_spans,
               sum(CAST(value AS DECIMAL(12,2))
                   * CAST(epoch_us(nxt) - epoch_us(ts) AS DECIMAL(20,0))) AS num,
               sum(epoch_us(nxt) - epoch_us(ts)) AS den
        FROM spans WHERE nxt IS NOT NULL
        GROUP BY user_id
    )
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over irregularly-sampled values:
    each reading holds until the next one, so its weight is the span it
    covered. The unweighted mean would let burst periods dominate —
    this is the standard fix for sensor/metric streams.

    Numeric discipline (two prior formulations failed the oracle):
    span weights are exact integer MICROSECONDS (unix_micros/epoch_us —
    ms truncation on one side shifts the 6th decimal), the weighted sum
    stays decimal end to end (double sums at ~1e14 carry ulp noise
    bigger than 6dp granularity), and the half-up 6dp ratio is pure
    INTEGER division — DuckDB's DECIMAL->DOUBLE cast is not correctly
    rounded where Spark's is, so the division must never touch floats.

    One user-keyed lead() window to close the spans, then a weighted
    aggregate. Weights are exact integer milliseconds; only the final
    ratio is floating point, rounded half-up after the division of two
    exact sums in decimal, and the half-up 6dp ratio is computed with
    integer division — never a float divide. (Two prior formulations
    failed the oracle: double-typed weighted sums at ~1e14 magnitude
    carry ulp noise bigger than 6dp granularity, and even with exact
    decimal sums DuckDB's DECIMAL->DOUBLE cast is not correctly
    rounded where Spark's is.)"""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    spans = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t0"),
        F.unix_micros(F.lead("ts").over(w)).alias("t1"),
    ).where(F.col("t1").isNotNull())
    dur = F.col("t1") - F.col("t0")  # exact integer micros
    weighted = F.col("value").cast("decimal(12,2)") * dur.cast("decimal(20,0)")
    agg = spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(weighted).alias("num"),
        F.sum(dur).alias("den"),
    )
    # half-up 6dp ratio in PURE integer arithmetic: floor(num/den*1e6+.5)
    # == (num*100*1e6 + den*50) div (den*100). Both engines' DECIMAL->
    # DOUBLE casts disagree in the last ulp (DuckDB's is not correctly
    # rounded), so the division must never touch floating point.
    q6 = F.expr(
        "(CAST(num * 100 AS DECIMAL(22,0)) * 1000000 + CAST(den AS DECIMAL(22,0)) * 50)"
        " div (CAST(den AS DECIMAL(22,0)) * 100)"
    )
    return agg.select(
        "user_id", "n_spans", (q6.cast("double") / 1e6).alias("twavg")
    )


@query(
    "graph_two_hop_reach",
    """
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    SELECT e1.s AS suppkey,
           count(DISTINCT e2.s) AS n_two_hop
    FROM edges e1 JOIN edges e2 ON e1.c = e2.c AND e1.s <> e2.s
    GROUP BY e1.s
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability in the supplier—customer bipartite graph:
    for each supplier, how many OTHER suppliers share at least one
    customer — the co-occurrence/competition neighborhood, and the
    third graph primitive beside connected components and PageRank.

    One self-join of the deduplicated edge list on the shared customer
    (shuffle keys on c, both sides identical → one exchange, reused),
    then a distinct-count per supplier. At 100 TB the guard is the hub
    problem: a customer connected to k suppliers contributes k² pairs,
    so production runs cap or sample hub keys first — the same skew
    playbook as join_salted_skew; the fixture's fan-out is bounded by
    construction."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    e2 = edges.select(F.col("s").alias("s2"), F.col("c").alias("c2"))
    return (
        edges.join(e2, (F.col("c") == F.col("c2")) & (F.col("s") != F.col("s2")))
        .groupBy(F.col("s").alias("suppkey"))
        .agg(F.countDistinct("s2").alias("n_two_hop"))
    )


_INTERVAL_OVERLAP_SQL = """
    WITH sess AS (
        SELECT user_id,
               min(ts) AS s_start,
               max(ts) AS s_end
        FROM (
            SELECT user_id, ts,
                   sum(CASE WHEN prev IS NULL
                            OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts) AS sess_id
            FROM (SELECT user_id, ts,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                  FROM events)
        )
        GROUP BY user_id, sess_id
    ),
    bounds AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
    ),
    win AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
    )
    SELECT strftime(win.day, '%Y-%m-%d') AS day,
           count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users
    FROM win JOIN sess
      ON sess.s_start < win.day + INTERVAL 4 HOUR
     AND CAST(win.day AS TIMESTAMP) + INTERVAL 2 HOUR < sess.s_end
    GROUP BY win.day
    """


@query("join_interval_overlap", _INTERVAL_OVERLAP_SQL)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user activity sessions (30-minute-gap
    sessionization) overlapped against daily 02:00–04:00 maintenance
    windows — "whose sessions would tonight's maintenance interrupt".
    Completes the temporal-join family: as-of (point-to-latest), range
    (point-in-interval), and now interval-to-interval overlap.

    The window side is a generated calendar (|days| rows — always
    broadcastable), so the overlap is a broadcast nested-loop with two
    range predicates over a bounded build side: the 100 TB-safe shape
    for interval joins where one side is small. Symmetric big-big
    interval overlap would instead bucket both sides by coarse time
    grid (the LSH-band trick in the time domain)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = (
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > 1800 * 1_000_000)
    ).cast("long")
    sess = (
        ev.select("user_id", "ts", new_sess.alias("brk"))
        .select(
            "user_id",
            "ts",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sess_id"),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    win = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    w_start = F.col("day").cast("timestamp") + F.expr("INTERVAL 2 HOURS")
    w_end = F.col("day").cast("timestamp") + F.expr("INTERVAL 4 HOURS")
    return (
        F.broadcast(win)
        .join(sess, (F.col("s_start") < w_end) & (w_start < F.col("s_end")))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query("join_interval_overlap_grid", _INTERVAL_OVERLAP_SQL)
def join_interval_overlap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grid form of `join_interval_overlap` — the SYMMETRIC-scale
    twin its docstring promises: instead of a broadcast nested-loop of
    every session against every maintenance window (fine while one side
    is |days|, quadratic the moment both sides scale), each session
    expands map-side to the days it touches (`sequence(date(s_start),
    date(s_end))` — bounded fan-out: a 30-minute-gap session rarely
    spans 2 days) and the exact two-sided overlap predicate filters the
    expansion. Because the daily window is derivable from the day value
    itself, the join disappears entirely: sessionize (one window
    shuffle), explode days, filter, aggregate. This is the time-domain
    LSH-band trick, and it is the plan a 100 TB deployment runs when
    the window side is also large: both sides band to the same coarse
    grid and meet on an equi-key instead of a theta predicate.

    Same oracle as the nested-loop form — two plans, one truth."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = (
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > 1800 * 1_000_000)
    ).cast("long")
    sess = (
        ev.select("user_id", "ts", new_sess.alias("brk"))
        .select(
            "user_id",
            "ts",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sess_id"),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    days = sess.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("day"),
    )
    w_start = F.col("day").cast("timestamp") + F.expr("INTERVAL 2 HOURS")
    w_end = F.col("day").cast("timestamp") + F.expr("INTERVAL 4 HOURS")
    return (
        days.where((F.col("s_start") < w_end) & (w_start < F.col("s_end")))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# scd2_pointintime — month-end snapshot join against the SCD2 dimension
# ---------------------------------------------------------------------------

_PIT_ORACLE = f"""
WITH marked AS (
    SELECT user_id, event_type, ts,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
    FROM events
), changes AS (
    SELECT user_id, event_type, ts FROM marked
    WHERE prev_type IS NULL OR prev_type <> event_type
), intervals AS (
    SELECT user_id, event_type AS attr, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
    FROM changes
), bounds AS (
    SELECT last_day(CAST(min(ts) AS DATE)) AS lo,
           last_day(CAST(max(ts) AS DATE)) AS hi
    FROM events
), monthends AS (
    SELECT DISTINCT last_day(CAST(unnest(generate_series(lo, hi, INTERVAL '1 month')) AS DATE)) AS m
    FROM bounds
)
SELECT strftime(me.m, '%Y-%m-%d') AS as_of, i.user_id, i.attr
FROM intervals i JOIN monthends me
  ON i.valid_from <= CAST(me.m AS TIMESTAMP) + INTERVAL '1 day' - INTERVAL '1 microsecond'
 AND (i.valid_to IS NULL
      OR i.valid_to > CAST(me.m AS TIMESTAMP) + INTERVAL '1 day' - INTERVAL '1 microsecond')
"""


@query("scd2_pointintime", _PIT_ORACLE)
def scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 dimension: each user's active
    attribute as of every month-end in the data's range — the "state of
    the world at close of books" query that every warehouse asks of its
    dimension history. The interval build is the scd2_intervals plan
    (per-user windows, user_id shuffle key only). The month-end spine is
    a few dozen rows, broadcast; the validity-range predicate runs as a
    broadcast nested-loop against it, so the dimension never re-shuffles
    and there is no row-pair explosion beyond intervals × months.
    last-instant-of-day semantics: an interval covers the month-end iff
    it spans 23:59:59.999999 of that day.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.select(
        "user_id", "event_type", "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = marked.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", "event_type", "ts")
    intervals = changes.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w.orderBy("ts")).alias("valid_to"),
    )
    bounds = ev.agg(
        F.last_day(F.min("ts").cast("date")).alias("lo"),
        F.last_day(F.max("ts").cast("date")).alias("hi"),
    )
    monthends = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("m")
    ).select(F.last_day("m").alias("m"))
    # sequence() steps by calendar month from `lo` (a month-end), which
    # can land mid-month (e.g. Jan 31 + 1 month = Feb 28 -> Mar 28):
    # re-normalize every step to its month-end and dedup.
    monthends = monthends.distinct()
    instant = F.col("m").cast("timestamp") + F.expr(
        "interval 1 day"
    ) - F.expr("interval 1 microsecond")
    joined = intervals.join(
        F.broadcast(monthends),
        (F.col("valid_from") <= instant)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > instant)),
    )
    return joined.select(
        F.date_format("m", "yyyy-MM-dd").alias("as_of"), "user_id", "attr"
    )


# ---------------------------------------------------------------------------
# graph_degree_distribution — degree histogram of the supplier-part graph
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = """
WITH deg AS (
    SELECT l_suppkey, count(DISTINCT l_partkey) AS degree
    FROM lineitem GROUP BY 1
)
SELECT degree, count(*) AS n_suppliers
FROM deg GROUP BY degree
"""


@query("graph_degree_distribution", _DEGREE_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier→part bipartite trade graph —
    the first diagnostic run on any graph (skew detection before a join
    or traversal: a power-law tail here predicts hot keys everywhere
    else). Two hash aggregates: distinct-neighbor count per vertex (the
    only data-sized shuffle, on the vertex key), then a histogram over
    the per-vertex degrees whose keyspace is tiny. This is also the
    query that tells the salted-join tier (join_salted_skew) what salt
    factor the skewed keys need.
    """
    li = read_table(spark, sf_dir, "lineitem")
    deg = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_suppliers"))


# ---------------------------------------------------------------------------
# graph_random_walks — content-addressed walk sampling (node2vec input)
# ---------------------------------------------------------------------------

_WALK_STEPS = 4


def _walks_sql() -> str:
    head = """
WITH e0 AS (
    SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
w0 AS (SELECT src AS walk_id, src AS cur,
              CAST(src AS VARCHAR) AS path
       FROM (SELECT DISTINCT src FROM edges WHERE src < 80))"""
    step = """,
c{k} AS (
    SELECT walk_id, path, e.dst,
           row_number() OVER (
               PARTITION BY walk_id
               ORDER BY md5(CAST(w{p}.cur AS VARCHAR) || ':' || '{k}' || ':'
                            || CAST(e.dst AS VARCHAR)), e.dst) AS rn
    FROM w{p} JOIN edges e ON e.src = w{p}.cur
),
w{k} AS (
    SELECT walk_id, dst AS cur, path || '>' || CAST(dst AS VARCHAR) AS path
    FROM c{k} WHERE rn = 1
)"""
    sql = head
    for k in range(1, _WALK_STEPS + 1):
        sql += step.format(k=k, p=k - 1)
    return (
        sql
        + f"""
SELECT walk_id, path, cur AS final_node FROM w{_WALK_STEPS}
"""
    )


@query("graph_random_walks", _walks_sql())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed random walks over the (undirected) trade graph
    — the sampling pass that feeds node2vec/DeepWalk graph-embedding
    training, made deterministic the engine's standard way: at step t
    from node u, the walker moves to the neighbor minimizing
    md5(u:t:v) (the `stats_bootstrap_poisson` discipline — a hash IS a
    reproducible uniform draw, so 1000 executors sample identical walks
    with zero RNG coordination). One walk per supplier node below the
    start bound, 4 steps.

    Each step is one join (current frontier x edges, keyed on the
    current node) plus a per-walk rank-1 window over that walk's
    neighbor set — the frontier stays one row per walk, and the edge
    relation is built once (both directions) and persisted. Linear
    lineage: 4 joins, no re-expansion."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct().transform(_pin_lazy)
    w = (
        edges.where(F.col("src") < 80)
        .select("src")
        .distinct()
        .select(
            F.col("src").alias("walk_id"),
            F.col("src").alias("cur"),
            F.col("src").cast("string").alias("path"),
        )
    )
    for k in range(1, _WALK_STEPS + 1):
        cand = w.join(edges, F.col("src") == F.col("cur")).select(
            "walk_id",
            "path",
            "dst",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("cur").cast("string"),
                    F.lit(str(k)),
                    F.col("dst").cast("string"),
                )
            ).alias("h"),
        )
        wr = Window.partitionBy("walk_id").orderBy("h", "dst")
        w = (
            cand.select(
                "walk_id", "path", "dst", F.row_number().over(wr).alias("rn")
            )
            .where(F.col("rn") == 1)
            .select(
                "walk_id",
                F.col("dst").alias("cur"),
                F.concat(F.col("path"), F.lit(">"), F.col("dst").cast("string")).alias(
                    "path"
                ),
            )
        )
    return w.select("walk_id", "path", F.col("cur").alias("final_node"))
