"""Enrichment / causal-readout tier: three platform staples with
non-obvious scalable forms — network-zone enrichment by longest-prefix
CIDR match, regression-discontinuity readout of an intervention on the
event stream, and game-theoretic (Shapley) credit assignment across
marketing channels.

Scale notes baked into each builder:
- longest-prefix match is NOT a range/theta join: each IP expands to
  one masked key per distinct prefix length in the table (bounded
  4x fan-out), the match is a broadcast hash EQUI-join on
  (prefix_len, masked_ip), and arg-max-by-length picks the most
  specific route — the classic routing-table trick that turns LPM
  into a join a 1000-executor cluster can run. Masks are bit shifts
  on bigints, exact in both engines;
- the interrupted time-series fits BOTH regression segments (pre/post
  intervention) from one conditional aggregate over the day-grain
  rollup: era-conditional integer sums (n, Σx, Σy, Σxx, Σxy per
  side) feed the closed-form OLS, so the causal readout (slope
  change + level jump at the cut) costs one scan of the fact and
  arithmetic over a per-type rollup — no per-segment re-scan;
- Shapley attribution is exact, not sampled: with a bounded channel
  set the user universe collapses to the 8-row channel-subset
  rollup (one hash aggregate over per-user flags), coalition values
  pivot into one row, and the Shapley weights (1/3, 1/6) apply in
  closed form — the fact is touched once however many users exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# join_ip_cidr_prefix — longest-prefix CIDR match as bounded equi-join
# ---------------------------------------------------------------------------

# (masked_base, prefix_len, zone): base is ALREADY right-shifted by
# (32 - len). Overlapping routes make longest-prefix selection matter;
# the /0 default route matches everything.
_CIDRS = [
    (0, 0, "internet"),
    (10, 8, "corp"),
    (10 * 256 + 1, 16, "corp-eng"),
    ((10 * 256 + 1) * 256 + 2, 24, "corp-eng-lab"),
    (172, 8, "dmz"),
    (172 * 256 + 16, 16, "dmz-partner"),
    (192, 8, "vpn"),
    (192 * 256 + 168, 16, "vpn-site"),
    ((192 * 256 + 168) * 256 + 1, 24, "vpn-site-hq"),
    (54, 8, "cloud-a"),
    (13, 8, "cloud-b"),
    (100, 8, "cgnat"),
]
_PREFIX_LENS = sorted({l for _, l, _ in _CIDRS})

_CIDR_VALUES = ", ".join(f"({b}, {l}, '{z}')" for b, l, z in _CIDRS)

_CIDR_ORACLE = f"""
WITH cidrs(base, len, zone) AS (VALUES {_CIDR_VALUES}),
ips AS (
    SELECT c_custkey,
           (c_custkey * 2654435761) % 4294967296 AS ip
    FROM customer
),
cand AS (
    SELECT i.c_custkey, i.ip, l.len,
           i.ip >> (32 - l.len) AS masked
    FROM ips i
    CROSS JOIN (SELECT UNNEST({_PREFIX_LENS!r}::BIGINT[]) AS len) l
),
matched AS (
    SELECT c.c_custkey, c.ip, arg_max(cd.zone, cd.len) AS zone,
           MAX(cd.len) AS prefix_len
    FROM cand c JOIN cidrs cd ON c.len = cd.len AND c.masked = cd.base
    GROUP BY 1, 2
)
SELECT c_custkey, ip, zone, prefix_len FROM matched
"""


@query("join_ip_cidr_prefix", _CIDR_ORACLE)
def join_ip_cidr_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix CIDR enrichment: map each (synthetic) client IP to
    its most specific network zone from an overlapping routing table —
    the canonical log-enrichment step (geo/VPN/datacenter tagging)
    that is naively a theta join on range containment. The routing-
    table trick makes it a bounded equi-join: the table holds only
    {len(_PREFIX_LENS)} distinct prefix lengths, so each IP emits one
    right-shifted key per length and hash-joins the broadcast route
    table on (len, masked); arg-max over the matched lengths is the
    longest prefix. The /0 default route guarantees totality (every
    IP resolves), and /8 < /16 < /24 overlaps exercise specificity.
    Shifts and masks are bigint-exact in both engines — no string
    parsing of dotted quads in the hot path.
    """
    cust = read_table(spark, sf_dir, "customer")
    ips = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 2654435761) % 4294967296).alias("ip"),
    )
    lens = spark.createDataFrame(
        [(l,) for l in _PREFIX_LENS], "len long"
    )
    cidrs = spark.createDataFrame(_CIDRS, "base long, len long, zone string")
    cand = ips.join(F.broadcast(lens)).select(
        "c_custkey",
        "ip",
        "len",
        F.expr("shiftright(ip, CAST(32 - len AS INT))").alias("masked"),
    )
    return (
        cand.join(
            F.broadcast(cidrs),
            (cand.len == cidrs.len) & (cand.masked == cidrs.base),
        )
        .groupBy("c_custkey", "ip")
        .agg(
            F.max_by("zone", cidrs.len).alias("zone"),
            F.max(cidrs.len).alias("prefix_len"),
        )
    )


# ---------------------------------------------------------------------------
# events_interrupted_ts — two-segment causal readout in one pass
# ---------------------------------------------------------------------------

_ITS_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS BIGINT) AS x,
           COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
bounded AS (
    SELECT event_type, x, y,
           (MAX(x) OVER (PARTITION BY event_type) + 1) // 2 AS t0
    FROM daily
),
sums AS (
    SELECT event_type, MAX(t0) AS t0,
           SUM(CASE WHEN x < t0 THEN 1 ELSE 0 END) AS n0,
           SUM(CASE WHEN x < t0 THEN x ELSE 0 END) AS sx0,
           SUM(CASE WHEN x < t0 THEN y ELSE 0 END) AS sy0,
           SUM(CASE WHEN x < t0 THEN x * x ELSE 0 END) AS sxx0,
           SUM(CASE WHEN x < t0 THEN x * y ELSE 0 END) AS sxy0,
           SUM(CASE WHEN x >= t0 THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN x >= t0 THEN x ELSE 0 END) AS sx1,
           SUM(CASE WHEN x >= t0 THEN y ELSE 0 END) AS sy1,
           SUM(CASE WHEN x >= t0 THEN x * x ELSE 0 END) AS sxx1,
           SUM(CASE WHEN x >= t0 THEN x * y ELSE 0 END) AS sxy1
    FROM bounded GROUP BY event_type
),
fit AS (
    SELECT event_type, t0, n0, n1,
           (CAST(n0 * sxy0 - sx0 * sy0 AS DOUBLE))
               / (n0 * sxx0 - sx0 * sx0) AS b0,
           (CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE))
               / (n1 * sxx1 - sx1 * sx1) AS b1,
           CAST(sy0 AS DOUBLE) / n0 AS my0, CAST(sx0 AS DOUBLE) / n0 AS mx0,
           CAST(sy1 AS DOUBLE) / n1 AS my1, CAST(sx1 AS DOUBLE) / n1 AS mx1
    FROM sums
)
SELECT event_type,
       floor(b0 * 1e6 + 0.5) / 1e6 AS slope_pre,
       floor(b1 * 1e6 + 0.5) / 1e6 AS slope_post,
       floor(((my1 + b1 * (t0 - mx1)) - (my0 + b0 * (t0 - mx0))) * 1e6 + 0.5)
           / 1e6 AS level_jump
FROM fit
"""


@query("events_interrupted_ts", _ITS_ORACLE)
def events_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented regression) readout: for each
    event_type, fit daily-volume trend lines BEFORE and AFTER the
    mid-window intervention day and report the slope change and the
    level jump at the cut — the standard quasi-experimental answer to
    "did the rollout on day t0 change anything" when no A/B holdout
    exists. Both segments come from ONE era-conditional aggregate over
    the day-grain rollup (exact integer sufficient statistics per
    side — the `ml_cv_fold_ols` pattern applied to a time cut), the
    intervention day derives from the observed span (a keyed window
    over the tiny rollup), and the two closed-form OLS lines are
    evaluated at t0 from ~10 numbers per event_type. No per-segment
    re-scan, no driver-side fitting.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    bounded = daily.withColumn(
        "t0",
        F.expr("(MAX(x) OVER (PARTITION BY event_type) + 1) div 2"),
    )
    pre = F.col("x") < F.col("t0")

    def s(c, side):
        cond = pre if side == 0 else ~pre
        return F.sum(F.when(cond, c).otherwise(F.lit(0)))

    sums = bounded.groupBy("event_type").agg(
        F.max("t0").alias("t0"),
        *[
            s(expr, side).alias(f"{name}{side}")
            for side in (0, 1)
            for name, expr in [
                ("n", F.lit(1)),
                ("sx", F.col("x")),
                ("sy", F.col("y")),
                ("sxx", F.col("x") * F.col("x")),
                ("sxy", F.col("x") * F.col("y")),
            ]
        ],
    )

    def fit(side):
        n, sx, sy, sxx, sxy = (
            F.col(f"{c}{side}") for c in ("n", "sx", "sy", "sxx", "sxy")
        )
        b = (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx)
        my, mx = sy.cast("double") / n, sx.cast("double") / n
        return b, my, mx

    b0, my0, mx0 = fit(0)
    b1, my1, mx1 = fit(1)
    t0 = F.col("t0")
    jump = (my1 + b1 * (t0 - mx1)) - (my0 + b0 * (t0 - mx0))

    return sums.select(
        "event_type",
        r6(b0).alias("slope_pre"),
        r6(b1).alias("slope_post"),
        r6(jump).alias("level_jump"),
    )


# ---------------------------------------------------------------------------
# events_attribution_shapley — exact Shapley credit over channel subsets
# ---------------------------------------------------------------------------

_SHAP_ORACLE = """
WITH peruser AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
           MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY 1
),
cells AS (
    SELECT c, v, s, COUNT(*) AS n, SUM(conv) AS k
    FROM peruser GROUP BY 1, 2, 3
),
vals AS (
    SELECT
      COALESCE(MAX(CASE WHEN c=0 AND v=0 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS v000,
      COALESCE(MAX(CASE WHEN c=1 AND v=0 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS v100,
      COALESCE(MAX(CASE WHEN c=0 AND v=1 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS v010,
      COALESCE(MAX(CASE WHEN c=0 AND v=0 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS v001,
      COALESCE(MAX(CASE WHEN c=1 AND v=1 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS v110,
      COALESCE(MAX(CASE WHEN c=1 AND v=0 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS v101,
      COALESCE(MAX(CASE WHEN c=0 AND v=1 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS v011,
      COALESCE(MAX(CASE WHEN c=1 AND v=1 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS v111
    FROM cells
)
SELECT channel,
       floor(shapley * 1e6 + 0.5) / 1e6 AS shapley
FROM (
    SELECT 'click' AS channel,
           (v100 - v000) / 3 + (v110 - v010) / 6 + (v101 - v001) / 6
           + (v111 - v011) / 3 AS shapley
    FROM vals
    UNION ALL
    SELECT 'view',
           (v010 - v000) / 3 + (v110 - v100) / 6 + (v011 - v001) / 6
           + (v111 - v101) / 3
    FROM vals
    UNION ALL
    SELECT 'signup',
           (v001 - v000) / 3 + (v101 - v100) / 6 + (v011 - v010) / 6
           + (v111 - v110) / 3
    FROM vals
) t
"""


@query("events_attribution_shapley", _SHAP_ORACLE)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution: credit each marketing
    channel (click / view / signup exposure) for purchase conversion by
    its average marginal contribution over all channel coalitions —
    the game-theoretically fair split that last-touch
    (`events_attribution_last_touch`) and Markov removal
    (`events_markov_transitions`) approximate. Exact, not
    Monte-Carlo: with a bounded channel set the user universe
    collapses to an 8-row coalition rollup (one hash aggregate over
    per-user exposure flags — billions of users, 8 rows out),
    coalition conversion rates pivot into a single row, and the
    closed-form weights (1/3 for solo/full margins, 1/6 for the
    mixed ones) produce the three channel credits. Unobserved
    coalitions default to rate 0 deterministically. The per-user flag
    pass shuffles once on user_id; everything after is constant-size.
    """
    ev = read_table(spark, sf_dir, "events")

    def has(t):
        return F.max(
            F.when(F.col("event_type") == t, 1).otherwise(0)
        )

    peruser = ev.groupBy("user_id").agg(
        has("click").alias("c"),
        has("view").alias("v"),
        has("signup").alias("s"),
        has("purchase").alias("conv"),
    )
    cells = peruser.groupBy("c", "v", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k")
    )

    def vcell(c, v, s):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("c") == c) & (F.col("v") == v) & (F.col("s") == s),
                    F.col("k").cast("double") / F.col("n"),
                )
            ),
            F.lit(0.0),
        ).alias(f"v{c}{v}{s}")

    vals = cells.agg(
        *[
            vcell(c, v, s)
            for c in (0, 1)
            for v in (0, 1)
            for s in (0, 1)
        ]
    )
    V = {m: F.col(f"v{m}") for m in
         ["000", "100", "010", "001", "110", "101", "011", "111"]}
    shap = {
        "click": (V["100"] - V["000"]) / 3 + (V["110"] - V["010"]) / 6
        + (V["101"] - V["001"]) / 6 + (V["111"] - V["011"]) / 3,
        "view": (V["010"] - V["000"]) / 3 + (V["110"] - V["100"]) / 6
        + (V["011"] - V["001"]) / 6 + (V["111"] - V["101"]) / 3,
        "signup": (V["001"] - V["000"]) / 3 + (V["101"] - V["100"]) / 6
        + (V["011"] - V["010"]) / 6 + (V["111"] - V["110"]) / 3,
    }
    wide = vals.select(
        shap["click"].alias("click"),
        shap["view"].alias("view"),
        shap["signup"].alias("signup"),
    )
    melted = wide.unpivot([], ["click", "view", "signup"], "channel", "raw")
    return melted.select(
        "channel",
        r6(F.col("raw")).alias("shapley"),
    )
