"""Empirical-law / segmentation tier: circular time-of-day statistics
(the RIGHT way to average hours — linear means break at midnight),
ABC-XYZ inventory segmentation (revenue concentration x demand
stability — the planner's 3x3), a gravity model of inter-nation trade
flows (log-log elasticities of mass and distance — the workhorse of
spatial economics), and a Heaps'-law fit of vocabulary growth (V = k
N^beta — does the corpus keep yielding new types, the fitted-law
companion to `corpus_novelty_curve`'s raw curve and `text_zipf_fit`'s
frequency law).

Scale notes baked into each builder:
- circular stats collapse the fact to the (type, minute-of-day)
  rollup FIRST (bounded 1440-value keyspace) so the trig sums run
  over exact integer counts on a tiny relation — the atan2/resultant
  arithmetic never touches row-sized data;
- ABC-XYZ does one (part, month) rollup, folds monthly variability
  into exact per-part moments (absent months are exact zeros via the
  broadcast calendar count), ranks the part rollup once for the
  Pareto cut with EXACT integer threshold rules (5*cum <= 4*total),
  and outputs the 3x3 census — at extreme part cardinality the rank
  window swaps for the two-phase rank (`tokenizer_vocab_coverage`);
- the gravity model's flow matrix is at most |nations|^2 rows
  (the `join_volume_shipping` reduction), masses are its row/column
  sums, distances reuse the synthetic-capital haversine
  (`expr_haversine_pairs`) QUANTIZED to 1e-3 km before the log so
  both engines feed identical doubles into the regression, and the
  two-regressor normal equations solve in closed form on one
  aggregate of the pair relation;
- Heaps' law needs no per-batch rescan: each word's FIRST batch is
  one min-aggregate over the token relation, cumulative vocabulary is
  a prefix sum over the <=10-row batch axis, and the log-log OLS is
  the 1-feature closed form on those 10 points.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# stats_circular_mean — mean event hour done right, per event type
# ---------------------------------------------------------------------------

_CIRC_ORACLE = """
WITH mins AS (
    SELECT event_type,
           hour(ts) * 60 + minute(ts) AS m,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type, SUM(c) AS n,
           SUM(c * sin(2 * pi() * m / 1440.0)) AS ss,
           SUM(c * cos(2 * pi() * m / 1440.0)) AS sc
    FROM mins GROUP BY 1
)
SELECT event_type, n,
       floor(((atan2(ss, sc) / (2 * pi()) * 24.0) + 24.0) % 24.0 * 1e6 + 0.5)
           / 1e6 AS mean_hour,
       floor(sqrt(ss * ss + sc * sc) / n * 1e6 + 0.5) / 1e6 AS resultant_r,
       floor((1.0 - sqrt(ss * ss + sc * sc) / n) * 1e6 + 0.5) / 1e6
           AS circ_variance
FROM s
"""


@query("stats_circular_mean", _CIRC_ORACLE)
def stats_circular_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular mean hour, resultant length, and circular variance of
    event times per event type — the directional-statistics fix for
    the broken linear average ("mean of 23:00 and 01:00 is noon"):
    map minutes-of-day onto the unit circle, average the vectors, and
    read the mean direction via atan2 — the principled core under
    `events_seasonality_matrix`'s dow-x-hour heatmap (R ~ 1 = sharply
    peaked daily habit; R ~ 0 = uniform, no diurnal signal). The fact
    collapses to the (type, minute-of-day) rollup first — a bounded
    1440-value keyspace — so the trig accumulates exact integer counts
    over a tiny relation (sub-quantum float drift has nothing
    row-sized to amplify it), and the atan2/modulo mapping back to
    [0, 24) hours is the identical expression tree in both engines.
    One fact shuffle; everything after is driver-sized.
    """
    ev = read_table(spark, sf_dir, "events")
    mins = ev.groupBy(
        "event_type",
        (F.hour("ts") * 60 + F.minute("ts")).alias("m"),
    ).agg(F.count(F.lit(1)).alias("c"))
    ang = 2 * F.lit(3.141592653589793) * F.col("m") / 1440.0
    s = mins.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.sin(ang)).alias("ss"),
        F.sum(F.col("c") * F.cos(ang)).alias("sc"),
    )
    r = F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc")) / F.col(
        "n"
    )
    mean_h = (
        F.atan2(F.col("ss"), F.col("sc")) / (2 * 3.141592653589793) * 24.0
        + 24.0
    ) % 24.0
    return s.select(
        "event_type",
        "n",
        r6(mean_h).alias("mean_hour"),
        r6(r).alias("resultant_r"),
        r6(1.0 - r).alias("circ_variance"),
    )


# ---------------------------------------------------------------------------
# agg_abc_xyz_matrix — revenue concentration x demand stability census
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH pm AS (
    SELECT l_partkey AS p,
           year(l_shipdate) * 100 + month(l_shipdate) AS ym,
           SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev,
           SUM(CAST(l_quantity AS BIGINT)) AS qty
    FROM lineitem GROUP BY 1, 2
),
cal AS (SELECT COUNT(DISTINCT ym) AS m FROM pm),
per_part AS (
    SELECT p, SUM(rev) AS rev,
           SUM(qty) AS sq, SUM(qty * qty) AS sq2
    FROM pm GROUP BY 1
),
xyz AS (
    SELECT p, rev,
           CASE
             WHEN (CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq / cal.m)
                  / cal.m
                  < 0.25 * (CAST(sq AS DOUBLE) / cal.m)
                         * (CAST(sq AS DOUBLE) / cal.m) THEN 'X'
             WHEN (CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq / cal.m)
                  / cal.m
                  < (CAST(sq AS DOUBLE) / cal.m)
                    * (CAST(sq AS DOUBLE) / cal.m) THEN 'Y'
             ELSE 'Z'
           END AS xyz_class
    FROM per_part, cal
),
ranked AS (
    SELECT p, rev, xyz_class,
           SUM(rev) OVER (ORDER BY rev DESC, p ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(rev) OVER () AS tot
    FROM xyz
),
classed AS (
    SELECT xyz_class, rev, tot,
           CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                WHEN 20 * cum <= 19 * tot THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class, xyz_class, COUNT(*) AS n_parts,
       floor(CAST(SUM(rev) AS DOUBLE) / MIN(tot) * 1e6 + 0.5) / 1e6
           AS rev_share
FROM classed GROUP BY 1, 2
"""


@query("agg_abc_xyz_matrix", _ABC_ORACLE)
def agg_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory segmentation census: parts classed by revenue
    concentration (A = first 80% of the Pareto curve, B = next 15%,
    C = tail — `win_cumulative_share`'s curve turned into a decision
    partition) crossed with demand stability (X/Y/Z = monthly-demand
    CV under 0.5 / under 1.0 / over — variance vs squared mean, so no
    square roots needed: the CV<t rule is var < t^2*mean^2). One
    (part, month) rollup feeds both axes; absent months are exact
    zeros via the broadcast distinct-month count, keeping the moments
    population-exact BIGINTs. The Pareto cut uses EXACT integer
    threshold rules (5*cum <= 4*tot, 20*cum <= 19*tot) over a
    deterministic (rev desc, part) ranking of the part rollup — the
    rank window touches parts, never the fact; at extreme part
    cardinality it swaps for the two-phase rank
    (`tokenizer_vocab_coverage`). Output is the 3x3 census with exact
    revenue shares.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("p"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"),
    ).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    cal = pm.agg(F.countDistinct("ym").alias("m"))
    per_part = pm.groupBy("p").agg(
        F.sum("rev").alias("rev"),
        F.sum("qty").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).alias("sq2"),
    )
    md = F.col("m").cast("double")
    mean = F.col("sq").cast("double") / md
    var = (F.col("sq2").cast("double") - F.col("sq").cast("double") * F.col("sq") / md) / md
    xyz = per_part.join(F.broadcast(cal)).select(
        "p",
        "rev",
        F.when(var < 0.25 * mean * mean, "X")
        .when(var < mean * mean, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    wrun = Window.orderBy(F.desc("rev"), F.asc("p")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = xyz.select(
        "xyz_class",
        "rev",
        F.sum("rev").over(wrun).alias("cum"),
        F.sum("rev").over(wall).alias("tot"),
    )
    classed = ranked.select(
        "xyz_class",
        "rev",
        "tot",
        F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        r6(F.sum("rev").cast("double") / F.min("tot")).alias("rev_share"),
    )


# ---------------------------------------------------------------------------
# stats_gravity_model — log-log flow elasticities between nations
# ---------------------------------------------------------------------------

_GRAVITY_ORACLE = """
WITH flows AS (
    SELECT s.s_nationkey AS i, c.c_nationkey AS j,
           SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS v
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey <> c.c_nationkey
    GROUP BY 1, 2
),
outm AS (SELECT i, SUM(v) AS mi FROM flows GROUP BY 1),
inm AS (SELECT j, SUM(v) AS nj FROM flows GROUP BY 1),
caps AS (
    SELECT n_nationkey AS k,
           CAST((n_nationkey * 7) % 140 - 70 AS DOUBLE) AS lat,
           CAST((n_nationkey * 31) % 360 - 180 AS DOUBLE) AS lon
    FROM nation
),
dist AS (
    SELECT a.k AS i, b.k AS j,
           floor(2 * 6371.0 * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2)
                 * sin(radians(b.lon - a.lon) / 2))) * 1e3 + 0.5) / 1e3 AS d
    FROM caps a JOIN caps b ON a.k <> b.k
),
obs AS (
    SELECT ln(CAST(f.v AS DOUBLE)) AS y,
           ln(CAST(o.mi AS DOUBLE) * n.nj) AS x1,
           ln(d.d) AS x2
    FROM flows f
    JOIN outm o ON f.i = o.i
    JOIN inm n ON f.j = n.j
    JOIN dist d ON f.i = d.i AND f.j = d.j
    WHERE d.d > 0
),
m AS (
    SELECT COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
           SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
           SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
    FROM obs
),
c AS (
    SELECT n,
           s11 - s1 * s1 / n AS c11,
           s12 - s1 * s2 / n AS c12,
           s22 - s2 * s2 / n AS c22,
           s1y - s1 * sy / n AS c1y,
           s2y - s2 * sy / n AS c2y,
           s1 / n AS m1, s2 / n AS m2, sy / n AS my
    FROM m
)
SELECT n AS n_pairs,
       floor((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * 1e6 + 0.5)
           / 1e6 AS beta_mass,
       floor((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * 1e6 + 0.5)
           / 1e6 AS beta_dist,
       floor((my - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * m1
                 - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * m2)
             * 1e6 + 0.5) / 1e6 AS intercept
FROM c
"""


@query("stats_gravity_model", _GRAVITY_ORACLE)
def stats_gravity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity model of inter-nation trade: ln V_ij = a + b1 ln(M_i N_j)
    + b2 ln d_ij — the spatial-economics workhorse regressing pairwise
    flow volume on origin/destination masses and distance (expect
    b1 ~ 1, b2 < 0), fit by the two-regressor closed form
    (`ml_ols_normal_equation`'s machinery pointed at economic
    structure instead of pure prediction). The flow matrix is the
    `join_volume_shipping` reduction: a 4-way star join collapses the
    fact to <= |nations|^2 exact-cents cells in one pass; masses are
    its row/column sums; distances reuse the synthetic-capital
    haversine (`expr_haversine_pairs`) QUANTIZED to 1e-3 km BEFORE the
    log so both engines regress on bit-identical doubles. The normal
    equations accumulate in one aggregate over the bounded pair
    relation and solve by Cramer's rule on the centered 2x2 system —
    nothing after the star join exceeds driver size.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    flows = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j")
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("v")
        )
        .transform(_pin_lazy)
    )
    outm = flows.groupBy("i").agg(F.sum("v").alias("mi"))
    inm = flows.groupBy("j").agg(F.sum("v").alias("nj"))
    nat = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        ((F.col("n_nationkey") * 7) % 140 - 70).cast("double").alias("lat"),
        ((F.col("n_nationkey") * 31) % 360 - 180).cast("double").alias("lon"),
    )
    a = nat.select(
        F.col("k").alias("ka"), F.col("lat").alias("la0"),
        F.col("lon").alias("lo0"),
    )
    bb = nat.select(
        F.col("k").alias("kb"), F.col("lat").alias("la1"),
        F.col("lon").alias("lo1"),
    )
    hv = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.sin(F.radians(F.col("la1") - F.col("la0")) / 2)
                * F.sin(F.radians(F.col("la1") - F.col("la0")) / 2)
                + F.cos(F.radians(F.col("la0")))
                * F.cos(F.radians(F.col("la1")))
                * F.sin(F.radians(F.col("lo1") - F.col("lo0")) / 2)
                * F.sin(F.radians(F.col("lo1") - F.col("lo0")) / 2)
            )
        )
    )
    dist = a.join(F.broadcast(bb), F.col("ka") != F.col("kb")).select(
        F.col("ka").alias("di"),
        F.col("kb").alias("dj"),
        (F.floor(hv * 1e3 + F.lit(0.5)) / 1e3).alias("d"),
    )
    obs = (
        flows.join(F.broadcast(outm), "i")
        .join(F.broadcast(inm), "j")
        .join(
            F.broadcast(dist),
            (F.col("i") == F.col("di")) & (F.col("j") == F.col("dj")),
        )
        .where(F.col("d") > 0)
        .select(
            F.log(F.col("v").cast("double")).alias("y"),
            F.log(F.col("mi").cast("double") * F.col("nj")).alias("x1"),
            F.log(F.col("d")).alias("x2"),
        )
    )
    m = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    icpt = (
        F.col("sy") / n - b1 * F.col("s1") / n - b2 * F.col("s2") / n
    )
    return m.select(
        F.col("n").alias("n_pairs"),
        r6(b1).alias("beta_mass"),
        r6(b2).alias("beta_dist"),
        r6(icpt).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# text_heaps_law_fit — vocabulary-growth exponent across ingestion batches
# ---------------------------------------------------------------------------

_HEAPS_BATCHES = 10

_HEAPS_ORACLE = f"""
WITH words AS (
    SELECT doc_id % {_HEAPS_BATCHES} AS b,
           unnest(string_split(text, ' ')) AS w
    FROM documents
),
tok AS (SELECT b, COUNT(*) AS nt FROM words GROUP BY 1),
firstb AS (SELECT w, MIN(b) AS fb FROM words GROUP BY 1),
newv AS (SELECT fb AS b, COUNT(*) AS nv FROM firstb GROUP BY 1),
curve AS (
    SELECT t.b,
           SUM(t.nt) OVER (ORDER BY t.b ROWS UNBOUNDED PRECEDING) AS cum_n,
           SUM(COALESCE(v.nv, 0)) OVER (ORDER BY t.b
                                        ROWS UNBOUNDED PRECEDING) AS cum_v
    FROM tok t LEFT JOIN newv v ON t.b = v.b
),
obs AS (
    SELECT ln(CAST(cum_n AS DOUBLE)) AS x, ln(CAST(cum_v AS DOUBLE)) AS y
    FROM curve
),
m AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(x * y) AS sxy
    FROM obs
)
SELECT n AS n_batches,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
           AS heaps_beta,
       floor(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
             * 1e6 + 0.5) / 1e6 AS heaps_k
FROM m
"""


@query("text_heaps_law_fit", _HEAPS_ORACLE)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) = k N^beta over
    cumulative (tokens, distinct types) checkpoints at {_HEAPS_BATCHES}
    ingestion batches — the fitted-law summary of
    `corpus_novelty_curve`'s raw marginal-novelty readout and the
    growth-side twin of `text_zipf_fit` (the two laws are formally
    linked: beta ~ 1/zipf_alpha). A sublinear beta holding steady says
    more data keeps buying new vocabulary; beta collapsing toward 0
    says the corpus is saturating — the scaling question
    `ml_data_scaling_curve` asks of model error, asked of the data
    itself. No per-batch rescan: each word's FIRST batch is one
    min-aggregate over the token relation, per-batch new-type counts
    and token counts roll up to the {_HEAPS_BATCHES}-row batch axis,
    cumulative sums are prefix windows over that tiny relation, and
    the log-log OLS closed form runs on one aggregate of the 10
    points. Two corpus-scan aggregates total, nothing row-sized ever
    sorts.
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        (F.col("doc_id") % _HEAPS_BATCHES).alias("b"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    tok = words.groupBy("b").agg(F.count(F.lit(1)).alias("nt"))
    firstb = words.groupBy("w").agg(F.min("b").alias("fb"))
    newv = firstb.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        tok.join(newv, "b", "left")
        .select("b", "nt", F.coalesce(F.col("nv"), F.lit(0)).alias("nv"))
        .select(
            F.sum("nt").over(wcum).alias("cum_n"),
            F.sum("nv").over(wcum).alias("cum_v"),
        )
    )
    obs = curve.select(
        F.log(F.col("cum_n").cast("double")).alias("x"),
        F.log(F.col("cum_v").cast("double")).alias("y"),
    )
    m = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    k = F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n"))
    return m.select(
        F.col("n").alias("n_batches"),
        r6(beta).alias("heaps_beta"),
        r6(k).alias("heaps_k"),
    )
