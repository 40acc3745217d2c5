"""Distribution-shape / agreement tier: Spearman rank correlation
(monotone dependence with exact tie handling), the Jarque-Bera
normality screen (is a metric even Gaussian enough for the z-score
alarms), Cohen's kappa (chance-corrected classifier agreement), and
the Brown-Forsythe variance-equality test (is the spread itself
different across segments — the precondition every pooled-variance
test upstream silently assumes).

The reference ships raw metric columns to Elasticsearch and lets
analysts eyeball distributions (`sql_to_es_etl.py:93-95` show/count
inspection); this tier is the engine-side replacement: the
distributional sanity checks run where the data lives.

Scale notes baked into each builder:
- Spearman never sorts the fact: both variables are bounded-keyspace
  (quantity 1..50, discount cents 0..10), so tied mid-ranks come from
  two value rollups (one hash aggregate each) with a running-count
  window over <=50 rows; doubled mid-ranks (2*cum - c + 1) stay exact
  BIGINTs, broadcast back onto the fact, and Pearson's closed form
  runs on five exact integer sums — one fact scan, two broadcast
  joins, zero fact-sized shuffles;
- Jarque-Bera is four exact integer raw moments (quantity <= 50 so
  S4 fits BIGINT at any SF) folded into central moments, skewness,
  kurtosis and the chi2(2) tail exp(-JB/2) — ONE aggregate, zero
  shuffles beyond the partial-merge;
- Cohen's kappa runs on the (actual, pred) confusion rollup — at most
  classes^2 rows however big the corpus — with margins as two further
  tiny aggregates; po/pe/kappa are exact integer ratios until the
  final division;
- Brown-Forsythe needs each group's median first: one exact
  interpolating percentile per group over DOUBLED values (so the
  even-count midpoint is still an integer), broadcast back, then the
  one-way-F closed form (`stats_anova_oneway`'s identity) on the
  |2x - 2*med| deviations from one conditional moment pass — two
  scans of a 3-value-keyed fact, no global sort.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# stats_spearman_rank — monotone dependence with exact tied mid-ranks
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH xs AS (
    SELECT CAST(l_quantity AS BIGINT) AS x, COUNT(*) AS c
    FROM lineitem GROUP BY 1
),
xr AS (
    SELECT x,
           2 * SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
    FROM xs
),
ys AS (
    SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y, COUNT(*) AS c
    FROM lineitem GROUP BY 1
),
yr AS (
    SELECT y,
           2 * SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
    FROM ys
),
s AS (
    SELECT COUNT(*) AS n,
           SUM(xr.r2) AS sx, SUM(yr.r2) AS sy,
           SUM(xr.r2 * xr.r2) AS sxx, SUM(yr.r2 * yr.r2) AS syy,
           SUM(xr.r2 * yr.r2) AS sxy
    FROM lineitem l
    JOIN xr ON CAST(l.l_quantity AS BIGINT) = xr.x
    JOIN yr ON CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) = yr.y
)
SELECT n,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1e6 + 0.5) / 1e6 AS spearman_rho
FROM s
"""


@query("stats_spearman_rank", _SPEARMAN_ORACLE)
def stats_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount — the
    monotone-dependence screen that sits between Pearson
    (`agg_corr_regression`, linear only) and mutual information
    (`stats_mutual_info_binned`, any dependence): rank-transform both
    variables with SQL-standard tied mid-ranks, then Pearson on the
    ranks. The fact is never sorted: both variables live on bounded
    keyspaces, so mid-ranks derive from two value rollups (one hash
    aggregate each, <=50 rows) via a running count — the doubled
    mid-rank 2*cum - c + 1 is an exact BIGINT, dodging the .5 float
    that tied ranks otherwise introduce. Both rank tables broadcast
    back onto the fact (map-side joins) and one aggregate collects the
    five exact integer co-moment sums; rho's closed form is evaluated
    once in double on those integers, so both engines round the same
    value. Doubling cancels in the normalized ratio.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )

    def rank2(df: DataFrame, key: str) -> DataFrame:
        vals = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
        return vals.select(
            key, (2 * F.sum("c").over(w) - F.col("c") + 1).alias(f"r2{key}")
        )

    ranked = li.join(F.broadcast(rank2(li, "x")), "x").join(
        F.broadcast(rank2(li, "y")), "y"
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "n", r6(rho).alias("spearman_rho")
    )


# ---------------------------------------------------------------------------
# stats_jarque_bera — normality screen from exact raw moments
# ---------------------------------------------------------------------------

_JB_ORACLE = """
WITH m AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(l_quantity AS BIGINT)) AS s1,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT)) AS s3,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
    FROM lineitem
),
c AS (
    SELECT n,
           CAST(s1 AS DOUBLE) / n AS mu,
           CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
           CAST(s3 AS DOUBLE) / n
             - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m3,
           CAST(s4 AS DOUBLE) / n
             - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
             + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
    FROM m
),
g AS (
    SELECT n,
           m3 / (m2 * sqrt(m2)) AS skew,
           m4 / (m2 * m2) AS kurt
    FROM c
)
SELECT n,
       floor(skew * 1e6 + 0.5) / 1e6 AS skewness,
       floor(kurt * 1e6 + 0.5) / 1e6 AS kurtosis,
       floor(n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0) * 1e6 + 0.5) / 1e6 AS jb_stat,
       floor(exp(-(n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)) / 2.0) * 1e6 + 0.5) / 1e6 AS p_value
FROM g
"""


@query("stats_jarque_bera", _JB_ORACLE)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order quantities — the gate every
    z-score-based alarm in this engine (`events_anomaly_zscore`,
    `events_rolling_zscore`, `dq_control_chart_pchart` limits) quietly
    depends on: JB = n/6*(g1^2 + (g2-3)^2/4) from sample skewness and
    kurtosis, with the chi2(2) survival function collapsing to the
    closed form exp(-JB/2) — no quantile table needed. The whole test
    is ONE hash aggregate producing four raw moments as exact BIGINTs
    (quantity <= 50, so even S4 is ~1e13 per million rows — no
    overflow at any plausible SF), then central moments expand
    algebraically on the driver-sized 1-row relation. Zero shuffles
    beyond the aggregate's partial merge; both engines evaluate the
    identical double expression over identical integers.
    """
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1") / nd
    r2 = F.col("s2") / nd
    r3 = F.col("s3") / nd
    r4 = F.col("s4") / nd
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2)
    jb = nd / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)
    return m.select(
        "n",
        r6(skew).alias("skewness"),
        r6(kurt).alias("kurtosis"),
        r6(jb).alias("jb_stat"),
        r6(F.exp(-jb / 2.0)).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# ml_cohens_kappa — chance-corrected agreement of the lang-ID heuristic
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    from ..functions.text import LANG_MARKERS
    from .sql_common import _LANG_SQL

    return f"""
WITH hits AS (
    SELECT lang AS actual, text,
           len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS en_h,
           len(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS de_h,
           len(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS fr_h,
           len(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS es_h
    FROM documents
),
conf AS (
    SELECT actual, {_LANG_SQL} AS pred, COUNT(*) AS n
    FROM hits GROUP BY 1, 2
),
am AS (SELECT actual AS cls, SUM(n) AS an FROM conf GROUP BY 1),
pm AS (SELECT pred AS cls, SUM(n) AS pn FROM conf GROUP BY 1),
tot AS (
    SELECT SUM(n) AS n,
           SUM(CASE WHEN actual = pred THEN n ELSE 0 END) AS agree
    FROM conf
),
pe AS (
    SELECT SUM(am.an * pm.pn) AS pe_num
    FROM am JOIN pm ON am.cls = pm.cls
)
SELECT t.n,
       floor(CAST(t.agree AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6 AS po,
       floor(CAST(p.pe_num AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n) * 1e6 + 0.5) / 1e6 AS pe,
       floor((CAST(t.agree AS DOUBLE) / t.n
              - CAST(p.pe_num AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n))
             / (1.0 - CAST(p.pe_num AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n))
             * 1e6 + 0.5) / 1e6 AS kappa
FROM tot t CROSS JOIN pe p
"""


@query("ml_cohens_kappa", _kappa_oracle())
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the language-ID heuristic and the labeled
    `lang` column — chance-corrected agreement, the number to report
    when raw accuracy flatters a classifier because one class dominates
    (exactly the trap `ml_confusion_lang_id`'s per-class view guards
    against, condensed to one calibrated scalar): kappa =
    (po - pe)/(1 - pe) with pe from the margin products. The corpus
    collapses to the (actual, pred) confusion rollup in ONE hash
    aggregate (classes^2 rows at any scale); both margins and the
    agreement diagonal are further aggregates of that tiny relation,
    and the margin-product expectation joins classes-to-classes — all
    exact integers until the three final divisions, evaluated as the
    same double expression in both engines.
    """
    from ..functions.text import lang_id

    docs = read_table(spark, sf_dir, "documents")
    conf = (
        docs.select(
            F.col("lang").alias("actual"),
            lang_id(F.col("text")).alias("pred"),
        )
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(_pin_lazy)
    )
    am = conf.groupBy(F.col("actual").alias("cls")).agg(F.sum("n").alias("an"))
    pm = conf.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").alias("pn"))
    tot = conf.agg(
        F.sum("n").alias("n"),
        F.sum(F.when(F.col("actual") == F.col("pred"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    pe_num = (
        am.join(pm, "cls")
        .agg(F.sum(F.col("an") * F.col("pn")).alias("pe_num"))
    )
    j = tot.join(F.broadcast(pe_num))
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / F.col("n")
    pe = F.col("pe_num").cast("double") / (nd * F.col("n"))
    return j.select(
        "n",
        r6(po).alias("po"),
        r6(pe).alias("pe"),
        r6((po - pe) / (1.0 - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# stats_brown_forsythe — variance-equality across return-flag segments
# ---------------------------------------------------------------------------

_BF_ORACLE = """
WITH med AS (
    SELECT l_returnflag AS g, median(2 * CAST(l_quantity AS BIGINT)) AS m2
    FROM lineitem GROUP BY 1
),
z AS (
    SELECT l.l_returnflag AS g,
           abs(2 * CAST(l.l_quantity AS BIGINT) - CAST(med.m2 AS BIGINT)) AS z
    FROM lineitem l JOIN med ON l.l_returnflag = med.g
),
grp AS (
    SELECT g, COUNT(*) AS ng, SUM(z) AS sg, SUM(z * z) AS sg2
    FROM z GROUP BY 1
),
tot AS (
    SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s,
           SUM(CAST(sg AS DOUBLE) * sg / ng) AS ssb_part,
           SUM(sg2) AS s2
    FROM grp
)
SELECT n, k,
       floor((ssb_part - CAST(s AS DOUBLE) * s / n) / (k - 1)
             / ((CAST(s2 AS DOUBLE) - ssb_part) / (n - k))
             * 1e6 + 0.5) / 1e6 AS f_stat
FROM tot
"""


@query("stats_brown_forsythe", _BF_ORACLE)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test across return-flag
    segments: one-way ANOVA F (`stats_anova_oneway`'s identity)
    computed on absolute deviations from each GROUP'S MEDIAN — the
    robust Levene variant, and the precondition check for every
    pooled-variance comparison upstream (`stats_welch_ttest` exists
    precisely because this test usually fails). Medians come from one
    exact interpolating percentile per group over DOUBLED quantities
    (the doubling trick: the even-count midpoint is
    then still an integer, so |2x - m2| deviations stay exact BIGINTs
    — and EXACT percentile is scale-safe here, unlike on a continuous
    column: Spark's percentile state is a value->count map, bounded by
    the ~50 distinct l_quantity values per group at any row count),
    broadcast back onto the fact as a 3-row relation; the F statistic
    folds out of one conditional moment pass (ng, sum z, sum z^2 per
    group) via SSB = sum(Sg^2/ng) - S^2/n — two scans total, no global
    sort, no per-row rank machinery.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        (2 * F.col("l_quantity").cast("long")).alias("x2"),
    )
    med = li.groupBy("g").agg(F.expr("percentile(x2, 0.5)").alias("m2"))
    z = li.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x2") - F.col("m2").cast("long")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("z").alias("sg"),
        F.sum(F.col("z") * F.col("z")).alias("sg2"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum(F.col("sg").cast("double") * F.col("sg") / F.col("ng")).alias(
            "ssb_part"
        ),
        F.sum("sg2").alias("s2"),
    )
    ssb = F.col("ssb_part") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("s2").cast("double") - F.col("ssb_part")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return tot.select(
        "n",
        "k",
        r6(f_stat).alias("f_stat"),
    )
