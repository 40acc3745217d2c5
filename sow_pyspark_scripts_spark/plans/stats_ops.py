"""Statistical-inference / model-evaluation tier: rank-sum and
delta-method tests for experiment readouts, changepoint and survival
analysis over the event stream, and two classic corpus/ML primitives
(multinomial naive-Bayes training tables, MOSS-style winnowing
fingerprints). Extends the statistical-testing tier
(``plans/insight_ops.py``) from "is this data what I think it is" to
"is this treatment/model/segment actually different" — the readout
queries a training-data platform runs after every A/B ingest gate.

Scale notes baked into each builder:
- the Mann-Whitney ranks are NEVER computed over raw rows: values
  quantize to integer cents first, the fact collapses to a
  per-distinct-value rollup (bounded keyspace — cents of a bounded
  metric), and the rank windows order thousands of rollup rows. Tie
  handling is exact-integer (doubled ranks), so the U statistic is
  integer-exact at any scale;
- the changepoint scan aggregates to day grain first (calendar-bounded
  relation), then one ordered prefix-scan; the deviation series is
  scaled by n_days so it stays integer-exact — no floating drift
  deciding the argmax;
- delta-method moments come from EXACT integer sums (cents, counts,
  cross-products) in one hash aggregate; the closed form runs on the
  tiny per-branch rollup. At 100 TB swap the bigint accumulators for
  DECIMAL(38,0) — the shape is unchanged;
- Kaplan-Meier collapses billions of events to one row per user
  (first/last), then to one row per distinct duration — the
  product-limit window runs over a relation bounded by the calendar;
- naive-Bayes training is the canonical two-aggregate pipeline
  (token counts, class totals) + a broadcast vocab scalar — the
  model table is (classes x top-k) rows however big the corpus is;
- winnowing explodes each doc to its k-gram positions (per-row
  bounded fan-out, like ``dedup_exact_substring``), hashes
  JVM-side (md5 -> 32-bit int, no Python), and the window-min
  selection is a per-doc ROWS frame — one shuffle keyed on doc_id.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import cos_grid_sql, mean_grid, mean_grid_sql, quant, r6

_M6V = mean_grid_sql("v")
from ..registry import query
from ..sources import read_table, spread


# ---------------------------------------------------------------------------
# stats_mann_whitney — rank-sum test on a value metric between two arms
# ---------------------------------------------------------------------------

_MW_ORACLE = """
WITH v AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
    FROM events WHERE event_type IN ('click', 'purchase')
),
rollup AS (
    SELECT v, sum(a) AS na, count(*) - sum(a) AS nb FROM v GROUP BY v
),
ranked AS (
    SELECT na, nb, na + nb AS t,
           coalesce(sum(na + nb) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM rollup
),
s AS (
    SELECT sum(na) AS n_a, sum(nb) AS n_b,
           sum(na * (2 * cum_before + t + 1)) AS r2_a,
           sum(t * t * t - t) AS ties
    FROM ranked
)
SELECT n_a, n_b,
       r2_a - n_a * (n_a + 1) AS u2_a,
       floor(((r2_a - n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0)
             / sqrt(n_a * n_b / 12.0
                    * ((n_a + n_b + 1)
                       - ties / (CAST(n_a + n_b AS DOUBLE)
                                 * (n_a + n_b - 1))))
             * 1e6 + 0.5) / 1e6 AS z
FROM s
"""


@query("stats_mann_whitney", _MW_ORACLE)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: is the `value` metric
    distribution for 'click' events stochastically different from
    'purchase' events — the non-parametric sibling of the Welch t-test
    (`stats_welch_ttest`), robust to the heavy-tailed metrics real
    revenue columns have. The naive implementation ranks every raw row
    (a global sort); here values quantize to integer cents and collapse
    to a per-distinct-value rollup first, and the exclusive prefix
    count over the value order runs as the two-phase distributed scan
    (`with_prefix_sum`, value-range buckets — no single-partition
    window even over the rollup) regardless of fact size.
    Doubled mid-ranks (2*cum_before + ties + 1) keep tie-averaged ranks
    integer-exact; U is reported doubled (`u2_a`) for the same reason,
    and z uses the standard tie-corrected variance. Replaces nothing in
    the reference (it has no testing surface) — north-star analytics.
    """
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    v = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    from ..operators.relational import with_prefix_sum

    rollup = v.groupBy("v").agg(
        F.sum("a").alias("na"),
        (F.count(F.lit(1)) - F.sum("a")).alias("nb"),
    ).withColumn("t", F.col("na") + F.col("nb"))
    ranked = with_prefix_sum(
        rollup,
        "t",
        [F.col("v")],
        F.floor(F.col("v") / F.lit(1 << 12)).cast("long"),
        col_name="_cum_incl",
    ).select(
        "na",
        "nb",
        "t",
        (F.col("_cum_incl") - F.col("t")).alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(
            F.col("na") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("r2_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("ties"),
    )
    u2 = F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)
    mean2 = F.col("n_a") * F.col("n_b")  # 2 * (n_a*n_b/2)
    var = (
        F.col("n_a")
        * F.col("n_b")
        / F.lit(12.0)
        * (
            (F.col("n_a") + F.col("n_b") + 1)
            - F.col("ties")
            / (
                (F.col("n_a") + F.col("n_b")).cast("double")
                * (F.col("n_a") + F.col("n_b") - 1)
            )
        )
    )
    z = (u2 / F.lit(2.0) - mean2 / F.lit(2.0)) / F.sqrt(var)
    return s.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        r6(z).alias("z"),
    )


# ---------------------------------------------------------------------------
# events_changepoint_cumdev — cumulative-deviation changepoint detection
# ---------------------------------------------------------------------------

_CP_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events GROUP BY 1
),
tot AS (SELECT count(*) AS n_days, sum(cnt) AS total FROM daily),
scan AS (
    SELECT day,
           (SELECT n_days FROM tot)
             * sum(cnt) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - row_number() OVER (ORDER BY day) * (SELECT total FROM tot)
           AS s_scaled
    FROM daily
)
SELECT day, s_scaled, abs(s_scaled) AS s_abs
FROM scan
ORDER BY s_abs DESC, day ASC
LIMIT 1
"""


@query("events_changepoint_cumdev", _CP_ORACLE)
def events_changepoint_cumdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint in the daily event-volume series by the
    cumulative-deviation (CUSUM-of-residuals) method: S_t =
    cumsum(cnt_t - mean), and the most likely level-shift day is
    argmax |S_t| — the classic Pettitt/Page screening statistic for
    "did ingest volume step-change, and when". The series is scaled by
    n_days (S'_t = n*cumsum - t*total) so the whole scan is
    integer-exact: no floating mean deciding the argmax. Aggregates to
    day grain first — the prefix-scan window orders a calendar-bounded
    relation (one row per day), never raw events; the final argmax is a
    TakeOrderedAndProject(1), not a second shuffle.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cnt").alias("total")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scan = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("n_days") * F.sum("cnt").over(w)
            - F.row_number().over(Window.orderBy("day")) * F.col("total")
        ).alias("s_scaled"),
    )
    return (
        scan.withColumn("s_abs", F.abs("s_scaled"))
        .orderBy(F.col("s_abs").desc(), F.col("day").asc())
        .limit(1)
    )


# ---------------------------------------------------------------------------
# stats_delta_method_ratio — SE of a ratio metric (revenue per event)
# ---------------------------------------------------------------------------

_DELTA_ORACLE = """
WITH per_user AS (
    SELECT event_type, user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x,
           count(*) AS y
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type, count(*) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM per_user GROUP BY 1
),
c AS (
    SELECT event_type, n,
           sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my,
           (sxx - sx * (sx / CAST(n AS DOUBLE))) / (n - 1) AS vx,
           (syy - sy * (sy / CAST(n AS DOUBLE))) / (n - 1) AS vy,
           (sxy - sx * (sy / CAST(n AS DOUBLE))) / (n - 1) AS cxy
    FROM m
)
SELECT event_type, n,
       floor(mx / my * 1e6 + 0.5) / 1e6 AS ratio_cents,
       floor(sqrt((vx / (my * my)
                   - 2 * mx * cxy / (my * my * my)
                   + mx * mx * vy / (my * my * my * my)) / n)
             * 1e6 + 0.5) / 1e6 AS se_cents
FROM c ORDER BY event_type
"""


@query("stats_delta_method_ratio", _DELTA_ORACLE)
def stats_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a ratio metric — revenue per
    event, the shape every A/B readout needs when the unit of
    randomization (user) differs from the unit of analysis (event):
    naive SE over events is wrong because events within a user are
    correlated. Var(x̄/ȳ) ≈ (vx/my² − 2·mx·cxy/my³ + mx²·vy/my⁴)/n over
    per-user totals. All moments come from ONE hash aggregate of EXACT
    integer sums (cents, counts, cross-products — sxy ≤ 2^63 at sf;
    DECIMAL(38,0) at 100 TB), so the doubles appear only in the final
    closed form on a 5-row rollup and the result is reproducible
    bit-for-bit — no var_samp/covar_samp float-accumulation order to
    disagree with the oracle.
    """
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    m = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx") / nd
    my = F.col("sy") / nd
    c = m.select(
        "event_type",
        "n",
        mx.alias("mx"),
        my.alias("my"),
        ((F.col("sxx") - F.col("sx") * (F.col("sx") / nd)) / (F.col("n") - 1)).alias("vx"),
        ((F.col("syy") - F.col("sy") * (F.col("sy") / nd)) / (F.col("n") - 1)).alias("vy"),
        ((F.col("sxy") - F.col("sx") * (F.col("sy") / nd)) / (F.col("n") - 1)).alias("cxy"),
    )
    my2 = F.col("my") * F.col("my")
    var_ratio = (
        F.col("vx") / my2
        - 2 * F.col("mx") * F.col("cxy") / (my2 * F.col("my"))
        + F.col("mx") * F.col("mx") * F.col("vy") / (my2 * my2)
    ) / F.col("n")
    return c.select(
        "event_type",
        "n",
        r6(F.col("mx") / F.col("my")).alias("ratio_cents"),
        r6(F.sqrt(var_ratio)).alias("se_cents"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# events_survival_km — Kaplan-Meier product-limit user-retention curve
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH spans AS (
    SELECT user_id,
           date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
             AS duration,
           CAST(max(ts) AS DATE) AS last_day
    FROM events GROUP BY user_id
),
horizon AS (
    SELECT max(last_day) - INTERVAL 7 DAY AS cutoff FROM spans
),
rollup AS (
    SELECT duration,
           sum(CASE WHEN last_day <= (SELECT cutoff FROM horizon)
                    THEN 1 ELSE 0 END) AS d_events,
           count(*) AS m_total
    FROM spans GROUP BY duration
),
km AS (
    SELECT duration, d_events,
           (SELECT sum(m_total) FROM rollup)
             - coalesce(sum(m_total) OVER (
                 ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
    FROM rollup
)
SELECT duration, n_at_risk, d_events,
       floor(exp(sum(ln((n_at_risk - d_events)
                        / CAST(n_at_risk AS DOUBLE))) OVER (
                 ORDER BY duration
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             * 1e6 + 0.5) / 1e6 AS survival
FROM km
ORDER BY duration
"""


@query("events_survival_km", _KM_ORACLE)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of user lifetime: duration =
    days between a user's first and last event, right-censored when the
    user was still active within 7 days of the observation horizon
    (their true lifetime is only known to be "at least this"). Ignoring
    censoring — the naive churn query — biases lifetimes short; KM is
    the standard correction. Billions of events collapse to one row per
    user (min/max in one hash agg), then to one row per distinct
    duration; n_at_risk is a complementary prefix-sum and survival a
    cumulative product (exp-sum-ln) over that calendar-bounded rollup —
    the windows never see the fact. Each factor (n-d)/n is an exact
    integer ratio; the product is rounded to 1e-6 for reproducibility.
    """
    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).cast("long").alias("duration"),
        F.max("ts").cast("date").alias("last_day"),
    )
    horizon = spans.agg(
        F.date_sub(F.max("last_day"), 7).alias("cutoff")
    )
    rollup = (
        spans.crossJoin(F.broadcast(horizon))
        .groupBy("duration")
        .agg(
            F.sum(
                F.when(F.col("last_day") <= F.col("cutoff"), 1).otherwise(0)
            ).alias("d_events"),
            F.count(F.lit(1)).alias("m_total"),
        )
    )
    total = rollup.agg(F.sum("m_total").alias("pop"))
    w_before = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    km = rollup.crossJoin(F.broadcast(total)).select(
        "duration",
        "d_events",
        (
            F.col("pop")
            - F.coalesce(F.sum("m_total").over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    w_run = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    surv = F.exp(
        F.sum(
            F.log(
                (F.col("n_at_risk") - F.col("d_events"))
                / F.col("n_at_risk").cast("double")
            )
        ).over(w_run)
    )
    return km.select(
        "duration",
        "n_at_risk",
        "d_events",
        r6(surv).alias("survival"),
    ).orderBy("duration")


# ---------------------------------------------------------------------------
# ml_naive_bayes_train — multinomial NB per-language token likelihoods
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH toks AS (
    SELECT lang, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
    FROM documents
),
tf AS (
    SELECT lang, tok, count(*) AS c
    FROM toks WHERE length(tok) >= 3 GROUP BY 1, 2
),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tf),
totals AS (SELECT lang, sum(c) AS tot FROM tf GROUP BY 1),
scored AS (
    SELECT t.lang, t.tok, t.c,
           floor(ln((t.c + 1) / CAST(tl.tot + (SELECT v FROM vocab) AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS loglik,
           row_number() OVER (
               PARTITION BY t.lang ORDER BY t.c DESC, t.tok ASC
           ) AS rn
    FROM tf t JOIN totals tl ON t.lang = tl.lang
)
SELECT lang, tok, c, loglik
FROM scored WHERE rn <= 5
ORDER BY lang, c DESC, tok
"""


@query("ml_naive_bayes_train", _NB_ORACLE)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes training over the documents corpus:
    per-language Laplace-smoothed token log-likelihoods
    ln((c+1)/(total+V)) — the model behind fastText-style language ID
    and spam filters, and the canonical "train a model with two hash
    aggregates" Spark pipeline. Tokenization is codegen-only (lower +
    split on non-letters, length >= 3); term frequencies are one
    (lang, token) hash agg with map-side partial combine; class totals
    and the vocab size V are tiny broadcast scalars joined back. The
    emitted model table is top-5 tokens per class (WindowGroupLimit
    prunes before the rank shuffle), so the output is O(classes), not
    O(vocab) — at 100 TB you'd emit the full table partitioned by
    class instead. The log of an exact integer ratio is rounded to
    1e-6 for cross-engine reproducibility.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
    ).where(F.length("tok") >= 3)
    tf = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.agg(F.countDistinct("tok").alias("v"))
    totals = tf.groupBy("lang").agg(F.sum("c").alias("tot"))
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok"))
    )
    scored = (
        tf.join(F.broadcast(totals), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "tok",
            "c",
            r6(
                F.log(
                    (F.col("c") + 1)
                    / (F.col("tot") + F.col("v")).cast("double")
                )
            ).alias("loglik"),
            rn.alias("rn"),
        )
    )
    return (
        scored.where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", F.col("c").desc(), "tok")
    )


# ---------------------------------------------------------------------------
# ml_silhouette_centroid — per-cluster silhouette score (centroid form)
# ---------------------------------------------------------------------------

_M6SIL = mean_grid_sql("sil")

_SIL_ORACLE = f"""
WITH flat AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
cent AS (
    SELECT label AS clabel, pos, {_M6V} AS c
    FROM flat GROUP BY 1, 2
),
cnorm AS (
    SELECT clabel,
           sqrt(CAST(sum(CAST(floor(c * 1000000.0 + 0.5) AS BIGINT)
                         * CAST(floor(c * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)) AS cn
    FROM cent GROUP BY 1
),
vnorm AS (
    SELECT vec_id,
           sqrt(CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)
                         * CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)) AS vn
    FROM flat GROUP BY 1
),
dots AS (
    SELECT f.vec_id, f.label, ct.clabel,
           CAST(sum(CAST(floor(f.v * 1000000.0 + 0.5) AS BIGINT)
                    * CAST(floor(ct.c * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) AS dot
    FROM flat f JOIN cent ct ON f.pos = ct.pos
    GROUP BY 1, 2, 3
),
dists AS (
    SELECT d.vec_id, d.label, d.clabel,
           1 - d.dot / (vn.vn * cn.cn) AS dist
    FROM dots d
    JOIN vnorm vn ON d.vec_id = vn.vec_id
    JOIN cnorm cn ON d.clabel = cn.clabel
),
ab AS (
    SELECT vec_id, label,
           max(CASE WHEN clabel = label THEN dist END) AS a,
           min(CASE WHEN clabel <> label THEN dist END) AS b
    FROM dists GROUP BY 1, 2
),
svals AS (
    SELECT label, (b - a) / greatest(a, b) AS sil FROM ab
)
SELECT label, count(*) AS n_vectors,
       floor({_M6SIL} * 1e4 + 0.5) / 1e4 AS mean_silhouette
FROM svals GROUP BY label ORDER BY label
"""


@query("ml_silhouette_centroid", _SIL_ORACLE)
def ml_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-form silhouette score per cluster label — the standard
    clustering-quality readout (how much closer is each vector to its
    own centroid than the nearest other centroid, in cosine distance),
    grading the k-means / IVF partitions the similarity tier builds.
    The exact silhouette is O(n²) pairwise; the centroid form is the
    scalable surrogate: centroids are a (labels x dims) rollup rounded
    to 1e-6 (so both engines score against identical prototypes) and
    BROADCAST — each vector computes its k distances in one pass, no
    pairwise join. a = distance to own centroid, b = nearest other
    centroid, s = (b-a)/max(a,b), averaged per label (rounded 1e-4).
    At 100 TB: the flat explode is map-side, the only shuffles are the
    (label,pos) and (vec_id,clabel) hash aggs, both partially combined.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "v0"),
    ).select(
        "vec_id", "label", "pos", F.col("v0").cast("double").alias("v")
    )
    cent = flat.groupBy(
        F.col("label").alias("clabel"), "pos"
    ).agg(mean_grid(F.col("v")).alias("c"))
    # exact-integer grid sums (r5): neither engine pins its float
    # partial-aggregate merge order, so dot/norm sums quantize first
    # (functions/det.py doctrine)
    qv = quant(F.col("v")).cast("long")
    qc = quant(F.col("c")).cast("long")
    cnorm = cent.groupBy("clabel").agg(
        F.sqrt(F.sum(qc * qc).cast("double")).alias("cn")
    )
    vnorm = flat.groupBy("vec_id").agg(
        F.sqrt(F.sum(qv * qv).cast("double")).alias("vn")
    )
    dots = (
        flat.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(qv * qc).cast("double").alias("dot"))
    )
    dists = dots.join(vnorm, "vec_id").join(F.broadcast(cnorm), "clabel").select(
        "vec_id",
        "label",
        "clabel",
        (1 - F.col("dot") / (F.col("vn") * F.col("cn"))).alias("dist"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            # grid mean (order-independent), then the 1e-4 report rounding
            (F.floor(mean_grid(sil) * 1e4 + F.lit(0.5)) / 1e4).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# text_winnowing_fingerprint — MOSS-style winnowed k-gram fingerprints
# ---------------------------------------------------------------------------

_WINNOW_K = 5  # character k-gram width
_WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars shares a print)

_WINNOW_ORACLE = f"""
WITH grams AS (
    SELECT doc_id,
           unnest(range(1, length(lower(text)) - {_WINNOW_K} + 2)) AS pos,
           lower(text) AS t
    FROM documents
    WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}
),
hashed AS (
    SELECT doc_id, pos,
           CAST('0x' || substr(md5(substr(t, CAST(pos AS INTEGER), {_WINNOW_K})), 1, 8)
                AS BIGINT) AS h
    FROM grams
),
winmin AS (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
               AS mh
    FROM hashed
),
prints AS (
    SELECT DISTINCT doc_id, mh
    FROM winmin WHERE pos >= {_WINNOW_W}
)
SELECT doc_id, count(*) AS n_prints, sum(mh) AS print_sum
FROM prints GROUP BY doc_id ORDER BY doc_id
"""


@query("text_winnowing_fingerprint", _WINNOW_ORACLE)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every 5-char k-gram, slide a
    4-wide window, keep each window's minimum hash. The selected set is
    position-local (unlike MinHash's global minima), which gives the
    winnowing guarantee: any shared substring of length >= k+w-1
    contributes at least one common fingerprint — the right screen for
    partial/plagiarized overlap where whole-doc MinHash dilutes. All
    JVM-side: sequence+explode fans each doc to its gram positions
    (per-row bounded, like ``dedup_exact_substring``), md5 -> 32-bit
    int via conv, and the min is a per-doc ROWS frame — one shuffle
    keyed on doc_id, whose partitions are document-sized. Emits per-doc
    print count + sum (the joinable fingerprint inventory); matching
    docs is then a fingerprint equi-join, never doc x doc.
    """
    # spread (guide §2.5, r9): the explode fans each doc to ~|text| rows
    # and md5-hashes EVERY character position — by far the heaviest
    # per-doc map in the text tier — and a single-row-group fixture scan
    # pins all of it to one core. Gated: an already-parallel scan skips
    # the shuffle.
    docs = spread(
        read_table(spark, sf_dir, "documents").where(
            F.length("text") >= _WINNOW_K + _WINNOW_W - 1
        )
    )
    grams = docs.select(
        "doc_id",
        F.lower("text").alias("t"),
        F.explode(
            F.sequence(
                F.lit(1), F.length(F.lower("text")) - _WINNOW_K + 1
            )
        ).alias("pos"),
    )
    hashed = grams.select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(t, pos, {_WINNOW_K})")), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        -(_WINNOW_W - 1), 0
    )
    prints = (
        hashed.select("doc_id", "pos", F.min("h").over(w).alias("mh"))
        .where(F.col("pos") >= _WINNOW_W)
        .select("doc_id", "mh")
        .distinct()
    )
    return (
        prints.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_prints"), F.sum("mh").alias("print_sum"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# stats_bootstrap_poisson — one-pass Poisson-bootstrap SE for a mean
# ---------------------------------------------------------------------------

_BOOT_B = 32
# cumulative CDF of Poisson(1): weight = #thresholds below u
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)

_BOOT_ORACLE = f"""
WITH x AS (
    SELECT o_orderkey AS k,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
),
fan AS (
    SELECT k, cents, unnest(range(1, {_BOOT_B + 1})) AS b FROM x
),
wtd AS (
    SELECT b, cents,
           CAST(u >= {_POIS_CDF[0]} AS INTEGER) + CAST(u >= {_POIS_CDF[1]} AS INTEGER)
             + CAST(u >= {_POIS_CDF[2]} AS INTEGER) + CAST(u >= {_POIS_CDF[3]} AS INTEGER)
             + CAST(u >= {_POIS_CDF[4]} AS INTEGER) + CAST(u >= {_POIS_CDF[5]} AS INTEGER) AS w
    FROM (
        SELECT b, cents,
               CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8)
                    AS BIGINT) / 4294967296.0 AS u
        FROM fan
    )
),
reps AS (
    SELECT b, sum(w * cents) / CAST(sum(w) AS DOUBLE) AS rep_mean
    FROM wtd GROUP BY b
),
pt AS (
    SELECT count(*) AS n_orders,
           sum(cents) / CAST(count(*) AS DOUBLE) AS point_mean
    FROM x
)
SELECT n_orders,
       floor(point_mean * 1e4 + 0.5) / 1e4 AS point_mean_cents,
       floor(stddev_samp(rep_mean) * 1e4 + 0.5) / 1e4 AS boot_se_cents,
       floor(min(rep_mean) * 1e4 + 0.5) / 1e4 AS rep_min,
       floor(max(rep_mean) * 1e4 + 0.5) / 1e4 AS rep_max
FROM reps, pt
GROUP BY n_orders, point_mean
"""


@query("stats_bootstrap_poisson", _BOOT_ORACLE)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012): the only way to
    bootstrap at 100 TB. Classic resampling needs n draws WITH
    replacement per replicate — a global shuffle per replicate; the
    Poisson trick gives each row an independent Poisson(1) weight per
    replicate, so all B=32 replicates stream in ONE pass with map-side
    partial aggregation (fan-out is a per-row constant, B rows). The
    per-(row,replicate) uniform comes from md5(orderkey:b) — fully
    deterministic, no seed plumbing — and the weight is the count of
    CDF thresholds below it (exact Poisson(1) inverse-CDF for w<=5,
    P(>5|u in hex grid) ~ 6e-4). Replicate means are exact-integer
    ratios; the bootstrap SE over 32 replicate means is the estimator's
    sampling error, reported with min/max replicate as the crude CI.
    """
    orders = read_table(spark, sf_dir, "orders")
    x = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    fan = x.select(
        "k", "cents", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("k").cast("string"), F.col("b").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = sum(
        (u >= F.lit(t)).cast("int") for t in _POIS_CDF
    )
    wtd = fan.select("b", "cents", w.alias("w"))
    reps = wtd.groupBy("b").agg(
        (F.sum(F.col("w") * F.col("cents")) / F.sum("w").cast("double")).alias(
            "rep_mean"
        )
    )
    pt = x.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents") / F.count(F.lit(1)).cast("double")).alias("point_mean"),
    )
    r4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        reps.crossJoin(F.broadcast(pt))
        .groupBy("n_orders", "point_mean")
        .agg(
            r4(F.stddev_samp("rep_mean")).alias("boot_se_cents"),
            r4(F.min("rep_mean")).alias("rep_min"),
            r4(F.max("rep_mean")).alias("rep_max"),
        )
        .select(
            "n_orders",
            r4(F.col("point_mean")).alias("point_mean_cents"),
            "boot_se_cents",
            "rep_min",
            "rep_max",
        )
    )


# ---------------------------------------------------------------------------
# stats_mann_kendall_trend — non-parametric monotonic-trend test
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
pairs AS (
    SELECT CASE WHEN b.rev > a.rev THEN 1
                WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
    FROM monthly a JOIN monthly b ON a.m < b.m
),
s AS (
    SELECT (SELECT count(*) FROM monthly) AS n, sum(sgn) AS s_stat FROM pairs
)
SELECT n, s_stat,
       floor((CASE WHEN s_stat > 0 THEN s_stat - 1
                   WHEN s_stat < 0 THEN s_stat + 1
                   ELSE 0 END)
             / sqrt(n * (n - 1) * (2 * n + 5) / 18.0) * 1e6 + 0.5) / 1e6 AS z,
       floor(s_stat / (n * (n - 1) / 2.0) * 1e6 + 0.5) / 1e6 AS tau
FROM s
"""


@query("stats_mann_kendall_trend", _MK_ORACLE)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on monthly revenue: S = sum of
    sign(x_j - x_i) over all i<j month pairs, Kendall's tau = S / C(n,2),
    z with the continuity correction — the standard "is this KPI
    actually drifting" test that needs no linearity or normality
    assumption. The O(n²) pair join is safe BECAUSE it runs on the
    calendar-bounded monthly rollup (n~80 months -> 3k pairs), never on
    rows — the same aggregate-first discipline as the changepoint scan;
    a century of data is still only 1200 months. Revenue is integer
    cents so every sign comparison is exact; n and S stay integers
    until the final two ratios (rounded 1e-6). Tie term omitted from
    var(S): distinct-month revenues in cents never tie in practice, and
    the simple variance is the reference form.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.m") < F.col("b.m")).select(
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    nrow = monthly.agg(F.count(F.lit(1)).alias("n"))
    s = pairs.agg(F.sum("sgn").alias("s_stat")).crossJoin(F.broadcast(nrow))
    n = F.col("n")
    s_adj = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    z = s_adj / F.sqrt(n * (n - 1) * (2 * n + 5) / F.lit(18.0))
    tau = F.col("s_stat") / (n * (n - 1) / F.lit(2.0))
    return s.select("n", "s_stat", r6(z).alias("z"), r6(tau).alias("tau"))


# ---------------------------------------------------------------------------
# stats_cuped_adjustment — variance reduction via pre-period covariate
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS x,
           sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM per_user
),
c AS (
    SELECT n,
           (sxx - sx * (sx / CAST(n AS DOUBLE))) / (n - 1) AS vx,
           (syy - sy * (sy / CAST(n AS DOUBLE))) / (n - 1) AS vy,
           (sxy - sx * (sy / CAST(n AS DOUBLE))) / (n - 1) AS cxy
    FROM m
)
SELECT n,
       floor(cxy / vx * 1e6 + 0.5) / 1e6 AS theta,
       floor(vy * 1e4 + 0.5) / 1e4 AS var_y,
       floor((vy - cxy * cxy / vx) * 1e4 + 0.5) / 1e4 AS var_y_cuped,
       floor((cxy * cxy / (vx * vy)) * 1e6 + 0.5) / 1e6 AS var_reduction
FROM c
"""


@query("stats_cuped_adjustment", _CUPED_ORACLE)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13) — the industry-standard experiment
    variance-reduction: regress each user's in-experiment metric y on
    their pre-period metric x (theta = cov(x,y)/var(x)) and analyze
    y - theta*x instead; variance drops by exactly rho², so the same
    experiment needs rho²-fraction fewer users. Pre/post split at the
    month midpoint; both per-user totals come from ONE conditional-sum
    hash aggregate (no second scan, no self-join), and all moments are
    exact integer sums as in `stats_delta_method_ratio` — doubles only
    in the final 1-row closed form. At 100 TB the pre-period covariate
    would be a materialized user dimension; the moment pass is
    unchanged.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    day = F.col("ts").cast("date")
    split = F.lit("2024-01-15").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(day < split, cents).otherwise(0)).alias("x"),
        F.sum(F.when(day >= split, cents).otherwise(0)).alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = (F.col("sxx") - F.col("sx") * (F.col("sx") / nd)) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * (F.col("sy") / nd)) / (F.col("n") - 1)
    cxy = (F.col("sxy") - F.col("sx") * (F.col("sy") / nd)) / (F.col("n") - 1)
    c = m.select("n", vx.alias("vx"), vy.alias("vy"), cxy.alias("cxy"))
    r4 = lambda col: F.floor(col * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return c.select(
        "n",
        r6(F.col("cxy") / F.col("vx")).alias("theta"),
        r4(F.col("vy")).alias("var_y"),
        r4(
            F.col("vy") - F.col("cxy") * F.col("cxy") / F.col("vx")
        ).alias("var_y_cuped"),
        r6(
            F.col("cxy") * F.col("cxy") / (F.col("vx") * F.col("vy"))
        ).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# win_hampel_filter — rolling-median (Hampel) outlier screen
# ---------------------------------------------------------------------------

_HAMPEL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
scale AS (
    SELECT median(rev) AS med FROM daily
),
mad AS (
    SELECT median(abs(rev - (SELECT med FROM scale))) AS mad FROM daily
),
roll AS (
    SELECT day, rev,
           CAST(2 * median(rev) OVER (ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                AS BIGINT) AS med2
    FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       rev,
       2 * rev - med2 AS residual2
FROM roll
WHERE abs(2 * rev - med2) > 2 * 3 * 1.4826 * (SELECT mad FROM mad)
ORDER BY day
"""


@query("win_hampel_filter", _HAMPEL_ORACLE)
def win_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter: flag days whose revenue deviates from the CENTERED
    7-day rolling median by more than 3 robust sigmas (1.4826·MAD) —
    the standard despiking screen for telemetry, robust where the
    rolling-mean z-score (`events_rolling_zscore`) is itself dragged by
    the outlier it should catch. Aggregates to day grain first, so the
    rolling median is a ROWS frame over a calendar-bounded rollup; the
    global MAD is two scalar medians over that same rollup, broadcast
    into the filter (same discipline as `dq_mad_outliers`). Spark bans
    ordered-set aggregates in window frames, so the 7-row rolling
    median is array_sort(collect_list) over the frame with the two
    middle elements summed — the DOUBLED median, which keeps the whole
    comparison and the emitted residual integer-exact (an even-width
    edge frame's median is an exact .5).
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    med = daily.agg(F.median("rev").alias("med"))
    mad = daily.crossJoin(F.broadcast(med)).agg(
        F.median(F.abs(F.col("rev") - F.col("med"))).alias("mad")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    arr = F.array_sort(F.collect_list("rev").over(w))
    k = F.size(arr)
    med2 = F.element_at(arr, ((k + 1) / 2).cast("int")) + F.element_at(
        arr, ((k + 2) / 2).cast("int")
    )
    roll = daily.select("day", "rev", med2.alias("med2"))
    return (
        roll.crossJoin(F.broadcast(mad))
        .where(
            F.abs(2 * F.col("rev") - F.col("med2"))
            > 2 * 3 * 1.4826 * F.col("mad")
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "rev",
            (2 * F.col("rev") - F.col("med2")).alias("residual2"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ml_confusion_lang_id — confusion matrix + per-class precision/recall/F1
# ---------------------------------------------------------------------------


def _conf_oracle() -> str:
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
    SELECT actual, {_LANG_SQL} AS pred, count(*) AS n
    FROM hits GROUP BY 1, 2
),
classes AS (
    SELECT DISTINCT actual AS cls FROM conf
    UNION SELECT DISTINCT pred FROM conf
),
m AS (
    SELECT c.cls,
           coalesce((SELECT sum(n) FROM conf
                     WHERE actual = c.cls AND pred = c.cls), 0) AS tp,
           coalesce((SELECT sum(n) FROM conf WHERE actual = c.cls), 0) AS actual_n,
           coalesce((SELECT sum(n) FROM conf WHERE pred = c.cls), 0) AS pred_n
    FROM classes c
)
SELECT cls, tp, actual_n, pred_n,
       CASE WHEN pred_n > 0
            THEN floor(tp / CAST(pred_n AS DOUBLE) * 1e6 + 0.5) / 1e6 END
           AS precision_,
       CASE WHEN actual_n > 0
            THEN floor(tp / CAST(actual_n AS DOUBLE) * 1e6 + 0.5) / 1e6 END
           AS recall_,
       CASE WHEN tp > 0
            THEN floor(2.0 * tp / (pred_n + actual_n) * 1e6 + 0.5) / 1e6 END
           AS f1
FROM m ORDER BY cls
"""


@query("ml_confusion_lang_id", _conf_oracle())
def ml_confusion_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation primitive: confusion matrix + per-class
    precision/recall/F1 for the language-ID heuristic (`text_lang_id`)
    against the labeled `lang` column — the readout every classifier
    in a data pipeline needs after retraining. The fact collapses to
    the (actual, pred) confusion rollup in one hash aggregate (at most
    classes² rows however big the corpus); each cell then unpivots into
    its two class-margin contributions (actual-side carries tp and
    actual_n, pred-side carries pred_n) and one second tiny aggregate
    yields all margins — ONE scan of the corpus, no self-joins of the
    rollup (a naive margins-by-join plan re-reads the fact once per
    margin). F1 uses the margin identity 2·tp/(pred_n+actual_n),
    exact in integers until one final division.
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
    )
    contrib = conf.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("actual").alias("cls"),
                    F.when(F.col("actual") == F.col("pred"), F.col("n"))
                    .otherwise(F.lit(0))
                    .alias("tp"),
                    F.col("n").alias("actual_n"),
                    F.lit(0).cast("long").alias("pred_n"),
                ),
                F.struct(
                    F.col("pred").alias("cls"),
                    F.lit(0).cast("long").alias("tp"),
                    F.lit(0).cast("long").alias("actual_n"),
                    F.col("n").alias("pred_n"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    m = contrib.groupBy("cls").agg(
        F.sum("tp").alias("tp"),
        F.sum("actual_n").alias("actual_n"),
        F.sum("pred_n").alias("pred_n"),
    )
    return m.select(
        "cls",
        "tp",
        "actual_n",
        "pred_n",
        F.when(
            F.col("pred_n") > 0,
            r6(F.col("tp") / F.col("pred_n").cast("double")),
        ).alias("precision_"),
        F.when(
            F.col("actual_n") > 0,
            r6(F.col("tp") / F.col("actual_n").cast("double")),
        ).alias("recall_"),
        F.when(
            F.col("tp") > 0,
            r6(2.0 * F.col("tp") / (F.col("pred_n") + F.col("actual_n"))),
        ).alias("f1"),
    ).orderBy("cls")


# ---------------------------------------------------------------------------
# ml_auc_roc — exact ROC AUC from the rank rollup (U / n1·n0)
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH v AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS score,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events WHERE event_type IN ('purchase', 'click')
),
rollup AS (
    SELECT score, sum(pos) AS np, count(*) - sum(pos) AS nn
    FROM v GROUP BY score
),
ranked AS (
    SELECT np, nn, np + nn AS t,
           coalesce(sum(np + nn) OVER (
               ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM rollup
),
s AS (
    SELECT sum(np) AS n_pos, sum(nn) AS n_neg,
           sum(np * (2 * cum_before + t + 1)) AS r2_pos
    FROM ranked
)
SELECT n_pos, n_neg,
       floor((r2_pos - n_pos * (n_pos + 1))
             / (2.0 * n_pos * n_neg) * 1e6 + 0.5) / 1e6 AS auc
FROM s
"""


@query("ml_auc_roc", _AUC_ORACLE)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of `value` as a score for purchase-vs-click — the
    first metric checked after training any ranker/classifier. Uses the
    rank identity AUC = U/(n_pos·n_neg) = P(score_pos > score_neg) with
    ties counted half, so it shares the Mann-Whitney machinery: scores
    quantize to cents, collapse to a distinct-score rollup (bounded
    keyspace), and the exclusive prefix count over the score order runs
    as the two-phase distributed scan (`with_prefix_sum`, score-range
    buckets — no single-partition window even over the rollup), giving
    exact doubled mid-ranks — never a global sort of raw rows, which is
    how sklearn-style per-row ROC curves die at 100 TB. Integer-exact
    until the single final division (rounded 1e-6).
    """
    from ..operators.relational import with_prefix_sum

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    v = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    rollup = v.groupBy("score").agg(
        F.sum("pos").alias("np"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn"),
    ).withColumn("t", F.col("np") + F.col("nn"))
    ranked = with_prefix_sum(
        rollup,
        "t",
        [F.col("score")],
        F.floor(F.col("score") / F.lit(1 << 12)).cast("long"),
        col_name="_cum_incl",
    ).select(
        "np",
        "nn",
        "t",
        (F.col("_cum_incl") - F.col("t")).alias("cum_before"),
    )
    s = ranked.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(
            F.col("np") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("r2_pos"),
    )
    auc = (F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)) / (
        2.0 * F.col("n_pos") * F.col("n_neg")
    )
    return s.select(
        "n_pos",
        "n_neg",
        r6(auc).alias("auc"),
    )


# ---------------------------------------------------------------------------
# events_forecast_seasonal_naive — seasonal-naive backtest (MAE/sMAPE)
# ---------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev
    FROM events GROUP BY 1
),
fc AS (
    SELECT day, rev,
           lag(rev, 7) OVER (ORDER BY day) AS forecast
    FROM daily
)
SELECT count(*) AS n_days,
       sum(abs(rev - forecast)) AS abs_err_cents,
       floor(sum(abs(rev - forecast)) / CAST(count(*) AS DOUBLE) * 1e4 + 0.5)
           / 1e4 AS mae_cents,
       floor(avg(2.0 * abs(rev - forecast) / (abs(rev) + abs(forecast)))
             * 1e6 + 0.5) / 1e6 AS smape
FROM fc WHERE forecast IS NOT NULL
"""


@query("events_forecast_seasonal_naive", _SNAIVE_ORACLE)
def events_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue as
    the value 7 days earlier and score MAE + sMAPE — the mandatory
    benchmark floor for any demand-forecasting model (a model that
    can't beat seasonal-naive is noise), and the cheapest drift alarm
    for a weekly-periodic metric. One day-grain rollup, one lag(7)
    window over the calendar-bounded series, one scalar aggregate:
    errors are integer cents; only MAE's mean and sMAPE divide, each
    rounded. At 100 TB the rollup is the only thing that touches the
    fact — same shape as `events_mom_change` at day grain.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    fc = daily.select(
        "rev", F.lag("rev", 7).over(Window.orderBy("day")).alias("forecast")
    ).where(F.col("forecast").isNotNull())
    err = F.abs(F.col("rev") - F.col("forecast"))
    return fc.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(err).alias("abs_err_cents"),
        (
            F.floor(
                F.sum(err) / F.count(F.lit(1)).cast("double") * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("mae_cents"),
        r6(
            F.avg(
                2.0 * err / (F.abs(F.col("rev")) + F.abs(F.col("forecast")))
            )
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# text_feature_hashing — hashing-trick featurization census
# ---------------------------------------------------------------------------

_FHASH_BUCKETS = 64

_FHASH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, tok,
           CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_FHASH_BUCKETS}
               AS bucket
    FROM toks WHERE length(tok) >= 3
)
SELECT bucket,
       count(*) AS n_tokens,
       count(DISTINCT tok) AS n_distinct_terms,
       count(DISTINCT doc_id) AS n_docs
FROM hashed GROUP BY bucket ORDER BY bucket
"""


@query("text_feature_hashing", _FHASH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09): map
    every token to one of 64 feature buckets via md5 — the fixed-width,
    vocabulary-free featurizer that needs NO fitted dictionary, so
    feature extraction at 100 TB is a stateless map with nothing
    broadcast and nothing to version-skew between training and serving.
    Emitted here as the bucket census (token mass, distinct terms per
    bucket = collision load, document reach) — the collision audit you
    run before committing to a hash width; per-doc sparse vectors are
    the same relation grouped by (doc_id, bucket). The md5-derived
    bucket is engine-portable and seedless, like every hash in this
    repo (`sample_hash_split`, `dedup_prefix_hash`).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
    ).where(F.length("tok") >= 3)
    hashed = toks.select(
        "doc_id",
        "tok",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _FHASH_BUCKETS
        ).alias("bucket"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct_terms"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# text_kneser_ney_bigram — interpolated Kneser-Ney bigram language model
# ---------------------------------------------------------------------------

_KN_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(regexp_replace(text, '[^a-z ]+', ' ', 'g'))), ' +')
               AS ts
    FROM documents
    WHERE trim(lower(regexp_replace(text, '[^a-z ]+', ' ', 'g'))) <> ''
),
bi AS (
    SELECT ts[i] AS w1, ts[i+1] AS w2
    FROM toks, unnest(range(1, len(ts))) AS t(i)
    WHERE len(ts) >= 2
),
bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
left_tot AS (SELECT w1, sum(c) AS tot, count(*) AS n_types FROM bc GROUP BY 1),
cont AS (SELECT w2, count(*) AS cont_c FROM bc GROUP BY 1),
n_bigram_types AS (SELECT count(*) AS nbt FROM bc),
scored AS (
    SELECT b.w1, b.w2, b.c,
           floor((
             (b.c - 0.75) / lt.tot
             + 0.75 * lt.n_types / lt.tot
               * ct.cont_c / (SELECT CAST(nbt AS DOUBLE) FROM n_bigram_types)
           ) * 1e6 + 0.5) / 1e6 AS p_kn,
           row_number() OVER (ORDER BY b.c DESC, b.w1, b.w2) AS rn
    FROM bc b
    JOIN left_tot lt ON b.w1 = lt.w1
    JOIN cont ct ON b.w2 = ct.w2
)
SELECT w1, w2, c, p_kn FROM scored WHERE rn <= 20
ORDER BY c DESC, w1, w2
"""


@query("text_kneser_ney_bigram", _KN_ORACLE)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney '95; Chen &
    Goodman '99) — the strongest classical n-gram smoothing and the
    model behind KenLM-style corpus-quality filters (CCNet scores every
    document with exactly this). P_KN(w2|w1) = max(c-D,0)/tot(w1) +
    D·types(w1)/tot(w1) · cont(w2)/|bigram types|, D=0.75: the backoff
    uses CONTINUATION counts (how many contexts a word follows), which
    is what distinguishes KN from naive interpolation. All four count
    relations are hash aggregates of the bigram stream (map-side
    combined); the two smoothing dividends join back keyed on w1/w2 —
    at 100 TB both are vocabulary-sized, partitioned the same way as
    the bigram table, so the joins co-locate. Top-20 emitted via one
    TakeOrdered; probabilities are exact-integer ratios rounded 1e-6.
    """
    # (r9: measured spread-vs-not 3x back-to-back — the regex+explode
    # map is cheap enough that the spread's shuffle costs more than it
    # buys here, ~1.5s vs ~1.3s; the win below is the PIN.)
    docs = read_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.lower(F.regexp_replace("text", "[^a-z A-Z]+", " "))
    )
    toks = docs.select(F.split(cleaned, " +").alias("ts")).where(
        cleaned != ""
    )
    bi = toks.where(F.size("ts") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i-1] as w1, ts[i] as w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # pin (guide §2.4, r9 — the agg_abc_classification precedent): the
    # bigram-count relation feeds FOUR consumers (left totals,
    # continuation counts, the type-count scalar, and the scoring join
    # itself); without the pin each consumer re-derives the regex +
    # explode corpus pass.
    bc = _pin_lazy(bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    left_tot = bc.groupBy("w1").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("n_types")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("cont_c"))
    nbt = bc.agg(F.count(F.lit(1)).alias("nbt"))
    scored = (
        bc.join(left_tot, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbt))
        .select(
            "w1",
            "w2",
            "c",
            r6(
                (F.col("c") - 0.75) / F.col("tot")
                + 0.75
                * F.col("n_types")
                / F.col("tot")
                * F.col("cont_c")
                / F.col("nbt").cast("double")
            ).alias("p_kn"),
        )
    )
    return scored.orderBy(F.col("c").desc(), "w1", "w2").limit(20)


# ---------------------------------------------------------------------------
# graph_jaccard_copurchase — common-neighbor Jaccard link prediction
# ---------------------------------------------------------------------------

_JACC_ORACLE = """
WITH baskets AS (
    SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
    FROM lineitem GROUP BY l_orderkey
),
pairs AS (
    SELECT parts[i] AS pa, parts[j] AS pb
    FROM baskets,
         unnest(range(1, len(parts) + 1)) AS t1(i),
         unnest(range(1, len(parts) + 1)) AS t2(j)
    WHERE i < j
),
co AS (SELECT pa, pb, count(*) AS co_n FROM pairs GROUP BY 1, 2),
deg AS (
    SELECT l_partkey AS p, count(DISTINCT l_orderkey) AS d
    FROM lineitem GROUP BY 1
),
scored AS (
    SELECT c.pa, c.pb, c.co_n,
           da.d AS deg_a, db.d AS deg_b,
           floor(c.co_n / CAST(da.d + db.d - c.co_n AS DOUBLE) * 1e6 + 0.5)
               / 1e6 AS jaccard
    FROM co c JOIN deg da ON c.pa = da.p JOIN deg db ON c.pb = db.p
    WHERE c.co_n >= 2
)
SELECT pa, pb, co_n, deg_a, deg_b, jaccard
FROM scored
ORDER BY jaccard DESC, co_n DESC, pa, pb
LIMIT 25
"""


@query("graph_jaccard_copurchase", _JACC_ORACLE)
def graph_jaccard_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction on the part-copurchase
    graph: J(a,b) = |orders(a) ∩ orders(b)| / |orders(a) ∪ orders(b)| —
    the degree-normalized upgrade of `basket_affinity_pairs` (raw
    co-counts rank popular parts first; Jaccard surfaces parts that are
    SPECIFICALLY bought together), and the classic "customers also
    bought" / feature-correlation primitive. Co-counts come from the
    bounded per-order array double-explode (never a fact self-join);
    degrees are one distinct-count rollup joined back on each endpoint
    (vocabulary-sized, co-partitioned with the pair table at scale);
    the union in the denominator is inclusion-exclusion — exact
    integers until the final rounded division. Support floor co>=2 +
    TakeOrdered(25) bound the emitted ranking.
    """
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.where(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(parts) - 1),"
                    " i -> transform(sequence(i + 1, size(parts)),"
                    " j -> struct(parts[i-1] as pa, parts[j-1] as pb))))"
                )
            ).alias("pr")
        )
        .select("pr.pa", "pr.pb")
    )
    co = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("co_n"))
    deg = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.countDistinct("l_orderkey").alias("d")
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("deg_b"))
    scored = (
        co.where(F.col("co_n") >= 2)
        .join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            "co_n",
            "deg_a",
            "deg_b",
            r6(
                F.col("co_n")
                / (F.col("deg_a") + F.col("deg_b") - F.col("co_n")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("co_n").desc(), "pa", "pb"
    ).limit(25)


# ---------------------------------------------------------------------------
# ml_calibration_bins — calibration curve + Brier score
# ---------------------------------------------------------------------------



@query(
    "ml_calibration_bins",
    """
WITH scored AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
           greatest(least(CAST(floor(value) AS BIGINT), 99), 0) AS score_pct
    FROM events WHERE event_type IN ('purchase', 'click')
),
binned AS (
    SELECT CAST(floor(score_pct / 10) AS BIGINT) AS bin,
           count(*) AS n,
           sum(label) AS n_pos,
           sum(score_pct) AS score_sum,
           sum((score_pct / 100.0 - label)
               * (score_pct / 100.0 - label)) AS brier_sum
    FROM scored GROUP BY 1
)
SELECT bin, n, n_pos,
       floor(score_sum / (100.0 * n) * 1e6 + 0.5) / 1e6 AS mean_pred,
       floor(n_pos / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS obs_rate,
       floor(brier_sum / n * 1e6 + 0.5) / 1e6 AS brier
FROM binned
ORDER BY bin
""",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + per-bin Brier score: treat value/100 as a
    predicted purchase probability, bucket into deciles, and compare
    mean predicted vs observed positive rate — the reliability diagram
    every probabilistic classifier ships with (a model can have great
    AUC and still be uncalibrated; `ml_auc_roc` + this = the standard
    eval pair). One conditional hash aggregate to 10 bins carries n,
    positives, score mass, and the Brier quadratic sum — so the curve,
    the rates, and the proper scoring rule all come from a single scan
    with map-side combine. Scores quantize to integer percent first;
    sums stay integer-exact except the Brier accumulation, whose
    per-row terms are exact hundredths (k/100)² in binary-safe range,
    rounded 1e-6 on output.
    """
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        F.greatest(
            F.least(F.floor("value").cast("long"), F.lit(99)), F.lit(0)
        ).alias("score_pct"),
    )
    p = F.col("score_pct") / 100.0
    binned = scored.groupBy(
        F.floor(F.col("score_pct") / 10).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("n_pos"),
        F.sum("score_pct").alias("score_sum"),
        F.sum((p - F.col("label")) * (p - F.col("label"))).alias("brier_sum"),
    )
    return binned.select(
        "bin",
        "n",
        "n_pos",
        r6(F.col("score_sum") / (100.0 * F.col("n"))).alias("mean_pred"),
        r6(F.col("n_pos") / F.col("n").cast("double")).alias("obs_rate"),
        r6(F.col("brier_sum") / F.col("n")).alias("brier"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# stats_hill_tail_alpha — Hill estimator of the power-law tail index
# ---------------------------------------------------------------------------

_HILL_K = 200

_HILL_ORACLE = f"""
WITH cents AS (
    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
    FROM orders
),
topk AS (
    SELECT x, row_number() OVER (ORDER BY x DESC) AS rn
    FROM cents QUALIFY rn <= {_HILL_K + 1}
),
kth AS (SELECT x AS xk FROM topk WHERE rn = {_HILL_K + 1})
SELECT {_HILL_K} AS k,
       (SELECT xk FROM kth) AS x_k,
       floor({_HILL_K} / sum(ln(x / CAST((SELECT xk FROM kth) AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS alpha_hill
FROM topk WHERE rn <= {_HILL_K}
"""


@query("stats_hill_tail_alpha", _HILL_ORACLE)
def stats_hill_tail_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order values:
    alpha = k / Σ ln(x_(i)/x_(k+1)) on the top-k order statistics — the
    standard heavy-tail diagnostic (alpha <= 2 means infinite variance:
    t-tests and z-scores on such a metric are lies, winsorize first —
    this query is the gate that decides). The only distributed work is
    a TakeOrdered top-(k+1) (per-partition heaps, no global sort); the
    log-sum runs on the k-row result. Values are integer cents, the
    ratio inside each ln is exact, and alpha is rounded 1e-6. Pairs
    with `text_zipf_fit` (rank-frequency) as the numeric-tail sibling.
    """
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x")
    )
    topk = cents.orderBy(F.col("x").desc()).limit(_HILL_K + 1)
    rn = F.row_number().over(Window.orderBy(F.col("x").desc()))
    ranked = topk.select("x", rn.alias("rn"))
    kth = ranked.where(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("xk")
    )
    return (
        ranked.where(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(kth))
        .agg(
            F.lit(_HILL_K).alias("k"),
            F.first("xk").alias("x_k"),
            r6(
                _HILL_K
                / F.sum(F.log(F.col("x") / F.col("xk").cast("double")))
            ).alias("alpha_hill"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_tokenizer_fertility — tokens-per-word fertility by language
# ---------------------------------------------------------------------------

_FERT_ORACLE = r"""
WITH counts AS (
    SELECT lang,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE array_length(string_split_regex(trim(text), '\s+'))
                END AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       sum(n_words) AS words,
       sum(n_tokens) AS tokens,
       floor(sum(n_tokens) / CAST(sum(n_words) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS fertility,
       floor(sum(n_chars) / CAST(sum(n_tokens) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS chars_per_token
FROM counts GROUP BY lang ORDER BY lang
"""


@query("corpus_tokenizer_fertility", _FERT_ORACLE)
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace
    word and characters per token — THE multilingual-tokenizer equity
    diagnostic (a tokenizer with 3× fertility on one language triples
    that language's effective sequence length and cost; papers report
    exactly this table before training). Reuses the repo's
    BPE-pretokenizer regex census (`text_token_count_regex`) per
    document, then one hash aggregate to language grain — counts are
    exact integers, the two ratios are computed on the per-language
    rollup (sums first, divide once — never an average of per-doc
    ratios, which would weight short docs equally with long).
    """
    from ..functions.text import bpe_ish_token_count, token_count

    docs = read_table(spark, sf_dir, "documents")
    counts = docs.select(
        "lang",
        token_count(F.col("text")).alias("n_words"),
        bpe_ish_token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_tokens").alias("tokens"),
            r6(
                F.sum("n_tokens") / F.sum("n_words").cast("double")
            ).alias("fertility"),
            r6(
                F.sum("n_chars") / F.sum("n_tokens").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# events_periodicity_autocorr — lag-k autocorrelation of the daily series
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events GROUP BY 1
),
lagged AS (
    SELECT lag_k, cnt AS y, lag_val AS x
    FROM (
        SELECT 1 AS lag_k, cnt,
               lag(cnt, 1) OVER (ORDER BY day) AS lag_val FROM daily
        UNION ALL
        SELECT 7 AS lag_k, cnt,
               lag(cnt, 7) OVER (ORDER BY day) AS lag_val FROM daily
    ) WHERE lag_val IS NOT NULL
),
m AS (
    SELECT lag_k, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM lagged GROUP BY 1
)
SELECT lag_k, n,
       floor((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * CAST(n * syy - sy * sy AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS autocorr
FROM m ORDER BY lag_k
"""


@query("events_periodicity_autocorr", _ACF_ORACLE)
def events_periodicity_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily event volume — the
    periodicity diagnostic that decides whether `events_forecast_
    seasonal_naive`'s weekly assumption holds (high r(7), low r(1) =
    weekly seasonality; high r(1) = momentum/trend — difference first).
    The fact collapses to day grain once; both lags are windows over
    that calendar-bounded rollup (one ordered pass, two frame reads);
    Pearson r comes from the integer co-moment identity
    (n·sxy − sx·sy)/√((n·sxx−sx²)(n·syy−sy²)) — counts are integers so
    every accumulator is exact, one rounded division at the end.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("day")
    parts = []
    for k in (1, 7):
        parts.append(
            daily.select(
                F.lit(k).alias("lag_k"),
                F.col("cnt").alias("y"),
                F.lag("cnt", k).over(w).alias("x"),
            )
        )
    lagged = parts[0].unionByName(parts[1]).where(F.col("x").isNotNull())
    m = lagged.groupBy("lag_k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "lag_k",
        "n",
        r6(num / den).alias("autocorr"),
    ).orderBy("lag_k")


# ---------------------------------------------------------------------------
# events_audience_overlap — pairwise Jaccard of event-type user bases
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH per_user AS (
    SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
    FROM events GROUP BY user_id
),
pairs AS (
    SELECT types[i] AS ta, types[j] AS tb
    FROM per_user,
         unnest(range(1, len(types) + 1)) AS t1(i),
         unnest(range(1, len(types) + 1)) AS t2(j)
    WHERE i < j
),
co AS (SELECT ta, tb, count(*) AS both_n FROM pairs GROUP BY 1, 2),
aud AS (
    SELECT event_type, count(DISTINCT user_id) AS aud_n
    FROM events GROUP BY 1
)
SELECT c.ta, c.tb, c.both_n, a.aud_n AS aud_a, b.aud_n AS aud_b,
       floor(c.both_n / CAST(a.aud_n + b.aud_n - c.both_n AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS jaccard
FROM co c JOIN aud a ON c.ta = a.event_type JOIN aud b ON c.tb = b.event_type
ORDER BY ta, tb
"""


@query("events_audience_overlap", _OVERLAP_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |users doing both|
    / |users doing either| — the segment-overlap audit behind "should
    these two features share a model" and dedup of marketing audiences.
    Same scale shape as `graph_jaccard_copurchase`: the fact collapses
    to one sorted type-set per user (bounded array — there are only K
    event types), pairs come from the per-row double-explode of that
    tiny array (never a user×user or fact self-join), and audience
    sizes are one distinct-count rollup joined onto the K² pair table.
    Every count is exact; one rounded division per pair.
    """
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = (
        per_user.where(F.size("types") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(types) - 1),"
                    " i -> transform(sequence(i + 1, size(types)),"
                    " j -> struct(types[i-1] as ta, types[j-1] as tb))))"
                )
            ).alias("pr")
        )
        .select("pr.ta", "pr.tb")
    )
    co = pairs.groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("both_n"))
    aud = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("aud_n")
    )
    a = aud.select(F.col("event_type").alias("ta"), F.col("aud_n").alias("aud_a"))
    b = aud.select(F.col("event_type").alias("tb"), F.col("aud_n").alias("aud_b"))
    return (
        co.join(F.broadcast(a), "ta")
        .join(F.broadcast(b), "tb")
        .select(
            "ta",
            "tb",
            "both_n",
            "aud_a",
            "aud_b",
            r6(
                F.col("both_n")
                / (F.col("aud_a") + F.col("aud_b") - F.col("both_n")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("ta", "tb")
    )


# ---------------------------------------------------------------------------
# win_theil_sen_slope — robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

_TS_ORACLE = """
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
idx AS (
    SELECT rev, row_number() OVER (ORDER BY m) - 1 AS t FROM monthly
),
slopes AS (
    SELECT (b.rev - a.rev) / CAST(b.t - a.t AS DOUBLE) AS slope
    FROM idx a JOIN idx b ON a.t < b.t
)
SELECT count(*) AS n_pairs,
       floor(median(slope) * 1e4 + 0.5) / 1e4 AS sen_slope_cents
FROM slopes
"""


@query("win_theil_sen_slope", _TS_ORACLE)
def win_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the median of all pairwise slopes
    (rev_j − rev_i)/(j − i) over the monthly revenue series — the
    estimator that pairs with `stats_mann_kendall_trend` (MK answers
    "is there a trend", Sen answers "how steep", both immune to ~29%
    outlier contamination where OLS breaks at one bad month). The pair
    join runs on the calendar-bounded monthly rollup (~80 rows → 3k
    pairs — a broadcast self-join, no shuffle of the fact); each slope
    is one exact-integer difference ratio, and the median of that
    bounded slope multiset is deterministic across engines (rounded
    1e-4 cents/month on output).
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    idx = monthly.select(
        "rev", (F.row_number().over(Window.orderBy("m")) - 1).alias("t")
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(F.broadcast(b), F.col("a.t") < F.col("b.t")).select(
        (
            (F.col("b.rev") - F.col("a.rev"))
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("slope")
    )
    return slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.floor(F.median("slope") * 1e4 + F.lit(0.5)) / 1e4).alias(
            "sen_slope_cents"
        ),
    )


# ---------------------------------------------------------------------------
# dedup_minhash_accuracy — sketch-vs-exact Jaccard error audit
# ---------------------------------------------------------------------------

def _minhash_acc_sql() -> str:
    from ..operators.dedup import NUM_SEEDS
    from .sql_common import SHINGLES_CTE as _SHINGLES_CTE

    mins = ",\n         ".join(
        f"min(CASE WHEN seed = {k} THEN mh END) AS m{k}" for k in range(NUM_SEEDS)
    )
    eq = " + ".join(
        f"CAST(sa.m{k} = sb.m{k} AS INTEGER)" for k in range(NUM_SEEDS)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT doc_a, doc_b,
             floor(i / CAST(na.n + nb.n - i AS DOUBLE) * 1e6 + 0.5) / 1e6
                 AS jaccard
      FROM inter
      JOIN sizes na ON inter.doc_a = na.doc_id
      JOIN sizes nb ON inter.doc_b = nb.doc_id
    ),
    hv AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h FROM sh
    ),
    seeded AS (
      SELECT doc_id, seed,
             ((2654435761 * (seed + 1)) % 536870912) * h
                 + ((40503 * (seed + 7)) % 4294967311) AS ah
      FROM hv, (SELECT unnest(range(0, {NUM_SEEDS})) AS seed)
    ),
    per_seed AS (SELECT doc_id, seed, min(ah % 4294967311) AS mh
                 FROM seeded GROUP BY doc_id, seed),
    sig AS (SELECT doc_id, {mins} FROM per_seed GROUP BY doc_id),
    est AS (
      SELECT j.doc_a, j.doc_b, j.jaccard,
             ({eq}) / CAST({NUM_SEEDS} AS DOUBLE) AS mh_est
      FROM jac j JOIN sig sa ON j.doc_a = sa.doc_id
                 JOIN sig sb ON j.doc_b = sb.doc_id
      WHERE j.jaccard >= 0.1
    )
    SELECT count(*) AS n_pairs,
           floor(avg(abs(mh_est - jaccard)) * 1e6 + 0.5) / 1e6 AS mae,
           floor(avg(mh_est - jaccard) * 1e6 + 0.5) / 1e6 AS bias
    FROM est
    """


@query("dedup_minhash_accuracy", _minhash_acc_sql())
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: MinHash-estimated Jaccard (fraction of the
    16 per-seed minima that agree) vs EXACT shingle Jaccard, over every
    pair with exact similarity >= 0.1 — the calibration run that tells
    you whether 16 hashes / 8 bands is enough before trusting
    `dedup_minhash_lsh` on 100 TB (expected |error| ~ 1/sqrt(k) ≈ 0.25;
    the audit reports the realized MAE and bias). Exact Jaccard is
    computed only on co-shingle pairs (equi-join on the shingle key,
    never doc×doc); signatures are the same 16 parallel min-aggregates
    the production path uses (`operators/dedup.py minhash_signatures`);
    the comparison join moves one wide signature row per doc. At full
    scale you run this on a sampled partition — the plan is unchanged.
    """
    from ..operators.dedup import NUM_SEEDS, jaccard_pairs, minhash_signatures, word_shingles

    docs = read_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, distinct=True)
    jac = jaccard_pairs(sh, threshold=0.1)
    sig = minhash_signatures(sh)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(NUM_SEEDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(NUM_SEEDS)],
    )
    eq = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(NUM_SEEDS)
    )
    est = (
        jac.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "jaccard", (eq / F.lit(float(NUM_SEEDS))).alias("mh_est")
        )
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.avg(F.abs(F.col("mh_est") - F.col("jaccard")))).alias("mae"),
        r6(F.avg(F.col("mh_est") - F.col("jaccard"))).alias("bias"),
    )


# ---------------------------------------------------------------------------
# similarity_lsh_recall — recall@5 of the LSH path against the exact path
# ---------------------------------------------------------------------------

def _lsh_recall_sql() -> str:
    from .sql_common import _EXACT_SIM_CTE, _srp_sql

    return f"""
    WITH {_EXACT_SIM_CTE},
    exact_rank AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        FROM sims
      ) WHERE rnk <= 5
    ),
    {_srp_sql()},
    q2 AS (SELECT e.vec_id AS qid, e.embedding AS qe, b.bucket AS qb
           FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
           WHERE e.vec_id < 20),
    c2 AS (SELECT e.vec_id AS cid, e.embedding AS ce, b.bucket AS cb
           FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
    flat2 AS (
      SELECT qid, cid,
             CAST(unnest(qe) AS DOUBLE) AS qv,
             CAST(unnest(ce) AS DOUBLE) AS cv
      FROM q2, c2 WHERE qb = cb AND qid <> cid
    ),
    sims2 AS (
      SELECT qid, cid, {cos_grid_sql('qv', 'cv')} AS sim
      FROM flat2 GROUP BY qid, cid
    ),
    lsh_rank AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
        FROM sims2
      ) WHERE rnk <= 5
    ),
    hits AS (
      SELECT e.qid, count(*) AS n_hits
      FROM exact_rank e JOIN lsh_rank l ON e.qid = l.qid AND e.cid = l.cid
      GROUP BY e.qid
    )
    SELECT q.qid, coalesce(h.n_hits, 0) AS n_hits,
           floor(coalesce(h.n_hits, 0) / 5.0 * 1e6 + 0.5) / 1e6 AS recall_at_5
    FROM (SELECT DISTINCT qid FROM exact_rank) q
    LEFT JOIN hits h ON q.qid = h.qid
    ORDER BY q.qid
    """


@query("similarity_lsh_recall", _lsh_recall_sql())
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@5 of the sign-random-projection LSH
    top-k (`similarity_topk_lsh`) against the exact brute-force top-k
    (`similarity_topk_exact`), per query vector — the measurement that
    decides whether 4 hyperplanes / 16 buckets is an acceptable
    accuracy-for-cost trade before pointing the LSH path at 100 TB
    (and the pattern for tuning nprobe on the IVF path). Both rankings
    come from the production operators; the comparison is an equi-join
    of two (qid, cid) top-k relations — 5 rows per query each — so the
    evaluation itself costs nothing beyond the two searches. Queries
    whose bucket holds fewer than 5 true neighbors surface directly as
    recall < 1, making the bucket-granularity risk visible per query.
    """
    from ..operators.similarity import topk_exact, topk_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 20
    exact = topk_exact(emb, pred, k=5).select("qid", "cid")
    lsh = topk_lsh(emb, pred, k=5).select("qid", "cid")
    hits = exact.join(lsh, ["qid", "cid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    base = exact.select("qid").distinct()
    return (
        base.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            r6(F.coalesce("n_hits", F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# events_weekday_adjust — day-of-week seasonal indices
# ---------------------------------------------------------------------------

_WDAY_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev
    FROM events GROUP BY 1
),
by_dow AS (
    SELECT dayofweek(day) + 1 AS dow, count(*) AS n_days, sum(rev) AS rev
    FROM daily GROUP BY 1
),
tot AS (SELECT sum(rev) AS trev, sum(n_days) AS tdays FROM by_dow)
SELECT dow, n_days,
       floor(rev / CAST(n_days AS DOUBLE) * 1e4 + 0.5) / 1e4 AS avg_cents,
       floor((rev / CAST(n_days AS DOUBLE))
             / ((SELECT trev FROM tot) / CAST((SELECT tdays FROM tot) AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS seasonal_index
FROM by_dow ORDER BY dow
"""


@query("events_weekday_adjust", _WDAY_ORACLE)
def events_weekday_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices for revenue: avg revenue per weekday
    divided by the overall daily average — the multiplicative seasonal
    factors behind weekday-adjusted KPIs ("is Monday really down, or is
    Monday always down"), and the decomposition input to any
    forecast better than `events_forecast_seasonal_naive`. Two hash
    aggregates (day grain, then dow grain — both calendar-bounded) and
    one broadcast grand total; sums stay integer cents, the two ratios
    divide once each on the 7-row rollup. Weekday numbering is pinned
    to Spark's dayofweek (1=Sunday..7=Saturday); DuckDB's 0-based
    dayofweek is shifted in the oracle.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    by_dow = daily.groupBy(F.dayofweek("day").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("rev").alias("rev")
    )
    tot = by_dow.agg(
        F.sum("rev").alias("trev"), F.sum("n_days").alias("tdays")
    )
    avg_day = F.col("rev") / F.col("n_days").cast("double")
    grand = F.col("trev") / F.col("tdays").cast("double")
    return (
        by_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            (F.floor(avg_day * 1e4 + F.lit(0.5)) / 1e4).alias("avg_cents"),
            r6(avg_day / grand).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# dq_control_chart_pchart — p-chart on the daily error share
# ---------------------------------------------------------------------------

_PCHART_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
    FROM events GROUP BY 1
),
center AS (SELECT sum(errs) / CAST(sum(n) AS DOUBLE) AS pbar FROM daily)
SELECT strftime(day, '%Y-%m-%d') AS day, n, errs,
       floor(errs / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p,
       CASE WHEN errs / CAST(n AS DOUBLE)
                 > (SELECT pbar FROM center)
                   + 3 * sqrt((SELECT pbar FROM center)
                              * (1 - (SELECT pbar FROM center)) / n)
            THEN 'above'
            ELSE 'below' END AS breach_side
FROM daily
WHERE abs(errs / CAST(n AS DOUBLE) - (SELECT pbar FROM center))
      > 3 * sqrt((SELECT pbar FROM center)
                 * (1 - (SELECT pbar FROM center)) / n)
ORDER BY day
"""


@query("dq_control_chart_pchart", _PCHART_ORACLE)
def dq_control_chart_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart over the daily error rate: flag days whose
    error share leaves the binomial 3-sigma band p̄ ± 3·√(p̄(1−p̄)/n_d)
    — the SPC (statistical process control) alarm for proportions,
    with variable-width limits because daily volume n_d varies (a
    fixed-threshold alert either misses quiet-day regressions or pages
    on noise). One conditional hash aggregate to day grain, one scalar
    center-line broadcast back into the filter; counts are exact
    integers and the band comparison is the only floating step.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("errs"),
    )
    center = daily.agg(
        (F.sum("errs") / F.sum("n").cast("double")).alias("pbar")
    )
    p = F.col("errs") / F.col("n").cast("double")
    band = 3 * F.sqrt(
        F.col("pbar") * (1 - F.col("pbar")) / F.col("n")
    )
    return (
        daily.crossJoin(F.broadcast(center))
        .where(F.abs(p - F.col("pbar")) > band)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            "errs",
            r6(p).alias("p"),
            F.when(p > F.col("pbar") + band, "above")
            .otherwise("below")
            .alias("breach_side"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# text_lexical_diversity — type-token ratio / Herdan's C per document
# ---------------------------------------------------------------------------

_LEXDIV_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents WHERE trim(text) <> ''
),
counts AS (
    SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_types
    FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       floor(n_types / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ttr,
       CASE WHEN n_tokens >= 2
            THEN floor(ln(n_types) / ln(n_tokens) * 1e6 + 0.5) / 1e6 END
           AS herdan_c
FROM counts ORDER BY doc_id
"""


@query("text_lexical_diversity", _LEXDIV_ORACLE)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and Herdan's C
    (log-types / log-tokens, the length-corrected variant — raw TTR
    falls mechanically with length, so C is what you threshold) — the
    repetitive-boilerplate screen that complements
    `corpus_quality_gopher` (which catches repeated LINES; this
    catches low vocabulary spread like keyword-stuffed spam and
    template text). One explode + one (doc, token)-grain aggregate
    with map-side combine; counts are exact integers, the two ratios
    round at 1e-6. At 100 TB this is a per-doc map-reduce with no
    cross-document communication at all.
    """
    docs = read_table(spark, sf_dir, "documents").where(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    counts = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
    )
    return counts.select(
        "doc_id",
        "n_tokens",
        "n_types",
        r6(F.col("n_types") / F.col("n_tokens").cast("double")).alias("ttr"),
        F.when(
            F.col("n_tokens") >= 2,
            r6(F.log("n_types") / F.log("n_tokens")),
        ).alias("herdan_c"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# graph_kcore_peel — k-core decomposition by iterative peeling
# ---------------------------------------------------------------------------

_KCORE_K = 3

_KCORE_ORACLE = f"""
WITH e0 AS (
    SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
ud0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
d0 AS (SELECT a, count(*) AS deg FROM ud0 GROUP BY a),
keep0 AS (SELECT a FROM d0 WHERE deg >= {_KCORE_K}),
e1 AS (
    SELECT u.a, u.b FROM ud0 u
    JOIN keep0 ka ON u.a = ka.a JOIN keep0 kb ON u.b = kb.a
),
d1 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
keep1 AS (SELECT a FROM d1 WHERE deg >= {_KCORE_K}),
e2 AS (
    SELECT u.a, u.b FROM e1 u
    JOIN keep1 ka ON u.a = ka.a JOIN keep1 kb ON u.b = kb.a
),
d2 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
keep2 AS (SELECT a FROM d2 WHERE deg >= {_KCORE_K}),
e3 AS (
    SELECT u.a, u.b FROM e2 u
    JOIN keep2 ka ON u.a = ka.a JOIN keep2 kb ON u.b = kb.a
)
SELECT 0 AS round, (SELECT count(*) FROM d0) AS n_nodes,
       (SELECT count(*) FROM ud0) / 2 AS n_edges
UNION ALL
SELECT 1, (SELECT count(*) FROM keep0), (SELECT count(*) FROM e1) / 2
UNION ALL
SELECT 2, (SELECT count(*) FROM keep1), (SELECT count(*) FROM e2) / 2
UNION ALL
SELECT 3, (SELECT count(*) FROM keep2), (SELECT count(*) FROM e3) / 2
ORDER BY round
"""


@query("graph_kcore_peel", _KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the supplier-customer trade graph
    by synchronous peeling: repeatedly delete nodes with degree < k
    until (here: for 3 unrolled rounds toward) the fixed point — the
    standard dense-subgraph/influence screen and the graph-world
    sibling of the iterative patterns in `graph_pagerank_iter` and
    `connected_components`. Emits the (nodes, edges) shrink trajectory
    per round — the convergence audit. Each round is one degree hash
    agg + one semi-join of the edge list against the survivor set;
    the edge relation only ever SHRINKS, and at 100 TB the survivor
    sets are broadcast-sized long before round 3 (frontier-shrinking,
    like the recursive-CTE BOM walk). Node ids are longs
    (bipartite-disjoint suppkey*2 / custkey*2+1, as in pagerank).
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("o_custkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    ud = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(_pin_lazy)
    rows = []
    edges = ud
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    rows.append((0, deg, edges))
    for rnd in range(1, 4):
        keep = deg.where(F.col("deg") >= _KCORE_K).select("a")
        edges = (
            edges.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .transform(_pin_lazy)
        )
        deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        rows.append((rnd, deg, edges))
    out = None
    for rnd, d, e in rows:
        r = d.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
        ).crossJoin(
            F.broadcast(
                e.agg((F.count(F.lit(1)) / 2).cast("double").alias("n_edges"))
            )
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# events_fano_dispersion — burstiness (Fano factor) per user
# ---------------------------------------------------------------------------

_FANO_ORACLE = """
WITH per_hour AS (
    SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS c
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT user_id, count(*) AS n, sum(c) AS sc, sum(c * c) AS scc
    FROM per_hour GROUP BY 1
),
f AS (
    SELECT user_id, n, sc,
           ((scc - sc * (sc / CAST(n AS DOUBLE))) / (n - 1))
             / (sc / CAST(n AS DOUBLE)) AS fano
    FROM m WHERE n >= 5
)
SELECT count(*) AS n_users,
       sum(CASE WHEN fano > 2.0 THEN 1 ELSE 0 END) AS n_bursty,
       floor(avg(fano) * 1e6 + 0.5) / 1e6 AS mean_fano
FROM f
"""


@query("events_fano_dispersion", _FANO_ORACLE)
def events_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of per-hour event counts) per user —
    the burstiness index: a Poisson-like human is ~1, schedulers and
    bots cluster near 0 (metronomic) or >>1 (bursty), so this is the
    dispersion-based bot screen complementing the rate-based
    `events_burst_rate` and entropy-based `events_entropy_per_user`.
    Two hash aggregates — (user, hour) grain then user grain — with
    variance from exact integer sums (sc, scc), the same stable
    co-moment identity as `stats_delta_method_ratio`; only users with
    >= 5 active hours are scored. The final readout is one scalar row.
    """
    ev = read_table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = per_hour.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sc") / nd
    var = (F.col("scc") - F.col("sc") * (F.col("sc") / nd)) / (F.col("n") - 1)
    f = m.where(F.col("n") >= 5).select((var / mean).alias("fano"))
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("fano") > 2.0, 1).otherwise(0)).alias("n_bursty"),
        r6(F.avg("fano")).alias("mean_fano"),
    )


# ---------------------------------------------------------------------------
# events_bounce_rate — single-event-session share per entry event type
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_type,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
sessioned AS (
    SELECT user_id, ts, event_type,
           sum(is_start) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sess_no
    FROM ordered
),
sessions AS (
    SELECT user_id, sess_no,
           min_by(event_type, ts) AS entry_type,
           count(*) AS n_events
    FROM sessioned GROUP BY 1, 2
)
SELECT entry_type,
       count(*) AS n_sessions,
       sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounces,
       floor(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS bounce_rate
FROM sessions GROUP BY entry_type ORDER BY entry_type
"""


@query("events_bounce_rate", _BOUNCE_ORACLE)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: share of 30-minute-gap
    sessions that contain exactly one event, grouped by the event that
    opened them — the funnel-health readout layered on the engine's
    sessionization primitive (`events_sessionize`: lag + running sum of
    gap breaks, one shuffle keyed on user_id, ordered only within each
    user's partition). Session rollup uses min_by(event_type, ts) for
    the entry event — one hash agg, no second window — and the final
    per-entry-type readout is a K-row aggregate. Integer counts
    throughout; one rounded division per row.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ordered = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_start"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessioned = ordered.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("is_start").over(wrun).alias("sess_no"),
    )
    sessions = sessioned.groupBy("user_id", "sess_no").agg(
        F.min_by("event_type", "ts").alias("entry_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sessions.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounce.alias("n_bounces"),
            r6(bounce / F.count(F.lit(1)).cast("double")).alias("bounce_rate"),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# graph_degree_assortativity — degree-degree correlation at edges
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH e0 AS (
    SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
ud AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT a, count(*) AS d FROM ud GROUP BY a),
pairs AS (
    SELECT da.d AS x, db.d AS y
    FROM ud JOIN deg da ON ud.a = da.a JOIN deg db ON ud.b = db.a
),
m AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM pairs
)
SELECT n AS n_edge_ends,
       floor((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * CAST(n * syy - sy * sy AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS assortativity
FROM m
"""


@query("graph_degree_assortativity", _ASSORT_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph: the Pearson correlation
    of endpoint degrees across all directed edge-ends (Newman 2002) —
    do high-degree suppliers trade with high-degree customers
    (assortative, r>0) or with the periphery (disassortative, r<0)?
    This single scalar predicts hub-skew join behavior: strongly
    negative r means hub keys meet long tails, exactly when the salted
    join / AQE skew paths earn their keep. Degrees are one hash agg;
    each edge-end picks up its two endpoint degrees via joins keyed the
    same way the edge list is laid out; Pearson r uses the exact
    integer co-moment identity (degrees are integers) with one final
    rounded division.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("o_custkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    ud = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = ud.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("a"), F.col("d").alias("x"))
    db = deg.select(F.col("a").alias("b"), F.col("d").alias("y"))
    pairs = ud.join(da, "a").join(db, "b").select("x", "y")
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        F.col("n").alias("n_edge_ends"),
        r6(num / den).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# agg_yoy_growth — year-over-year monthly revenue growth
# ---------------------------------------------------------------------------

_YOY_ORACLE = """
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT m, rev, lag(rev, 12) OVER (ORDER BY m) AS rev_prev_year
    FROM monthly
)
SELECT m, rev, rev_prev_year,
       floor((rev - rev_prev_year) / CAST(rev_prev_year AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS yoy_growth
FROM lagged WHERE rev_prev_year IS NOT NULL
ORDER BY m
"""


@query("agg_yoy_growth", _YOY_ORACLE)
def agg_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth — the seasonal-safe
    counterpart of `events_mom_change` (MoM confuses seasonality with
    growth; YoY compares each month to the same month a year earlier,
    so the lag-12 difference cancels the annual cycle). One hash agg to
    month grain (calendar-bounded), one lag(12) window over that
    rollup, integer cents everywhere and one rounded ratio per row.
    The yyyy-MM string sorts correctly lexicographically — no date
    parsing in the window ordering.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    lagged = monthly.select(
        "m",
        "rev",
        F.lag("rev", 12).over(Window.orderBy("m")).alias("rev_prev_year"),
    ).where(F.col("rev_prev_year").isNotNull())
    return lagged.select(
        "m",
        "rev",
        "rev_prev_year",
        r6(
            (F.col("rev") - F.col("rev_prev_year"))
            / F.col("rev_prev_year").cast("double")
        ).alias("yoy_growth"),
    ).orderBy("m")


# ---------------------------------------------------------------------------
# agg_new_vs_repeat_revenue — monthly revenue split by customer tenure
# ---------------------------------------------------------------------------

_NVR_ORACLE = """
WITH first_m AS (
    SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS m0
    FROM orders GROUP BY 1
),
tagged AS (
    SELECT strftime(o.o_orderdate, '%Y-%m') AS m,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN strftime(o.o_orderdate, '%Y-%m') = f.m0
                THEN 1 ELSE 0 END AS is_new
    FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
)
SELECT m,
       sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS new_cents,
       sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS repeat_cents,
       floor(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
             / CAST(sum(cents) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS new_share
FROM tagged GROUP BY m ORDER BY m
"""


@query("agg_new_vs_repeat_revenue", _NVR_ORACLE)
def agg_new_vs_repeat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into new-customer (first-ever month) vs
    repeat-customer revenue — the acquisition-vs-retention decomposition
    every growth review starts with, and the revenue-weighted sibling of
    `events_growth_accounting` (which counts users; money and users
    often tell different stories). The customer's first month is one
    hash agg keyed on custkey; tagging is a join back on the SAME key,
    so the two shuffles share partitioning (co-located at scale); the
    monthly split is one conditional-sum aggregate — integer cents,
    one rounded share per month.
    """
    orders = read_table(spark, sf_dir, "orders")
    m = F.date_format("o_orderdate", "yyyy-MM")
    first_m = orders.groupBy("o_custkey").agg(F.min(m).alias("m0"))
    tagged = orders.join(first_m, "o_custkey").select(
        m.alias("m"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.when(m == F.col("m0"), 1).otherwise(0).alias("is_new"),
    )
    new_c = F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0))
    rep_c = F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0))
    return (
        tagged.groupBy("m")
        .agg(
            new_c.alias("new_cents"),
            rep_c.alias("repeat_cents"),
            r6(new_c / F.sum("cents").cast("double")).alias("new_share"),
        )
        .orderBy("m")
    )


# ---------------------------------------------------------------------------
# win_rolling_correlation — trailing-window correlation of two series
# ---------------------------------------------------------------------------

_ROLLCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           sum(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS x,
           sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS y
    FROM events GROUP BY 1
),
framed AS (
    SELECT day,
           count(*) OVER w AS n,
           sum(x) OVER w AS sx, sum(y) OVER w AS sy,
           sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
           sum(x * y) OVER w AS sxy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       floor((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * CAST(n * syy - sy * sy AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS roll_corr_7d
FROM framed WHERE n = 7
ORDER BY day
"""


@query("win_rolling_correlation", _ROLLCORR_ORACLE)
def win_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling correlation between daily click revenue
    and daily purchase revenue — the co-movement monitor ("did the
    click→purchase coupling break this week?") that a static
    correlation (`agg_corr_regression`) averages away. Both series
    come from ONE conditional-sum aggregate to day grain (never two
    scans); all five co-moment accumulators are integer window sums
    over the same 7-row ROWS frame, so each day's r is computed from
    exact integers by the stable identity — no incremental-variance
    drift, no second pass. Emitted only for full frames (n=7).
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", cents).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    framed = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    ).where(F.col("n") == 7)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return framed.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        r6(num / den).alias("roll_corr_7d"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# ml_price_elasticity_loglog — pooled log-log price elasticity
# ---------------------------------------------------------------------------

_ELAST_ORACLE = """
WITH obs AS (
    SELECT CAST(floor(ln(l_extendedprice / l_quantity) * 1000 + 0.5) AS BIGINT)
               AS lx,
           CAST(floor(ln(l_quantity) * 1000 + 0.5) AS BIGINT) AS ly
    FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
),
m AS (
    SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
           sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
    FROM obs
)
SELECT n,
       floor(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                  AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                    AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS elasticity
FROM m
"""


@query("ml_price_elasticity_loglog", _ELAST_ORACLE)
def ml_price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled log-log price elasticity of demand: the OLS slope of
    ln(quantity) on ln(unit price) across line items — the workhorse
    demand-curve readout (slope ≈ %Δqty per %Δprice; steeper than −1
    means revenue falls when you raise price). The log observations are
    QUANTIZED to milli-log integers in the map phase, so every
    co-moment accumulator is an exact bigint and the cross-engine
    result is bit-stable — the same discipline as the integer-cents
    queries, applied to a transcendental feature (quantization bias
    ~1e-3 relative, far below the estimate's sampling error; headroom:
    |milli-ln| <= ~13k, so sxx fits bigint up to ~5e10 rows). The FINAL
    1-row slope assembly is different: n*sxy and sx*sy grow as n² x̄²
    and blow past bigint at ~600k rows (caught live by the r7 bench
    rotation at sf0.1 under ANSI mode), so the four final products run
    in DECIMAL(38,0) / HUGEINT — exact to 1e38, and it is one row.
    One scan, one scalar aggregate.
    """
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    q = lambda c: F.floor(F.log(c) * 1000 + F.lit(0.5)).cast("long")  # noqa: E731
    obs = li.select(
        q(F.col("l_extendedprice") / F.col("l_quantity")).alias("lx"),
        q(F.col("l_quantity")).alias("ly"),
    )
    m = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    slope = (d38("n") * F.col("sxy") - d38("sx") * F.col("sy")).cast(
        "double"
    ) / (d38("n") * F.col("sxx") - d38("sx") * F.col("sx")).cast("double")
    return m.select(
        "n",
        (F.floor(slope * 1e4 + F.lit(0.5)) / 1e4).alias("elasticity"),
    )
