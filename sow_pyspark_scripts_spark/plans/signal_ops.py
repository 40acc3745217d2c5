"""Signal-modeling tier: three readouts that turn raw columns into
calibrated decision numbers — extreme-value (Gumbel) tail risk for
capacity planning, Flesch-Kincaid readability for corpus curation, and
binned Kendall rank correlation for monotone-dependence screening.

Scale notes baked into each builder:
- the Gumbel fit touches the fact once (day-grain conditional
  aggregate), reduces to block maxima over the calendar-bounded
  (type, week) rollup, and the method-of-moments closed form plus the
  exceedance probability run on a handful of rows — the heavy tail is
  priced without sorting anything;
- readability is pure per-row regexp arithmetic (vowel-group syllable
  proxy, sentence/word counts) — whole-stage codegen, zero shuffles,
  integer counts exact on both engines with only the final grade a
  rounded double;
- Kendall tau-b is NEVER computed over raw pairs (O(n²)): both
  variables are discrete, so the fact collapses to a bounded 2-D
  contingency rollup in one hash aggregate, concordant/discordant
  pair counts come from a broadcast nested-loop self-join of the
  ~550-cell table (bounded work independent of fact size), and the
  tie corrections are exact integer sums over the margins — the
  `stats_mann_whitney` philosophy extended to two dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table

_EULER_GAMMA = 0.57721566490153286


# ---------------------------------------------------------------------------
# stats_extreme_value_gumbel — block-maxima tail risk, method of moments
# ---------------------------------------------------------------------------

_GUMBEL_ORACLE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts))
               // 7 AS wk,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2, 3
),
maxima AS (
    SELECT event_type, wk, MAX(n) AS block_max
    FROM daily GROUP BY 1, 2
),
moments AS (
    SELECT event_type, COUNT(*) AS n_blocks,
           AVG(CAST(block_max AS DOUBLE)) AS m,
           sqrt(AVG(CAST(block_max AS DOUBLE) * block_max)
                - AVG(CAST(block_max AS DOUBLE))
                  * AVG(CAST(block_max AS DOUBLE))) AS s
    FROM maxima GROUP BY 1
),
fit AS (
    SELECT event_type, n_blocks,
           s * sqrt(6) / pi() AS beta,
           m - {_EULER_GAMMA} * s * sqrt(6) / pi() AS mu,
           m
    FROM moments
)
SELECT event_type, n_blocks,
       floor(mu * 1e4 + 0.5) / 1e4 AS mu,
       floor(beta * 1e4 + 0.5) / 1e4 AS beta,
       floor((1 - exp(-exp(-(1.5 * m - mu) / beta))) * 1e6 + 0.5) / 1e6
           AS p_exceed_150pct
FROM fit
"""


@query("stats_extreme_value_gumbel", _GUMBEL_ORACLE)
def stats_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning: fit a Gumbel distribution to the
    weekly block maxima of daily event volume per type (Fisher-Tippett:
    maxima of light-tailed dailies converge to Gumbel) and report the
    probability a future week's peak exceeds 150% of the average peak —
    the number an SRE actually provisions against, which mean+3-sigma
    systematically understates for maxima. Method-of-moments closed
    form (β = s·√6/π, μ = m − γβ with Euler's γ) — no iterative MLE.
    The fact collapses to day grain in one hash aggregate; maxima,
    moments, and the double-exponential exceedance all run on the tiny
    calendar-bounded rollup. Complements `stats_hill_tail_alpha`
    (heavy-tail index) with the bounded-tail regime.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.expr(
            "datediff(date_trunc('day', ts), timestamp'2024-01-01') div 7"
        ).alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    maxima = daily.groupBy("event_type", "wk").agg(
        F.max("n").alias("block_max")
    )
    bm = F.col("block_max").cast("double")
    moments = maxima.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.avg(bm).alias("m"),
        F.sqrt(F.avg(bm * bm) - F.avg(bm) * F.avg(bm)).alias("s"),
    )
    beta = F.col("s") * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = F.col("m") - F.lit(_EULER_GAMMA) * beta
    p = 1 - F.exp(-F.exp(-(1.5 * F.col("m") - mu) / beta))
    return moments.select(
        "event_type",
        "n_blocks",
        (F.floor(mu * 1e4 + F.lit(0.5)) / 1e4).alias("mu"),
        (F.floor(beta * 1e4 + F.lit(0.5)) / 1e4).alias("beta"),
        r6(p).alias("p_exceed_150pct"),
    )


# ---------------------------------------------------------------------------
# text_readability_fk — Flesch-Kincaid grade from regexp arithmetic
# ---------------------------------------------------------------------------

_FK_ORACLE = r"""
WITH counts AS (
    SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
           greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1)
               AS words,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syllables
    FROM documents
),
graded AS (
    SELECT doc_id, sentences, words,
           0.39 * (CAST(words AS DOUBLE) / sentences)
           + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59 AS g
    FROM counts
)
SELECT doc_id, sentences, words,
       floor(g * 1e4 + 0.5) / 1e4 AS fk_grade,
       CASE WHEN g < 6 THEN 'easy' WHEN g < 10 THEN 'medium'
            ELSE 'hard' END AS band
FROM graded
"""


@query("text_readability_fk", _FK_ORACLE)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document from pure regexp
    arithmetic: sentences ≈ terminal-punctuation runs, words ≈ letter
    runs, syllables ≈ vowel-group runs (the standard cheap proxy) —
    the readability signal curation mixes alongside
    `corpus_quality_gopher` and `text_lexical_diversity` to target a
    training-mix difficulty profile (or to route 'easy' text to a
    distillation set). Zero shuffles, whole-stage codegen; integer
    counts are engine-exact (floors at 1 guard empty docs), only the
    final grade is a rounded double. At 100 TB this is a free rider
    on any existing scan of `text`.
    """
    docs = read_table(spark, sf_dir, "documents")
    lc = F.lower(F.col("text"))

    def runs(col, pat):
        return F.greatest(
            F.size(F.regexp_extract_all(col, F.lit(pat), 0)), F.lit(1)
        ).cast("long")

    sentences = runs(F.col("text"), r"[.!?]+")
    words = runs(lc, r"[a-z]+")
    syllables = runs(lc, r"[aeiouy]+")
    g = (
        0.39 * (words.cast("double") / sentences)
        + 11.8 * (syllables.cast("double") / words)
        - 15.59
    )
    return docs.select(
        "doc_id",
        sentences.alias("sentences"),
        words.alias("words"),
        (F.floor(g * 1e4 + F.lit(0.5)) / 1e4).alias("fk_grade"),
        F.when(g < 6, "easy").when(g < 10, "medium").otherwise("hard").alias(
            "band"
        ),
    )


# ---------------------------------------------------------------------------
# stats_kendall_tau_binned — exact tau-b from a bounded contingency table
# ---------------------------------------------------------------------------

_TAU_ORACLE = """
WITH cells AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
),
pairs AS (
    SELECT SUM(CASE WHEN b.x > a.x AND b.y > a.y
                    THEN a.n * b.n ELSE 0 END) AS c,
           SUM(CASE WHEN b.x > a.x AND b.y < a.y
                    THEN a.n * b.n ELSE 0 END) AS d
    FROM cells a, cells b
),
margins AS (
    SELECT SUM(n) AS n_total,
           SUM(n * (n - 1) // 2) AS tie_cells
    FROM cells
),
xm AS (SELECT SUM(tx * (tx - 1) // 2) AS n1
       FROM (SELECT SUM(n) AS tx FROM cells GROUP BY x)),
ym AS (SELECT SUM(ty * (ty - 1) // 2) AS n2
       FROM (SELECT SUM(n) AS ty FROM cells GROUP BY y))
SELECT m.n_total,
       p.c AS concordant, p.d AS discordant,
       floor((CAST(p.c AS DOUBLE) - p.d)
             / sqrt((CAST(m.n_total AS DOUBLE) * (m.n_total - 1) / 2 - x.n1)
                    * (CAST(m.n_total AS DOUBLE) * (m.n_total - 1) / 2
                       - y.n2))
             * 1e6 + 0.5) / 1e6 AS tau_b
FROM pairs p, margins m, xm x, ym y
"""


@query("stats_kendall_tau_binned", _TAU_ORACLE)
def stats_kendall_tau_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between quantity and discount —
    the monotone-dependence screen that catches relationships Pearson
    (`agg_corr_regression`) misses and, unlike it, is insensitive to
    the variables' scales. Naively tau is O(n²) pair comparisons; with
    discrete variables the fact collapses to a ~550-cell contingency
    rollup in ONE hash aggregate, concordant/discordant counts are a
    broadcast nested-loop self-join of that tiny table (cells², not
    rows² — fact-size independent), and the tie corrections n1/n2 are
    integer sums over the margins. Everything is bigint-exact until
    the final ratio. This is `stats_mann_whitney`'s rollup philosophy
    in two dimensions; for continuous variables, quantize to cents
    first (as here) — tau is rank-based, so any monotone binning
    preserves it up to within-bin ties.
    """
    li = read_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).alias("n"))
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("n").alias("bn")
    )
    pairs = a.join(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")),
                F.col("an") * F.col("bn"),
            ).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")),
                F.col("an") * F.col("bn"),
            ).otherwise(0)
        ).alias("d"),
    )
    margins = cells.agg(F.sum("n").alias("n_total"))
    xm = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("tx"))
        .agg(F.sum(F.expr("tx * (tx - 1) div 2")).alias("n1"))
    )
    ym = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("ty"))
        .agg(F.sum(F.expr("ty * (ty - 1) div 2")).alias("n2"))
    )
    half = F.col("n_total").cast("double") * (F.col("n_total") - 1) / 2
    tau = (F.col("c").cast("double") - F.col("d")) / F.sqrt(
        (half - F.col("n1")) * (half - F.col("n2"))
    )
    return (
        pairs.join(F.broadcast(margins))
        .join(F.broadcast(xm))
        .join(F.broadcast(ym))
        .select(
            "n_total",
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            r6(tau).alias("tau_b"),
        )
    )
