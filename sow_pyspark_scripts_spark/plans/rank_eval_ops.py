r"""Search/ranking-quality tier: the offline evaluation and fusion
queries a retrieval or recommendation pipeline runs over its own output
— MAP/MRR ranking metrics, reciprocal-rank fusion of a lexical and a
vector ranker, sequential hypothesis testing over the live metric, and
RAKE keyword extraction for index enrichment.

Builds on the engine's retrieval primitives (`text_bm25_topk`,
`similarity_topk_*`) the way the reference's ES sink relied on
Elasticsearch's own ranking (`sql_to_es_etl.py:104-110` declares the
analyzed text fields that ES scores) — here ranking AND its evaluation
are first-class Spark queries.

Scale notes baked into each builder:
- MAP/MRR never rank globally: windows partition by user (the query
  key), precision@rank quantizes to integer picounits per hit BEFORE
  any sum, and per-user APs quantize again before the global mean — so
  the metric is bit-stable under any partitioning and identical to the
  oracle. One shuffle on user_id serves both the window and the rollup;
- RRF fuses TRUNCATED top-K lists (TakeOrderedAndProject, K=50), the
  standard production fusion — never a full-corpus rank join. The only
  single-partition window runs over 50 rows per ranker;
- the SPRT trajectory aggregates to day grain first (calendar-bounded),
  and the log-likelihood constants are embedded as identical decimal
  literals in both engines (libm ln() is NOT guaranteed cross-engine
  bit-equal; a precomputed literal is);
- RAKE is windows + one self-derived word-score join: stopword-island
  phrase building is two per-doc window passes (no UDF, no explode
  beyond the token relation), and word scores quantize to nano units
  before the per-phrase sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS, tokenize
from ..functions.det import cos_grid_sql, mean_grid, mean_grid_sql, quant, r6
from ..registry import query
from ..sources import read_table

_M6V = mean_grid_sql("v")

# ---------------------------------------------------------------------------
# ml_map_mrr — mean average precision + mean reciprocal rank per user
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
WITH base AS (
    SELECT user_id, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
    FROM events
),
ranked AS (
    SELECT user_id, rel,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cents DESC, event_id ASC) AS rnk,
           sum(rel) OVER (PARTITION BY user_id
                          ORDER BY cents DESC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rel
    FROM base
),
pu AS (
    SELECT user_id, sum(rel) AS n_rel,
           sum(CASE WHEN rel = 1
                    THEN CAST(floor(CAST(cum_rel AS DOUBLE) / rnk * 1e12 + 0.5)
                              AS BIGINT)
                    ELSE 0 END) AS sum_prec,
           min(CASE WHEN rel = 1 THEN rnk END) AS first_rnk
    FROM ranked GROUP BY user_id
),
au AS (
    SELECT CAST(floor(CAST(sum_prec AS DOUBLE) / n_rel + 0.5) AS BIGINT) AS ap_u,
           CAST(floor(1e12 / first_rnk + 0.5) AS BIGINT) AS rr_u
    FROM pu WHERE n_rel > 0
)
SELECT count(*) AS n_users,
       floor(CAST(sum(ap_u) AS DOUBLE) / count(*) / 1e12 * 1e6 + 0.5) / 1e6
           AS map_score,
       floor(CAST(sum(rr_u) AS DOUBLE) / count(*) / 1e12 * 1e6 + 0.5) / 1e6
           AS mrr_score
FROM au
"""


@query("ml_map_mrr", _MAP_ORACLE)
def ml_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality readout: treating each user's events ordered by
    value (cents, event_id tie-break) as that user's result list and
    purchases as the relevant items, compute Mean Average Precision and
    Mean Reciprocal Rank over users with >= 1 relevant item — the two
    metrics every retrieval/reco eval report leads with.

    The window partitions by user (never a global sort); precision@rank
    for each hit is floor(cum_rel/rank*1e12+0.5) — an integer — so the
    per-user sum and the cross-user mean are bigint-exact and immune to
    partition order. At 100 TB the bigint accumulators hold: per-user
    sums are bounded by list length * 1e12 and the global sum by
    n_users * 1e12 (DECIMAL(38,0) is the drop-in if user counts pass
    ~9e3 billion)."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("cents"), F.asc("event_id"))
    ranked = base.select(
        "user_id",
        "rel",
        F.row_number().over(w).alias("rnk"),
        F.sum("rel").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_rel"),
    )
    prec_u = F.floor(
        F.col("cum_rel").cast("double") / F.col("rnk") * F.lit(1e12) + F.lit(0.5)
    ).cast("long")
    pu = ranked.groupBy("user_id").agg(
        F.sum("rel").alias("n_rel"),
        F.sum(F.when(F.col("rel") == 1, prec_u).otherwise(F.lit(0))).alias("sum_prec"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rnk"),
    )
    au = pu.where(F.col("n_rel") > 0).select(
        F.floor(F.col("sum_prec").cast("double") / F.col("n_rel") + F.lit(0.5))
        .cast("long")
        .alias("ap_u"),
        F.floor(F.lit(1e12) / F.col("first_rnk") + F.lit(0.5)).cast("long").alias("rr_u"),
    )
    r6of = lambda c: r6(c / F.lit(1e12))  # noqa: E731
    return au.agg(
        F.count(F.lit(1)).alias("n_users"),
        r6of(F.sum("ap_u").cast("double") / F.count(F.lit(1))).alias("map_score"),
        r6of(F.sum("rr_u").cast("double") / F.count(F.lit(1))).alias("mrr_score"),
    )


# ---------------------------------------------------------------------------
# similarity_rrf_fusion — reciprocal-rank fusion of lexical + vector top-K
# ---------------------------------------------------------------------------

_RRF_K = 50
_RRF_C = 60  # the standard RRF dampening constant


def _rrf_sql() -> str:
    stop = "', '".join(())  # no stop filtering in the lexical ranker
    del stop
    return rf"""
WITH lex AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                t -> t IN ('spark', 'table'))) AS BIGINT) AS s
    FROM documents
),
lexr AS (
    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS lex_rank
    FROM lex ORDER BY s DESC, doc_id ASC LIMIT {_RRF_K}
),
cent AS (
    SELECT pos, {_M6V} AS c
    FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings WHERE label = 0)
    GROUP BY pos
),
flat AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
sims AS (
    SELECT vec_id, {cos_grid_sql('v', 'c')} AS sim
    FROM flat JOIN cent USING (pos) GROUP BY vec_id
),
vecr AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS vec_rank
    FROM sims ORDER BY sim DESC, vec_id ASC LIMIT {_RRF_K}
),
fused AS (
    SELECT coalesce(lexr.doc_id, vecr.doc_id) AS doc_id,
           lex_rank, vec_rank,
           floor((coalesce(1.0 / ({_RRF_C} + lex_rank), 0.0)
                  + coalesce(1.0 / ({_RRF_C} + vec_rank), 0.0)) * 1e9 + 0.5) / 1e9
               AS rrf_score
    FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT)
           AS fused_rank
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


@query("similarity_rrf_fusion", _rrf_sql())
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse a lexical ranker (term-count score for the
    query {spark, table}) and a vector ranker (cosine to the label-0
    centroid, docs and vectors joined on id) with reciprocal-rank fusion
    1/(60+r) over TRUNCATED top-50 lists — the production hybrid-search
    pattern (fuse bounded candidate lists, never full-corpus ranks).

    Each ranker ends in orderBy().limit(50) — TakeOrderedAndProject, a
    per-partition top-K + 50-row merge, no full sort — and the
    row_number that assigns ranks runs over those 50 rows only. The
    centroid is a 64-row aggregate broadcast into the dot-product scan,
    rounded to 1e-6 BEFORE ranking so both engines rank identical
    scores. The fusion itself is a full outer join of two 50-row lists
    (broadcast)."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    lex = docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: (t == "spark") | (t == "table")))
        .cast("long")
        .alias("s"),
    )
    wl = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    lexr = (
        lex.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RRF_K)
        .select("doc_id", F.row_number().over(wl).cast("long").alias("lex_rank"))
    )

    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "label", "pos", F.col("vf").cast("double").alias("v"))
    cent = (
        flat.where(F.col("label") == 0)
        .groupBy("pos")
        .agg(mean_grid(F.col("v")).alias("c"))
    )
    # exact-integer grid cosine (r5, functions/det.py doctrine)
    qv = quant(F.col("v")).cast("long")
    qc = quant(F.col("c")).cast("long")
    sims = (
        flat.join(F.broadcast(cent), "pos")
        .groupBy("vec_id")
        .agg(
            r6(
                F.sum(qv * qc).cast("double")
                / (
                    F.sqrt(F.sum(qv * qv).cast("double"))
                    * F.sqrt(F.sum(qc * qc).cast("double"))
                )
            ).alias("sim")
        )
    )
    wv = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    vecr = (
        sims.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(_RRF_K)
        .select(F.col("vec_id").alias("doc_id"), F.row_number().over(wv).cast("long").alias("vec_rank"))
    )

    rrf = F.floor(
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("vec_rank")), F.lit(0.0))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ) / F.lit(1e9)
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_score")
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            "rrf_score",
            F.row_number().over(wf).cast("long").alias("fused_rank"),
        )
    )


# ---------------------------------------------------------------------------
# stats_sprt — Wald sequential probability-ratio test over the daily metric
# ---------------------------------------------------------------------------

# H0: purchase share p0 = 0.25 vs H1: p1 = 0.35, alpha = beta = 0.05.
# ln() is evaluated ONCE here and embedded as identical decimal literals
# in both engines — libm ln() is not guaranteed bit-equal across engines.
_SPRT_LA = 0.3364722366212129  # ln(p1/p0)
_SPRT_LB = -0.1431008436406733  # ln((1-p1)/(1-p0))
_SPRT_BOUND = 2.9444389791664403  # ln((1-beta)/alpha) = ln(19)

_SPRT_ORACLE = f"""
WITH daily AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
    FROM events GROUP BY 1
),
llr AS (
    SELECT day, n, k,
           CAST(floor((k * {_SPRT_LA} + (n - k) * {_SPRT_LB}) * 1e9 + 0.5)
                AS BIGINT) AS d_u
    FROM daily
),
cum AS (
    SELECT day, n, k,
           sum(d_u) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_u
    FROM llr
)
SELECT day, n, k,
       floor(CAST(cum_u AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS cum_llr,
       CASE WHEN cum_u >= CAST(floor({_SPRT_BOUND} * 1e9 + 0.5) AS BIGINT)
                THEN 'accept_h1'
            WHEN cum_u <= -CAST(floor({_SPRT_BOUND} * 1e9 + 0.5) AS BIGINT)
                THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
"""


@query("stats_sprt", _SPRT_ORACLE)
def stats_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trajectory: is the daily purchase share 0.25 (H0) or
    0.35 (H1)? Each day contributes k*ln(p1/p0)+(n-k)*ln(q1/q0) to a
    cumulative log-likelihood ratio; the test stops the first day the
    ratio crosses +/-ln(19) (alpha=beta=0.05). The sequential-analysis
    complement to the fixed-horizon tests (`stats_welch_ttest`,
    `stats_mann_whitney`): a platform monitoring an ingest metric wants
    to stop EARLY, and the SPRT is the optimal such rule.

    The fact collapses to day grain in one hash aggregate; the ordered
    cumulative window runs over the calendar-bounded day relation (the
    single-partition exchange sits above ~tens of rows at any data
    scale). Daily LLR contributions quantize to integer nano-units
    before the cumulative sum, so the trajectory — and the crossing
    day — is bit-identical to the oracle regardless of partitioning."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    d_u = F.floor(
        (F.col("k") * F.lit(_SPRT_LA) + (F.col("n") - F.col("k")) * F.lit(_SPRT_LB))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    bound_u = int(_SPRT_BOUND * 1e9 + 0.5)
    cum = daily.select(
        "day", "n", "k", F.sum(d_u).over(w).alias("cum_u")
    )
    return cum.select(
        "day",
        "n",
        "k",
        r6(F.col("cum_u").cast("double") / F.lit(1e9)).alias("cum_llr"),
        F.when(F.col("cum_u") >= F.lit(bound_u), "accept_h1")
        .when(F.col("cum_u") <= F.lit(-bound_u), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# text_rake_keywords — stopword-island phrase extraction (RAKE)
# ---------------------------------------------------------------------------


def _rake_sql() -> str:
    stoplist = "', '".join(STOPWORDS)
    return rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS t,
           generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
               AS pos
    FROM documents
),
ns AS (
    SELECT doc_id, t, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM toks WHERE t <> '' AND t NOT IN ('{stoplist}')
),
mem AS (
    SELECT doc_id, isl, t, pos,
           count(*) OVER (PARTITION BY doc_id, isl) AS plen
    FROM ns
),
ws AS (
    SELECT t,
           CAST(floor(CAST(sum(plen) AS DOUBLE) / count(*) * 1e9 + 0.5) AS BIGINT)
               AS score_u
    FROM mem GROUP BY t
),
ph AS (
    SELECT doc_id, isl,
           string_agg(t, ' ' ORDER BY pos) AS phrase,
           sum(score_u) AS ps_u
    FROM mem JOIN ws USING (t) GROUP BY doc_id, isl
)
SELECT phrase, count(*) AS n_occurrences,
       floor(CAST(max(ps_u) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS score
FROM ph GROUP BY phrase
ORDER BY score DESC, phrase ASC LIMIT 15
"""


@query("text_rake_keywords", _rake_sql())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: split each document into candidate
    phrases at stopword boundaries (the reference's customized stop
    list — +by +hi -not, `preprocess_and_store_parquets.py:67-71`),
    score each word by degree/frequency over the phrase graph, and
    rank phrases by the sum of member-word scores — top 15 corpus-wide
    keywords for index enrichment / tag suggestion.

    Phrase building is pure windows: islands via pos - row_number over
    the non-stop tokens (per-doc partitions), phrase text reassembled
    from sort_array(collect_list(struct(pos,t))) — order-exact without
    an ordered-aggregation dependency. Word degree (sum of phrase
    lengths) and frequency come from ONE aggregate over the member
    relation; scores quantize to integer nano-units before the
    per-phrase sum so identical phrases always carry identical, exact
    scores. The word-score join is hash on the token (vocabulary-sized
    build side); the final top-15 is TakeOrderedAndProject."""
    docs = read_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = docs.select("doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "t")).select(
        "doc_id", (F.col("p") + 1).alias("pos"), "t"
    )
    ns = toks.where(
        (F.col("t") != "") & ~F.array_contains(stop_arr, F.col("t"))
    ).select(
        "doc_id",
        "t",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
        ).alias("isl"),
    )
    mem = ns.select(
        "doc_id",
        "isl",
        "t",
        "pos",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "isl")).alias("plen"),
    )
    ws = mem.groupBy("t").agg(
        F.floor(
            F.sum("plen").cast("double") / F.count(F.lit(1)) * F.lit(1e9) + F.lit(0.5)
        )
        .cast("long")
        .alias("score_u")
    )
    ph = (
        mem.join(ws, "t")
        .groupBy("doc_id", "isl")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "t"))),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("score_u").alias("ps_u"),
        )
    )
    return (
        ph.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            r6(F.max("ps_u").cast("double") / F.lit(1e9)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(15)
    )
