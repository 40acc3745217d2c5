"""ML-ops / pipeline-hygiene tier: MinHash-LSH cross-split
decontamination (the SCALE path for train/test leakage, where
`decontam_ngram_overlap`'s exact n-gram join is the audit path),
split-conformal prediction intervals (distribution-free forecast
bands from calibration residuals — the uncertainty wrapper
`events_forecast_seasonal_naive` ships without), a sample-ratio-
mismatch gate (the first thing to check before ANY A/B readout — a
biased split silently poisons `stats_welch_ttest`/`stats_cuped_
adjustment` downstream), and a padding-waste census for
length-bucketed batching (what fraction of compute pays for pad
tokens — the cost model `pack_sequences` optimizes against).

Scale notes baked into each builder:
- decontamination reuses the `dedup_minhash_lsh` machinery verbatim
  (one md5 per shingle, 16 affine permutations as parallel
  aggregates, banded self-join) and only CHANGES THE JOIN FILTER to
  cross-split pairs — contamination detection is a plan delta, not a
  new index build; split tags are the content-addressed
  `sample_hash_split` buckets, so membership never depends on
  partitioning;
- the conformal quantile is an integer order statistic on the
  day-grain residual rollup (k = ceil(0.9(n+1)) — the finite-sample
  correction that makes marginal coverage provable), never a sort of
  raw rows;
- SRM counts distinct users per md5-assigned arm in one aggregate;
  the chi-square and its 3.84 critical flag are closed-form on the
  2-row result;
- padding waste collapses docs to the bounded power-of-2 bucket axis
  in one aggregate; every count stays an exact BIGINT and the
  efficiency ratio divides once per bucket row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6, split_bucket
from ..operators.dedup import (
    BAND_SIZE,
    NUM_SEEDS,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from ..functions.pin import pin as _pin_lazy
from ..registry import query
from ..sources import read_table
from .sql_common import _HASH_BUCKET_SQL


# ---------------------------------------------------------------------------
# decontam_minhash_lsh — near-duplicate train/test leakage at scale
# ---------------------------------------------------------------------------


def _decontam_sql() -> str:
    mins = ",\n         ".join(
        f"min(CASE WHEN seed = {k} THEN mh END) AS m{k}"
        for k in range(NUM_SEEDS)
    )
    n_bands = NUM_SEEDS // BAND_SIZE
    band_branches = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, {expr} AS bsig FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"m{b * BAND_SIZE + k}" for k in range(BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks WHERE len(t) >= 3
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
    sig AS (
      SELECT doc_id,
         {mins}
      FROM per_seed GROUP BY doc_id
    ),
    bands AS (
    {band_branches}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bsig = b.bsig
           AND a.doc_id < b.doc_id
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN {_HASH_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_HASH_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    cross_pairs AS (
      SELECT CASE WHEN sa.split = 'test' THEN c.doc_a ELSE c.doc_b END
                 AS test_doc_id,
             CASE WHEN sa.split = 'test' THEN c.doc_b ELSE c.doc_a END
                 AS train_doc_id
      FROM cand c
      JOIN splits sa ON c.doc_a = sa.doc_id
      JOIN splits sb ON c.doc_b = sb.doc_id
      WHERE (sa.split = 'test' AND sb.split = 'train')
         OR (sa.split = 'train' AND sb.split = 'test')
    )
    SELECT test_doc_id, COUNT(DISTINCT train_doc_id) AS n_train_candidates
    FROM cross_pairs GROUP BY 1
    """


@query("decontam_minhash_lsh", _decontam_sql())
def decontam_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate train/test contamination via MinHash-LSH: test
    documents that share an LSH band with any train document — the
    scale path of the decontamination family, next to
    `decontam_ngram_overlap`'s exact n-gram intersection (exact = the
    audit, LSH = what actually runs over a 100 TB corpus before an
    eval is trusted). The index is the `dedup_minhash_lsh` build
    verbatim — one md5 per shingle, {NUM_SEEDS} affine permutations
    as parallel min-aggregates, {NUM_SEEDS}//{BAND_SIZE}-band
    self-join — with ONE plan change: candidate pairs filter to
    cross-split (train x test) via the content-addressed
    `sample_hash_split` buckets, so the contamination report is a
    join-filter delta on the existing signature relation, not a new
    index. Output: each contaminated test doc with its distinct train
    collision count. Both engines compute identical integer
    signatures, so the report matches row-for-row.
    """
    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signatures(word_shingles(docs, distinct=False))
    return _decontam_report(docs, lsh_candidate_pairs(sig))


def _decontam_report(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Cross-split filter + per-test-doc rollup shared by the in-query
    and stored-index decontamination forms — given the band-collision
    candidate relation (doc_a < doc_b), keep train x test pairs and
    count distinct train collisions per test doc."""
    splits = docs.select(
        "doc_id",
        F.when(split_bucket() < 80, "train")
        .when(split_bucket() < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )
    sa = splits.select(
        F.col("doc_id").alias("da"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("db"), F.col("split").alias("split_b")
    )
    tagged = (
        cand.join(sa, cand["doc_a"] == sa["da"])
        .join(sb, cand["doc_b"] == sb["db"])
        .where(
            ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
            | ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
        )
    )
    cross = tagged.select(
        F.when(F.col("split_a") == "test", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("test_doc_id"),
        F.when(F.col("split_a") == "test", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("train_doc_id"),
    )
    return cross.groupBy("test_doc_id").agg(
        F.countDistinct("train_doc_id").alias("n_train_candidates")
    )


@query("decontam_minhash_lsh_stored", _decontam_sql())
def decontam_minhash_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`decontam_minhash_lsh` served from the STORED band index — the
    production decontamination read path: band-collision candidates
    come from `plans/ann_index.stored_all_bands` (fingerprint-fresh by
    construction; the 16-seed shingle hashing is paid ONCE at
    `dedup_index_build`, never per eval), and only the cross-split
    filter + rollup run per query — the same stored-tier split the
    dedup/ANN families already follow (`dedup_minhash_incremental_
    stored`, `dedup_lsh_jaccard_verify`). At 100 TB this is the form
    that runs before every eval release: the corpus index amortizes
    across every benchmark checked against it. Falls back to in-query
    hashing when the index cannot be built (unwritable tempdir);
    results are identical either way because the index IS the
    deterministic band relation — hence the shared oracle."""
    from .dedup_sim import _stored_candidates

    docs = read_table(spark, sf_dir, "documents")
    cand = _stored_candidates(spark, sf_dir)
    if cand is None:
        cand = lsh_candidate_pairs(
            minhash_signatures(word_shingles(docs, distinct=False))
        )
    return _decontam_report(docs, cand)


# ---------------------------------------------------------------------------
# ml_conformal_interval — distribution-free forecast band width
# ---------------------------------------------------------------------------

_CONF_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1
),
res AS (
    SELECT abs(y - lag(y, 7) OVER (ORDER BY day)) AS r FROM daily
),
ranked AS (
    SELECT r, row_number() OVER (ORDER BY r ASC) AS rn, COUNT(*) OVER () AS n
    FROM res WHERE r IS NOT NULL
),
k AS (SELECT MIN(n) AS n, (9 * (MIN(n) + 1) + 9) // 10 AS k FROM ranked),
qw AS (
    SELECT k.n AS n_cal,
           MAX(CASE WHEN ranked.rn = LEAST(k.k, k.n) THEN ranked.r END)
               AS q_width
    FROM ranked, k GROUP BY k.n, k.k
),
cov AS (
    SELECT SUM(CASE WHEN ranked.r <= qw.q_width THEN 1 ELSE 0 END) AS n_in,
           COUNT(*) AS n
    FROM ranked, qw
)
SELECT qw.n_cal, qw.q_width,
       floor(CAST(cov.n_in AS DOUBLE) / cov.n * 1e6 + 0.5) / 1e6 AS coverage
FROM qw, cov
"""


@query("ml_conformal_interval", _CONF_ORACLE)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval width for the seasonal-naive daily
    forecast: the k-th smallest absolute calibration residual with
    k = ceil(0.9 (n+1)) — the finite-sample correction that makes
    marginal coverage >= 90% PROVABLE with no distributional
    assumption at all, which is the uncertainty wrapper
    `events_forecast_seasonal_naive`'s point forecasts lack and the
    modern replacement for gaussian bands whenever `stats_jarque_bera`
    rejects. Residuals |y_t - y_{t-7}| come from one lag window over
    the day-grain rollup; the order statistic is an integer-rule
    selection (row_number = min(k, n)) over that calendar-bounded
    relation — never a raw-row sort; and the empirical coverage
    readout (share of residuals within the band, >= 0.9 by
    construction) closes the loop as a self-check. Counts are exact
    integers; one rounded division total.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wd = Window.orderBy("day")
    res = daily.select(
        F.abs(F.col("y") - F.lag("y", 7).over(wd)).alias("r")
    ).where(F.col("r").isNotNull())
    wr = Window.orderBy("r")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = res.select(
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    k = ranked.agg(
        F.min("n").alias("n_cal"),
        ((9 * (F.min("n") + 1) + 9) / 10).cast("long").alias("k"),
    )
    j = ranked.join(F.broadcast(k))
    qw = j.groupBy("n_cal", "k").agg(
        F.max(
            F.when(
                F.col("rn") == F.least(F.col("k"), F.col("n_cal")), F.col("r")
            )
        ).alias("q_width")
    )
    cov = (
        ranked.join(F.broadcast(qw.select("q_width")))
        .agg(
            F.sum(
                F.when(F.col("r") <= F.col("q_width"), 1).otherwise(0)
            ).alias("n_in"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return qw.join(F.broadcast(cov)).select(
        "n_cal",
        "q_width",
        r6(F.col("n_in") / F.col("n").cast("double")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# events_srm_check — sample-ratio-mismatch gate on a hash split
# ---------------------------------------------------------------------------

_SRM_ORACLE = """
WITH arms AS (
    SELECT DISTINCT user_id,
           CASE WHEN (
             (instr('0123456789abcdef',
                    substring(md5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 1)) - 1) * 16
             + instr('0123456789abcdef',
                     substring(md5(CAST(user_id AS VARCHAR) || ':exp1'), 2, 1)) - 1
           ) % 100 < 50 THEN 'A' ELSE 'B' END AS arm
    FROM events
),
s AS (
    SELECT COUNT(*) AS n_users,
           SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
           SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b
    FROM arms
)
SELECT n_users, n_a, n_b,
       floor(((CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
              * (CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
              / (CAST(n_users AS DOUBLE) / 2)
              + (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
              * (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
              / (CAST(n_users AS DOUBLE) / 2)) * 1e6 + 0.5) / 1e6 AS chi2_stat,
       ((CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
        * (CAST(n_a AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
        / (CAST(n_users AS DOUBLE) / 2)
        + (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
        * (CAST(n_b AS DOUBLE) - CAST(n_users AS DOUBLE) / 2)
        / (CAST(n_users AS DOUBLE) / 2)) > 3.841 AS srm_flag
FROM s
"""


@query("events_srm_check", _SRM_ORACLE)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate: chi-square(1) of observed vs
    expected 50/50 user counts under the md5(user:exp1) assignment —
    the FIRST check every experimentation platform runs before any
    treatment-effect readout, because a split that lost users
    non-randomly (bot filters, logging gaps, triggered exposure
    bugs) silently biases `stats_welch_ttest`, `stats_cuped_
    adjustment`, and `stats_mde_power` no matter how careful the
    analysis. Assignment is content-addressed (the `sample_hash_split`
    discipline on user_id), so arms are reproducible; users collapse
    to one distinct-aggregate, and the statistic plus its 3.841
    critical flag (alpha = 0.05, df = 1) are closed-form on the 1-row
    result. Exact integers until the final division.
    """
    ev = read_table(spark, sf_dir, "events")
    h = F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1")))
    nib = lambda j: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1
    )
    arm = F.when((nib(1) * 16 + nib(2)) % 100 < 50, "A").otherwise("B")
    arms = ev.select("user_id", arm.alias("arm")).distinct()
    s = arms.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
    )
    e = F.col("n_users").cast("double") / 2
    chi2 = (F.col("n_a") - e) * (F.col("n_a") - e) / e + (
        F.col("n_b") - e
    ) * (F.col("n_b") - e) / e
    return s.select(
        "n_users",
        "n_a",
        "n_b",
        r6(chi2).alias("chi2_stat"),
        (chi2 > 3.841).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# pack_padding_waste — length-bucket batching efficiency census
# ---------------------------------------------------------------------------

_PAD_POWERS = [2**i for i in range(4, 16)]  # 16 .. 32768


def _bucket_case_sql() -> str:
    branches = " ".join(
        f"WHEN ntok <= {p} THEN {p}" for p in _PAD_POWERS
    )
    return f"CASE {branches} ELSE {2 * _PAD_POWERS[-1]} END"


_PAD_ORACLE = f"""
WITH lens AS (
    SELECT len(string_split(text, ' ')) AS ntok FROM documents
),
bucketed AS (
    SELECT ntok, {_bucket_case_sql()} AS bucket FROM lens
)
SELECT bucket, COUNT(*) AS n_docs,
       SUM(CAST(ntok AS BIGINT)) AS total_tokens,
       bucket * COUNT(*) AS padded_tokens,
       floor(CAST(SUM(CAST(ntok AS BIGINT)) AS DOUBLE)
             / (bucket * COUNT(*)) * 1e6 + 0.5) / 1e6 AS efficiency
FROM bucketed GROUP BY 1
"""


@query("pack_padding_waste", _PAD_ORACLE)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste census for power-of-2 length-bucketed batching:
    each document pads to the next bucket boundary (16..32768), and
    the census reports per-bucket doc counts, real vs padded token
    totals, and the efficiency ratio — the compute-cost model that
    motivates `pack_sequences`' dense packing (efficiency there is ~1
    by construction; the gap between these two numbers IS the win).
    One corpus scan: token counts are split-length expressions, the
    bucket is a bounded CASE ladder (deterministic integer
    arithmetic, no float log2 edge cases at exact powers), and the
    census aggregates to the <=13-row bucket axis. Every count stays
    an exact BIGINT; efficiency divides once per bucket row.
    """
    docs = read_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    bucket = F.lit(2 * _PAD_POWERS[-1])
    for p in reversed(_PAD_POWERS):
        bucket = F.when(ntok <= p, p).otherwise(bucket)
    b = docs.select(ntok.alias("ntok"), bucket.alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ntok").cast("long")).alias("total_tokens"),
        (F.col("bucket") * F.count(F.lit(1))).alias("padded_tokens"),
        r6(
            F.sum(F.col("ntok").cast("long")).cast("double")
            / (F.col("bucket") * F.count(F.lit(1)))
        ).alias("efficiency"),
    )


# ---------------------------------------------------------------------------
# text_quality_classifier — model-based corpus filtering (fastText-style)
# ---------------------------------------------------------------------------

_QCLF_LR = 8.0
_QCLF_ITERS = 4


def _qclf_sql(train_where: str = "", score_where: str = "") -> str:
    """Oracle builder shared by the full and train/delta-split forms:
    ``train_where`` filters the rows the gradient steps see,
    ``score_where`` filters the rows the trained weights score."""
    p_of = (
        "floor(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2 + w3 * x3)))"
        " * 1e6 + 0.5) / 1e6"
    )
    head = f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
wc AS (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS w FROM base)
    GROUP BY doc_id, w
),
topw AS (SELECT doc_id, max(c) AS top_c FROM wc GROUP BY doc_id),
feat AS (
    SELECT b.doc_id,
           floor(least(len(toks), 100) / 100.0 * 1e6 + 0.5) / 1e6 AS x1,
           floor(list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / len(toks) / 10.0 * 1e6 + 0.5) / 1e6 AS x2,
           floor(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 1e6 + 0.5) / 1e6 AS x3,
           CASE WHEN floor(CAST(top_c AS DOUBLE) / len(toks) * 1e6 + 0.5) / 1e6 <= 0.1
                THEN 1.0 ELSE 0.0 END AS y
    FROM base b JOIN topw t ON b.doc_id = t.doc_id
),
trainft AS (SELECT * FROM feat {train_where}),
w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    step = """,
g{k} AS (
    SELECT count(*) AS n,
           sum(CAST(floor((y - {p}) * 1e9 + 0.5) AS BIGINT)) AS g0,
           sum(CAST(floor((y - {p}) * x1 * 1e9 + 0.5) AS BIGINT)) AS g1,
           sum(CAST(floor((y - {p}) * x2 * 1e9 + 0.5) AS BIGINT)) AS g2,
           sum(CAST(floor((y - {p}) * x3 * 1e9 + 0.5) AS BIGINT)) AS g3
    FROM trainft, w{prev}s
),
w{k}s AS (
    SELECT floor((w0 + {lr} * (CAST(g0 AS DOUBLE) / n / 1e9)) * 1e9 + 0.5) / 1e9 AS w0,
           floor((w1 + {lr} * (CAST(g1 AS DOUBLE) / n / 1e9)) * 1e9 + 0.5) / 1e9 AS w1,
           floor((w2 + {lr} * (CAST(g2 AS DOUBLE) / n / 1e9)) * 1e9 + 0.5) / 1e9 AS w2,
           floor((w3 + {lr} * (CAST(g3 AS DOUBLE) / n / 1e9)) * 1e9 + 0.5) / 1e9 AS w3
    FROM w{prev}s, g{k}
)"""
    sql = head
    for k in range(1, _QCLF_ITERS + 1):
        sql += step.format(k=k, prev=k - 1, p=p_of, lr=_QCLF_LR)
    return (
        sql
        + f"""
SELECT f.doc_id,
       {p_of} AS score,
       {p_of} >= 0.5 AS pred,
       CAST(y AS BIGINT) AS label
FROM feat f, w{_QCLF_ITERS}s
{score_where}
"""
    )


@query("text_quality_classifier", _qclf_sql())
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier shape of
    CCNet/LLaMA-style curation (public: Joulin et al. 2016; Wenzek et
    al. 2019), trained and applied in ONE declarative plan: cheap
    surface features per document (clipped length, mean word length,
    distinct-token ratio), a label from an INDEPENDENT signal the
    features never see (the Gopher top-word-fraction repetition gate,
    `corpus_quality_gopher`'s duplication axis), {it} unrolled
    gradient-descent steps of logistic regression (lr={lr}), then every
    document scored with the trained weights. Unlike the rule gates
    (`corpus_quality_gopher`, `corpus_clean_filter`) the decision
    boundary here is LEARNED from corpus statistics — the production
    pattern where labels come from a curated seed set.

    Same iterative-ML-as-aggregates discipline as `ml_logreg_newton`:
    each step is one scan computing the 4 gradient components as
    quantized-integer nano-unit sums (partition-order immune); the
    weight vector rides between steps as a broadcast 1-row relation
    (never a driver collect); probabilities round to 1e-6 immediately
    after the sigmoid so a last-ulp exp() divergence between engines
    cannot move the grid value off-boundary; weights re-quantize to
    1e-9 each step. The feature relation is pinned once — {it} gradient
    scans + the final scoring pass reuse it instead of re-running the
    tokenize/top-word shuffle. At 100 TB: the feature build is one
    doc_id-keyed aggregate pass (the same shuffle shape as
    `corpus_quality_gopher`), each training step is a full-reduce to
    ONE 5-number row, and scoring is a broadcast map — nothing pairwise,
    nothing driver-sized except the weights."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qclf_features(docs)
    return _qclf_score(feat, _qclf_train(feat))


def _qclf_features(docs: DataFrame, pin: bool = True) -> DataFrame:
    """(doc_id, x1..x3, y): grid-quantized surface features + the
    repetition label. Pinned by default ({it} gradient scans + scoring
    reuse it); pass pin=False for per-micro-batch feature builds."""
    base = docs.select("doc_id", F.split("text", " ").alias("toks"))
    n = F.size("toks")
    topw = (
        base.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    wlen_sum = F.aggregate(
        F.transform("toks", lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    feat = base.join(topw, "doc_id").select(
        "doc_id",
        r6(F.least(n, F.lit(100)) / 100.0).alias("x1"),
        r6(wlen_sum / n / 10.0).alias("x2"),
        r6(F.size(F.array_distinct("toks")).cast("double") / n).alias("x3"),
        F.when(r6(F.col("top_c").cast("double") / n) <= 0.1, 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    return _pin_lazy(feat) if pin else feat


def _qclf_p():
    return r6(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(
                    F.col("w0")
                    + F.col("w1") * F.col("x1")
                    + F.col("w2") * F.col("x2")
                    + F.col("w3") * F.col("x3")
                )
            )
        )
    )


def _qclf_train(feat: DataFrame) -> DataFrame:
    """{it} quantized gradient steps over the feature relation; returns
    the trained weights as a broadcast-sized 1-row frame.

    r9 (guide §5, measured): each gradient step is one aggregate job
    whose result is FOUR scalars. The old broadcast-frame chaining
    (w(k) = w(k-1) crossJoin gradient frame) made every step also build
    a BroadcastExchange before the next aggregate could plan — 2.3s for
    the 4-step loop at sf0.1. The loop now collects the 4 gradient
    scalars per step (driver moves 5 numbers, never data — the same
    contract as connected_components' convergence count) and re-injects
    the updated weights as literals. The update arithmetic is the
    IDENTICAL IEEE-754 double sequence the in-plan expression ran
    (+, *, /, floor on the same grid), so the trained weights are
    bit-equal — verified: same 1e-9-grid weights, oracle green. 1.0s
    for the same loop."""
    import math

    gsum = lambda expr: F.sum(  # noqa: E731
        F.floor(expr * F.lit(1e9) + F.lit(0.5)).cast("long")
    )
    spark = feat.sparkSession
    wv = (0.0, 0.0, 0.0, 0.0)

    def _wframe() -> DataFrame:
        return spark.range(1).select(
            F.lit(wv[0]).alias("w0"),
            F.lit(wv[1]).alias("w1"),
            F.lit(wv[2]).alias("w2"),
            F.lit(wv[3]).alias("w3"),
        )

    for _ in range(_QCLF_ITERS):
        p = _qclf_p()
        row = (
            feat.crossJoin(F.broadcast(_wframe()))
            .agg(
                F.count(F.lit(1)).alias("n"),
                gsum(F.col("y") - p).alias("g0"),
                gsum((F.col("y") - p) * F.col("x1")).alias("g1"),
                gsum((F.col("y") - p) * F.col("x2")).alias("g2"),
                gsum((F.col("y") - p) * F.col("x3")).alias("g3"),
            )
            .collect()[0]
        )
        # Fail loudly on an empty training relation (ADVICE r5): with
        # n = 0 the gradient mean would be NULL and every downstream
        # score / pred silently nulls out.
        if not row["n"]:
            raise RuntimeError("_qclf_train: empty training relation")
        n = float(row["n"])
        wv = tuple(
            math.floor(
                (wv[j] + _QCLF_LR * (float(row[f"g{j}"]) / n / 1e9)) * 1e9
                + 0.5
            )
            / 1e9
            for j in range(4)
        )
    return _wframe()


def _qclf_score(feat: DataFrame, w: DataFrame) -> DataFrame:
    p = _qclf_p()
    return feat.crossJoin(F.broadcast(w)).select(
        "doc_id",
        p.alias("score"),
        (p >= 0.5).alias("pred"),
        F.col("y").cast("long").alias("label"),
    )


@query(
    "text_quality_classifier_delta",
    _qclf_sql(
        train_where="WHERE doc_id % 10 != 0",
        score_where="WHERE f.doc_id % 10 = 0",
    ),
)
def text_quality_classifier_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/apply split of `text_quality_classifier` — the production
    shape: the gate trains on the FROZEN base corpus (doc_id % 10 != 0,
    the same base/delta convention as `corpus_dsir_weights_delta` and
    `dedup_minhash_incremental`) and scores only the arriving delta
    slice. Scoring depends on nothing but the doc's own features and
    the frozen 4-weight row, so it is micro-batch invariant — which is
    what makes `streaming_quality_score` (this query's streamed drain)
    equal it bit-for-bit. One feature pass feeds both stages; training
    reduces the base slice to a 1-row weight frame; the delta side is a
    broadcast map over its own features."""
    docs = read_table(spark, sf_dir, "documents")
    feat = _qclf_features(docs)
    w = _qclf_train(feat.where(F.col("doc_id") % 10 != 0))
    return _qclf_score(feat.where(F.col("doc_id") % 10 == 0), w)


@query("streaming_quality_score", None)  # oracle via registry alias ->
# text_quality_classifier_delta: per-doc scoring is micro-batch-
# invariant, so the streamed drain must equal the batch delta query
def streaming_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating IN MOTION: delta documents arrive as staged
    parquet micro-batches and ``foreachBatch`` scores each batch with
    the FROZEN classifier weights trained on the base corpus — the
    streaming twin of `text_quality_classifier_delta`, and the shape a
    crawl-ingest filter actually runs (new shards land -> featurize the
    shard only -> broadcast the 4-weight row -> append keep/drop
    scores). Mirrors `streaming_dsir_score`'s frozen-model drain: the
    three streaming twins share one staged delta slice
    (`plans/ann_index.stage_delta_stream`) and one drain
    (`streaming/pipeline.drain_batches`).

    State story: no Spark state — a doc's score depends only on its own
    features and the frozen weights, so micro-batch boundaries cannot
    change any row and the checkpointed drain is idempotent. At 100 TB
    the stream side is shard-parallel featurization; training never
    re-runs."""
    from ..functions.pin import pin_eager as _pin_eager
    from ..streaming.pipeline import drain_batches
    from .ann_index import stage_delta_stream

    docs = read_table(spark, sf_dir, "documents")
    # Train BEFORE the stream starts, on PINNED base features (the 4
    # gradient scans read materialized blocks, not 4 re-featurizations),
    # and eagerly materialize the 1-row weight frame — otherwise the
    # first micro-batch pays the whole training inside its trigger and
    # every batch's broadcast re-walks the training lineage (measured
    # 323s -> ~60s at the 100x smoke on the throttled host).
    w = _pin_eager(
        _qclf_train(_qclf_features(docs.where(F.col("doc_id") % 10 != 0)))
    )

    def _score(bdf: DataFrame) -> DataFrame:
        return _qclf_score(_qclf_features(bdf, pin=False), w)

    return drain_batches(spark, *stage_delta_stream(spark, sf_dir, "qclf"), _score)
