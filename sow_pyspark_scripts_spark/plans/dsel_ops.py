"""Data-selection / compressed-ANN tier: the two pretraining-corpus
techniques still missing from the battery, plus the streaming join
variant production pipelines actually deploy.

- DSIR importance weights (Xie et al. 2023, "Data Selection via
  Importance Resampling"): score every raw document by how much more
  likely its hashed-bigram bag is under the target-domain distribution
  than under the raw-corpus distribution. This is THE standard cheap
  domain-matching filter for 100 TB pretraining corpora: two bounded
  (256-bucket) count tables, one broadcast, one pass over the token
  stream — no model, no embedding.
- Product quantization (Jegou et al. 2011): the memory-compressed ANN
  tier beyond int8 (`embedding_quantize_int8`) — split each vector
  into m=4 subvectors, code each against a per-subvector codebook, and
  answer queries with asymmetric distance (exact query subvector vs
  quantized candidate) summed from a broadcast lookup table. 64 dims
  collapse to 4 bytes per vector; the scan of codes is the whole
  query-time cost.
- Stream-stream LEFT OUTER join: the inner form
  (`streaming_stream_stream_join`, plans/scale_ops.py) only reports
  conversions; the outer form is how funnels measure NON-conversion in
  motion (views that never matched a purchase emit with nulls once the
  watermark proves no match can arrive). Null-side emission only
  happens when the watermark passes, so the availableNow drain stages
  a far-future sentinel row on both streams to push the final
  watermark past every real event — the streaming twin of "close the
  books" — and filters the sentinel back out of the result.

Cross-engine determinism follows the house rules: integer counts until
a single ln()/division, 1e9 or 1e6 half-up quantization before any
sum-of-floats, 6dp rounding before every argmin/rank, ties broken on
the integer id.

Reference scope note: the reference repo (sbhatm1213/sow-pyspark-scripts)
has no data-selection or ANN surface at all — this tier generalizes its
preprocess_and_store_parquets.py corpus stage (tokenize -> store) into
the selection stage that follows it in a real pretraining pipeline.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table, scan
from ..sources.staging import sf_tag, stage
from ..functions.det import d2r6_grid_sql, r6
from .pq_common import (
    _IVFADC_MP_ORACLE,
    _IVFADC_ORACLE,
    _IVFPQ_ORACLE,
    _PQ_CODE_CTE,
    _PQ_M,
    _PQ_REFINE_ORACLE,
    _PQ_REFINE_R,
    _PQ_TOPK_ORACLE,
    _recall_at_5,
    _refine_top5,
    ivf_family,
    ivfadc_family,
    ivfadc_multiprobe_top5,
    ivfadc_top5,
    ivfpq_top5,
    pq_adc_topk,
    pq_family,
)

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# corpus_dsir_weights — hashed-bigram importance weights, target lang='en'
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256

_DSIR_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
  FROM toks WHERE len(t) >= 2
),
hashed AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(b), 1, 8) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM bg
),
raw_cnt AS (SELECT bucket, count(*) AS rc FROM hashed GROUP BY bucket),
tgt_cnt AS (SELECT bucket, count(*) AS tc FROM hashed WHERE lang = 'en' GROUP BY bucket),
nr AS (SELECT count(*) AS n FROM hashed),
nt AS (SELECT count(*) AS n FROM hashed WHERE lang = 'en'),
lr AS (
  SELECT r.bucket,
         CAST(floor(ln(
           CAST((coalesce(t.tc, 0) + 1) * ((SELECT n FROM nr) + {_DSIR_BUCKETS}) AS DOUBLE)
           / CAST((r.rc + 1) * ((SELECT n FROM nt) + {_DSIR_BUCKETS}) AS DOUBLE)
         ) * 1e9 + 0.5) AS BIGINT) AS lrq
  FROM raw_cnt r LEFT JOIN tgt_cnt t ON r.bucket = t.bucket
),
per_doc AS (
  SELECT h.doc_id, count(*) AS n_bigrams, sum(l.lrq) AS s
  FROM hashed h JOIN lr l ON h.bucket = l.bucket
  GROUP BY h.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       floor(coalesce(CAST(p.s AS DOUBLE), 0.0) / 1e9 * 1e6 + 0.5) / 1e6
           AS dsir_logw
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@query("corpus_dsir_weights", _DSIR_ORACLE)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weight per document: hashed-bigram bag scored
    by ln(p_target/p_raw) with Laplace smoothing over 256 buckets,
    target = the lang='en' slice, raw = the whole corpus. Positive
    weight = looks more like the target domain than the average raw doc;
    importance RESAMPLING then keeps docs with probability proportional
    to exp(weight) — this query materializes the weights, the decision
    input.

    Scale shape: the bucket vocabulary is FIXED (256) regardless of
    corpus size, so both count tables and the log-ratio table are
    broadcast-sized; the token stream is touched once (explode ->
    bucket -> broadcast-join the 256-row ratio table -> per-doc sum).
    The only shuffle over unbounded data is the per-doc aggregate, keyed
    by doc_id. Determinism: the smoothed ratio is assembled as one
    integer fraction before the single ln(); per-bucket log-ratios are
    quantized half-up to integer nano-units and per-doc summed as
    BIGINTs, so cross-engine float addition order can never flip a
    weight."""
    docs = read_table(spark, sf_dir, "documents")
    from .dsir_common import dsir_weights_inquery

    return dsir_weights_inquery(docs)


@query("corpus_dsir_weights_stored", _DSIR_ORACLE)
def corpus_dsir_weights_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weights from the STORED per-doc bucket index (VERDICT r4
    task #3): `plans/ann_index.build_doc_index` persists the
    (doc_id, bucket, n, is_tgt) rollup and the 256-row quantized
    log-ratio table under the fingerprint-staged doc index, so scoring
    re-streams NEITHER the corpus nor its bigrams — the read path is
    one broadcast join + a per-doc integer sum over an already-bucketed
    relation (the `dedup_minhash_incremental_stored` / stored-ANN
    precedent applied to data selection; in-query form measured 20.3s
    isolated at the 100x smoke, dominated by the bigram md5 pass this
    twin never pays). Results are bit-identical to the in-query form
    (same oracle): the stored tables ARE the in-query intermediates.
    Falls back to the in-query plan only on environment errors
    (unwritable tempdir), with a warning — a genuine index-build bug
    must surface, not silently reroute (ADVICE r4 #3 discipline)."""
    docs = read_table(spark, sf_dir, "documents")
    from .dsir_common import dsir_weights_from, dsir_weights_inquery

    try:
        from .ann_index import stored_dsir_tables

        rollup, lr = stored_dsir_tables(spark, sf_dir)
    except OSError as e:
        import warnings

        warnings.warn(
            f"stored DSIR index unavailable ({e!r}); "
            "falling back to in-query scoring",
            stacklevel=2,
        )
        return dsir_weights_inquery(docs)
    return dsir_weights_from(docs, rollup, lr)

# ---------------------------------------------------------------------------
# product quantization: encode + asymmetric-distance top-k
# ---------------------------------------------------------------------------

_PQ_ENCODE_ORACLE = f"""
WITH {_PQ_CODE_CTE},
qe AS (
  SELECT s.vec_id, s.sub, c.cell,
         {d2r6_grid_sql('s.v', 'w.c')} AS d2
  FROM sflat s
  JOIN cells c ON s.vec_id = c.vec_id AND s.sub = c.sub
  JOIN cw w ON w.sub = s.sub AND w.cell = c.cell AND w.i = s.i
  GROUP BY s.vec_id, s.sub, c.cell
)
SELECT vec_id,
       string_agg(CAST(cell AS VARCHAR), '|' ORDER BY sub) AS codes,
       floor(sum(d2) * 1e6 + 0.5) / 1e6 AS qerr
FROM qe GROUP BY vec_id
"""


@query("embedding_pq_encode", _PQ_ENCODE_ORACLE)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: 64-dim float vector -> 4 cell codes
    (one per 16-dim subvector) plus total quantization error. The
    codebook is DATA-ADAPTED but fully deterministic: each subvector is
    hashed to one of 16 sign cells by fixed integer-weight planes (the
    SRP family of plans/dedup_sim.py), and the codeword is the mean of
    the cell's members — a one-shot trained quantizer with no RNG, no
    iteration, no argmin tie-breaks (the code IS the cell, exact integer
    arithmetic decides it). 4 codes of 4 bits = 2 bytes per vector.

    Plan: a projection of the ``pq_codes`` relation of
    `pq_common.pq_family` — the table the stored index writes. Coding is
    pure per-row codegen over the pinned corpus subvectors (no dimension
    explode, no shuffle); training is ONE map-side-combinable mean over
    the exploded dims; the codes are the 64-row broadcast codebook
    joined back to the 4-rows-per-vector relation, one 6-dp squared
    error per row, pivoted per vector — the vector dimensions cross the
    shuffle exactly once, for training. A production deployment trains
    the codebook on a sample; the fixture trains on the full set so the
    oracle is exactly reproducible."""
    _, codes, _ = pq_family(read_table(spark, sf_dir, "embeddings"))
    return codes.select(
        "vec_id",
        F.concat_ws("|", *(F.col(f"c{s}").cast("string") for s in range(_PQ_M))).alias(
            "codes"
        ),
        "qerr",
    )


@query("similarity_topk_pq", _PQ_TOPK_ORACLE)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5: each query keeps its EXACT
    subvectors; every candidate is its 4 cell codes; distance = sum of 4
    lookups in the query's 64-slot (subvector x cell) table. The fourth
    ANN tier after exact / LSH / IVF — the one that bounds MEMORY, not
    just compute: at query time the float vectors are never re-read, only
    the 2-byte codes stream through one broadcast join, a 4-slot gather
    of integer LUT entries, and a per-query top-k window.

    The LUT is one row of 64 slots per query — broadcast-sized by
    construction since queries are the small side of any ANN batch; the
    codebook itself is one row of 64 codewords of 16 integers. Each
    query's whole grid vector meets the broadcast codebook row in one
    higher-order expression, and a candidate gathers its 4 slots —
    no per-dimension rows anywhere at query time. The read is
    `similarity_topk_pq_stored`'s over the `pq_common.pq_family`
    relations instead of their stored files."""
    emb = read_table(spark, sf_dir, "embeddings")
    cw, codes, _ = pq_family(emb)
    return pq_adc_topk(emb, cw, codes, 5)


@query("similarity_topk_pq_refine", _PQ_REFINE_ORACLE)
def similarity_topk_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC + exact refine (Jegou et al. 2011 §VI "IVFADC+R"): the PQ
    asymmetric scan produces a per-query shortlist of R=25 candidates
    from codes alone; only those R rows re-read their float vectors for
    an exact L2 re-rank to the final top-5. This is how production PQ
    indexes recover the recall the 2-byte codes lose: the full-precision
    data is touched for R rows per query, not N.

    Scale shape: the shortlist is (n_queries x R) — driver-irrelevant,
    broadcast-sized; the refine join fetches exactly R candidate vectors
    per query through a broadcast hash join on vec_id, so the big side
    is probed, never shuffled. Everything upstream is the
    `similarity_topk_pq` plan (codes + broadcast LUT)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cw, codes, _ = pq_family(emb)
    return _refine_top5(emb, pq_adc_topk(emb, cw, codes, _PQ_REFINE_R, shortlist=True))


@query("similarity_topk_ivfpq", _IVFPQ_ORACLE)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 (Jegou et al. 2011 §V): the production ANN index that
    bounds BOTH compute and memory. The IVF coarse quantizer
    (`operators/similarity.ivf_cells` — per-label mean centroids,
    nearest-centroid assignment) prunes each query's candidates to its
    own cell (~1/n_cells of the corpus); inside the cell, candidates are
    ranked by PQ asymmetric distance over their 4 sign-cell codes — the
    float vectors are never re-read at query time.

    Scale shape: the coarse codebook and the one-row PQ codebook both
    broadcast (KB each); the candidate side streams (ivf_cell, 4 codes)
    = a few bytes per vector, joins its query's one-row integer LUT on
    `ivf_cell` alone, gathers `lut[c0] + lut[16 + c1] + lut[32 + c2] +
    lut[48 + c3]`, and feeds a per-query top-k window. At 16B vectors on 1000 executors the
    cells ARE the partitioning: each executor holds whole cells of
    2-byte codes, and a query touches exactly the executors owning its
    probed cells."""
    emb = read_table(spark, sf_dir, "embeddings")
    cw, codes, _ = pq_family(emb)
    _, cells = ivf_family(emb)
    return ivfpq_top5(emb, cw, codes, cells)


# ---------------------------------------------------------------------------
# corpus_dsir_resample — the DSIR keep/drop decision on top of the weights
# ---------------------------------------------------------------------------

_DSIR_HEAD = _DSIR_ORACLE[: _DSIR_ORACLE.rindex("SELECT d.doc_id")]

_DSIR_RESAMPLE_ORACLE = f"""{_DSIR_HEAD}, w AS (
  SELECT d.doc_id,
         floor(coalesce(CAST(p.s AS DOUBLE), 0.0) / 1e9 * 1e6 + 0.5) / 1e6
             AS dsir_logw
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
),
draw AS (
  SELECT doc_id, dsir_logw,
         CAST(CAST('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM w
)
SELECT doc_id, dsir_logw,
       CAST(floor(ln(CASE WHEN u < 1e-9 THEN 1e-9 ELSE u END) * 1e6 + 0.5) / 1e6
            < dsir_logw AS BOOLEAN) AS keep
FROM draw
"""


@query("corpus_dsir_resample", _DSIR_RESAMPLE_ORACLE)
def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance-RESAMPLING decision (Xie et al. 2023 §3):
    keep document i with probability min(1, exp(logw_i)) — implemented
    as the deterministic hash-as-draw u = md5('dsir:'||doc_id)/2^32 and
    the keep rule ln(u) < logw (clamped at 1e-9 so ln stays finite;
    docs with logw >= 0 always keep since ln(u) < 0 <= logw). This
    completes the DSIR pipeline from weights (`corpus_dsir_weights`) to
    the selected-corpus manifest a pretraining run consumes.

    Hash-as-draw is the house RNG: reproducible across engines and
    executors with zero coordination — exactly what a 100 TB selection
    job needs (re-running the job or re-sharding the input can never
    change which documents survive). Plan shape = the weights query
    plus one codegen projection; no extra shuffle. Weights come from
    the STORED DSIR tables when available (bit-identical by
    construction — see `corpus_dsir_weights_stored`), so the resample
    and the curation funnel stop re-paying the corpus bigram pass."""
    w = corpus_dsir_weights_stored(spark, sf_dir).select("doc_id", "dsir_logw")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return w.select(
        "doc_id",
        "dsir_logw",
        (
            r6(F.log(F.when(u < 1e-9, F.lit(1e-9)).otherwise(u)))
            < F.col("dsir_logw")
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus_dsir_weights_delta — delta batch scored against the FROZEN base
# ---------------------------------------------------------------------------

_DSIR_DELTA_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS b
  FROM toks WHERE len(t) >= 2
),
hashed AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(b), 1, 8) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM bg
),
base AS (SELECT * FROM hashed WHERE doc_id % 10 <> 0),
bcnt AS (
  SELECT bucket, count(*) AS rc,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
  FROM base GROUP BY bucket
),
spine AS (SELECT unnest(range(0, {_DSIR_BUCKETS})) AS bucket),
filled AS (
  SELECT s.bucket, coalesce(b.rc, 0) AS rc, coalesce(b.tc, 0) AS tc
  FROM spine s LEFT JOIN bcnt b ON s.bucket = b.bucket
),
tot AS (SELECT sum(rc) AS nr, sum(tc) AS nt FROM filled),
lr AS (
  SELECT bucket,
         CAST(floor(ln(
           CAST((tc + 1) * (nr + {_DSIR_BUCKETS}) AS DOUBLE)
           / CAST((rc + 1) * (nt + {_DSIR_BUCKETS}) AS DOUBLE)
         ) * 1e9 + 0.5) AS BIGINT) AS lrq
  FROM filled, tot
),
per_doc AS (
  SELECT h.doc_id, count(*) AS n_bigrams, sum(l.lrq) AS s
  FROM hashed h JOIN lr l ON h.bucket = l.bucket
  WHERE h.doc_id % 10 = 0
  GROUP BY h.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       floor(coalesce(CAST(p.s AS DOUBLE), 0.0) / 1e9 * 1e6 + 0.5) / 1e6
           AS dsir_logw
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@query("corpus_dsir_weights_delta", _DSIR_DELTA_ORACLE)
def corpus_dsir_weights_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weights for a DELTA batch against the FROZEN base
    distribution — the daily-ingest shape (the `embedding_pq_encode_delta`
    / `dedup_minhash_incremental` convention: delta = doc_id % 10 == 0,
    base = the rest). The log-ratio table trains on BASE bigrams only
    and is completed over the full 256-bucket domain
    (`dsir_common.dsir_lr_complete`), so delta bigrams hashing into
    base-empty buckets still score with the Laplace-smoothed ratio
    instead of silently dropping from an inner join. Nothing in the
    base is re-scored; at 100 TB the base rollup comes from the stored
    DSIR index (one compact relation), the ratio table is 256 rows, and
    the delta pays exactly its own tokenization.

    Scale note: routes through the stored per-doc bucket rollup when
    available (identical results by construction); in-query fallback on
    environment errors only."""
    docs = read_table(spark, sf_dir, "documents")
    from .dsir_common import dsir_lr_complete, dsir_rollup, dsir_weights_from

    try:
        from .ann_index import stored_dsir_tables

        rollup, _ = stored_dsir_tables(spark, sf_dir)
    except OSError as e:
        import warnings

        warnings.warn(
            f"stored DSIR index unavailable ({e!r}); "
            "falling back to in-query rollup",
            stacklevel=2,
        )
        rollup = dsir_rollup(docs).transform(_pin_lazy)
    lr = dsir_lr_complete(rollup.where(F.col("doc_id") % 10 != 0))
    delta_rollup = rollup.where(F.col("doc_id") % 10 == 0)
    delta_docs = docs.where(F.col("doc_id") % 10 == 0)
    return dsir_weights_from(delta_docs, delta_rollup, lr)


# ---------------------------------------------------------------------------
# similarity_pq_recall — the ANN quality gate for the compressed tier
# ---------------------------------------------------------------------------

_PQ_RECALL_ORACLE = f"""
WITH {_PQ_CODE_CTE},
lut AS (
  SELECT q.vec_id AS qid, w.sub, w.cell,
         {d2r6_grid_sql('q.v', 'w.c')} AS pd2
  FROM sflat q JOIN cw w ON w.sub = q.sub AND w.i = q.i
  WHERE q.vec_id < 20
  GROUP BY q.vec_id, w.sub, w.cell
),
adc AS (
  SELECT l.qid, c.vec_id AS cid,
         floor(sum(l.pd2) * 1e6 + 0.5) / 1e6 AS adc_d2
  FROM cells c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
),
pq5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
    FROM adc
  ) WHERE rnk <= 5
),
qx AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
cx AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
xflat AS (
  SELECT qid, cid,
         CAST(unnest(qe) AS DOUBLE) AS qv,
         CAST(unnest(ce) AS DOUBLE) AS cv
  FROM qx, cx WHERE qid <> cid
),
xd AS (
  SELECT qid, cid,
         {d2r6_grid_sql('qv', 'cv')} AS d2
  FROM xflat GROUP BY qid, cid
),
ex5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
    FROM xd
  ) WHERE rnk <= 5
),
hits AS (
  SELECT e.qid, count(p.cid) AS n_hit
  FROM ex5 e LEFT JOIN pq5 p ON p.qid = e.qid AND p.cid = e.cid
  GROUP BY e.qid
)
SELECT count(*) AS n_queries,
       floor(CAST(sum(n_hit) AS DOUBLE) / (5.0 * count(*)) * 1e6 + 0.5) / 1e6
           AS recall_at_5
FROM hits
"""


@query("similarity_pq_recall", _PQ_RECALL_ORACLE)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ ADC index against the exact L2 top-5 — the
    quality gate for the compressed ANN tier (the companion of
    `similarity_lsh_recall` for the LSH tier). A production deployment
    runs this on every index rebuild: a recall drop means the codebook
    no longer fits the data distribution and the 2-byte codes are
    silently returning wrong neighbors. One number per corpus: mean
    over queries of |PQ top-5 ∩ exact top-5| / 5.

    The exact side is a broadcast-query L2 ranking (same shape as
    `similarity_topk_exact` but L2 to match what ADC approximates); the
    PQ side is the `similarity_topk_pq` plan; the intersection is a
    5-rows-per-query broadcast join."""
    from .ann_index import similarity_topk_pq_stored

    # gate the STORED index (what a rebuild audits); results identical
    # to the in-query form (test_stored_twins), cost excludes encoding
    pq5 = similarity_topk_pq_stored(spark, sf_dir).select("qid", "cid")
    return _recall_at_5(read_table(spark, sf_dir, "embeddings"), pq5)


# ---------------------------------------------------------------------------
# similarity_topk_ivfadc — IVFADC with RESIDUAL coding (Jegou 2011 §V, exact)
# ---------------------------------------------------------------------------

# `similarity_topk_ivfpq` codes the raw vectors; the paper's IVFADC codes
# the RESIDUAL x - centroid(cell(x)) — within a cell both query and
# candidate share the centroid, so ||x-y|| = ||rx-ry|| and the PQ
# codebook spends its 16 cells on the (much tighter) residual
# distribution instead of the global one. Determinism is STRONGER than
# the raw-vector tier: vectors and centroids quantize to a 1e-6 integer
# grid first, so residuals, sign projections, codeword means
# (floor(sum/count+0.5)) and squared distances are ALL exact integer
# arithmetic — engine-independent regardless of sum order — with a
# single division per pd2 at the end.

@query("similarity_topk_ivfadc", _IVFADC_ORACLE)
def similarity_topk_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 with RESIDUAL product quantization — the faithful
    Jegou et al. 2011 §V index: each vector's residual to its coarse
    centroid is what gets PQ-coded, so within a probed cell
    ||x-y|| = ||rx-ry|| and the 16 sign cells cover the tight residual
    distribution instead of the global one (`similarity_topk_ivfpq`
    keeps raw-vector coding for comparison). nprobe=1: a query's LUT is
    built from ITS residual and candidates are its cell-mates' codes.

    Scale shape: identical to the raw-coding tier — coarse centroids
    and PQ codebook broadcast (KB), candidates stream (ivf_cell, 4
    codes), one broadcast join + 4-slot LUT gather + per-query window; the
    stored-index split of `plans/ann_index.py` applies verbatim (codes
    are 2 bytes/vector either way). Determinism: the whole pipeline is
    integer-exact (1e-6 grid quantization before the residual; integer
    sign projections; floor(sum/count+0.5) integer codewords; integer
    squared distances) — no float-sum-order exposure anywhere before
    the final 6dp division."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids, cells = ivf_family(emb)
    rcw, rcodes, _ = ivfadc_family(emb, centroids, cells)
    return ivfadc_top5(emb, centroids, cells, rcw, rcodes)


_IVFADC_RECALL_ORACLE = f"""
{_IVFADC_ORACLE[: _IVFADC_ORACLE.index("SELECT qid, cid, adc_d2")]}, a5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
    FROM adc
  ) WHERE rnk <= 5
),
qx AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
cx AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
xflat AS (
  SELECT qid, cid,
         CAST(unnest(qe) AS DOUBLE) AS qv,
         CAST(unnest(ce) AS DOUBLE) AS cv
  FROM qx, cx WHERE qid <> cid
),
xd AS (
  SELECT qid, cid,
         {d2r6_grid_sql('qv', 'cv')} AS d2
  FROM xflat GROUP BY qid, cid
),
ex5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
    FROM xd
  ) WHERE rnk <= 5
),
hits AS (
  SELECT e.qid, count(a.cid) AS n_hit
  FROM ex5 e LEFT JOIN a5 a ON a.qid = e.qid AND a.cid = e.cid
  GROUP BY e.qid
)
SELECT count(*) AS n_queries,
       floor(CAST(sum(n_hit) AS DOUBLE) / (5.0 * count(*)) * 1e6 + 0.5) / 1e6
           AS recall_at_5
FROM hits
"""


@query("similarity_ivfadc_recall", _IVFADC_RECALL_ORACLE)
def similarity_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the residual IVFADC index (nprobe=1) against the
    exact L2 top-5 — the third quality gate of the ANN ladder
    (`similarity_lsh_recall` -> `similarity_pq_recall` -> this).
    IVFADC's recall folds in BOTH loss sources a production operator
    tunes: coarse-cell pruning misses (raise nprobe) and residual-code
    quantization error (raise m or the refine R). One number per index
    rebuild; a drop tells you which dial to turn when read together
    with the PQ gate (PQ high + IVFADC low -> pruning; both low ->
    codes)."""
    from .ann_index import similarity_topk_ivfadc_stored

    # gate the STORED index (what a rebuild audits); results identical
    # to the in-query form (test_stored_twins), cost excludes encoding
    a5 = similarity_topk_ivfadc_stored(spark, sf_dir).select("qid", "cid")
    return _recall_at_5(read_table(spark, sf_dir, "embeddings"), a5)


@query("similarity_topk_ivfadc_multiprobe", _IVFADC_MP_ORACLE)
def similarity_topk_ivfadc_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with nprobe=2 — the recall knob of the residual index
    (Jegou et al. 2011 §V-D): each query probes its TWO nearest coarse
    cells, building a separate LUT per probed cell from the residual to
    THAT centroid (the residual geometry only holds within a cell, so
    the LUT cannot be shared across probes); candidates keep their own
    stored cell and codes and are scored by the matching probe's LUT.
    Roughly doubles candidate cost for the neighbors lost across a cell
    boundary — the standard production recall/latency dial, already
    modeled for raw IVF by `similarity_topk_ivf_multiprobe`.

    Same integer-exact determinism as `similarity_topk_ivfadc`; the
    probe table is 2 rows per query, both codebooks broadcast, and a
    candidate is scored at most once per probing query (cells
    partition the corpus). Queries probe the one coarse layer of
    `pq_common.ivf_family` through `probes_from_centroids`, exactly as
    the stored twin probes the stored centroids."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids, cells = ivf_family(emb)
    rcw, rcodes, _ = ivfadc_family(emb, centroids, cells)
    return ivfadc_multiprobe_top5(emb, centroids, rcw, rcodes)


# ---------------------------------------------------------------------------
# similarity_ivfadc_multiprobe_recall — prove the nprobe knob buys recall
# ---------------------------------------------------------------------------

# head = the multiprobe ADC pipeline up to its final SELECT; tail = the
# exact-top5 / hits / integer-exact-mean comparison shared with the
# single-probe gate. Composing the two strings keeps all three recall
# oracles mechanically in lockstep with their topk oracles.
_IVFADC_MP_RECALL_ORACLE = (
    _IVFADC_MP_ORACLE[: _IVFADC_MP_ORACLE.index("SELECT qid, cid, adc_d2")]
    + _IVFADC_RECALL_ORACLE[_IVFADC_RECALL_ORACLE.index(", a5 AS (") :]
)


@query("similarity_ivfadc_multiprobe_recall", _IVFADC_MP_RECALL_ORACLE)
def similarity_ivfadc_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVFADC at nprobe=2 over the STORED index — the gate
    that proves the multiprobe dial actually buys recall before anyone
    pays its ~2x candidate cost in production. Read together with
    `similarity_ivfadc_recall` (nprobe=1): the delta between the two
    numbers is the recall purchased per probe, the curve an operator
    walks when choosing the latency/recall point. Same exact-L2 ground
    truth, same integer-exact mean; only the a5 side switches to the
    stored multiprobe read path (`tests/test_ann_recall_ladder.py`
    asserts nprobe=2 >= nprobe=1 on the fixture)."""
    from .ann_index import similarity_topk_ivfadc_multiprobe_stored

    a5 = similarity_topk_ivfadc_multiprobe_stored(spark, sf_dir).select("qid", "cid")
    return _recall_at_5(read_table(spark, sf_dir, "embeddings"), a5)


# ---------------------------------------------------------------------------
# streaming_join_left_outer — stream-stream LEFT OUTER with watermark flush
# ---------------------------------------------------------------------------

_SJLO_ORACLE = f"""
SELECT v.user_id AS user_id,
       strftime(v.ts, '{_TS_FMT_DUCK}') AS view_ts,
       strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
       round(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
"""


def _stage_flushed_src(spark: SparkSession, sf_dir: str, out: str) -> None:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sentinel = ev.agg(F.max("ts").alias("mx")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("mx") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.explode(F.array(F.lit("view"), F.lit("purchase"))).alias(
            "event_type"
        ),
        F.lit(0.0).alias("value"),
    )
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "src")
    )


def _stream_events_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events plus one far-future sentinel row per
    event_type of interest (user_id = -1, ts = max(ts) + 30 days).

    Outer-join null emission is watermark-driven: a buffered left row
    only emits its null match once the watermark proves no right row can
    arrive. A drained static fixture's watermark stops `delay` short of
    max(ts), which would hold back the tail of the result forever — the
    sentinel advances the final watermark past every real event, exactly
    like a producer's end-of-day heartbeat record. The sentinel is
    filtered back out by user_id >= 0 downstream. The source copy is
    staged once per fixture through `sources/staging.stage`."""
    prefix = os.path.join(tempfile.gettempdir(), f"spark_stream_flush_{sf_tag(sf_dir)}_")
    src = os.path.join(stage(spark, prefix, sf_dir, "events", _stage_flushed_src), "src")
    return spark.readStream.schema(scan(spark, src).schema).parquet(src)


@query("streaming_join_left_outer", _SJLO_ORACLE)
def streaming_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every view emits — joined to the
    purchases that follow it within 30 minutes, or with nulls once the
    watermark proves no purchase can still arrive. The state-eviction
    contract is the same as the inner form (equality key routes both
    streams to one state partition; watermark + time bound gives every
    buffered row a drop deadline); the OUTER addition is that expiry
    EMITS instead of just discarding — which is why the drain needs the
    sentinel heartbeat (`_stream_events_flushed`) to push the closing
    watermark past the fixture's tail. Matches the batch left join
    exactly, which is the oracle."""
    from ..streaming.pipeline import run_to_memory

    src = _stream_events_flushed(spark, sf_dir)
    views = (
        src.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    out = joined.select(
        "user_id",
        F.date_format("v_ts", _TS_FMT_SPARK).alias("view_ts"),
        F.date_format("p_ts", _TS_FMT_SPARK).alias("purchase_ts"),
        F.round("p_value", 2).alias("purchase_value"),
    )
    return run_to_memory(out, "append", sf_dir=sf_dir).where(F.col("user_id") >= 0)
