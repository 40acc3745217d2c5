"""Training-corpus curation tier, round 2: semantic dedup (SemDeDup),
Gopher-style repetition filtering, temperature-based domain mixing, and
embedding centroid drift monitoring.

These are the curation passes a 100 TB pretraining pipeline runs AFTER
exact/near dedup (`plans/dedup_sim.py`) and quality gating
(`corpus_quality_gopher`):

- SemDeDup (Abbas et al., 2023, arXiv:2303.09540): embeddings cluster
  into IVF cells; within a cell, any pair above a cosine threshold is a
  semantic duplicate and the higher-id member drops. Pair work is
  Σ(cell²) via a per-cell numpy GEMM (`applyInPandas`) — the N² matrix
  never materializes, same discipline as `graph_knn_mutual`.
- repetition metrics (Rae et al., 2021 "Gopher" §A1.2): duplicate-
  unigram fraction and top-bigram mass per document, computed with
  native higher-order functions — no Python in the scan path.
- temperature sampling (Arivazhagan et al., 2019; used for domain
  mixing in multilingual/LLM training): per-domain sampling share
  ∝ n^α with α < 1 upweighting tail domains; pure arithmetic over a
  domains-sized rollup.
- centroid drift: per-label mean-vector displacement between two
  deterministic halves of the corpus — the embedding-quality monitor
  that catches encoder version skew between ingest batches.

All four are oracle-checked against DuckDB twins; rounding pins every
float at 6dp before comparison.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import (
    cos_grid_sql,
    d2_grid_sql,
    mean_grid,
    mean_grid_sql,
    quant,
    r6,
)
from ..functions.gridnp import guarded_pair_sims
from ..registry import query
from ..sources import read_table

_M6V = mean_grid_sql("v")

_SEMDEDUP_TAU = 0.35


# Shared pinned CTE fragments (r5). Both the d2 argmin and the pair
# cosine are EXACT-INTEGER aggregates on the 1e-6 grid (functions/det.py
# doctrine): the r3 fix pinned the centroids but left the pair-scoring
# and d2 sums as raw floats, whose DuckDB accumulation order varies with
# thread count — the surviving driver flake of rounds 3 AND 4. With
# integer sums there is no order to vary: engine and oracle compute the
# same integers, divide once, floor once.
_FLAT_CTE = """flat AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)"""

_CELLS_CTES = f"""{_FLAT_CTE},
cent AS (SELECT label AS cent_id, pos, {_M6V} AS c FROM flat GROUP BY label, pos),
dists AS (
  SELECT f.vec_id, c.cent_id,
         {d2_grid_sql("f.v", "c.c")} AS d2
  FROM flat f JOIN cent c ON f.pos = c.pos
  GROUP BY f.vec_id, c.cent_id
)"""

_PAIR_SIM = cos_grid_sql("xa", "xb")


# ---------------------------------------------------------------------------
# dedup_semantic_semdedup — SemDeDup within IVF cells
# ---------------------------------------------------------------------------

_SEMDEDUP_ORACLE = f"""
WITH {_CELLS_CTES},
cells AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
),
pairflat AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN cells ca ON a.vec_id = ca.vec_id
  JOIN cells cb ON ca.cell = cb.cell AND a.vec_id < cb.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
dropped AS (
  SELECT DISTINCT vb AS vec_id
  FROM (
    SELECT va, vb, {_PAIR_SIM} AS sim
    FROM pairflat GROUP BY va, vb
  ) WHERE sim >= {_SEMDEDUP_TAU}
)
SELECT c.cell,
       count(*) AS n_vectors,
       sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS n_survivors,
       min(CASE WHEN d.vec_id IS NULL THEN c.vec_id END) AS first_survivor
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
GROUP BY c.cell
"""


def _semdedup_report(cells: DataFrame, emb: DataFrame, tau: float) -> DataFrame:
    """Shared SemDeDup engine: given (vec_id, cell) assignments, score
    every a<b pair WITHIN a cell by rounded cosine via a per-cell numpy
    GEMM inside ``applyInPandas`` (float BLAS prefilter with margin;
    EXACT-INTEGER grid recompute decides membership — bit-identical to
    the oracle's ``cos_grid_sql`` under any thread count, the r5 close
    of the r3/r4 driver flake), drop the higher id of every pair >= tau,
    and return the per-cell report (n_vectors, n_survivors,
    first_survivor). Work ∝ Σ cell²; no N² relation, no corpus
    broadcast."""
    from pyspark.sql.types import LongType, StructField, StructType

    cells = cells.transform(_pin_lazy)
    with_c = emb.join(cells, "vec_id").select("vec_id", "embedding", "cell")
    dropped_schema = StructType([StructField("vec_id", LongType())])

    def _cell_dropped(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"vec_id": []}).astype({"vec_id": "int64"})
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)  # exact grid ints
        sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        g = np.where(sqn == 0.0, 1.0, sqn)
        matn = qm / g[:, None]  # prefilter only (both in grid units)
        fast = matn @ matn.T
        ia, ib = np.nonzero((fast >= tau - 1e-5) & (ids[:, None] < ids[None, :]))
        sims = guarded_pair_sims(fast[ia, ib], qm, sqn, ia, qm, sqn, ib)
        return pd.DataFrame({"vec_id": np.unique(ids[ib[sims >= tau]])})

    dropped = with_c.groupBy("cell").applyInPandas(_cell_dropped, dropped_schema)
    survivors = cells.join(dropped, "vec_id", "left_anti")
    return (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(
            survivors.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_survivors"),
                F.min("vec_id").alias("first_survivor"),
            ),
            "cell",
            "left",
        )
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            "first_survivor",
        )
    )


def _semdedup_pairs(cells: DataFrame, emb: DataFrame, tau: float) -> DataFrame:
    """(va, vb): every a<b pair within a cell with rounded cosine >=
    tau — the PAIR view of the same per-cell GEMM kernel, for audits
    that need the pairs themselves (`dedup_semdedup_shard_recall`)
    rather than the survivor report."""
    from pyspark.sql.types import LongType, StructField, StructType

    cells = cells.transform(_pin_lazy)
    with_c = emb.join(cells, "vec_id").select("vec_id", "embedding", "cell")
    pair_schema = StructType(
        [StructField("va", LongType()), StructField("vb", LongType())]
    )

    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"va": [], "vb": []}).astype(
                {"va": "int64", "vb": "int64"}
            )
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)  # exact grid ints
        sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        g = np.where(sqn == 0.0, 1.0, sqn)
        matn = qm / g[:, None]  # prefilter only (both in grid units)
        fast = matn @ matn.T
        ia, ib = np.nonzero((fast >= tau - 1e-5) & (ids[:, None] < ids[None, :]))
        sims = guarded_pair_sims(fast[ia, ib], qm, sqn, ia, qm, sqn, ib)
        keep = sims >= tau
        return pd.DataFrame({"va": ids[ia[keep]], "vb": ids[ib[keep]]})

    return with_c.groupBy("cell").applyInPandas(_cell_pairs, pair_schema)


@query("dedup_semantic_semdedup", _SEMDEDUP_ORACLE)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-duplicates removed WITHIN embedding
    clusters. Cells come from the deterministic IVF quantizer
    (`operators/similarity.ivf_cells`); inside each cell every a<b pair
    with rounded cosine >= {tau} marks b (the higher id) as a duplicate
    of a — one survivor per semantic group, deterministic without a
    connected-components pass. Scoring is a per-cell numpy GEMM inside
    ``applyInPandas`` (work ∝ Σ cell², no N² relation, no broadcast of
    the corpus — the `graph_knn_mutual` discipline). Output is the
    per-cell dedup report (sizes + first survivor id).

    Scale note (honest): the coarse quantizer here is label-seeded, so
    the CELL COUNT IS FIXED — per-cell work grows quadratically with
    corpus size. This form is the ORACLE-faithful small-N shape; the
    registered scale path is `dedup_semantic_semdedup_sharded`, which
    refines each IVF cell with deterministic SRP sign-planes until the
    sub-cell population is bounded (the SemDeDup paper's "k grows with
    N" dial, expressed without RNG).""".replace(
        "{tau}", str(_SEMDEDUP_TAU)
    )
    from ..operators.similarity import ivf_cells

    emb = read_table(spark, sf_dir, "embeddings")
    _, cells = ivf_cells(emb)
    return _semdedup_report(cells, emb, _SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# dedup_semantic_semdedup_sharded — SemDeDup with BOUNDED cells (scale path)
# ---------------------------------------------------------------------------

_SEMDEDUP_PLANES = 4       # 2^4 = 16 sub-cells per coarse cell
_SEMDEDUP_PLANE_OFF = 8    # planes 8..11 of the deterministic family —
                           # decoupled from the classic SRP bucketing (0..3)
                           # and the LSH bands. Post-r5 the family is
                           # injective (operators/similarity.plane_class),
                           # so these really are four planes no other
                           # bucketing shares; pre-r5 the mod-7 formula
                           # collapsed the whole family to 7 planes
                           # (ADVICE r4) and planes 8..11 duplicated the
                           # classic slice.


def _sub_ctes(plane_off: int, projs_name: str = "projs", sub_name: str = "sub") -> str:
    """projs + sub CTEs for one SRP family slice — generated from the
    SAME plane family the engine uses (`plane_coef_sql`), with exact
    integer projections (`proj_sign_sql`): the sign test is sum-order
    independent in both engines."""
    from ..functions.det import proj_sign_sql
    from ..operators.similarity import plane_coef_sql

    projs = ",\n         ".join(
        f"{proj_sign_sql('v', plane_coef_sql('pos', plane_off + j))} AS p{j}"
        for j in range(_SEMDEDUP_PLANES)
    )
    bits = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(_SEMDEDUP_PLANES)
    )
    return f"""{projs_name} AS (
  SELECT vec_id,
         {projs}
  FROM flat GROUP BY vec_id
),
{sub_name} AS (SELECT vec_id, CAST({bits} AS BIGINT) AS b FROM {projs_name})"""


_SEMDEDUP_SHARDED_ORACLE = f"""
WITH {_CELLS_CTES},
coarse AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
),
{_sub_ctes(_SEMDEDUP_PLANE_OFF)},
cells AS (
  SELECT c.vec_id, c.cell * {2 ** _SEMDEDUP_PLANES} + s.b AS cell
  FROM coarse c JOIN sub s ON s.vec_id = c.vec_id
),
pairflat AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN cells ca ON a.vec_id = ca.vec_id
  JOIN cells cb ON ca.cell = cb.cell AND a.vec_id < cb.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
dropped AS (
  SELECT DISTINCT vb AS vec_id
  FROM (
    SELECT va, vb, {_PAIR_SIM} AS sim
    FROM pairflat GROUP BY va, vb
  ) WHERE sim >= {_SEMDEDUP_TAU}
)
SELECT c.cell,
       count(*) AS n_vectors,
       sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS n_survivors,
       min(CASE WHEN d.vec_id IS NULL THEN c.vec_id END) AS first_survivor
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
GROUP BY c.cell
"""


@query("dedup_semantic_semdedup_sharded", _SEMDEDUP_SHARDED_ORACLE)
def dedup_semantic_semdedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with BOUNDED cells — the registered 100 TB shape. The
    label-seeded coarse quantizer of `dedup_semantic_semdedup` has a
    FIXED cell count, so its per-cell GEMM grows quadratically with the
    corpus; this variant refines every coarse cell with {p} deterministic
    SRP sign-planes (planes {off}..{hi} of the fixed integer-weight
    family — exact integer weights, no RNG), multiplying the cell count
    by {mult} and cutting per-cell pair work ~{mult}x. That is exactly the
    SemDeDup paper's "number of clusters grows with N" dial (Abbas et
    al. 2023 §3: k is chosen proportional to dataset size), expressed
    deterministically: at production scale you add a plane per corpus
    doubling, keeping E[|sub-cell|] — and therefore per-task GEMM cost
    and executor memory — constant.

    Recall tradeoff, stated honestly: near-duplicate pairs split by a
    sign-plane are no longer compared (same boundary-miss class as any
    LSH partition; the tau >= {tau} pairs this misses are those nearly
    orthogonal to no plane — multiprobe or a second offset family
    recovers them at 2x cost). Within every sub-cell the scoring is the
    SAME exact kernel as the oracle form, so survivors are exact for
    the refined partition — the knob trades PARTITION granularity, not
    scoring fidelity.""".format(
        p=_SEMDEDUP_PLANES,
        off=_SEMDEDUP_PLANE_OFF,
        hi=_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES - 1,
        mult=2 ** _SEMDEDUP_PLANES,
        tau=_SEMDEDUP_TAU,
    )
    from ..operators.similarity import ivf_cells, srp_buckets

    emb = read_table(spark, sf_dir, "embeddings")
    _, coarse = ivf_cells(emb)
    sub = srp_buckets(
        emb, num_planes=_SEMDEDUP_PLANES, plane_offset=_SEMDEDUP_PLANE_OFF
    )
    cells = coarse.join(sub, "vec_id").select(
        "vec_id",
        (
            F.col("cell") * F.lit(2 ** _SEMDEDUP_PLANES) + F.col("bucket")
        ).alias("cell"),
    )
    return _semdedup_report(cells, emb, _SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# dedup_semantic_semdedup_sharded_2fam — two-family union (recall dial)
# ---------------------------------------------------------------------------

_SEMDEDUP_2FAM_ORACLE = f"""
WITH {_CELLS_CTES},
coarse AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
),
{_sub_ctes(_SEMDEDUP_PLANE_OFF)},
{_sub_ctes(_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES, "projs2", "sub2")},
cand AS (
  SELECT ca.vec_id AS va, cb.vec_id AS vb
  FROM coarse ca JOIN coarse cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
  JOIN sub s1a ON s1a.vec_id = ca.vec_id
  JOIN sub s1b ON s1b.vec_id = cb.vec_id
  JOIN sub2 s2a ON s2a.vec_id = ca.vec_id
  JOIN sub2 s2b ON s2b.vec_id = cb.vec_id
  WHERE s1a.b = s1b.b OR s2a.b = s2b.b
),
pairflat AS (
  SELECT c.va, c.vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.va
  JOIN embeddings b ON b.vec_id = c.vb
),
dropped AS (
  SELECT DISTINCT vb AS vec_id
  FROM (
    SELECT va, vb, {_PAIR_SIM} AS sim
    FROM pairflat GROUP BY va, vb
  ) WHERE sim >= {_SEMDEDUP_TAU}
)
SELECT c.cell,
       count(*) AS n_vectors,
       sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS n_survivors,
       min(CASE WHEN d.vec_id IS NULL THEN c.vec_id END) AS first_survivor
FROM coarse c LEFT JOIN dropped d ON c.vec_id = d.vec_id
GROUP BY c.cell
"""


@query("dedup_semantic_semdedup_sharded_2fam", _SEMDEDUP_2FAM_ORACLE)
def dedup_semantic_semdedup_sharded_2fam(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-family sharded SemDeDup — the registered form of the recall
    mitigation the shard-recall audit measures (VERDICT r4 task #2). A
    pair is compared when it shares a sub-cell in EITHER of two
    genuinely independent SRP plane families (planes {o1}..{h1} and
    {o2}..{h2} of the injective post-r5 family — pre-r5 the mod-7
    formula made family 2 share hyperplanes with family 1, ADVICE r4),
    so per-pair recall is 1-(1-r)² at 2x partition cost: each family's
    sub-cells stay bounded, the union only unions the candidate PAIR
    sets. Sims are the exact-integer grid kernel, identical in both
    families, so the cross-family distinct is deterministic. The report
    is per COARSE cell (the partition both families share) —
    (n_vectors, n_survivors, first_survivor).

    Scale: two bounded applyInPandas passes (work ∝ 2·Σ sub-cell²) plus
    a pair-set distinct — the same linear-in-corpus shape as the
    single-family form. At very large N add planes per family (both
    engines generate them from the shared 42-plane class table) before
    adding families."""
    from ..operators.similarity import ivf_cells, srp_buckets

    emb = read_table(spark, sf_dir, "embeddings")
    _, coarse = ivf_cells(emb)
    coarse = coarse.transform(_pin_lazy)
    mult = F.lit(2 ** _SEMDEDUP_PLANES)
    pair_sets = []
    for off in (_SEMDEDUP_PLANE_OFF, _SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES):
        sub = srp_buckets(emb, num_planes=_SEMDEDUP_PLANES, plane_offset=off)
        cells = coarse.join(sub, "vec_id").select(
            "vec_id", (F.col("cell") * mult + F.col("bucket")).alias("cell")
        )
        pair_sets.append(_semdedup_pairs(cells, emb, _SEMDEDUP_TAU))
    pairs = pair_sets[0].unionByName(pair_sets[1]).dropDuplicates(["va", "vb"])
    dropped = pairs.select(F.col("vb").alias("vec_id")).distinct()
    survivors = coarse.join(dropped, "vec_id", "left_anti")
    return (
        coarse.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(
            survivors.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_survivors"),
                F.min("vec_id").alias("first_survivor"),
            ),
            "cell",
            "left",
        )
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_survivors", F.lit(0)).alias("n_survivors"),
            "first_survivor",
        )
    )


dedup_semantic_semdedup_sharded_2fam.__doc__ = (
    dedup_semantic_semdedup_sharded_2fam.__doc__.format(
        o1=_SEMDEDUP_PLANE_OFF,
        h1=_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES - 1,
        o2=_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES,
        h2=_SEMDEDUP_PLANE_OFF + 2 * _SEMDEDUP_PLANES - 1,
    )
)


# ---------------------------------------------------------------------------
# dedup_semdedup_shard_recall — what the sharding dial costs, measured
# ---------------------------------------------------------------------------

_SHARD_RECALL_ORACLE = f"""
WITH {_CELLS_CTES},
coarse AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
),
{_sub_ctes(_SEMDEDUP_PLANE_OFF)},
{_sub_ctes(_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES, "projs2", "sub2")},
pairflat AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN coarse ca ON a.vec_id = ca.vec_id
  JOIN coarse cb ON ca.cell = cb.cell AND a.vec_id < cb.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
dup_pairs AS (
  SELECT va, vb FROM (
    SELECT va, vb, {_PAIR_SIM} AS sim
    FROM pairflat GROUP BY va, vb
  ) WHERE sim >= {_SEMDEDUP_TAU}
)
SELECT count(*) AS n_dup_pairs,
       CAST(sum(CASE WHEN sa.b = sb.b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same_shard,
       floor(CAST(sum(CASE WHEN sa.b = sb.b THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS shard_recall,
       CAST(sum(CASE WHEN sa.b = sb.b OR s2a.b = s2b.b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same_shard_2fam,
       floor(CAST(sum(CASE WHEN sa.b = sb.b OR s2a.b = s2b.b THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS union_recall
FROM dup_pairs p
JOIN sub sa ON sa.vec_id = p.va
JOIN sub sb ON sb.vec_id = p.vb
JOIN sub2 s2a ON s2a.vec_id = p.va
JOIN sub2 s2b ON s2b.vec_id = p.vb
"""


@query("dedup_semdedup_shard_recall", _SHARD_RECALL_ORACLE)
def dedup_semdedup_shard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharding dial's cost, measured: of all true semantic-dup
    pairs (same COARSE cell, rounded cosine >= tau — what the oracle
    form compares), which fraction lands in the same SRP sub-cell and
    is therefore still caught by `dedup_semantic_semdedup_sharded`?
    One row: (n_dup_pairs, n_same_shard, shard_recall,
    n_same_shard_2fam, union_recall) — the 2fam columns measure the
    2x-cost mitigation now REGISTERED as
    `dedup_semantic_semdedup_sharded_2fam` (union of two genuinely
    distinct plane families of the injective post-r5 class table;
    fixture: 0.171875 -> 0.25 at sf0.001 — below the 0.314 that perfect
    1-(1-r)^2 independence would predict, because the same pair
    geometry drives both families; the audit REPORTS the real union
    rather than assuming the formula). This is the
    audit a data lead reads next to the sharded report before trading
    partition granularity for bounded cost — the SemDeDup analogue of
    `similarity_lsh_recall` for the ANN tier. A hyperplane splits a
    pair with probability arccos(sim)/pi per plane, so recall over 4
    planes is ((1 - arccos(sim)/pi))^4 — ~0.17 measured on this
    fixture, whose tau=0.35 "duplicates" are weakly similar by
    construction, vs ~0.66 at the sim≈0.95 that dominates real dup
    clusters (SemDeDup's operating point). THAT is why this gate
    exists: it tells the operator whether their tau/plane setting
    keeps enough recall to shard at all, before the cheap partition
    replaces the quadratic one. The scoring side reuses the
    oracle-form pair generation bounded to coarse cells (run at audit
    cadence, not per batch; at very large N run it on a cell
    sample)."""
    from ..operators.similarity import ivf_cells, srp_buckets

    emb = read_table(spark, sf_dir, "embeddings")
    _, coarse = ivf_cells(emb)
    dup = _semdedup_pairs(coarse, emb, _SEMDEDUP_TAU)
    sub = srp_buckets(
        emb, num_planes=_SEMDEDUP_PLANES, plane_offset=_SEMDEDUP_PLANE_OFF
    )
    # second independent family (planes 12..15): the documented 2x-cost
    # recall mitigation, measured in the same row
    sub2 = srp_buckets(
        emb,
        num_planes=_SEMDEDUP_PLANES,
        plane_offset=_SEMDEDUP_PLANE_OFF + _SEMDEDUP_PLANES,
    )
    sa = sub.select(F.col("vec_id").alias("va"), F.col("bucket").alias("ba"))
    sb = sub.select(F.col("vec_id").alias("vb"), F.col("bucket").alias("bb"))
    s2a = sub2.select(F.col("vec_id").alias("va"), F.col("bucket").alias("b2a"))
    s2b = sub2.select(F.col("vec_id").alias("vb"), F.col("bucket").alias("b2b"))
    j = dup.join(sa, "va").join(sb, "vb").join(s2a, "va").join(s2b, "vb")
    same1 = F.when(F.col("ba") == F.col("bb"), 1).otherwise(0)
    same2 = F.when(
        (F.col("ba") == F.col("bb")) | (F.col("b2a") == F.col("b2b")), 1
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.sum(same1).cast("long").alias("n_same_shard"),
        r6(F.sum(same1).cast("double") / F.count(F.lit(1))).alias("shard_recall"),
        F.sum(same2).cast("long").alias("n_same_shard_2fam"),
        r6(F.sum(same2).cast("double") / F.count(F.lit(1))).alias("union_recall"),
    )


# ---------------------------------------------------------------------------
# corpus_repetition_gopher — duplicate-ngram repetition metrics per doc
# ---------------------------------------------------------------------------

_REP_DUP_UNI_MAX = 0.6  # Gopher-flavored thresholds on the fixture corpus
_REP_TOP_BI_MAX = 0.18

_REPETITION_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS ts
  FROM documents
  WHERE trim(lower(text)) <> ''
),
uni AS (
  SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct
  FROM toks
),
bi AS (
  SELECT doc_id, bg, count(*) AS c
  FROM (
    SELECT doc_id, unnest(list_transform(
             range(1, len(ts)),
             i -> ts[i] || ' ' || ts[i + 1])) AS bg
    FROM toks WHERE len(ts) >= 2
  ) GROUP BY doc_id, bg
),
topbi AS (SELECT doc_id, max(c) AS top_c FROM bi GROUP BY doc_id)
SELECT u.doc_id,
       u.n_tokens,
       floor((1.0 - n_distinct / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
           AS dup_unigram_frac,
       floor(coalesce(top_c, 0) * 2.0 / n_tokens * 1e6 + 0.5) / 1e6
           AS top_bigram_frac,
       ((1.0 - n_distinct / CAST(n_tokens AS DOUBLE)) <= {_REP_DUP_UNI_MAX}
        AND coalesce(top_c, 0) * 2.0 / n_tokens <= {_REP_TOP_BI_MAX}) AS keep
FROM uni u LEFT JOIN topbi t ON u.doc_id = t.doc_id
"""


@query("corpus_repetition_gopher", _REPETITION_ORACLE)
def corpus_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen (Rae et al. 2021 §A1.2, adapted to
    the single-line fixture docs): duplicate-unigram fraction
    (1 − distinct/total) and top-bigram mass (2·max bigram count /
    tokens) per document, with the keep flag both thresholds imply.
    Everything is native: tokenization is one split, bigrams come from
    a ``transform(sequence(...))`` higher-order expression, and the max
    count is a two-level hash aggregate — the whole screen runs in
    whole-stage codegen, no Python per document. The thresholds drop the
    template-generated repetitive docs that survive exact/near dedup."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.trim(F.lower(F.col("text")))
    toks = docs.filter(t != "").select("doc_id", F.split(t, r"\s+").alias("ts"))
    uni = toks.select(
        "doc_id",
        F.size("ts").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("ts")).cast("long").alias("n_distinct"),
    )
    bigrams = toks.filter(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ts", i), F.element_at("ts", i + 1)
                ),
            )
        ).alias("bg"),
    )
    topbi = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    dup_uni = 1.0 - F.col("n_distinct") / F.col("n_tokens").cast("double")
    top_bi = F.coalesce(F.col("top_c"), F.lit(0)) * 2.0 / F.col("n_tokens")
    return (
        uni.join(topbi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            r6(dup_uni).alias("dup_unigram_frac"),
            r6(top_bi).alias("top_bigram_frac"),
            (
                (dup_uni <= _REP_DUP_UNI_MAX) & (top_bi <= _REP_TOP_BI_MAX)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# sample_temperature_mix — temperature-scaled domain sampling weights
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7

_TEMPMIX_ORACLE = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT sum(n_docs) AS n_total, sum(pow(n_docs, {_MIX_ALPHA})) AS z FROM per
)
SELECT source, n_docs,
       floor(n_docs / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS raw_share,
       floor(pow(n_docs, {_MIX_ALPHA}) / z * 1e6 + 0.5) / 1e6 AS temp_share,
       floor(pow(n_docs, {_MIX_ALPHA}) / z * n_total / n_docs * 1e6 + 0.5) / 1e6
           AS epochs_at_temp
FROM per, tot
"""


@query("sample_temperature_mix", _TEMPMIX_ORACLE)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the multilingual-sampling rule,
    α={alpha}): per-source sampling share ∝ n^α, which upweights tail
    domains relative to their raw frequency; `epochs_at_temp` is how
    many passes over each domain one epoch of the mixed stream implies
    — the over-sampling factor a data loader applies per shard. One
    domains-sized rollup feeds pure arithmetic; the normalizer rides as
    a broadcast 1-row aggregate (nothing data-sized shuffles
    twice).""".replace("{alpha}", str(_MIX_ALPHA))
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow("n_docs", F.lit(_MIX_ALPHA))).alias("z"),
    )
    w = F.pow("n_docs", F.lit(_MIX_ALPHA)) / F.col("z")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        r6(F.col("n_docs") / F.col("n_total").cast("double")).alias("raw_share"),
        r6(w).alias("temp_share"),
        r6(w * F.col("n_total") / F.col("n_docs")).alias("epochs_at_temp"),
    )


# ---------------------------------------------------------------------------
# embedding_centroid_drift — per-label centroid displacement across halves
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH flat AS (
  SELECT vec_id, label, vec_id % 2 AS half,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cent AS (
  SELECT label, half, pos, {_M6V} AS c, count(DISTINCT vec_id) AS n
  FROM flat GROUP BY label, half, pos
),
paired AS (
  SELECT a.label, a.pos,
         CAST(floor(a.c * 1000000.0 + 0.5) AS BIGINT) AS qa,
         CAST(floor(b.c * 1000000.0 + 0.5) AS BIGINT) AS qb,
         a.n AS n_even, b.n AS n_odd
  FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
  WHERE a.half = 0 AND b.half = 1
)
SELECT CAST(label AS BIGINT) AS label,
       min(n_even) AS n_even, min(n_odd) AS n_odd,
       floor(sqrt(CAST(sum((qa - qb) * (qa - qb)) AS DOUBLE)) + 0.5) / 1000000.0
           AS l2_drift,
       floor(CAST(sum(qa * qb) AS DOUBLE)
             / (sqrt(CAST(sum(qa * qa) AS DOUBLE)) * sqrt(CAST(sum(qb * qb) AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM paired GROUP BY label
"""


@query("embedding_centroid_drift", _DRIFT_ORACLE)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label centroid displacement (L2 and
    cosine) between two deterministic halves of the corpus (vec_id
    parity stands in for ingest-batch / encoder-version splits). A
    centroid that moves between batches means the encoder changed or
    the ingest distribution shifted — the check that gates joining two
    embedding snapshots into one index. One posexplode + two hash
    aggregates; the paired relation is labels × dims (bounded), so the
    final math never sees corpus-sized data."""
    emb = read_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("p0", "vf"),
    ).select(
        "vec_id", "label", "half",
        (F.col("p0") + 1).alias("pos"),
        F.col("vf").cast("double").alias("v"),
    )
    cent = flat.groupBy("label", "half", "pos").agg(
        mean_grid(F.col("v")).alias("c"), F.countDistinct("vec_id").alias("n")
    )
    # centroid components are grid-pinned means — recover their exact
    # integer grid units and aggregate as integers (r5: the drift/cos
    # sums were the same unpinned-float-compare class as the semdedup
    # pair scoring)
    def _q(c):
        return quant(c).cast("long")

    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", _q(F.col("c")).alias("qa"), F.col("n").alias("ne")
    )
    b = cent.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"),
        _q(F.col("c")).alias("qb"), F.col("n").alias("no"),
    )
    paired = a.join(b, (F.col("label") == F.col("lb")) & (F.col("pos") == F.col("pb")))
    dq = F.col("qa") - F.col("qb")
    return paired.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.min("ne").alias("n_even"),
        F.min("no").alias("n_odd"),
        (
            F.floor(F.sqrt(F.sum(dq * dq).cast("double")) + F.lit(0.5)) / F.lit(1e6)
        ).alias("l2_drift"),
        r6(
            F.sum(F.col("qa") * F.col("qb")).cast("double")
            / (
                F.sqrt(F.sum(F.col("qa") * F.col("qa")).cast("double"))
                * F.sqrt(F.sum(F.col("qb") * F.col("qb")).cast("double"))
            )
        ).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# dedup_banded_recall — candidate recall of the 4x4 OR-amplified SRP index
# ---------------------------------------------------------------------------

_BANDED_THR = 0.3
_BANDED_NB = 4   # bands
_BANDED_NP = 4   # planes per band


def _banded_recall_oracle() -> str:
    from ..functions.det import proj_sign_sql
    from ..operators.similarity import plane_coef_sql

    band_ctes = []
    for b in range(_BANDED_NB):
        projs = ",\n         ".join(
            f"{proj_sign_sql('v', plane_coef_sql('pos', b * _BANDED_NP + j))} AS p{j}"
            for j in range(_BANDED_NP)
        )
        bits = " + ".join(
            f"(CASE WHEN p{j} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(_BANDED_NP)
        )
        band_ctes.append(
            f"""bproj{b} AS (
  SELECT vec_id,
         {projs}
  FROM flat GROUP BY vec_id
),
band{b} AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bk FROM bproj{b})"""
        )
    band_union = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM band{b} a JOIN band{b} b ON a.bk = b.bk AND a.vec_id < b.vec_id"""
        for b in range(_BANDED_NB)
    )
    return f"""
WITH {_FLAT_CTE},
{",".join(band_ctes)},
cand AS (
{band_union}
),
pairflat AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS xa,
         CAST(unnest(b.embedding) AS DOUBLE) AS xb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 200
),
exact AS (
  SELECT va, vb FROM (
    SELECT va, vb, {_PAIR_SIM} AS sim
    FROM pairflat GROUP BY va, vb
  ) WHERE sim >= {_BANDED_THR}
)
SELECT count(*) AS n_true_pairs,
       CAST(sum(CASE WHEN c.va IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_candidates_hit,
       floor(CAST(sum(CASE WHEN c.va IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS candidate_recall
FROM exact e LEFT JOIN cand c ON e.va = c.va AND e.vb = c.vb
"""


@query("dedup_banded_recall", _banded_recall_oracle())
def dedup_banded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the OR-amplified SRP index
    (`cosine_neardup_banded`, {nb} bands x {np} planes) against exact
    cosine pairs >= {thr} over a bounded probe slice (va < 200) — the
    gate that PRICES the banded path's recall claim (1-(1-p^k)^B with
    p = 1-acos(s)/pi) instead of assuming it. Until r5 the claim was
    silently void: the mod-7 plane formula gave every band the SAME
    slope, so "independent" bands shared hyperplanes (ADVICE r4) and
    OR-amplification amplified less than advertised; with the injective
    family this gate measures the real dial. One row:
    (n_true_pairs, n_candidates_hit, candidate_recall). Run at audit
    cadence; at very large N run it on a vector sample — the exact side
    is probe-bounded, the banded side is the linear-in-corpus
    bucketing.""".format(nb=_BANDED_NB, np=_BANDED_NP, thr=_BANDED_THR)
    from ..operators.similarity import cosine_neardup_pairs, srp_buckets

    emb = read_table(spark, sf_dir, "embeddings")
    exact = (
        cosine_neardup_pairs(emb, _BANDED_THR)
        .where(F.col("va") < 200)
        .select("va", "vb")
    )
    cand = None
    for b in range(_BANDED_NB):
        bb = srp_buckets(
            emb, num_planes=_BANDED_NP, plane_offset=b * _BANDED_NP
        )
        a = bb.select(F.col("vec_id").alias("va"), F.col("bucket").alias("ba"))
        c2 = bb.select(F.col("vec_id").alias("vb"), F.col("bucket").alias("bb"))
        pairs = a.join(c2, (F.col("ba") == F.col("bb")) & (F.col("va") < F.col("vb"))).select(
            "va", "vb"
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()
    hit = exact.join(cand.withColumn("hit", F.lit(1)), ["va", "vb"], "left")
    return hit.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
            "n_candidates_hit"
        ),
        r6(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("candidate_recall"),
    )


# ---------------------------------------------------------------------------
# sample_stratified_split — exact per-stratum train/valid/test quotas
# ---------------------------------------------------------------------------

_STRAT_ORACLE = """
WITH h AS (
    SELECT doc_id, lang,
           md5(CAST(doc_id AS VARCHAR) || ':strat') AS hk
    FROM documents
),
r AS (
    SELECT lang,
           row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n_g
    FROM h
),
s AS (
    SELECT lang, n_g,
           CASE WHEN rn <= CAST(floor(n_g * 0.1 + 0.5) AS BIGINT)
                    THEN 'valid'
                WHEN rn <= 2 * CAST(floor(n_g * 0.1 + 0.5) AS BIGINT)
                    THEN 'test'
                ELSE 'train' END AS split
    FROM r
)
SELECT lang, split,
       count(*) AS n_docs,
       floor(CAST(count(*) AS DOUBLE) / CAST(min(n_g) AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS frac
FROM s GROUP BY lang, split
"""


@query("sample_stratified_split", _STRAT_ORACLE)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified train/valid/test split: within each
    language stratum, docs order by a salted content hash and the
    first round(0.1*n) become valid, the next round(0.1*n) test, the
    rest train — per-stratum proportions are EXACT (a 60-doc minority
    language gets exactly 6 valid docs), where `sample_hash_split`'s
    bucket-mod split only converges to 80/10/10 in expectation and can
    starve small strata. Deterministic: no RNG, the hash ordering is
    content-addressed, and quotas are integer arithmetic.

    Scale shape: one shuffle on the stratum key serves the ordering
    window, the stratum-count window, and the rollup; no global sort,
    no driver state. The report is the per-(stratum, split) audit row a
    data card publishes. Caveat vs the hash split (documented, not
    hidden): appends RESHUFFLE quota boundaries — rerun the split per
    corpus snapshot; use sample_hash_split when per-doc stability
    under appends matters more than exact quotas."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))).alias("hk"),
    )
    wlang = Window.partitionBy("lang")
    r = h.select(
        "lang",
        F.row_number().over(wlang.orderBy("hk", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wlang).alias("n_g"),
    )
    quota = F.floor(F.col("n_g") * F.lit(0.1) + F.lit(0.5)).cast("long")
    s = r.select(
        "lang",
        "n_g",
        F.when(F.col("rn") <= quota, "valid")
        .when(F.col("rn") <= F.lit(2) * quota, "test")
        .otherwise("train")
        .alias("split"),
    )
    return s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(
            F.count(F.lit(1)).cast("double")
            / F.min("n_g").cast("double")
        ).alias("frac"),
    )
