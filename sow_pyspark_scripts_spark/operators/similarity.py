"""Similarity search over the ``embeddings`` table (north-star tier).

Two paths, per SURVEY.md §7 phase 4:
  - exact brute force: query-set x candidate-set join with a JVM-side
    dot product (``zip_with``/``aggregate``), rank per query. The
    baseline and the verify step.
  - LSH-bucketed: deterministic sign-random-projection buckets; only
    same-bucket pairs are scored. The scale path — the cross join never
    happens, bucket sizes bound the work per query. Hyperplane
    coefficients are a pure integer formula of (dim, plane), so the SQL
    oracle reproduces the bucketing bit-for-bit (no RNG, stable across
    runs/engines — at 1000 executors everyone agrees on buckets with
    zero coordination).

Similarities are EXACT-INTEGER grid cosines (r5): components quantize
to the 1e-6 grid, dot and norm² sums run as integers (associative — any
partial-aggregate merge order, any oracle thread count), one double
division, one half-up 6dp floor before ranking. Rank order is therefore
bit-identical across engines BY CONSTRUCTION, not by accepted ulp risk
(the pre-r5 dim-sequential float form assumed DuckDB sums unnested rows
in subscript order, which parallel scans do not guarantee — the r3/r4
semdedup driver-flake class).
"""

from __future__ import annotations

from ..functions.det import quant, r6
from ..functions.pin import pin_eager as _pin_eager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.gridnp import guarded_pair_sims
from ..functions.vectors import dot_grid_pre, quant_arr

NUM_PLANES = 4


def _norm2_pre(aq: Column) -> Column:
    """Exact integer norm² for an array already in grid units."""
    return F.aggregate(aq, F.lit(0).cast("long"), lambda acc, x: acc + x * x)


def _sim_grid(qe: Column, ce: Column, qn2: Column, cn2: Column) -> Column:
    """Rounded cosine from an exact integer dot and PRECOMPUTED exact
    integer norm² columns — the join-friendly form of
    ``functions.vectors.cos_grid`` (norms computed once per side, not
    once per pair). Bit-identical to the oracle's ``cos_grid_sql``
    under any partitioning or thread count. ``qe``/``ce`` must be
    PRE-QUANTIZED grid-unit arrays (``quant_arr`` once per side before
    the join — per-pair re-quantization costs ~2x on bucket joins)."""
    return (
        r6(
            dot_grid_pre(qe, ce).cast("double")
            / (F.sqrt(qn2.cast("double")) * F.sqrt(cn2.cast("double")))
        )
    )


def topk_per_query(
    df: DataFrame, order: Column | str, k: int, shortlist: bool = False
) -> DataFrame:
    """The one per-query top-k rule: rows of ``df`` numbered by
    ``row_number() over (partition by qid order by <order>, cid)`` and
    kept while the number is <= ``k``. ``order`` is the rounded distance
    (ascending) or similarity (``.desc()``); the ``cid`` tie-break makes
    the ranking total, so it cannot depend on partitioning. The SQL twin
    is the oracles' ``row_number() OVER (PARTITION BY qid ORDER BY ...,
    cid)``.

    Returns ``df`` plus ``rank`` (long), the output column of every
    top-k query. With ``shortlist`` only (qid, cid) come back: the
    candidate set a refine or recall step joins against, whose rank is
    never read."""
    w = Window.partitionBy("qid").orderBy(order, F.col("cid"))
    if shortlist:
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("qid", "cid")
        )
    return df.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def topk_exact(
    emb: DataFrame, query_pred: Column, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    all candidates; rank by rounded sim desc with id tiebreak."""
    cand = emb.select(
        F.col(id_col).alias("cid"), quant_arr(F.col(vec_col)).alias("ce")
    ).withColumn("cn2", _norm2_pre(F.col("ce")))
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("qid"), quant_arr(F.col(vec_col)).alias("qe")
    ).withColumn("qn2", _norm2_pre(F.col("qe")))
    pairs = cand.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("cid"))
    sims = pairs.select(
        "qid",
        "cid",
        _sim_grid(F.col("qe"), F.col("ce"), F.col("qn2"), F.col("cn2")).alias("sim"),
    )
    return topk_per_query(sims, F.col("sim").desc(), k)


# Deterministic integer hyperplane family. A plane is the coefficient
# vector coef(i) = ((i*s + o) % 7) - 3 over 1-based dims i; its CLASS is
# (s mod 7, o mod 7), and two planes with the same class are IDENTICAL.
# The pre-r5 formula ((i*31 + j*17) % 7) fixed s=31 (≡3) for every j, so
# the whole family had only SEVEN distinct planes — "independent" bands
# and the sharded-semdedup second family silently shared hyperplanes
# (ADVICE r4). The fix: planes 0..3 keep their legacy classes (so every
# existing SRP bucketing and its oracles are value-identical), and planes
# 4+ enumerate the remaining (s, o) classes with s != 0 — 42 genuinely
# distinct planes total. Beyond 41 the mod-7 integer family is exhausted
# by construction; raise rather than silently repeat (a wider family
# needs a larger modulus, e.g. mod-11 weights in [-5, 5]).
_LEGACY_CLASSES = [(3, 0), (3, 3), (3, 6), (3, 2)]  # = (i*31 + 17j) % 7, j=0..3
_EXTRA_CLASSES = [
    (s, o)
    for s in range(1, 7)
    for o in range(7)
    if (s, o) not in _LEGACY_CLASSES
]
MAX_PLANES = len(_LEGACY_CLASSES) + len(_EXTRA_CLASSES)  # 42


def plane_class(plane: int) -> tuple[int, int]:
    """(slope, offset) of plane ``plane`` — all 42 classes distinct."""
    if plane < 0 or plane >= MAX_PLANES:
        raise ValueError(
            f"plane {plane} outside the {MAX_PLANES}-plane mod-7 family; "
            "use a larger-modulus weight family beyond it"
        )
    if plane < 4:
        return _LEGACY_CLASSES[plane]
    return _EXTRA_CLASSES[plane - 4]


def plane_coef_sql(var: str, plane: int) -> str:
    """DuckDB fragment for the plane's coefficient at 1-based dim ``var``
    — shared by every oracle that replicates a bucketing, so engine and
    oracle can never disagree on the hyperplanes."""
    s, o = plane_class(plane)
    return f"((({var} * {s} + {o}) % 7) - 3)"


def _plane_coef(pos_1based: Column, plane: int) -> Column:
    """Deterministic pseudo-random hyperplane coefficient in [-3, 3] for
    dim i (1-based): ((i*s + o) % 7) - 3 with (s, o) = plane_class(j).
    INTEGER-valued (callers multiply against grid-quantized components
    for exact integer projections)."""
    s, o = plane_class(plane)
    return (pos_1based * s + F.lit(o)) % 7 - 3


def srp_buckets(
    emb: DataFrame,
    num_planes: int = NUM_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_offset: int = 0,
) -> DataFrame:
    """Sign-random-projection bucket per vector: bit j = (proj_j > 0).

    One posexplode + one conditional aggregate — the same two-shuffle
    shape regardless of vector count; no pairwise work.

    ``plane_offset`` shifts into a different slice of the deterministic
    hyperplane family — band b of an OR-amplified index passes
    ``plane_offset=b*num_planes`` to get independent planes (band 0 is
    exactly the classic bucketing; see ``plane_class`` for the family's
    42-plane ceiling).

    Projections are EXACT integer sums (r5): components quantize to the
    1e-6 grid, multiply integer plane weights, and sum as longs — the
    sign test can never flip with Spark's partial-aggregate merge order
    or the oracle's thread count (the semdedup-flake class, closed at
    the source).
    """
    flat = emb.select(
        F.col(id_col).alias("vec_id"), F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        quant(F.col("val").cast("double"))
        .cast("long")
        .alias("qv"),
    )
    projs = flat.groupBy("vec_id").agg(
        *[
            F.sum(F.col("qv") * _plane_coef(F.col("i"), plane_offset + j)).alias(f"p{j}")
            for j in range(num_planes)
        ]
    )
    bucket = None
    for j in range(num_planes):
        term = F.when(F.col(f"p{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return projs.select("vec_id", bucket.cast("long").alias("bucket"))


def topk_lsh(
    emb: DataFrame, query_pred: Column, k: int = 5, num_planes: int = NUM_PLANES
) -> DataFrame:
    """LSH-bucketed cosine top-k: score only same-bucket candidates."""
    buckets = srp_buckets(emb, num_planes)
    with_b = emb.join(buckets, "vec_id")
    cand = with_b.select(
        F.col("vec_id").alias("cid"), quant_arr(F.col("embedding")).alias("ce"), F.col("bucket")
    ).withColumn("cn2", _norm2_pre(F.col("ce")))
    q = with_b.filter(query_pred).select(
        F.col("vec_id").alias("qid"), quant_arr(F.col("embedding")).alias("qe"),
        F.col("bucket").alias("qbucket"),
    ).withColumn("qn2", _norm2_pre(F.col("qe")))
    pairs = cand.join(
        F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("qid") != F.col("cid"))
    )
    sims = pairs.select(
        "qid",
        "cid",
        F.col("bucket"),
        _sim_grid(F.col("qe"), F.col("ce"), F.col("qn2"), F.col("cn2")).alias("sim"),
    )
    return topk_per_query(sims, F.col("sim").desc(), k)


def ivf_cells(emb: DataFrame, centroid_col: str = "label") -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: centroids = per-``centroid_col`` mean vectors
    (a deterministic stand-in for a k-means codebook — same shape, no RNG),
    cells = each vector assigned to its NEAREST centroid by L2 (which need
    not be its own label).

    Returns (centroids(cent_id, centroid), cells(vec_id, cell)); the
    centroids are collected for the assignment kernel, so they come back
    as a local relation over those rows, not as a lazy frame. Distances
    are rounded to 6dp before the argmin so every engine picks the same
    cell on near-ties, and the centroids themselves are PINNED to the
    1e-6 grid via an exact-integer mean (``functions.det.mean_grid``):
    a raw ``avg(double)`` varies at the ulp level with Spark's
    partial-aggregate merge order, which once flipped a d2 sitting on a
    rounding boundary and changed a cell assignment between runs (the
    round-3 ``dedup_semantic_semdedup`` driver flake). With grid-exact
    centroids the whole assignment is partitioning-independent.
    """
    from ..functions.det import mean_grid

    flat = emb.select(
        "vec_id", F.col(centroid_col).alias("cent_id"), F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "cent_id", "pos", F.col("v").cast("double").alias("v"))
    centroids = (
        flat.groupBy("cent_id", "pos")
        .agg(mean_grid(F.col("v")).alias("c"))
        .groupBy("cent_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cent_id", F.col("pc.c").alias("centroid"))
    )
    # assignment kernel: the codebook is bounded (|labels| x d — the KB-
    # scale broadcast every IVF index ships to workers), so collect it
    # once and score vectors in numpy batches instead of evaluating a
    # |vectors| x |centroids| grid of 64-term Catalyst expressions
    # (~1.3e9 scalar ops at 200k vectors — the dominant cost of the kNN
    # battery entry at 100x). The squared distance is an EXACT INTEGER
    # on the 1e-6 grid (r5): vectors and (grid-pinned) centroids quantize
    # to int64, d2 = |x|² + |c|² - 2x·c in integer arithmetic — identical
    # under any accumulation order, any engine, any thread count (the
    # pre-r5 dim-sequential float form assumed DuckDB sums unnested rows
    # in subscript order, which parallel scans do not guarantee — the
    # semdedup-flake class). Ties break to the lowest cent_id exactly
    # like ORDER BY d2, cent_id; exact integers mean "tie" is true
    # equality, never a rounding artifact.
    cent_rows = sorted(
        ((r["cent_id"], list(r["centroid"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cent_ids = [c for c, _ in cent_rows]
    cent_mat = [v for _, v in cent_rows]

    from pyspark.sql.types import LongType, StructField, StructType

    cells_schema = StructType(
        [StructField("vec_id", LongType()), StructField("cell", LongType())]
    )

    def _assign(batches):
        import numpy as np
        import pandas as pd

        if not cent_ids:
            return
        c = np.asarray(cent_mat, dtype=np.float64)  # (k, d)
        cid = np.asarray(cent_ids, dtype=np.int64)
        cq = np.floor(c * 1e6 + 0.5).astype(np.int64)  # exact grid ints
        cn2 = (cq * cq).sum(axis=1)  # (k,) exact
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)  # (n, d)
            xq = np.floor(x * 1e6 + 0.5).astype(np.int64)
            xn2 = (xq * xq).sum(axis=1)  # (n,) exact
            # exact integer d2 on the grid: |x|² + |c|² - 2x·c
            d2i = xn2[:, None] + cn2[None, :] - 2 * (xq @ cq.T)
            best = np.argmin(d2i, axis=1)  # first (lowest cent_id) wins ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cid[best],
                }
            )

    cells = emb.select("vec_id", "embedding").mapInPandas(_assign, cells_schema)
    # the centroids as a local relation over the rows just collected, with
    # the lazy frame's schema: a consumer reads them without re-running
    # the posexplode and the two aggregates behind them. Through pandas,
    # not a plain list: the Arrow path plans a LocalRelation (sized, so it
    # broadcasts, and read without a job); a list is parallelized into a
    # LogicalRDD whose size estimate is Long.MaxValue, which never
    # broadcasts and costs a scan job per read.
    import pandas as pd

    local = pd.DataFrame(cent_rows, columns=["cent_id", "centroid"])
    return emb.sparkSession.createDataFrame(local, centroids.schema), cells


def topk_ivf(emb: DataFrame, query_pred: Column, k: int = 5) -> DataFrame:
    """IVF top-k with nprobe=1: score only candidates in the query's own
    cell. The third ANN tier (exact -> LSH -> IVF): at 100 TB the cells
    partition the corpus, the codebook broadcasts (KB), and each query
    touches 1/n_cells of the data; recall is traded via nprobe."""
    _, cells = ivf_cells(emb)
    with_c = emb.join(cells, "vec_id")
    cand = with_c.select(
        F.col("vec_id").alias("cid"), quant_arr(F.col("embedding")).alias("ce"), "cell"
    ).withColumn("cn2", _norm2_pre(F.col("ce")))
    q = with_c.filter(query_pred).select(
        F.col("vec_id").alias("qid"), quant_arr(F.col("embedding")).alias("qe"),
        F.col("cell").alias("qcell"),
    ).withColumn("qn2", _norm2_pre(F.col("qe")))
    pairs = cand.join(
        F.broadcast(q), (F.col("cell") == F.col("qcell")) & (F.col("qid") != F.col("cid"))
    )
    sims = pairs.select(
        "qid",
        "cid",
        F.col("cell"),
        _sim_grid(F.col("qe"), F.col("ce"), F.col("qn2"), F.col("cn2")).alias("sim"),
    )
    return topk_per_query(sims, F.col("sim").desc(), k)


def cosine_neardup_bucketed(emb: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-dup pairs restricted to SRP-bucket collisions
    — the scale path for ``cosine_neardup_pairs``: same-bucket pairs only,
    so work scales with sum(bucket_size^2) instead of N^2 and no side
    needs to broadcast. Recall is tuned by the plane count (fewer planes
    -> bigger buckets -> higher recall, more compute).

    Scoring is a per-bucket chunked numpy kernel (``applyInPandas``), NOT
    a pair equi-join: the join form materializes every same-bucket pair
    as a row carrying BOTH embedding arrays (~1 KB/pair — tens of GB
    through the shuffle at 200k vectors) and evaluates a 64-term Catalyst
    expression per pair, measured 20+ min at 200k vectors where the
    vectorized form takes seconds. Each bucket's matrix scores against
    itself in 1024-row chunks (bounds the sims block regardless of bucket
    size) and only threshold-passing (va < vb) pairs ever become rows.

    Determinism (r5, exact-integer form), at GEMM speed: a float BLAS
    prefilter over the normalized QUANTIZED vectors finds candidate
    pairs with margin (threshold - 1e-5 >> the ~1e-13 BLAS reassociation
    error — prefilter and exact stage share the same grid-quantized
    source, so the margin only has to cover reassociation). Survivors
    are scored by the BOUNDARY-GUARDED grid cosine
    (``functions/gridnp.guarded_pair_sims``): pairs whose float score
    is >= 1e-9 from every 1e-6 rounding boundary floor identically to
    the exact-integer form and emit the float-floored value directly;
    only the ~0.2% inside the band pay the int64 gather + exact integer
    dot/norm² rescore. The result is bit-identical to the oracle's
    ``cos_grid_sql`` under ANY thread count or partitioning — the
    rounded-boundary flake class (r3/r4 semdedup) cannot occur — while
    an output-bound query (26.9M pairs at threshold 0.3 / 100x) keeps
    GEMM cost instead of paying the measured ~1.6x int64 overhead per
    survivor. The full-matrix work stays one cache-blocked GEMM instead
    of 64 strided passes (the pure-sequential form was >15x slower at
    the 100x smoke — memory-traffic-bound)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    buckets = srp_buckets(emb)
    with_b = emb.join(buckets, "vec_id").select("vec_id", "embedding", "bucket")

    out_schema = StructType(
        [
            StructField("va", LongType()),
            StructField("vb", LongType()),
            StructField("bucket", LongType()),
            StructField("sim", DoubleType()),
        ]
    )
    thr = float(threshold)

    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"va": [], "vb": [], "bucket": [], "sim": []}).astype(
            {"va": "int64", "vb": "int64", "bucket": "int64", "sim": "float64"}
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        bkt = int(pdf["bucket"].iloc[0])
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)  # exact grid ints
        sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        g = np.where(sqn == 0.0, 1.0, sqn)
        matn = qm / g[:, None]  # prefilter only (both in grid units)
        frames = []
        for lo in range(0, n, 1024):
            hi = min(lo + 1024, n)
            fast = matn[lo:hi] @ matn.T  # cache-blocked GEMM prefilter
            ii, jj = np.nonzero(fast >= thr - 1e-5)
            gi = ii + lo
            keep = ids[gi] < ids[jj]
            if not keep.any():
                continue
            fv = fast[ii[keep], jj[keep]]
            gi, jj = gi[keep], jj[keep]
            # boundary-guarded scoring: only pairs within 1e-9 of a
            # rounding boundary pay the int64 gather (functions/gridnp)
            sims = guarded_pair_sims(fv, qm, sqn, gi, qm, sqn, jj)
            fin = sims >= thr
            if fin.any():
                frames.append(
                    pd.DataFrame(
                        {
                            "va": ids[gi[fin]],
                            "vb": ids[jj[fin]],
                            "bucket": bkt,
                            "sim": sims[fin],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return with_b.groupBy("bucket").applyInPandas(_bucket_pairs, out_schema)


def cosine_neardup_banded(
    emb: DataFrame,
    threshold: float,
    num_bands: int = 4,
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """OR-amplified SRP near-dup pairs: ``num_bands`` independent
    bucketings (band b uses hyperplane slice ``plane_offset=b*num_planes``
    of the deterministic family; band 0 is exactly ``srp_buckets``), a
    per-(band, bucket) chunked kernel scores collisions, and pairs are
    deduplicated across bands. Candidate recall at cosine s is
    1-(1-p^k)^B with p = 1-acos(s)/pi, k planes, B bands — at the 0.85
    near-dup threshold, 4 planes x 1 band keeps ~46% of true pairs, 4x4
    keeps ~92%; cost scales with B * Σ(bucket²). This is the bounded-
    recall fallback ``cosine_neardup_pairs`` uses past its broadcast
    limit (ADVICE r2: the single-band fallback silently halved recall).

    Sims are identical across bands (same exact-integer grid arithmetic,
    r5), so the cross-band dropDuplicates is deterministic."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    bands = None
    for b in range(num_bands):
        bb = srp_buckets(emb, num_planes, plane_offset=b * num_planes).select(
            "vec_id", F.lit(b).alias("band"), "bucket"
        )
        bands = bb if bands is None else bands.unionByName(bb)
    with_b = emb.join(bands, "vec_id").select("vec_id", "embedding", "band", "bucket")

    out_schema = StructType(
        [
            StructField("va", LongType()),
            StructField("vb", LongType()),
            StructField("sim", DoubleType()),
        ]
    )
    thr = float(threshold)

    def _band_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"va": [], "vb": [], "sim": []}).astype(
            {"va": "int64", "vb": "int64", "sim": "float64"}
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)  # exact grid ints (r5)
        sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        g = np.where(sqn == 0.0, 1.0, sqn)
        matn = qm / g[:, None]  # prefilter only (both in grid units)
        frames = []
        for lo in range(0, n, 1024):
            hi = min(lo + 1024, n)
            fast = matn[lo:hi] @ matn.T  # cache-blocked GEMM prefilter
            ii, jj = np.nonzero(fast >= thr - 1e-5)
            gi = ii + lo
            keep = ids[gi] < ids[jj]
            if not keep.any():
                continue
            fv = fast[ii[keep], jj[keep]]
            gi, jj = gi[keep], jj[keep]
            # boundary-guarded scoring (functions/gridnp): bit-identical
            # to the exact-integer form across bands, so the cross-band
            # dropDuplicates below stays deterministic
            sims = guarded_pair_sims(fv, qm, sqn, gi, qm, sqn, jj)
            fin = sims >= thr
            if fin.any():
                frames.append(
                    pd.DataFrame(
                        {
                            "va": ids[gi[fin]],
                            "vb": ids[jj[fin]],
                            "sim": sims[fin],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    pairs = with_b.groupBy("band", "bucket").applyInPandas(_band_pairs, out_schema)
    return pairs.dropDuplicates(["va", "vb"])


MAX_BROADCAST_VECTORS = 2_000_000  # ~0.5 GB at 64 float32 dims


def _collect_matrix(emb: DataFrame):
    """Arrow-collect a SIZE-CHECKED (vec_id, embedding) projection into
    (ids, GRID-QUANTIZED int64 matrix, exact-integer L2 norms). Callers
    must bound the input BEFORE calling (count or filter) — this helper
    never decides size. The quantized matrix is the r5 determinism
    contract: every emitted sim derives from exact integer dot/norm²
    sums (functions/det.py doctrine), so no accumulation-order or
    engine-thread effect can flip a rounded compare. Norms are
    UNGUARDED (zero-norm rows keep 0 so scoring divides to nan and the
    pair drops — the oracle's 0-division behavior); prefilter callers
    guard locally."""
    import numpy as np

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    if len(pdf):
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    else:  # empty corpus: keep shape (0, 1) so downstream kernels no-op
        mat = np.zeros((0, 1), dtype=np.float64)
    qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)
    sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
    return ids, qm, sqn


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    max_broadcast: int = MAX_BROADCAST_VECTORS,
    allow_approx: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_a < vec_b, rounded sim >=
    threshold), computed as a broadcast block kernel.

    Shape: the full (bounded) embedding matrix is broadcast once; each
    partition's block scores against it inside ``mapInPandas`` and only
    threshold-passing pairs are emitted. This is ~10x faster than
    per-pair array expressions and is the standard "broadcast the small
    side" join — the distributed work scales with the candidate
    partition count. Determinism: boundary-guarded grid scoring
    (``functions/gridnp``) — bit-identical to the exact-integer grid
    cosine under any partitioning (see ``cosine_neardup_bucketed``).

    Beyond ``max_broadcast`` vectors the EXACT result is no longer
    computable without an all-pairs pass, so the function requires
    ``allow_approx=True`` and switches to the OR-amplified SRP path
    (``cosine_neardup_banded``, 4 bands x 4 planes): no driver
    materialization, per-bucket chunked kernels, work ∝ B*Σ(bucket²),
    candidate recall 1-(1-p^4)^4 ≈ 92% at threshold 0.85 (p =
    1-acos(s)/pi). Without the flag the size gate raises instead of
    silently degrading recall (ADVICE r2). The gate is a JVM-side count
    of a pruned projection; the embedding column never reaches the
    driver unless it fits the broadcast bound.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    n = emb.select("vec_id").count()  # JVM-side; no vector data moves
    if n > max_broadcast:
        if not allow_approx:
            raise ValueError(
                f"cosine_neardup_pairs: {n} vectors exceed the exact-path "
                f"broadcast bound ({max_broadcast}); pass allow_approx=True "
                "to run the SRP-banded approximate path (~92% candidate "
                "recall at threshold 0.85), or use cosine_neardup_banded "
                "directly."
            )
        return cosine_neardup_banded(emb, threshold)
    bc = emb.sparkSession.sparkContext.broadcast(_collect_matrix(emb))

    out_schema = StructType(
        [
            StructField("va", LongType()),
            StructField("vb", LongType()),
            StructField("sim", DoubleType()),
        ]
    )
    thr = float(threshold)

    def _block(batches):
        import numpy as np  # noqa: F811 — self-contained for worker pickling

        all_ids, all_qm, all_sqn = bc.value
        all_g = np.where(all_sqn == 0.0, 1.0, all_sqn)
        all_matn = all_qm / all_g[:, None] if len(all_ids) else all_qm * 1.0
        for pdf in batches:
            if len(pdf) == 0 or len(all_ids) == 0:
                continue
            q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            qq = np.floor(q * 1e6 + 0.5).astype(np.int64)  # exact grid ints
            qsn = np.sqrt((qq * qq).sum(axis=1).astype(np.float64))
            qg = np.where(qsn == 0.0, 1.0, qsn)
            # GEMM prefilter with margin, exact-integer recompute of
            # survivors only (see cosine_neardup_bucketed)
            fast = (qq / qg[:, None]) @ all_matn.T
            qi, ci = np.nonzero(
                (fast >= thr - 1e-5) & (q_ids[:, None] < all_ids[None, :])
            )
            sims = guarded_pair_sims(
                fast[qi, ci], qq, qsn, qi, all_qm, all_sqn, ci
            )
            fin = sims >= thr
            import pandas as pd

            yield pd.DataFrame(
                {"va": q_ids[qi[fin]], "vb": all_ids[ci[fin]], "sim": sims[fin]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(_block, out_schema)


def _knn_gemm_topk(emb: DataFrame, bc, k: int) -> DataFrame:
    """Top-k over ONE broadcast candidate shard: each query partition
    scores its block against the shard matrix and emits its rows' top-k
    with a lexicographic (-sim, cid) argsort — matching the SQL window
    ORDER BY sim DESC, cid exactly. Self is excluded. ``bc`` is the
    caller-owned broadcast of ``_collect_matrix`` output (the caller
    controls the lifecycle so sharded mode can destroy each shard's
    broadcast once its results materialize). Emitted sims/ranks come
    from an exact dim-sequential recompute of the safety band around
    the k-th-largest GEMM sim (oracle FP sequence at GEMM cost —
    ADVICE r2; see `cosine_neardup_bucketed` for the margin math)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    kk = int(k)

    out_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("cid", LongType()),
            StructField("sim", DoubleType()),
            StructField("rank", LongType()),
        ]
    )

    def _block(batches):
        import numpy as np  # noqa: F811 — self-contained for worker pickling
        import pandas as pd

        all_ids, all_qm, all_sqn = bc.value
        all_g = np.where(all_sqn == 0.0, 1.0, all_sqn)
        all_matn = all_qm / all_g[:, None] if len(all_ids) else all_qm * 1.0
        for pdf_b in batches:
            if len(pdf_b) == 0 or len(all_ids) == 0:
                continue
            q_ids = pdf_b["vec_id"].to_numpy(dtype=np.int64)
            q = np.vstack(pdf_b["embedding"].to_numpy()).astype(np.float64)
            qq = np.floor(q * 1e6 + 0.5).astype(np.int64)  # exact grid ints
            qsn = np.sqrt((qq * qq).sum(axis=1).astype(np.float64))
            qg = np.where(qsn == 0.0, 1.0, qsn)
            # ranking-type hybrid: GEMM gives every candidate's fast sim;
            # only the SAFETY BAND around the k-th largest (margin 1e-5
            # >> BLAS reassociation error ~1e-13; prefilter and exact
            # stage share the same grid-quantized source) gets the
            # exact-integer recompute that decides the emitted (sim, rank)
            fast = (qq / qg[:, None]) @ all_matn.T
            rows = []
            for i in range(len(q_ids)):
                sv = np.where(all_ids != q_ids[i], fast[i], -np.inf)
                m = min(kk, int(np.isfinite(sv).sum()))
                if m == 0:
                    continue
                kth = np.partition(sv, len(sv) - m)[len(sv) - m]
                band = np.nonzero(sv >= kth - 1e-5)[0]
                dot = (qq[i][None, :] * all_qm[band]).sum(axis=1).astype(
                    np.float64
                )  # exact integer dot
                sims_b = np.floor(dot / (qsn[i] * all_sqn[band]) * 1e6 + 0.5) / 1e6
                cids = all_ids[band]
                order = np.lexsort((cids, -sims_b))[:kk]
                for r, o in enumerate(order, start=1):
                    rows.append((q_ids[i], cids[o], sims_b[o], r))
            yield pd.DataFrame(rows, columns=["qid", "cid", "sim", "rank"])

    return emb.select("vec_id", "embedding").mapInPandas(_block, out_schema)


def knn_loo_neighbors(
    emb: DataFrame, k: int = 5, max_broadcast: int = MAX_BROADCAST_VECTORS
) -> DataFrame:
    """Leave-one-out k-nearest-neighbors for EVERY vector: (qid, cid,
    sim, rank) with rank 1..k by rounded cosine (id tie-break), self
    excluded — the evaluation companion to ``topk_exact`` (which serves
    a small query set) when the query set is the whole corpus.

    <= ``max_broadcast`` vectors: one broadcast block kernel (same shape
    as ``cosine_neardup_pairs``). Above it: EXACT shard-and-merge — the
    candidate set is hash-split into ceil(n/bound) shards; each shard's
    bounded matrix broadcasts IN TURN, its per-shard top-k materializes
    eagerly via ``localCheckpoint`` (lineage truncated, so the shard
    result no longer references the broadcast), and the shard broadcast
    is DESTROYED before the next one is built — at any moment the driver
    holds one shard matrix and the executors cache one live shard
    broadcast, which is the bound the r2 ADVICE showed the lazy union
    plan violated (all shards' broadcasts stayed referenced until the
    final action). A final window rank merges the unioned per-shard
    winners (global top-k ⊆ union of shard top-k, so the merge is
    lossless). The size gate is a JVM-side count — no unchecked
    full-column toPandas()."""
    sc = emb.sparkSession.sparkContext
    n = emb.select("vec_id").count()  # JVM-side; no vector data moves
    if n <= max_broadcast:
        # single-broadcast path: the result is returned lazily, so the
        # one broadcast must stay live for the caller's action
        bc = sc.broadcast(_collect_matrix(emb))
        return _knn_gemm_topk(emb, bc, k)

    n_shards = -(-n // max_broadcast)  # ceil
    shard_col = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_shards))
    per_shard = []
    for s in range(n_shards):
        shard = emb.filter(shard_col == s)
        bc = sc.broadcast(_collect_matrix(shard))  # bounded: ~n/n_shards rows
        try:
            per_shard.append(
                _knn_gemm_topk(emb, bc, k).drop("rank").transform(_pin_eager)
            )
        finally:
            # unpersist (NOT destroy): localCheckpoint blocks are not
            # fault-tolerant — if an executor holding them dies, Spark
            # recomputes from lineage, which needs the broadcast VALUE.
            # unpersist frees executor copies but keeps the driver-side
            # value available for re-broadcast on recompute; destroy()
            # would make the loss unrecoverable (ADVICE r3).
            bc.unpersist(blocking=True)
    merged = per_shard[0]
    for df in per_shard[1:]:
        merged = merged.unionByName(df)
    return topk_per_query(merged, F.col("sim").desc(), int(k))


def ivf_cells_multi(
    emb: DataFrame, nprobe: int, centroid_col: str = "label"
) -> tuple[DataFrame, DataFrame]:
    """Multi-probe coarse quantizer: like ``ivf_cells`` but keeps each
    vector's ``nprobe`` nearest centroids with their probe rank —
    the recall knob of IVF search (probe 2 cells ≈ recover most
    neighbors lost across a cell boundary, at ~2x candidate cost).
    Returns (centroids, probes(vec_id, cell, probe_rank)). Assignment
    uses the same collected-codebook numpy kernel as ``ivf_cells``
    (dim-sequential accumulation, 6dp rounding, cent_id tie-break),
    emitting the ``nprobe`` nearest cells per vector via a stable
    argsort instead of a |vectors| x |centroids| expression grid."""
    centroids, _ = ivf_cells(emb, centroid_col)
    return centroids, probes_from_centroids(emb, centroids, nprobe)


def probes_from_centroids(
    emb: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """(vec_id, cell, probe_rank): each vector's ``nprobe`` nearest
    centroids from an EXISTING centroid table — the assignment kernel
    of ``ivf_cells_multi`` factored out so a STORED coarse codebook
    (plans/ann_index ``ivf_centroids``) can drive probing without
    retraining. ``centroids`` is (cent_id, centroid) and bounded
    (KB-scale): it is collected once, exactly like every IVF index
    ships its codebook to workers."""
    cent_rows = sorted(
        ((r["cent_id"], list(r["centroid"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cent_ids = [c for c, _ in cent_rows]
    cent_mat = [v for _, v in cent_rows]

    from pyspark.sql.types import LongType, StructField, StructType

    probes_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cell", LongType()),
            StructField("probe_rank", LongType()),
        ]
    )
    np_probe = int(nprobe)

    def _assign_multi(batches):
        import numpy as np
        import pandas as pd

        if not cent_ids:
            return
        c = np.asarray(cent_mat, dtype=np.float64)
        cid = np.asarray(cent_ids, dtype=np.int64)
        cq = np.floor(c * 1e6 + 0.5).astype(np.int64)  # exact grid ints (r5)
        cn2 = (cq * cq).sum(axis=1)
        k = min(np_probe, len(cid))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            xq = np.floor(x * 1e6 + 0.5).astype(np.int64)
            xn2 = (xq * xq).sum(axis=1)
            d2 = xn2[:, None] + cn2[None, :] - 2 * (xq @ cq.T)  # exact ints
            # stable sort over cent_id-ascending columns == ORDER BY d2, cent_id
            order = np.argsort(d2, axis=1, kind="stable")[:, :k]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, k),
                    "cell": cid[order].ravel(),
                    "probe_rank": np.tile(np.arange(1, k + 1), len(ids)),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        _assign_multi, probes_schema
    )
