"""Stored ANN index: build-once / query-many split for the PQ family.

The index is defined once, as three lazy families in `plans/pq_common`
(``pq_family``, ``ivf_family``, ``ivfadc_family``). `build_ann_index`
writes them; the in-query tier of `plans/dsel_ops.py` reads the same
family frames without writing them. The index is persisted the way
`operators/dedup.band_signatures` models it for MinHash (probed by
`dedup_minhash_incremental`):

  - ``pq_codebook``     (carr)  — ONE row of 64 codewords, slot = sub * 16 + cell
  - ``pq_codes``        (vec_id, c0..c3, qerr)    — 4 nibbles/vector (the
    2-bytes-per-vector relation; a production layout packs c0..c3 into
    one SMALLINT — kept as columns here so the read plan stays
    oracle-checkable without bit twiddling)
  - ``ivf_centroids``   (cent_id, centroid)       — coarse codebook, KB-scale
  - ``ivf_cells``       (vec_id, ivf_cell)        — 2 ints/vector
  - ``ivfadc_codebook`` (cw6)   — ONE row of 64 residual codewords, same slots
  - ``ivfadc_codes``    (vec_id, ivf_cell, rc0..rc3) — residual codes

Each ``*_stored`` query passes scans of these files to the read path
its in-query twin runs over the family frames (`pq_common.pq_adc_topk`,
``ivfpq_top5``, ``ivfadc_top5``, ``ivfadc_multiprobe_top5``), so its
bench time excludes all training and corpus encoding. The oracles are
the dsel_ops oracles unchanged: the index is fully deterministic
(sign-cell codes, mean codewords — Jegou et al. 2011 §V as cited
there), so both tiers reproduce them bit-for-bit.

``embedding_pq_encode_delta`` mirrors `dedup_minhash_incremental`'s
shape for the write path: a delta batch (vec_id % 10 == 0 stands in for
"today's vectors") is coded against the FROZEN codebook trained on the
base corpus only — no base re-encoding, no codebook drift. Cells with
no base member surface as ``n_missing`` (the production signal to
retrain).

Staging: the index lives under ``<tmp>/spark_ann_index``, built once
and committed through `sources/staging.stage` — the one build-and-rename
protocol for derived artifacts, shared with the staged stream sources.
The dir name embeds a content fingerprint of the source table, so
regenerating a fixture can never serve a stale index, and a miss sweeps
stale siblings of the same fixture and kind.

Reference scope note: the reference repo (sbhatm1213/sow-pyspark-scripts)
persists derived artifacts for downstream reads the same way —
month-partitioned preprocessed Parquet in
``preprocess_and_store_parquets.py:236-252`` — this module applies that
build-once/read-many pattern to the ANN tier.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager, unpin

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import d2_grid_sql, d2r6_grid_sql, r6
from ..registry import query
from ..sources import read_table, scan
from ..sources.staging import MARKER as _MARKER  # noqa: F401 — read by the index tests
from ..sources.staging import fingerprint, sf_tag, stage, staged_path
from ..streaming.pipeline import drain_batches
from .pq_common import (
    _IVFADC_MP_ORACLE,
    _IVFADC_ORACLE,
    _IVFPQ_ORACLE,
    _MEAN6_SV,
    _MEAN6_V,
    _PQ_CODE_CTE,
    _PQ_REFINE_ORACLE,
    _PQ_REFINE_R,
    _PQ_TOPK_ORACLE,
    _pq_codebook,
    _pq_d2,
    _pq_subvecs,
    _refine_top5,
    ivf_family,
    ivfadc_family,
    ivfadc_multiprobe_top5,
    ivfadc_top5,
    ivfpq_top5,
    pq_adc_topk,
    pq_family,
)

def _index_prefix(sf_dir: str, kind: str) -> str:
    return os.path.join(tempfile.gettempdir(), "spark_ann_index", f"{sf_tag(sf_dir)}_{kind}")


def _fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """The staging key of one fixture table (read by the index tests)."""
    return fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


def _index_dir(sf_dir: str, kind: str = "ann", table: str = "embeddings") -> str:
    return staged_path(_index_prefix(sf_dir, kind), sf_dir, table)


def build_ann_index(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Write the six index tables: the three families of
    `pq_common` (``pq_family``, ``ivf_family``, ``ivfadc_family``) over
    one embeddings scan. Everything written is deterministic, so any
    engine rebuilding from the same fixture produces identical tables.

    The PQ chain and the IVF+IVFADC chain share nothing but the scan,
    so they run as CONCURRENT jobs from a 2-thread pool (guide §2.6):
    actions were only sequential because the driver called them
    sequentially, and each chain's tail (single-file parquet commits,
    sub-second stages) left most cores idle. Chains run inline vs the
    pool, identical files: 5.6s -> ~3.5s at sf0.1, and 3.14s -> 2.28s
    (medians of 8 alternating builds in one session, perfbench s11
    tables, local[2], 1g heap, 4-vCPU VM). Each chain builds its
    families, so their pins are made on its own thread: under AQE a
    lazy localCheckpoint runs its upstream shuffle stages when it is
    called, which on the caller's thread would serialise work the pool
    overlaps. Job descriptions are thread-local, so each chain labels
    its own jobs."""
    from concurrent.futures import ThreadPoolExecutor

    emb = read_table(spark, sf_dir, "embeddings")

    def _write(df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    def _pq_chain() -> None:
        spark.sparkContext.setJobDescription("ann build: pq codebook+codes")
        cw, codes, sv = pq_family(emb)
        _write(cw, "pq_codebook")
        _write(codes, "pq_codes")
        unpin(sv)

    def _ivf_chain() -> None:
        spark.sparkContext.setJobDescription("ann build: ivf+ivfadc")
        centroids, cells = ivf_family(emb)
        _write(centroids.coalesce(1), "ivf_centroids")  # KB-scale: one file
        _write(cells, "ivf_cells")
        rcw, rcodes, rsv = ivfadc_family(emb, centroids, cells)
        _write(rcw, "ivfadc_codebook")
        _write(rcodes, "ivfadc_codes")
        unpin(rsv)
        unpin(cells)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_pq_chain), pool.submit(_ivf_chain)]
        for f in futures:
            f.result()
    spark.sparkContext.setJobDescription(None)


def ensure_ann_index(spark: SparkSession, sf_dir: str, rebuild: bool = False) -> str:
    return stage(
        spark, _index_prefix(sf_dir, "ann"), sf_dir, "embeddings", build_ann_index, rebuild
    )


def build_doc_index(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Write the MinHash band index: (doc_id, band_id, bsig) rows,
    partitionable by band_id at scale — the relation
    `operators/dedup.band_signatures` documents as "the persisted index
    in an incremental deployment", now actually persisted.

    Two tables from ONE hashing pass (v3): ``minhash_all_bands`` over
    the whole corpus (probed by the cluster composites —
    `_composite_edges` — so keep-best / curation-funnel stop re-paying
    the 16-seed shingle hashing, VERDICT r3 #3) and its BASE slice
    ``minhash_base_bands`` (doc_id % 10 != 0, the base/delta convention
    of `dedup_minhash_incremental_stored`). MinHash is per-doc
    independent, so filtering after hashing writes bit-identical base
    rows to the old filter-before-hashing build."""
    from ..operators.dedup import band_signatures, minhash_signatures, shingles_from_tokens
    from ..operators.text import tokenize
    from ..sources import spread

    docs = spread(read_table(spark, sf_dir, "documents"))
    # ONE tokenization pass feeds BOTH index families (r5): the shingle
    # stream (MinHash bands) and the bigram stream (DSIR buckets) derive
    # from the same pinned token arrays instead of re-scanning and
    # re-splitting the corpus per family.
    # EAGER pin (r9): the token table is consumed by two independent
    # write chains that now run concurrently — materializing it up
    # front means neither chain recomputes the tokenize lineage while
    # racing the other to the first action.
    toks = docs.where(F.trim(F.col("text")) != "").select(
        "doc_id", "lang", tokenize(F.col("text")).alias("t")
    ).transform(_pin_eager)
    from .dsir_common import dsir_lr, dsir_rollup_from_tokens

    def _bands_chain() -> None:
        spark.sparkContext.setJobDescription("doc index build: minhash bands")
        bands = band_signatures(
            minhash_signatures(shingles_from_tokens(toks, distinct=False))
        )
        all_bands_path = os.path.join(out_dir, "minhash_all_bands.parquet")
        bands.write.mode("overwrite").parquet(all_bands_path)
        # base slice from a read-back of the just-written file — the
        # hashing is paid exactly once and nothing is pinned (see the
        # rollup note below for why write-then-read-back beats a
        # localCheckpoint here)
        scan(spark, all_bands_path).where(
            F.col("doc_id") % 10 != 0
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "minhash_base_bands.parquet")
        )

    def _dsir_chain() -> None:
        # DSIR layer (v4, VERDICT r4 task #3): the per-doc hashed-bigram
        # bucket rollup and the 256-row quantized log-ratio table — the
        # corpus tokenization/md5 pass (the dominant stage of the
        # curation funnel at 100x) is paid here once; every DSIR scoring
        # read is a broadcast join against these.
        #
        # The rollup is written anyway, so the PARQUET FILE is its
        # materialization: the lr table derives from a read-back of the
        # just-written file, never from a pin. Round-7 measurement: a
        # localCheckpoint pin of this ~36-rows-per-doc relation cost
        # 181s at 100x vs 9.8s for the plain write (object
        # materialization + GC saturating every core — in-flight gemm
        # canary collapsed 20-100x), and the pin bought nothing the
        # file doesn't already provide.
        spark.sparkContext.setJobDescription("doc index build: dsir tables")
        rollup = dsir_rollup_from_tokens(toks)
        rollup_path = os.path.join(out_dir, "dsir_doc_buckets.parquet")
        rollup.write.mode("overwrite").parquet(rollup_path)
        dsir_lr(scan(spark, rollup_path)).write.mode("overwrite").parquet(
            os.path.join(out_dir, "dsir_bucket_lr.parquet")
        )

    # The band chain and the DSIR chain share only the pinned token
    # blocks — run them as concurrent jobs (guide §2.6) so one chain's
    # single-file commit tail backfills with the other's stages.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_bands_chain), pool.submit(_dsir_chain)]
        for f in futures:
            f.result()
    spark.sparkContext.setJobDescription(None)


def stored_all_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus band rows from the stored doc index (built/refreshed
    via the content fingerprint if absent or stale)."""
    idx = ensure_doc_index(spark, sf_dir)
    return scan(spark, os.path.join(idx, "minhash_all_bands.parquet"))


def ensure_doc_index(spark: SparkSession, sf_dir: str, rebuild: bool = False) -> str:
    return stage(
        spark, _index_prefix(sf_dir, "doc"), sf_dir, "documents", build_doc_index, rebuild
    )


def stored_dsir_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(rollup, lr) DSIR tables from the stored doc index
    (fingerprint-fresh by construction): rollup = (doc_id, bucket, n,
    is_tgt) per-doc bucket counts, lr = the 256-row quantized log-ratio
    table. Raises OSError when the index cannot be built (callers fall
    back to in-query scoring with a warning)."""
    idx = ensure_doc_index(spark, sf_dir)
    return (
        scan(spark, os.path.join(idx, "dsir_doc_buckets.parquet")),
        scan(spark, os.path.join(idx, "dsir_bucket_lr.parquet")),
    )


def _index_tables(spark: SparkSession, idx: str, *names: str) -> list[DataFrame]:
    """Scans of the named tables of the stored index ``idx``."""
    return [scan(spark, os.path.join(idx, f"{n}.parquet")) for n in names]


_BUILD_ORACLE = f"""
WITH {_PQ_CODE_CTE},
iflat AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
icent AS (
  SELECT label AS cent_id, i, {_MEAN6_V} AS c
  FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY label, i
),
idist AS (
  SELECT f.vec_id, c.cent_id,
         {d2_grid_sql('f.v', 'c.c')} AS d2
  FROM iflat f JOIN icent c ON f.i = c.i
  GROUP BY f.vec_id, c.cent_id
),
ivf AS (
  SELECT vec_id, cent_id AS ivf_cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM idist
  ) WHERE rn = 1
)
SELECT 'pq_sub_' || CAST(sub AS VARCHAR) AS component,
       count(DISTINCT cell) AS n_cells, count(*) AS n_rows
FROM cells GROUP BY sub
UNION ALL
SELECT 'ivf' AS component, count(DISTINCT ivf_cell) AS n_cells,
       count(*) AS n_rows
FROM ivf
"""


@query("similarity_index_build", _BUILD_ORACLE)
def similarity_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (overwrite) the stored ANN index and return the audit
    summary: per PQ subquantizer the populated cell count and coded row
    count, plus the IVF coarse layer. The write path of the
    build-once/query-many split — every ``*_stored`` twin reads what
    this materializes. The oracle recomputes the same counts from the
    raw embeddings, proving the persisted index is exactly the
    deterministic quantization (no RNG, no engine dependence)."""
    idx = ensure_ann_index(spark, sf_dir, rebuild=True)
    codes, ivf = _index_tables(spark, idx, "pq_codes", "ivf_cells")
    pq = (
        codes.selectExpr("stack(4, 0L, c0, 1L, c1, 2L, c2, 3L, c3) AS (sub, cell)")
        .groupBy("sub")
        .agg(F.countDistinct("cell").alias("n_cells"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.concat(F.lit("pq_sub_"), F.col("sub").cast("string")).alias("component"),
            "n_cells",
            "n_rows",
        )
    )
    ivf_row = ivf.agg(
        F.countDistinct("ivf_cell").alias("n_cells"), F.count(F.lit(1)).alias("n_rows")
    ).select(F.lit("ivf").alias("component"), "n_cells", "n_rows")
    return pq.unionByName(ivf_row)


@query("similarity_topk_pq_stored", _PQ_TOPK_ORACLE)
def similarity_topk_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 over the STORED index: candidates
    are the persisted 4-nibble codes (float vectors never re-read), the
    codebook is a broadcast parquet read, and only the 20 query vectors
    touch the embeddings table (for their exact subvectors). Identical
    results to `similarity_topk_pq` — same oracle — with the encoding
    cost moved to `similarity_index_build`, which is the whole point:
    at 16B vectors the query job reads 2 bytes/vector, not 256."""
    idx = ensure_ann_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, *_index_tables(spark, idx, "pq_codebook", "pq_codes"), 5)


@query("similarity_topk_ivfpq_stored", _IVFPQ_ORACLE)
def similarity_topk_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 over the STORED index (Jegou et al. 2011 §V read
    path): the coarse cell table prunes candidates to the query's own
    cell, the PQ codes rank them — both read from parquet, so the
    query-time inputs are (ivf_cell, 4 nibbles) per vector plus two
    KB-scale broadcasts. At scale the stored cells ARE the partitioning
    column: each executor holds whole cells of codes and a query
    touches only the executors owning its probed cells."""
    idx = ensure_ann_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_top5(
        emb, *_index_tables(spark, idx, "pq_codebook", "pq_codes", "ivf_cells")
    )


@query("similarity_topk_pq_refine_stored", _PQ_REFINE_ORACLE)
def similarity_topk_pq_refine_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC + exact refine over the STORED index (Jegou et al. 2011 §VI
    "IVFADC+R"): the code scan shortlists R=25 candidates per query from
    the persisted nibbles; only those R rows re-read their float vectors
    (broadcast semi-join on vec_id against the embeddings scan — the big
    side is probed, never shuffled) for the exact L2 re-rank to top-5."""
    idx = ensure_ann_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    cw, codes = _index_tables(spark, idx, "pq_codebook", "pq_codes")
    return _refine_top5(emb, pq_adc_topk(emb, cw, codes, _PQ_REFINE_R, shortlist=True))


@query("similarity_topk_ivfadc_stored", _IVFADC_ORACLE)
def similarity_topk_ivfadc_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC top-5 over the STORED index: candidates stream
    (ivf_cell, 4 residual codes) from parquet; the query side reads its
    own coarse cell from the stored cell table (vec_id < 20 pushed to
    the scan), re-derives its integer residual against the stored
    centroid (queries keep full precision under ADC), and builds the
    LUT against the stored integer codebook. Same integer-exact
    determinism as `similarity_topk_ivfadc` — same oracle — with all
    training and corpus encoding paid by `similarity_index_build`."""
    idx = ensure_ann_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return ivfadc_top5(
        emb,
        *_index_tables(
            spark, idx, "ivf_centroids", "ivf_cells", "ivfadc_codebook", "ivfadc_codes"
        ),
    )


@query("similarity_topk_ivfadc_multiprobe_stored", _IVFADC_MP_ORACLE)
def similarity_topk_ivfadc_multiprobe_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC nprobe=2 over the STORED index — the recall knob
    (`similarity_topk_ivfadc_multiprobe`, Jegou et al. 2011 §V-D) as a
    read-path query (VERDICT r3 #4): candidates stream their stored
    (ivf_cell, residual codes); each query probes its TWO nearest
    STORED coarse centroids (`operators/similarity.probes_from_centroids`
    — the ivf_cells_multi kernel driven by the persisted codebook, no
    retraining), builds one LUT per probed cell from the residual to
    THAT centroid, and candidates are scored by the matching probe's
    LUT. Same oracle and same read as the in-query form, which probes
    the centroids of `pq_common.ivf_family` instead of the stored ones —
    the index is deterministic, so both give the same results."""
    idx = ensure_ann_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return ivfadc_multiprobe_top5(
        emb, *_index_tables(spark, idx, "ivf_centroids", "ivfadc_codebook", "ivfadc_codes")
    )


# ---------------------------------------------------------------------------
# embedding_pq_encode_delta — delta batch against the FROZEN base codebook
# ---------------------------------------------------------------------------

_PQ_DELTA_ORACLE = f"""
WITH {_PQ_CODE_CTE},
cwb AS (
  SELECT s.sub, c.cell, s.i, {_MEAN6_SV} AS c
  FROM sflat s JOIN cells c ON s.vec_id = c.vec_id AND s.sub = c.sub
  WHERE s.vec_id % 10 <> 0
  GROUP BY s.sub, c.cell, s.i
),
qe AS (
  SELECT s.vec_id, s.sub, c.cell,
         CASE WHEN count(w.c) = 0 THEN NULL
              ELSE {d2r6_grid_sql('s.v', 'w.c')}
         END AS d2
  FROM sflat s
  JOIN cells c ON s.vec_id = c.vec_id AND s.sub = c.sub
  LEFT JOIN cwb w ON w.sub = s.sub AND w.cell = c.cell AND w.i = s.i
  WHERE s.vec_id % 10 = 0
  GROUP BY s.vec_id, s.sub, c.cell
)
SELECT vec_id,
       string_agg(CAST(cell AS VARCHAR), '|' ORDER BY sub) AS codes,
       CAST(sum(CASE WHEN d2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       floor(sum(d2) * 1e6 + 0.5) / 1e6 AS qerr
FROM qe GROUP BY vec_id
"""


@query("embedding_pq_encode_delta", _PQ_DELTA_ORACLE)
def embedding_pq_encode_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ encode: a DELTA batch (vec_id % 10 == 0 stands in
    for 'today's vectors') is coded against the codebook trained on the
    BASE corpus only — the write-path twin of `dedup_minhash_incremental`.
    The codebook is FROZEN: base vectors are never re-encoded, delta
    codes are directly comparable to stored base codes, and a cell with
    no base member (codeword undefined) surfaces in ``n_missing`` — the
    production trigger for codebook retraining.

    The sign-cell code of a vector depends only on the vector and the
    fixed integer planes, so delta cells are exact regardless of
    training data; only the quantization error needs the base codeword
    (LEFT-joined, null when the cell is base-empty — sum() skips nulls
    in both engines identically). A real deployment reads the frozen
    codebook from the stored index (`similarity_index_build`); the
    fixture derives it from the base slice of one scan so the oracle is
    self-contained — Catalyst pushes the % 10 predicates below the
    coding expressions, the same single-scan-pair shape the minhash
    incremental plan verifies."""
    emb = read_table(spark, sf_dir, "embeddings")
    sv = _pq_subvecs(emb)
    base_cw = _pq_codebook(sv.where(F.col("vec_id") % 10 != 0))
    delta = sv.where(F.col("vec_id") % 10 == 0)
    qe = delta.join(F.broadcast(base_cw), ["sub", "cell"], "left").select(
        "vec_id",
        "sub",
        "cell",
        F.when(F.col("carr").isNull(), F.lit(None).cast("double")).otherwise(
            _pq_d2("sv", "carr")
        ).alias("d2"),
    )
    return qe.groupBy("vec_id").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cell"))),
                lambda s: s["cell"].cast("string"),
            ),
        ).alias("codes"),
        F.sum(F.when(F.col("d2").isNull(), 1).otherwise(0)).cast("long").alias(
            "n_missing"
        ),
        r6(F.sum("d2")).alias("qerr"),
    )


# ---------------------------------------------------------------------------
# stored MinHash band index: build + incremental probe twins
# ---------------------------------------------------------------------------


def _minhash_band_stats_sql() -> str:
    from .sql_common import _minhash_sql

    full = _minhash_sql()
    head = full[: full.rindex("SELECT DISTINCT")]
    return f"""{head}SELECT band_id, count(*) AS n_rows,
           count(DISTINCT bsig) AS n_sigs
    FROM bands WHERE doc_id % 10 <> 0
    GROUP BY band_id
    """


def _minhash_incr_stored_sql() -> str:
    from .sql_common import _minhash_incr_sql

    return _minhash_incr_sql()


@query("dedup_index_build", _minhash_band_stats_sql())
def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (overwrite) the stored MinHash band index over the BASE
    corpus and return the audit summary: per band, the row count and
    distinct-signature count (the collision-rate dial an operator
    watches — n_rows/n_sigs is the mean bucket size, the candidate-cost
    multiplier of every future probe). The write path of the dedup
    incremental split: `dedup_minhash_incremental_stored` probes what
    this materializes, and a real deployment appends each day's delta
    bands after probing. Oracle recomputes the same stats from raw
    documents, proving the persisted index is exactly the deterministic
    16-seed/8-band signature relation."""
    idx = ensure_doc_index(spark, sf_dir, rebuild=True)
    bands = scan(spark, os.path.join(idx, "minhash_base_bands.parquet"))
    return bands.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bsig").alias("n_sigs"),
    )


@query("dedup_minhash_incremental_stored", _minhash_incr_stored_sql())
def dedup_minhash_incremental_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup against the STORED band index: only the
    DELTA batch (doc_id % 10 == 0) is shingled and hashed; the base side
    is a parquet scan of `dedup_index_build`'s output — the shape
    `dedup_minhash_incremental` documents, with the base recompute
    actually gone (its plan hashes the base in-query and relies on
    Catalyst to prune; this one's plan contains NO base-side md5 at
    all). Work per day = |delta bands| probes of the index; identical
    results, same oracle."""
    from ..operators.dedup import band_signatures, minhash_signatures, word_shingles
    from ..sources import spread

    idx = ensure_doc_index(spark, sf_dir)
    base = scan(spark, os.path.join(idx, "minhash_base_bands.parquet")).select(F.col("doc_id").alias("dup_of"), "band_id", "bsig")
    delta_docs = spread(read_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") % 10 == 0
    )
    delta = band_signatures(
        minhash_signatures(word_shingles(delta_docs, distinct=False))
    ).select(F.col("doc_id").alias("new_doc"), "band_id", "bsig")
    return (
        delta.join(base, ["band_id", "bsig"]).select("new_doc", "dup_of").distinct()
    )


# ---------------------------------------------------------------------------
# streaming_dedup_incremental — the daily dedup pipeline IN MOTION
# ---------------------------------------------------------------------------


@query("streaming_dedup_incremental", _minhash_incr_stored_sql())
def streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup as a STREAM: delta documents arrive as
    files (staged parquet, 2-file micro-batches via maxFilesPerTrigger),
    and ``foreachBatch`` band-hashes each micro-batch and probes the
    STORED base band index (`dedup_index_build`), appending matches to
    the output table — the exact shape of a production crawl-ingest
    pipeline (new shards land on object storage -> band-hash the shard
    -> probe the persisted index -> quarantine duplicates). Matches the
    batch incremental probe exactly (same oracle): a doc's bands derive
    only from its own row, so micro-batch boundaries cannot change the
    result, and the checkpoint makes the drain idempotent (a re-run
    reprocesses nothing and the output is stable).

    State story: the stream side carries NO Spark state at all — the
    per-batch work is a stateless band-hash plus a join against a
    static index scan; dedup-across-batches is free because each doc
    lives in exactly one batch. At 100 TB the index side is the
    bucketed/partitioned band table and each micro-batch probes only
    its colliding partitions."""
    from ..operators.dedup import band_signatures, minhash_signatures, word_shingles

    idx = ensure_doc_index(spark, sf_dir)
    base = scan(spark, os.path.join(idx, "minhash_base_bands.parquet")).select(F.col("doc_id").alias("dup_of"), "band_id", "bsig")

    def _probe(bdf: DataFrame) -> DataFrame:
        delta = band_signatures(
            minhash_signatures(word_shingles(bdf, distinct=False))
        ).select(F.col("doc_id").alias("new_doc"), "band_id", "bsig")
        return delta.join(base, ["band_id", "bsig"]).select("new_doc", "dup_of").distinct()

    return drain_batches(spark, *stage_delta_stream(spark, sf_dir, "dedup"), _probe)


# ---------------------------------------------------------------------------
# streaming_dsir_score — DSIR scoring of arriving docs against the frozen base
# ---------------------------------------------------------------------------


@query("streaming_dsir_score", None)  # oracle via registry alias ->
# corpus_dsir_weights_delta: per-doc scoring is micro-batch-invariant,
# so the streamed drain must equal the batch delta query bit-for-bit
def streaming_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring IN MOTION (r5): delta documents arrive as staged
    parquet files (2-file micro-batches), and ``foreachBatch`` scores
    each batch against the FROZEN base log-ratio table — the streaming
    twin of `corpus_dsir_weights_delta`, and the shape a crawl-ingest
    selection pipeline actually runs (new shards land -> tokenize the
    shard only -> broadcast-join the 256-row frozen ratios -> append
    keep/drop weights). The ratio table trains once from the STORED
    per-doc bucket rollup's base slice, completed over the full bucket
    domain (`dsir_common.dsir_lr_complete`) so base-empty buckets still
    score smoothed instead of dropping.

    State story: no Spark state — per-doc weights depend only on the
    doc's own bigrams and the frozen 256-row table, so micro-batch
    boundaries cannot change any weight and the checkpointed drain is
    idempotent. At 100 TB the stream side is shard-parallel
    tokenization; the base side never re-streams."""
    from .dsir_common import dsir_lr_complete, dsir_rollup, dsir_weights_from

    rollup, _ = stored_dsir_tables(spark, sf_dir)
    lr = dsir_lr_complete(
        rollup.where(F.col("doc_id") % 10 != 0)
    ).transform(_pin_lazy)

    def _score(bdf: DataFrame) -> DataFrame:
        return dsir_weights_from(bdf.select("doc_id"), dsir_rollup(bdf), lr)

    return drain_batches(spark, *stage_delta_stream(spark, sf_dir, "dsir"), _score)


# ---------------------------------------------------------------------------
# dedup_semantic_semdedup_sharded_stored — semantic dedup off the stored cells
# ---------------------------------------------------------------------------


def _sharded_semdedup_oracle() -> str:
    from .curation2_ops import _SEMDEDUP_SHARDED_ORACLE

    return _SEMDEDUP_SHARDED_ORACLE


@query("dedup_semantic_semdedup_sharded_stored", _sharded_semdedup_oracle())
def dedup_semantic_semdedup_sharded_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharded SemDeDup reading the coarse assignment from the STORED
    ANN index (r5): the IVF cell table is already persisted for the
    compressed-ANN tier (`ivf_cells.parquet` — the numpy coarse kernel
    is the dominant cost of the in-query form at 500k+ vectors), so the
    semantic-dedup read path pays only the cheap SRP sub-bucketing
    (one posexplode + integer aggregate) plus the per-sub-cell GEMM.
    Same oracle as `dedup_semantic_semdedup_sharded`: the stored cells
    ARE the in-query assignment (deterministic by construction —
    exact-integer d2 argmin), so the report must match bit-for-bit
    (asserted directly in tests/test_stored_twins.py)."""
    from ..operators.similarity import srp_buckets
    from .curation2_ops import (
        _SEMDEDUP_PLANE_OFF,
        _SEMDEDUP_PLANES,
        _SEMDEDUP_TAU,
        _semdedup_report,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    idx = ensure_ann_index(spark, sf_dir)
    coarse = scan(spark, os.path.join(idx, "ivf_cells.parquet")).select(
        "vec_id", F.col("ivf_cell").alias("cell")
    )
    sub = srp_buckets(
        emb, num_planes=_SEMDEDUP_PLANES, plane_offset=_SEMDEDUP_PLANE_OFF
    )
    cells = coarse.join(sub, "vec_id").select(
        "vec_id",
        (F.col("cell") * F.lit(2 ** _SEMDEDUP_PLANES) + F.col("bucket")).alias(
            "cell"
        ),
    )
    return _semdedup_report(cells, emb, _SEMDEDUP_TAU)


def _stage_delta_src(spark: SparkSession, sf_dir: str, out: str) -> None:
    delta = read_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    delta.repartition(4).write.mode("overwrite").parquet(os.path.join(out, "src"))


def stage_delta_stream(spark: SparkSession, sf_dir: str, twin: str) -> tuple[str, str, str]:
    """Micro-batch source shared by the streaming twins
    (streaming_dedup_incremental / streaming_dsir_score /
    streaming_quality_score): the delta slice of `documents` (doc_id %
    10 == 0 — the base/delta convention every incremental query uses),
    staged once per fixture through `sources/staging.stage` as 4 parquet
    source files. Returns (src_dir, out_dir, chk_dir) for
    `streaming/pipeline.drain_batches`; each twin drains into its own
    ``out_<twin>``/``chk_<twin>`` pair beside the one shared ``src``."""
    d = stage(
        spark,
        os.path.join(tempfile.gettempdir(), f"spark_stream_delta_{sf_tag(sf_dir)}_"),
        sf_dir,
        "documents",
        _stage_delta_src,
    )
    return (
        os.path.join(d, "src"),
        os.path.join(d, f"out_{twin}"),
        os.path.join(d, f"chk_{twin}"),
    )
