"""Shared PQ / IVFADC building blocks and the ANN index (LEAF module).

The index is defined here once, as three lazy families over one
embeddings frame (``pq_family``, ``ivf_family``, ``ivfadc_family``),
and each query shape has one read path over the index relations
(``pq_adc_topk``, ``ivfpq_top5``, ``ivfadc_top5``,
``ivfadc_multiprobe_top5``). The stored-index tier
(`plans/ann_index.py`) writes the families and passes scans of the
written tables to the read paths; the in-query tier
(`plans/dsel_ops.py`) passes the family frames. A leaf module: it
imports only pyspark and the function and operator layers — never
`registry` or another plan module — so any plan file can pull these at
import time without re-entering the registry's import chain
half-initialized (importing dsel_ops directly used to crash exactly
that way once ann_index imported its symbols).

Every ANN read ranks through ONE path: ``adc_topk`` is the only ADC
scoring kernel and `operators.similarity.topk_per_query` the only
per-query top-k rule (row_number over qid ordered by distance, then
``cid``). ADC is a table lookup (Jegou et al. 2011 §IV): each trained
codebook is stored as ONE row of 64 slots (slot = sub * 16 + cell,
NULL where no cell was trained), a query's LUT is one row of 64
integer micro-unit distances computed by one higher-order expression
against that row, and the kernel scores a candidate by gathering 4
slots, ``lut[c0] + lut[16 + c1] + lut[32 + c2] + lut[48 + c3]``,
divided once by 1e6. The candidate codes are never exploded and no
aggregate sums per (qid, cid) pair. The integer sum divided once is
exactly the oracles' ``floor(sum(pd2) * 1e6 + 0.5) / 1e6`` over the
6-dp partials (tests/test_adc_exactness.py), so the engine and the
oracles agree bit for bit under any summation order. The SQL twins
are the oracles below: the ``adc`` CTE and its ``row_number() OVER
(PARTITION BY qid ORDER BY adc_d2, cid)``.

Vectors are cut into subvectors by ONE split, ``_subvec_split``, on
the coding side (``_pq_subvecs``, ``_ivfadc_subvecs``: the split plus
each slice's sign cell). The query side reads whole vectors: its LUT
slices them inside the lambda, so a read plans no sign-cell CASE WHEN
(Catalyst does not drop an unused field of a struct built inside
``explode(array(...))``, which once cost the query LUTs 16-32 unrolled
sign-plane sums, 20-52K plan characters).

See dsel_ops.py for the tier design notes and Jegou et al. 2011
citations; everything here follows the house determinism rules
(fixed integer plane weights, exact integer arithmetic for sign cells,
6dp half-up quantization before ranking).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.det import (
    d2_grid_sql,
    d2r6_grid_sql,
    mean_grid_sql,
    quant,
    quant_sql,
    r6,
)
from ..functions.pin import pin
from ..functions.vectors import d2r6_grid
from ..operators.similarity import ivf_cells, probes_from_centroids, topk_per_query

# Exact-integer 1e-6 grid mean (functions/det.py): every centroid /
# codeword mean below is pinned so its value is independent of Spark's
# partial-aggregate merge order — the round-3 semdedup flake class.
_MEAN6_V = mean_grid_sql("v")
_MEAN6_SV = mean_grid_sql("s.v")


_PQ_M = 4        # subvectors
_PQ_SUB = 16     # dims per subvector (64 / 4)
_PQ_PLANES = 4   # sign planes per subvector -> up to 16 cells each

# Fixed integer plane weights, same affine family as the SRP buckets in
# plans/dedup_sim.py:_srp_sql (i = GLOBAL 1-based dim subscript, so each
# subvector sees a different slice of the pattern): products of float32
# values with small integers and 16-term sums are EXACT in double, so
# both engines compute bit-identical projections and the sign cells can
# never disagree.


def _pq_w(k: int) -> str:
    return f"(((i * 31 + {k * 17}) % 7) - 3)"


def _proj_term_sql(arr: str, s: int, k: int, float_w: bool = False) -> str:
    """The unrolled sign-projection sum for subvector ``s`` / plane ``k``
    as ONE Spark-SQL fragment over the integer grid array ``arr``.

    r6 lesson: building this chain as ~50 Python Column operations per
    plane costs a py4j round-trip EACH — `_pq_subvecs` alone spent 2-3s
    of driver time per query constructing expression trees before any
    row moved. One f-string parsed JVM-side by a single F.expr builds
    the identical tree (same left-assoc sum, same literal types:
    integer weights for the quantized embedding path, `D`-suffixed
    double weights for the residual path that always multiplied by
    float(w)) for microseconds.
    """
    terms = []
    for j in range(_PQ_SUB):
        i = s * _PQ_SUB + j + 1
        w = ((i * 31 + k * 17) % 7) - 3
        if w:
            lit = f"{w}.0D" if float_w else str(w)
            terms.append(f"element_at({arr}, {i}) * {lit}")
    return " + ".join(terms)


def _cell_sql(arr: str, s: int, float_w: bool = False) -> str:
    """Sign-cell code for subvector ``s``: 4 plane-sign bits summed,
    cast BIGINT — the SQL twin of the old per-plane F.when chain."""
    cases = " + ".join(
        f"(CASE WHEN ({_proj_term_sql(arr, s, k, float_w)}) > 0 "
        f"THEN {2 ** k} ELSE 0 END)"
        for k in range(_PQ_PLANES)
    )
    return f"CAST({cases} AS BIGINT)"


_PQ_CODE_CTE = f"""
sflat AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1) // {_PQ_SUB} AS sub,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
projs AS (
  SELECT vec_id, sub,
         {", ".join(f"sum({quant_sql('v')} * {_pq_w(k)}) AS p{k}" for k in range(4))}
  FROM sflat GROUP BY vec_id, sub
),
cells AS (
  SELECT vec_id, sub,
         CAST({" + ".join(f"(CASE WHEN p{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(4))}
              AS BIGINT) AS cell
  FROM projs
),
cw AS (
  SELECT s.sub, c.cell, s.i, {_MEAN6_SV} AS c
  FROM sflat s JOIN cells c ON s.vec_id = c.vec_id AND s.sub = c.sub
  GROUP BY s.sub, c.cell, s.i
)"""


def _subvec_split(
    df: DataFrame,
    arr: str,
    out: str,
    carry: tuple[str, ...] = (),
    cell: Callable[[int], str] | None = None,
) -> DataFrame:
    """(vec_id, *carry, sub, ``out``): m=4 rows per vector, ``out`` the
    16-dim slice of the integer grid array ``arr`` for subvector
    ``sub``. The coding side passes ``cell``, the SQL of subvector
    ``s``'s sign-cell code over ``arr``, and gets a ``cell`` column
    after ``sub``; without it the split is the bare slices (the query
    LUTs read whole vectors instead, module docstring). The whole array
    is ONE SQL string -> ONE
    py4j call (r6: the per-term Column-arithmetic loop this replaced
    spent 2-3s of driver time per query on py4j round trips)."""
    structs = ", ".join(
        f"named_struct('sub', CAST({s} AS BIGINT), "
        + (f"'cell', {cell(s)}, " if cell else "")
        + f"'{out}', slice({arr}, {s * _PQ_SUB + 1}, {_PQ_SUB}))"
        for s in range(_PQ_M)
    )
    keep = ["vec_id", *carry]
    gen = f"explode(array({structs}))"
    if cell:
        # Code-bearing structs materialize the array as its OWN projection
        # attribute and explode the attribute: with the array constructor
        # (4 x unrolled sign sums + slices) inlined in the Generate, the
        # fused delta-encode stage (generate + % 10 filters + codebook
        # join feeding d2) grew past janino's 64 KB method limit — ERROR
        # CodeGenerator, silent interpreted fallback. Project expressions
        # split into helper methods; Generate's doConsume cannot. The
        # explode is OUTER: a plain explode of an attribute makes
        # Catalyst infer size(attr) > 0 and push it below the projection
        # as a second copy of the whole array, so every row would sum
        # its sign planes twice; the array always holds 4 structs, so
        # the outer form yields the same rows. Four bare slices cannot
        # reach the limit, so the cell-free split stays inline.
        df = df.select(*keep, F.expr(f"array({structs})").alias("sc_arr"))
        gen = "explode_outer(sc_arr)"
    return df.select(*keep, F.expr(gen).alias("sc")).select(
        *keep, "sc.sub", *(["sc.cell"] if cell else []), f"sc.{out}"
    )


def _pq_subvecs(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, cell, sv): the `_subvec_split` of the quantized
    embedding plus each slice's sign-cell code. The sign projections
    are UNROLLED per (sub, plane) into explicit element_at-times-literal
    sum chains (zero-weight terms dropped): plain arithmetic that
    whole-stage codegen compiles, where the higher-order-function form
    (zip_with + aggregate lambdas) is interpreted per row — measured 6x
    slower at the 100x smoke. No dimension explode, no shuffle, no join
    before the struct explode."""
    return _subvec_split(_pq_grid(emb), "eq", "sv", cell=lambda s: _cell_sql("eq", s))


def _pq_grid(emb: DataFrame) -> DataFrame:
    """(vec_id, eq): the embedding in integer 1e-6 grid units.

    Quantized ONCE, in its own projection: everything downstream
    references the ``eq`` ATTRIBUTE, so the unrolled sign sums stay
    compact element_at terms and every d2 is pure integer diffs (r5:
    the per-pair re-quantization this replaced cost the PQ bench tier
    ~2x). Inlining the floor/cast per term (the first r5 form) grew the
    Generate stage past janino's 64 KB method limit — Spark silently
    fell back to interpreted evaluation and the PQ bench tier doubled."""
    return emb.select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>), "
            "x -> cast(floor(x * 1e6 + 0.5D) as bigint))"
        ).alias("eq"),
    )


def _pq_codebook(subvecs: DataFrame) -> DataFrame:
    """(sub, cell, carr): the trained codeword per cell as a 16-dim
    array — elementwise mean of the cell's members. One posexplode +
    map-side-combinable avg (the ONLY per-dimension shuffle in the PQ
    stage), then a 64-row regroup. KB-scale, broadcast downstream.
    The mean is the exact-integer grid mean (``mean_grid``) so the
    codeword is independent of partial-aggregate merge order — the
    round-3 semdedup flake class applies to codewords exactly as it
    does to IVF centroids (both feed 6dp-rounded d2 rankings)."""
    flat = subvecs.select("sub", "cell", F.posexplode("sv").alias("p", "v"))
    # sv is already in integer grid units, so the pinned mean is the
    # plain integer mean floor(sum/count + 0.5) — exactly the integer
    # inside the oracle's mean_grid_sql value (carr = quant(oracle c))
    cw = flat.groupBy("sub", "cell", "p").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("c")
    )
    return (
        cw.groupBy("sub", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("p", "c"))).alias("pc"))
        .select("sub", "cell", F.col("pc.c").alias("carr"))
    )


def _pq_d2(sv: str, carr: str):
    """Squared L2 between a subvector and a codeword (column NAMES),
    rounded half-up to the 6dp grid FROM EXACT INTEGER SUMS (r5,
    `d2r6_grid_sql` twin). Both arrays arrive ALREADY in 1e-6 integer
    grid units (`_pq_subvecs` / `_pq_codebook` quantize once at the
    source), so this is 16 pure integer diffs summed (order-free), one
    division, one floor — unrolled codegen arithmetic, no per-pair
    re-quantization. One SQL string -> one py4j call (r6)."""
    total = " + ".join(
        f"(element_at({sv}, {j}) - element_at({carr}, {j}))"
        f" * (element_at({sv}, {j}) - element_at({carr}, {j}))"
        for j in range(1, _PQ_SUB + 1)
    )
    return F.expr(
        f"floor(cast(({total}) as double) / 1e6 + 0.5D) / 1e6"
    )


_PQ_CELLS = 2 ** _PQ_PLANES  # sign cells per subvector
_SLOTS = _PQ_M * _PQ_CELLS    # codebook / LUT slots: slot = sub * 16 + cell


def _codebook_row(cw: DataFrame, arr: str) -> DataFrame:
    """The long codebook ``cw`` (sub, cell, ``arr``) as the ONE row the
    index stores: ``arr`` becomes an array of 64 codewords, slot = sub *
    16 + cell, NULL where no cell was trained. One global aggregate
    into a slot map and one 64-slot read of it; an empty codebook gives
    64 NULLs."""
    slot = F.expr(f"sub * {_PQ_CELLS} + cell")
    return cw.agg(F.map_from_entries(F.collect_list(F.struct(slot, arr))).alias("m")).select(
        F.expr(f"transform(sequence(0L, {_SLOTS - 1}L), s -> m[s])").alias(arr)
    )


def _query_lut(q: DataFrame, vec: str, cb: DataFrame, arr: str, carry=()) -> DataFrame:
    """(qid, *carry, lut): one row per query row of ``q`` (vec_id,
    *carry, ``vec``), ``lut`` its 64 partial distances to the one-row
    codebook ``cb`` (``arr``) in integer micro-units, NULL at untrained
    slots. ``vec`` is the query's whole integer grid vector (PQ) or
    residual (IVFADC); slot s reads the 16-dim slice of sub = s div 16.
    Each entry is ``floor(total / 1e6 + 0.5)`` of the exact integer sum
    of squared diffs: the oracles' 6-dp partial in micro-units. One
    higher-order expression, no explode, no aggregate."""
    d2 = (
        f"aggregate(zip_with(slice({vec}, s div {_PQ_SUB} * {_PQ_SUB} + 1, {_PQ_SUB}), w, "
        "(a, b) -> (a - b) * (a - b)), 0L, (t, d) -> t + d)"
    )
    return q.crossJoin(F.broadcast(cb)).select(
        F.col("vec_id").alias("qid"),
        *carry,
        F.expr(f"transform({arr}, (w, s) -> floor({d2} / 1e6 + 0.5D))").alias("lut"),
    )


_PQ_TOPK_ORACLE = f"""
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
)
SELECT qid, cid, adc_d2, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT qid, cid, adc_d2,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
  FROM adc
) WHERE rnk <= 5
"""


_PQ_REFINE_R = 25  # ADC shortlist size per query before exact re-rank

_PQ_REFINE_ORACLE = f"""
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
         floor(sum(l.pd2) * 1000000.0 + 0.5) / 1000000.0 AS adc_d2
  FROM cells c JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
),
short AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
    FROM adc
  ) WHERE rnk <= {_PQ_REFINE_R}
),
vflat AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
ex AS (
  SELECT s.qid, s.cid,
         {d2r6_grid_sql('qv.v', 'cv.v')} AS d2
  FROM short s
  JOIN vflat qv ON qv.vec_id = s.qid
  JOIN vflat cv ON cv.vec_id = s.cid AND cv.i = qv.i
  GROUP BY s.qid, s.cid
)
SELECT qid, cid, d2, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT qid, cid, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
  FROM ex
) WHERE rnk <= 5
"""


_IVFPQ_ORACLE = f"""
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
),
lut AS (
  SELECT q.vec_id AS qid, w.sub, w.cell,
         {d2r6_grid_sql('q.v', 'w.c')} AS pd2
  FROM sflat q JOIN cw w ON w.sub = q.sub AND w.i = q.i
  WHERE q.vec_id < 20
  GROUP BY q.vec_id, w.sub, w.cell
),
adc AS (
  SELECT l.qid, c.vec_id AS cid,
         floor(sum(l.pd2) * 1000000.0 + 0.5) / 1000000.0 AS adc_d2
  FROM cells c
  JOIN lut l ON l.sub = c.sub AND l.cell = c.cell
  JOIN ivf ic ON ic.vec_id = c.vec_id
  JOIN ivf iq ON iq.vec_id = l.qid AND iq.ivf_cell = ic.ivf_cell
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
)
SELECT qid, cid, adc_d2, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT qid, cid, adc_d2,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
  FROM adc
) WHERE rnk <= 5
"""


_IVFADC_RPROJ = ",\n         ".join(
    f"sum(r6 * {_pq_w(k)}) AS p{k}" for k in range(_PQ_PLANES)
)
_IVFADC_RCELL = " + ".join(
    f"(CASE WHEN p{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(_PQ_PLANES)
)

_IVFADC_ORACLE = f"""
WITH iflat AS (
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
),
icq AS (SELECT cent_id, i, CAST(floor(c * 1e6 + 0.5) AS BIGINT) AS c6 FROM icent),
r AS (
  SELECT f.vec_id, iv.ivf_cell, f.i, CAST((f.i - 1) // {_PQ_SUB} AS BIGINT) AS sub,
         CAST(floor(f.v * 1e6 + 0.5) AS BIGINT) - q.c6 AS r6
  FROM iflat f
  JOIN ivf iv ON iv.vec_id = f.vec_id
  JOIN icq q ON q.cent_id = iv.ivf_cell AND q.i = f.i
),
rproj AS (
  SELECT vec_id, sub,
         {_IVFADC_RPROJ}
  FROM r GROUP BY vec_id, sub
),
rcells AS (
  SELECT vec_id, sub, CAST({_IVFADC_RCELL} AS BIGINT) AS cell FROM rproj
),
rcw AS (
  SELECT rr.sub, c.cell, rr.i,
         CAST(floor(CAST(sum(rr.r6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cw6
  FROM r rr JOIN rcells c ON c.vec_id = rr.vec_id AND c.sub = rr.sub
  GROUP BY rr.sub, c.cell, rr.i
),
lut AS (
  SELECT q.vec_id AS qid, q.ivf_cell, w.sub, w.cell,
         floor(CAST(sum((q.r6 - w.cw6) * (q.r6 - w.cw6)) AS DOUBLE) / 1e6 + 0.5)
             / 1e6 AS pd2
  FROM r q JOIN rcw w ON w.sub = q.sub AND w.i = q.i
  WHERE q.vec_id < 20
  GROUP BY q.vec_id, q.ivf_cell, w.sub, w.cell
),
adc AS (
  SELECT l.qid, c.vec_id AS cid,
         floor(sum(l.pd2) * 1e6 + 0.5) / 1e6 AS adc_d2
  FROM rcells c
  JOIN ivf ic ON ic.vec_id = c.vec_id
  JOIN lut l ON l.sub = c.sub AND l.cell = c.cell AND l.ivf_cell = ic.ivf_cell
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
)
SELECT qid, cid, adc_d2, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT qid, cid, adc_d2,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
  FROM adc
) WHERE rnk <= 5
"""


def _ivf_residuals(
    emb: DataFrame, cells: DataFrame, centroids: DataFrame, cell: str = "ivf_cell"
) -> DataFrame:
    """(vec_id, ivf_cell, r6): per-vector integer residual array on the
    1e-6 grid — x and its assigned coarse centroid are both quantized
    BEFORE subtracting, so every downstream statistic is exact integer
    arithmetic. ``emb`` is (vec_id, embedding), ``cells`` the
    assignment (vec_id, ``cell``) — one row per probed cell for
    multi-probe, whose callers name the column ``probe_cell`` — and
    ``centroids`` (cent_id, centroid). The centroid table broadcasts
    (KB); the residual is one zip_with over the scan, no per-dimension
    rows."""
    cq = centroids.select(
        F.col("cent_id").alias(cell),
        F.transform("centroid", lambda c: quant(c)).alias("c6"),
    )
    xq = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: quant(v),
        ).alias("x6"),
    )
    return (
        xq.join(cells, "vec_id")
        .join(F.broadcast(cq), cell)
        .select(
            "vec_id",
            F.col(cell).alias("ivf_cell"),
            F.zip_with("x6", "c6", lambda a, b: a - b).alias("r6"),
        )
    )


def _ivfadc_subvecs(resid: DataFrame) -> DataFrame:
    """(vec_id, ivf_cell, sub, cell, rsv): residual sign-cell coding —
    the `_subvec_split` of the integer residual array plus each slice's
    sign cell. Projections are exact integer sums (residual values
    ~4e6, 16 terms x weight <=3 stay far under 2^53), so the sign cells
    are engine-independent by construction, not by accepted ulp risk.
    float_w keeps the original double weight literals (the residual
    path always multiplied by float(w))."""
    return _subvec_split(
        resid,
        "r6",
        "rsv",
        carry=("ivf_cell",),
        cell=lambda s: _cell_sql("r6", s, float_w=True),
    )


def _ivfadc_codebook(rsv: DataFrame) -> DataFrame:
    """(sub, cell, cw6): the trained integer residual codeword per cell
    — the `_pq_codebook` shape on `_ivfadc_subvecs` rows, each
    coordinate the exact integer mean floor(sum/count + 0.5)."""
    return (
        rsv.select("sub", "cell", F.posexplode("rsv").alias("p", "v"))
        .groupBy("sub", "cell", "p")
        .agg(F.floor(F.sum("v") / F.count(F.lit(1)) + F.lit(0.5)).alias("c"))
        .groupBy("sub", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("p", "c"))).alias("pc"))
        .select("sub", "cell", F.col("pc.c").alias("cw6"))
    )


_IVFADC_MP_ORACLE = f"""
WITH iflat AS (
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
probes AS (
  SELECT vec_id, cent_id, rn AS probe_rank FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM idist
  ) WHERE rn <= 2
),
ivf AS (SELECT vec_id, cent_id AS ivf_cell FROM probes WHERE probe_rank = 1),
icq AS (SELECT cent_id, i, CAST(floor(c * 1e6 + 0.5) AS BIGINT) AS c6 FROM icent),
r AS (
  SELECT f.vec_id, iv.ivf_cell, f.i, CAST((f.i - 1) // {_PQ_SUB} AS BIGINT) AS sub,
         CAST(floor(f.v * 1e6 + 0.5) AS BIGINT) - q.c6 AS r6
  FROM iflat f
  JOIN ivf iv ON iv.vec_id = f.vec_id
  JOIN icq q ON q.cent_id = iv.ivf_cell AND q.i = f.i
),
rproj AS (
  SELECT vec_id, sub,
         {_IVFADC_RPROJ}
  FROM r GROUP BY vec_id, sub
),
rcells AS (
  SELECT vec_id, sub, CAST({_IVFADC_RCELL} AS BIGINT) AS cell FROM rproj
),
rcw AS (
  SELECT rr.sub, c.cell, rr.i,
         CAST(floor(CAST(sum(rr.r6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cw6
  FROM r rr JOIN rcells c ON c.vec_id = rr.vec_id AND c.sub = rr.sub
  GROUP BY rr.sub, c.cell, rr.i
),
qr AS (
  SELECT f.vec_id, p.cent_id AS probe_cell, f.i,
         CAST((f.i - 1) // {_PQ_SUB} AS BIGINT) AS sub,
         CAST(floor(f.v * 1e6 + 0.5) AS BIGINT) - q.c6 AS r6
  FROM iflat f
  JOIN probes p ON p.vec_id = f.vec_id
  JOIN icq q ON q.cent_id = p.cent_id AND q.i = f.i
  WHERE f.vec_id < 20
),
lut AS (
  SELECT q.vec_id AS qid, q.probe_cell, w.sub, w.cell,
         floor(CAST(sum((q.r6 - w.cw6) * (q.r6 - w.cw6)) AS DOUBLE) / 1e6 + 0.5)
             / 1e6 AS pd2
  FROM qr q JOIN rcw w ON w.sub = q.sub AND w.i = q.i
  GROUP BY q.vec_id, q.probe_cell, w.sub, w.cell
),
adc AS (
  SELECT l.qid, c.vec_id AS cid,
         floor(sum(l.pd2) * 1e6 + 0.5) / 1e6 AS adc_d2
  FROM rcells c
  JOIN ivf ic ON ic.vec_id = c.vec_id
  JOIN lut l ON l.sub = c.sub AND l.cell = c.cell AND l.probe_cell = ic.ivf_cell
  WHERE c.vec_id <> l.qid
  GROUP BY l.qid, c.vec_id
)
SELECT qid, cid, adc_d2, CAST(rnk AS BIGINT) AS rank FROM (
  SELECT qid, cid, adc_d2,
         row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) AS rnk
  FROM adc
) WHERE rnk <= 5
"""


# ---------------------------------------------------------------------------
# the ADC scoring kernel and the exact tails that consume its top-k
# ---------------------------------------------------------------------------


def adc_topk(
    cand: DataFrame, lut: DataFrame, keys: list[str], prefix: str, k: int, shortlist: bool = False
) -> DataFrame:
    """The one ADC scoring kernel (Jegou et al. 2011 §IV): each candidate
    (cid, *keys, ``prefix``0..3) meets the broadcast query LUT rows
    (qid, *keys, lut) of its ``keys`` (a broadcast cross join when
    there are none), a query never scores itself, and ``adc_d2`` is the
    gather of its 4 code slots summed as integers and divided once,
    ranked by `topk_per_query` (``shortlist`` returns only (qid, cid)).
    Twin of the oracles' ``adc`` CTE and its row_number."""
    gather = " + ".join(
        f"lut[{s * _PQ_CELLS} + {prefix}{s}]" if s else f"lut[{prefix}0]" for s in range(_PQ_M)
    )
    adc = (
        cand.join(F.broadcast(lut), keys or None)
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", F.expr(f"({gather}) / 1e6").alias("adc_d2"))
    )
    return topk_per_query(adc, "adc_d2", k, shortlist)


def _refine_top5(emb: DataFrame, short: DataFrame) -> DataFrame:
    """(qid, cid, d2, rank): the exact-L2 re-rank of an ADC shortlist
    ``short`` (qid, cid) to the final top-5. Only the shortlisted
    vectors are read — a broadcast join on vec_id probes the big side,
    never shuffles it."""
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    ex = (
        F.broadcast(short)
        .join(vecs.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe")), "qid")
        .join(vecs.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce")), "cid")
        .select(
            "qid",
            "cid",
            d2r6_grid(F.col("qe"), F.col("ce")).alias("d2"),
        )
    )
    return topk_per_query(ex, "d2", 5)


def _recall_at_5(emb: DataFrame, approx5: DataFrame) -> DataFrame:
    """(n_queries, recall_at_5): mean over the 20 queries of
    |approx5 ∩ exact L2 top-5| / 5, where ``approx5`` is an ANN top-5
    (qid, cid). The exact side is a broadcast-query L2 ranking; the
    intersection a 5-rows-per-query broadcast join."""
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    q = vecs.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    d2 = (
        vecs.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
        .crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            d2r6_grid(F.col("qe"), F.col("ce")).alias("d2"),
        )
    )
    ex5 = topk_per_query(d2, "d2", 5, shortlist=True)
    hits = (
        ex5.join(
            F.broadcast(approx5.withColumn("hit", F.lit(1))), ["qid", "cid"], "left"
        )
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        # integer-exact mean: sum(n_hit) is an exact long, one double
        # division at the end — no float-sum merge-order exposure
        r6(
            F.sum("n_hit").cast("double")
            / (F.lit(5.0) * F.count(F.lit(1)))
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# the index: three lazy families over one embeddings frame, and the reads
# ---------------------------------------------------------------------------
#
# Every index relation is defined ONCE, here. `ann_index.build_ann_index`
# writes the families; a stored query passes `scan` of the written files
# and its in-query twin passes the family frames to the same read path,
# so the two can only differ in where the relations come from. Each
# family lazily pins just its own intermediates that have more than one
# consumer, and a query calls only the families it reads, so it runs no
# job and holds no pin for a relation it does not read. Two steps do
# run when a family is called: `ivf_cells` collects its KB-scale
# centroids, and under AQE a lazy localCheckpoint runs the shuffle
# stages upstream of it — which is why the build calls each family on
# the thread of the chain that writes it.


def _code_cols(prefix: str) -> list[Column]:
    """A vector's 4 (sub, cell) rows pivoted to ``<prefix>0..3`` in one
    aggregate. Spelled with ``if``, the form Spark's own pivot plans,
    so the pivot adds no CASE WHEN to a plan whose CASE WHEN count
    stands for its sign-cell sums."""
    return [F.expr(f"min(if(sub = {s}, cell, NULL))").alias(f"{prefix}{s}") for s in range(_PQ_M)]


def pq_family(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pq_codebook (carr: 64 slots, `_codebook_row`), pq_codes (vec_id,
    c0..c3, qerr), sv): the PQ index of ``emb``. The corpus subvectors
    ``sv`` feed the codebook and the codes, so they are pinned; they are
    returned so a build can free them once both tables are written.
    ``qerr`` is the vector's 6-dp quantization error against its
    codewords, joined from the long (sub, cell, carr) codebook."""
    sv = _pq_subvecs(emb).transform(pin)
    cw = _pq_codebook(sv)
    qe = sv.join(F.broadcast(cw), ["sub", "cell"]).select(
        "vec_id", "sub", "cell", _pq_d2("sv", "carr").alias("d2")
    )
    codes = qe.groupBy("vec_id").agg(*_code_cols("c"), r6(F.sum("d2")).alias("qerr"))
    return _codebook_row(cw, "carr"), codes, sv


def ivf_family(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ivf_centroids (cent_id, centroid), ivf_cells (vec_id, ivf_cell)):
    the coarse IVF layer of ``emb`` (`operators.similarity.ivf_cells`).
    The cells are the numpy kernel over |vectors| x |centroids| and
    have two consumers in the IVF-PQ read (query and candidate side),
    the nprobe=1 IVFADC read (query side and residual layer) and the
    build (the cells write and the residual layer), so they are
    pinned."""
    centroids, cells = ivf_cells(emb)
    return centroids, cells.select("vec_id", F.col("cell").alias("ivf_cell")).transform(pin)


def ivfadc_family(
    emb: DataFrame, centroids: DataFrame, cells: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(ivfadc_codebook (cw6: 64 slots, `_codebook_row`), ivfadc_codes
    (vec_id, ivf_cell, rc0..rc3), rsv): the residual PQ layer (Jegou et
    al. 2011 §V) over the coarse family ``centroids``/``cells`` of
    ``emb``. The residual subvectors ``rsv`` feed the codebook and the
    codes, so they are pinned, and returned so a build can free them."""
    rsv = _ivfadc_subvecs(_ivf_residuals(emb, cells, centroids)).transform(pin)
    codes = rsv.groupBy("vec_id").agg(F.min("ivf_cell").alias("ivf_cell"), *_code_cols("rc"))
    return _codebook_row(_ivfadc_codebook(rsv), "cw6"), codes, rsv


def _pq_lut(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """(qid, lut): the PQ LUTs of the 20 query vectors of ``emb``
    against the one-row codebook ``cb``; queries keep full precision
    under ADC. The only float-vector read of a PQ query outside the
    refine tail's R-row fetch."""
    return _query_lut(_pq_grid(emb.where(F.col("vec_id") < 20)), "eq", cb, "carr")


def pq_adc_topk(
    emb: DataFrame, cb: DataFrame, codes: DataFrame, k: int, shortlist: bool = False
) -> DataFrame:
    """ADC top-``k`` of the 20 query vectors of ``emb`` over the PQ
    index (``cb``, ``codes``): every coded vector is a candidate of
    every query."""
    cand = codes.withColumnRenamed("vec_id", "cid")
    return adc_topk(cand, _pq_lut(emb, cb), [], "c", k, shortlist)


def ivfpq_top5(emb: DataFrame, cb: DataFrame, codes: DataFrame, cells: DataFrame) -> DataFrame:
    """IVF-PQ top-5: the PQ read of `pq_adc_topk`, with each query's
    candidates cut to its own coarse cell by joining ``cells`` on both
    the LUT and the candidate side."""
    lut = _pq_lut(emb, cb).join(cells.withColumnRenamed("vec_id", "qid"), "qid")
    cand = codes.join(cells, "vec_id").withColumnRenamed("vec_id", "cid")
    return adc_topk(cand, lut, ["ivf_cell"], "c", 5)


def _ivfadc_residual_top5(q_resid: DataFrame, cb: DataFrame, rcodes: DataFrame) -> DataFrame:
    """ADC top-5 of the query residuals ``q_resid`` (`_ivf_residuals`,
    one row per probed cell) against the one-row residual codebook
    ``cb`` and codes ``rcodes``: a candidate is scored by the LUT of
    the probe matching its own cell."""
    lut = _query_lut(q_resid, "r6", cb, "cw6", carry=("ivf_cell",))
    return adc_topk(rcodes.withColumnRenamed("vec_id", "cid"), lut, ["ivf_cell"], "rc", 5)


def ivfadc_top5(
    emb: DataFrame, centroids: DataFrame, cells: DataFrame, cb: DataFrame, rcodes: DataFrame
) -> DataFrame:
    """IVFADC top-5 at nprobe=1: each query's residual to the centroid
    of its own cell (the 20-row slice of ``cells``)."""
    q_resid = _ivf_residuals(
        emb.where(F.col("vec_id") < 20), cells.where(F.col("vec_id") < 20), centroids
    )
    return _ivfadc_residual_top5(q_resid, cb, rcodes)


def ivfadc_multiprobe_top5(
    emb: DataFrame, centroids: DataFrame, cb: DataFrame, rcodes: DataFrame
) -> DataFrame:
    """IVFADC top-5 at nprobe=2: each query probes its two nearest
    ``centroids`` (`operators.similarity.probes_from_centroids`) with one
    residual, and one LUT, per probed cell."""
    probes = probes_from_centroids(emb.where(F.col("vec_id") < 20), centroids, nprobe=2)
    q_resid = _ivf_residuals(
        emb.where(F.col("vec_id") < 20),
        probes.select("vec_id", F.col("cell").alias("probe_cell")),
        centroids,
        cell="probe_cell",
    )
    return _ivfadc_residual_top5(q_resid, cb, rcodes)
