"""Cross-engine / cross-partitioning determinism helpers.

The 6-dp rounding rule: every rounded double a query emits is
``floor(x*1e6 + 0.5) / 1e6``, half-up and computed identically by
Spark and DuckDB, whose built-in ``round`` functions do not round
doubles the same way. In the Column API this module is the only place
that spells it: ``r6`` gives the rounded value and ``quant`` its
integer grid units, and ``plans/`` and ``operators/`` call them
(tests/test_plan_hygiene.py rejects a hand-written copy). The oracle
twin is ``quant_sql`` and the literal SQL text
``floor(x * 1e6 + 0.5) / 1e6`` in the DuckDB oracles, which stays
written out as the reference the tests compare against.

The house doctrine (SURVEY.md determinism notes; cf. the PCA iterate
re-quantization in plans/vector_ops.py) is that any float AGGREGATE
whose result feeds a rounded comparison must itself be pinned to a
fixed grid: Spark's partial-aggregate merge order varies with
partitioning and scheduling, so ``avg(double)`` can differ between two
runs at the ulp level — and a downstream ``floor(x*1e6+0.5)`` sitting
on a rounding boundary then flips (the round-3
``dedup_semantic_semdedup`` driver flake: unpinned IVF centroids).

Rounding AFTER the avg shrinks the window but does not close it (the
avg itself can land on a boundary). These helpers close it: quantize
each INPUT to an integer grid first, sum exactly (integer addition is
associative — any merge order gives the same sum), then divide once.

    mean_grid(col)      == floor(sum(floor(col*s + .5)) / count + .5) / s

Both engines compute the identical double from identical exact
integers, so the result is bit-stable under ANY partitioning, thread
count, or engine. Scale note: the integer sum is exact up to 2^63 in
Spark (long) and 2^127 in DuckDB (hugeint); the final cast-to-double
of the sum is exact up to 2^53 — at 1e6-grid embedding magnitudes
(~1e6 per element) that covers ~9e9 rows per group, beyond which
the mean is still deterministic per engine but the last ulp of the
division may differ between engines; raise the documented grid or
pre-aggregate per shard if a group ever approaches that.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quant(col: Column, scale: float = 1e6) -> Column:
    """Half-up integer grid units of ``col``: floor(col*scale + 0.5).
    Per-row, engine-identical (IEEE double multiply + floor)."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5))


def r6(col: Column) -> Column:
    """``col`` rounded half-up to 6 decimal places:
    floor(col*1e6 + 0.5) / 1e6, the same expression the oracles spell
    in SQL."""
    return quant(col) / F.lit(1e6)


def split_bucket() -> Column:
    """Content-addressed 0..99 bucket of ``doc_id``: the first md5 byte
    of the ``":split"``-salted id, mod 100. No RNG and no seed, so a
    doc's bucket never changes across reruns or appends. The SQL twin is
    ``plans.sql_common._HASH_BUCKET_SQL``."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split")))
    nib = lambda j: F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1  # noqa: E731
    return (nib(1) * 16 + nib(2)) % 100


def mean_grid(col: Column, scale: float = 1e6) -> Column:
    """Aggregate: order-independent grid mean of ``col``. Inputs are
    quantized to the grid, summed EXACTLY as integers, divided once —
    no float-sum-order exposure anywhere. Use wherever a mean feeds a
    rounded comparison (centroids, codewords, recall scores)."""
    s = F.sum(quant(col, scale))
    return (
        F.floor(s.cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        / F.lit(float(scale))
    )


def mean_grid_sql(v: str, scale: str = "1000000.0") -> str:
    """DuckDB oracle twin of ``mean_grid`` — the IDENTICAL arithmetic
    (exact integer sum, one division, half-up floor) so oracle and
    Spark produce bit-equal means."""
    return (
        f"floor(CAST(sum(CAST(floor({v} * {scale} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / count(*) + 0.5) / {scale}"
    )


# ---------------------------------------------------------------------------
# Pinned vector arithmetic (round 5). The round-3/4 semdedup driver flake
# proved that rounding AFTER a float aggregate is not enough: DuckDB does
# not pin its parallel sum order, so `floor(sum(xa*xb)*1e6+0.5)` can land
# either side of a rounding boundary depending on thread count. These
# helpers extend the grid doctrine from means to DOT PRODUCTS and SQUARED
# DISTANCES: quantize every component to the 1e-6 integer grid first, sum
# exactly as integers (associative — any merge order, any thread count,
# any engine gives the same integer), convert to double once (exact below
# 2^53), divide/compare once.
#
# Magnitude budget (documented bound, asserted nowhere because it is
# structural): |component| <= ~8 on the fixture embeddings -> quantized
# |q| <= 8e6; a 64-dim dot sums 64 terms of <= 6.4e13 -> <= 4.1e15, inside
# both int64 (9.2e18) and the 2^53 (9.0e15) exact-double window. Vectors
# with |component| > ~45 or dims > ~2000 would need a coarser grid; the
# helpers take `scale` for exactly that dial.
# ---------------------------------------------------------------------------


def quant_sql(v: str, scale: str = "1000000.0") -> str:
    """Half-up integer grid units of ``v`` — the SQL twin of ``quant``."""
    return f"CAST(floor({v} * {scale} + 0.5) AS BIGINT)"


def cos_grid_sql(xa: str, xb: str, scale: str = "1000000.0") -> str:
    """Order-independent rounded cosine over unnested component pairs
    (aggregate context: one group = one vector pair). Quantized integer
    dot and norm² sums — exact under ANY sum order — one float division,
    one half-up 6dp floor. The grid factor cancels in the ratio, so the
    result needs no rescaling."""
    qa, qb = quant_sql(xa, scale), quant_sql(xb, scale)
    return (
        f"floor(CAST(sum({qa} * {qb}) AS DOUBLE)"
        f" / (sqrt(CAST(sum({qa} * {qa}) AS DOUBLE))"
        f" * sqrt(CAST(sum({qb} * {qb}) AS DOUBLE)))"
        f" * 1000000.0 + 0.5) / 1000000.0"
    )


def d2_grid_sql(v: str, c: str, scale: str = "1000000.0") -> str:
    """Order-independent squared L2 distance over unnested components
    (aggregate context): exact integer sum of squared grid differences,
    reported in squared-grid units divided out once (1e-12 for the 1e-6
    grid) — a single exact-integer-to-double conversion, deterministic
    under any sum order. Downstream argmin/ORDER BY needs no further
    rounding: equal means exactly equal."""
    dq = f"({quant_sql(v, scale)} - {quant_sql(c, scale)})"
    return f"CAST(sum({dq} * {dq}) AS DOUBLE) / 1000000000000.0"


def d2r6_grid_sql(v: str, c: str, scale: str = "1000000.0") -> str:
    """Squared L2 distance ROUNDED HALF-UP TO THE 6dp GRID, from exact
    integer sums: integer sum of squared grid diffs (grid² = 1e-12
    units), ONE division by 1e6, one floor — the value lands on the same
    6dp grid as the pre-r5 ``floor(sum(..)*1e6+0.5)/1e6`` but can never
    flip with sum order. Use where the d2 itself is an OUTPUT or feeds
    a further rounded sum (ADC luts); use ``d2_grid_sql`` (exact, no
    rounding) where d2 only drives an argmin."""
    dq = f"({quant_sql(v, scale)} - {quant_sql(c, scale)})"
    return (
        f"floor(CAST(sum({dq} * {dq}) AS DOUBLE) / 1000000.0 + 0.5) / 1000000.0"
    )


def proj_sign_sql(v: str, coef: str, scale: str = "1000000.0") -> str:
    """Order-independent SRP projection SIGN test: quantized components
    times exact integer plane weights, summed as integers — the
    ``sum > 0`` sign can never flip with sum order. Returns the integer
    sum expression (compare ``> 0`` outside)."""
    return f"sum({quant_sql(v, scale)} * {coef})"
