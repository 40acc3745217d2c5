"""Bitmask-lifecycle / codec tier: per-user activity as ONE bigint
bitmask (30 days = 30 bits), so retention questions become bit
arithmetic on a user-grain rollup instead of self-joins of the fact;
plus a deterministic base62 id codec and the image-tiling manifest
that completes the multimodal chunking family.

Scale notes baked into each builder:
- the activity bitmask is built in ONE hash aggregate (bit_or of
  1<<day per user — the `events_action_bitmask` trick applied to
  time); every retention readout after that is shift-and-mask over
  the USER-GRAIN rollup. The classic day-over-day retention
  formulation self-joins the fact on (user, day=day+7) — twice the
  shuffle at fact grain; here the fact shuffles once, and the day
  spine is a broadcast literal;
- the cohort half-life fits one exponential decay per cohort with
  the closed-form log-linear OLS over the (cohort, age) retention
  rollup — ages come from the SAME bitmask, so the whole survival
  surface costs one fact pass + arithmetic on ~cohorts x 14 rows;
- base62 encoding is a fixed 6-step div/mod chain (no loops, no
  UDF) — both directions are codegen expressions, and the round-trip
  is asserted row-by-row in the result itself;
- image tiling is pure arithmetic fan-out (bounded by the tile
  count) over typed metadata — the decode stays out of the plan
  (`multimodal_decode_stub`'s contract), the manifest is what a GPU
  preprocessing fleet consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# events_retention_bitmask — 7-day retention from one bit_or rollup
# ---------------------------------------------------------------------------

_RET_DAYS = 22  # cohort days 0..21 have a day+7 inside the 30-day window

_RETBM_ORACLE = f"""
WITH masks AS (
    SELECT user_id,
           bit_or(1::BIGINT << CAST(date_diff('day', TIMESTAMP '2024-01-01',
                               date_trunc('day', ts)) AS INT)) AS mask
    FROM events GROUP BY 1
),
spine AS (SELECT UNNEST(generate_series(0, {_RET_DAYS - 1})) AS day),
flags AS (
    SELECT s.day,
           CASE WHEN (m.mask >> s.day) & 1 = 1 THEN 1 ELSE 0 END AS active,
           CASE WHEN (m.mask >> s.day) & 1 = 1
                 AND (m.mask >> (s.day + 7)) & 1 = 1 THEN 1 ELSE 0 END
               AS retained
    FROM masks m, spine s
)
SELECT day, SUM(active) AS n_active, SUM(retained) AS n_retained_7d,
       floor(CASE WHEN SUM(active) = 0 THEN 0
                  ELSE CAST(SUM(retained) AS DOUBLE) / SUM(active) END
             * 1e6 + 0.5) / 1e6 AS retention_7d
FROM flags GROUP BY 1
"""


@query("events_retention_bitmask", _RETBM_ORACLE)
def events_retention_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention from activity bitmasks: each user's month of
    activity compresses to ONE bigint (bit d set = active on day d)
    in a single bit_or aggregate, and 7-day retention for every
    anchor day is then shift-and-mask arithmetic over the user-grain
    rollup crossed with a broadcast 22-day spine. The textbook
    formulation self-joins the fact on (user, day+7) — a second
    fact-grain shuffle that grows with data; here the fact shuffles
    ONCE (user key), the rollup is one row per user, and adding more
    retention horizons (1d, 14d, 28d) costs only more mask tests,
    not more joins. Integer-exact throughout; the rate divides at
    output. The same mask powers `events_cohort_halflife` without
    re-reading the fact.
    """
    ev = read_table(spark, sf_dir, "events")
    masks = ev.groupBy("user_id").agg(
        F.bit_or(F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(datediff(date_trunc('day', ts),"
            " timestamp'2024-01-01') AS INT))"
        )).alias("mask")
    )
    spine = spark.range(_RET_DAYS).select(F.col("id").cast("long").alias("day"))
    active_bit = F.expr("(shiftright(mask, day) & 1)")
    later_bit = F.expr("(shiftright(mask, day + 7) & 1)")
    flags = masks.join(F.broadcast(spine)).select(
        "day",
        F.when(active_bit == 1, 1).otherwise(0).alias("active"),
        F.when((active_bit == 1) & (later_bit == 1), 1)
        .otherwise(0)
        .alias("retained"),
    )
    return flags.groupBy("day").agg(
        F.sum("active").alias("n_active"),
        F.sum("retained").alias("n_retained_7d"),
        r6(
            F.when(F.sum("active") == 0, 0.0)
            .otherwise(
                F.sum("retained").cast("double") / F.sum("active")
            )
        ).alias("retention_7d"),
    )


# ---------------------------------------------------------------------------
# events_cohort_halflife — exponential decay fit per signup cohort
# ---------------------------------------------------------------------------

_MAX_AGE = 14

_HALFLIFE_ORACLE = f"""
WITH masks AS (
    SELECT user_id,
           bit_or(1::BIGINT << CAST(date_diff('day', TIMESTAMP '2024-01-01',
                               date_trunc('day', ts)) AS INT)) AS mask
    FROM events GROUP BY 1
),
first_day AS (
    SELECT user_id, mask,
           CAST(date_diff('day', TIMESTAMP '2024-01-01',
                date_trunc('day', MIN(ts_min))) AS INT) AS f
    FROM (SELECT user_id, mask, user_id AS u2 FROM masks) m
    JOIN (SELECT user_id, MIN(ts) AS ts_min FROM events GROUP BY 1) t
      USING (user_id)
    GROUP BY 1, 2
),
cohorts AS (
    SELECT f // 7 AS cohort, user_id, mask, f FROM first_day WHERE f // 7 <= 1
),
ages AS (SELECT UNNEST(generate_series(1, {_MAX_AGE})) AS age),
surv AS (
    SELECT c.cohort, a.age,
           COUNT(*) AS n_cohort,
           SUM(CASE WHEN (c.mask >> (c.f + a.age)) & 1 = 1
                    THEN 1 ELSE 0 END) AS n_active
    FROM cohorts c, ages a
    GROUP BY 1, 2
),
rates AS (
    SELECT cohort, age,
           ln(greatest(CAST(n_active AS DOUBLE) / n_cohort, 1e-9)) AS lr
    FROM surv
),
fit AS (
    SELECT cohort, COUNT(*) AS k,
           (COUNT(*) * SUM(age * lr) - SUM(age) * SUM(lr))
           / (COUNT(*) * SUM(age * age) - SUM(age) * SUM(age)) AS slope
    FROM rates GROUP BY 1
)
SELECT cohort,
       floor(-slope * 1e6 + 0.5) / 1e6 AS decay_lambda,
       floor(CASE WHEN slope >= 0 THEN -1
                  ELSE ln(2) / (-slope) END * 1e4 + 0.5) / 1e4
           AS halflife_days
FROM fit
"""


@query("events_cohort_halflife", _HALFLIFE_ORACLE)
def events_cohort_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort decay half-life: for each signup-week cohort, fit
    retention(age) ≈ e^(-λ·age) by log-linear least squares over ages
    1..{_MAX_AGE} and report λ and the half-life in days — the single
    number product teams quote ("we lose half a cohort in N days"),
    and the one that turns `events_retention`'s curve into a
    forecast. The survival surface never re-reads the fact: activity
    bitmasks and first-active days come from ONE user-keyed pass, the
    (cohort, age) grid is the rollup crossed with a broadcast
    14-age spine, and the per-cohort OLS is the closed form over ~14
    rows each (sentinel -1 when the slope is non-negative — no decay
    to invert). Log of a clamped rate guards empty ages.
    """
    ev = read_table(spark, sf_dir, "events")
    day = F.expr(
        "CAST(datediff(date_trunc('day', ts), timestamp'2024-01-01') AS INT)"
    )
    per_user = ev.groupBy("user_id").agg(
        F.bit_or(F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(datediff(date_trunc('day', ts),"
            " timestamp'2024-01-01') AS INT))"
        )).alias("mask"),
        F.min(day).alias("f"),
    )
    cohorts = per_user.select(
        (F.col("f") / 7).cast("int").alias("cohort"), "mask", "f"
    ).where(F.col("cohort") <= 1)
    ages = spark.range(1, _MAX_AGE + 1).select(
        F.col("id").cast("int").alias("age")
    )
    surv = cohorts.join(F.broadcast(ages)).groupBy("cohort", "age").agg(
        F.count(F.lit(1)).alias("n_cohort"),
        F.sum(
            F.when(F.expr("(shiftright(mask, f + age) & 1)") == 1, 1)
            .otherwise(0)
        ).alias("n_active"),
    )
    rates = surv.select(
        "cohort",
        "age",
        F.log(
            F.greatest(
                F.col("n_active").cast("double") / F.col("n_cohort"),
                F.lit(1e-9),
            )
        ).alias("lr"),
    )
    k = F.count(F.lit(1)).cast("double")
    slope = (
        k * F.sum(F.col("age") * F.col("lr"))
        - F.sum("age") * F.sum("lr")
    ) / (
        k * F.sum(F.col("age") * F.col("age"))
        - F.sum("age") * F.sum("age")
    )
    fit = rates.groupBy("cohort").agg(slope.alias("slope"))
    return fit.select(
        "cohort",
        r6(-F.col("slope")).alias("decay_lambda"),
        (
            F.floor(
                F.when(F.col("slope") >= 0, -1.0)
                .otherwise(F.log(F.lit(2.0)) / (-F.col("slope")))
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("halflife_days"),
    )


# ---------------------------------------------------------------------------
# expr_base62_codec — deterministic external-id codec, round-trip proven
# ---------------------------------------------------------------------------

_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_WIDTH = 6


def _enc_sql(col: str) -> str:
    chars = [
        f"substring('{_B62}', CAST(({col} // {62 ** (_WIDTH - 1 - i)}) % 62"
        f" AS INT) + 1, 1)"
        for i in range(_WIDTH)
    ]
    return " || ".join(chars)


def _dec_sql(col: str) -> str:
    terms = [
        f"(strpos('{_B62}', substring({col}, {i + 1}, 1)) - 1)"
        f" * {62 ** (_WIDTH - 1 - i)}"
        for i in range(_WIDTH)
    ]
    return "(" + " + ".join(terms) + ")"


_B62_ORACLE = f"""
WITH enc AS (
    SELECT c_custkey, {_enc_sql('c_custkey')} AS code
    FROM customer
)
SELECT c_custkey, code,
       CAST({_dec_sql('code')} AS BIGINT) AS decoded,
       CAST({_dec_sql('code')} AS BIGINT) = c_custkey AS roundtrip_ok
FROM enc
"""


@query("expr_base62_codec", _B62_ORACLE)
def expr_base62_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic base62 external-id codec: encode each customer key
    as a fixed-width 6-char [0-9A-Za-z] code (capacity 62^6 ≈ 5.7e10)
    and decode it back in the same plan, asserting the round trip
    row-by-row — the shape of every "public short id" column (URL
    slugs, coupon codes, share links) that must JOIN back to bigint
    keys without a lookup table. Both directions are fixed six-step
    div/mod (encode) and strpos/multiply (decode) expression chains —
    no loops, no UDF, whole-stage codegen; an id column like this
    costs nothing to mint at any scale. Property test asserts the
    encoding is injective over the table.
    """
    cust = read_table(spark, sf_dir, "customer")
    enc = F.concat(
        *[
            F.substring(
                F.lit(_B62),
                (
                    F.floor(F.col("c_custkey") / (62 ** (_WIDTH - 1 - i)))
                    % 62
                ).cast("int")
                + 1,
                1,
            )
            for i in range(_WIDTH)
        ]
    )
    dec = None
    for i in range(_WIDTH):
        term = (
            F.instr(F.lit(_B62), F.substring(F.col("code"), i + 1, 1)) - 1
        ) * (62 ** (_WIDTH - 1 - i))
        dec = term if dec is None else dec + term
    return (
        cust.select("c_custkey", enc.alias("code"))
        .select(
            "c_custkey",
            "code",
            dec.cast("long").alias("decoded"),
            (dec.cast("long") == F.col("c_custkey")).alias("roundtrip_ok"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal_image_tiles — vision-preprocessing tile manifest
# ---------------------------------------------------------------------------

_TILE = 224

_TILES_ORACLE = f"""
WITH dims AS (
    SELECT doc_id,
           640 + CAST(doc_id % 5 AS INT) * 160 AS width,
           480 + CAST(doc_id % 3 AS INT) * 120 AS height
    FROM documents
),
tx AS (
    SELECT d.*, UNNEST(generate_series(0,
           CAST(ceil(CAST(width AS DOUBLE) / {_TILE}) AS INT) - 1)) AS ti
    FROM dims d
),
txy AS (
    SELECT t.*, UNNEST(generate_series(0,
           CAST(ceil(CAST(height AS DOUBLE) / {_TILE}) AS INT) - 1)) AS tj
    FROM tx t
)
SELECT doc_id, ti, tj,
       ti * {_TILE} AS x0, tj * {_TILE} AS y0,
       least({_TILE}, width - ti * {_TILE}) AS w,
       least({_TILE}, height - tj * {_TILE}) AS h
FROM txy
"""


@query("multimodal_image_tiles", _TILES_ORACLE)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tile manifest for vision preprocessing: each image (typed
    metadata only — synthetic deterministic dims standing in for the
    probed header, per `multimodal_bytes_meta`'s convention) explodes
    into its grid of {_TILE}x{_TILE} crop boxes with edge tiles
    clipped, completing the chunking family (`text_chunk_windows` for
    text, `multimodal_audio_chunks` for audio, tiles for vision).
    The manifest — not the pixels — is what flows through the plan:
    a GPU decode fleet consumes (doc_id, x0, y0, w, h) work items,
    exactly how `multimodal_frame_sample` hands off video. Fan-out is
    bounded by the tile count per image (here ≤ 5x4); all arithmetic
    is integer-exact sequence/explode, JVM-side.
    """
    docs = read_table(spark, sf_dir, "documents")
    dims = docs.select(
        "doc_id",
        (640 + (F.col("doc_id") % 5).cast("int") * 160).alias("width"),
        (480 + (F.col("doc_id") % 3).cast("int") * 120).alias("height"),
    )
    n_x = F.ceil(F.col("width").cast("double") / _TILE).cast("int")
    n_y = F.ceil(F.col("height").cast("double") / _TILE).cast("int")
    tiled = (
        dims.withColumn("ti", F.explode(F.sequence(F.lit(0), n_x - 1)))
        .withColumn("tj", F.explode(F.sequence(F.lit(0), n_y - 1)))
    )
    return tiled.select(
        "doc_id",
        F.col("ti").cast("long").alias("ti"),
        F.col("tj").cast("long").alias("tj"),
        (F.col("ti") * _TILE).cast("long").alias("x0"),
        (F.col("tj") * _TILE).cast("long").alias("y0"),
        F.least(F.lit(_TILE), F.col("width") - F.col("ti") * _TILE)
        .cast("long")
        .alias("w"),
        F.least(F.lit(_TILE), F.col("height") - F.col("tj") * _TILE)
        .cast("long")
        .alias("h"),
    )
