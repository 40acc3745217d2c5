"""Guardrail tier: the screens that sit between raw data and
downstream consumers — impossible-travel (account-compromise) flags on
the event stream, code-vs-prose routing for corpus construction,
off-policy (IPS) evaluation of a targeting rule from logged data, and
regex-mask pattern profiling of string columns.

Scale notes baked into each builder:
- impossible travel is one user-keyed lag window with an
  INTEGER-cross-multiplied speed test (dist² · 3600² > v²max · Δt²) —
  no sqrt, no float boundary, one shuffle on user_id; the synthetic
  per-day location stands in for a geo-IP column with the same plan;
- code detection is per-row regexp arithmetic + a literal rule —
  codegen-only, the cheap router that decides which corpus lane
  (`corpus_clean_filter` vs a code pipeline) a document enters;
- IPS evaluation needs the logging policy's propensities — estimated
  from the SAME log in one tiny rollup and broadcast back — and then
  one conditional aggregate computes both the IPS and self-normalized
  (SNIPS) values plus the effective sample size; the fact is touched
  twice only logically (propensity rollup + weighted pass), sharing
  one scan subtree;
- pattern profiling collapses every string to its shape mask with a
  fixed regexp_replace chain (A/a/9 classes, repeats collapsed), so
  the profile is a hash aggregate over a tiny mask keyspace — the
  standard "what formats live in this column" DQ readout at any
  scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# events_impossible_travel — integer-exact speed gate on consecutive events
# ---------------------------------------------------------------------------

_VMAX2 = 2500  # (50 grid units per hour)^2

_TRAVEL_ORACLE = f"""
WITH located AS (
    SELECT user_id, ts, event_id,
           (user_id * 7919 + date_diff('day', TIMESTAMP '2024-01-01',
                                       date_trunc('day', ts)) * 101) % 1000
               AS x,
           (user_id * 104729 + date_diff('day', TIMESTAMP '2024-01-01',
                                         date_trunc('day', ts)) * 211) % 1000
               AS y
    FROM events
),
moves AS (
    SELECT user_id, ts, x, y,
           lag(x) OVER w AS px, lag(y) OVER w AS py,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
    FROM located
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
scored AS (
    SELECT user_id, ts,
           (x - px) * (x - px) + (y - py) * (y - py) AS dist2,
           dt_us // 1000000 AS dt_s
    FROM moves WHERE px IS NOT NULL
)
SELECT user_id,
       COUNT(*) AS n_moves,
       SUM(CASE WHEN dist2 * 3600 * 3600 > {_VMAX2} * dt_s * dt_s
                THEN 1 ELSE 0 END) AS n_flagged
FROM scored
GROUP BY 1
HAVING SUM(CASE WHEN dist2 * 3600 * 3600 > {_VMAX2} * dt_s * dt_s
             THEN 1 ELSE 0 END) > 0
"""


@query("events_impossible_travel", _TRAVEL_ORACLE)
def events_impossible_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-travel screen: flag users whose consecutive events
    imply moving faster than v_max between (synthetic per-day grid)
    locations — the standard account-compromise signal over geo-IP'd
    logs. The speed test never leaves integers: instead of
    sqrt(dist²)/Δt > v, both sides square and cross-multiply
    (dist²·3600² > v²max·Δt²_s), so the flag is bigint-exact and
    engine-identical — the same discipline as `join_spatial_grid`'s
    threshold. One user-keyed lag window (single shuffle), one hash
    aggregate; the HAVING keeps only users with at least one flagged
    hop, which is the page-the-analyst output. With real data the
    location column is a geo-IP join (`join_ip_cidr_prefix` is the
    lookup shape) — the window plan is unchanged.
    """
    ev = read_table(spark, sf_dir, "events")
    day = F.expr(
        "date_diff(DAY, timestamp'2024-01-01', date_trunc('day', ts))"
    )
    located = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("user_id") * 7919 + day * 101) % 1000).alias("x"),
        ((F.col("user_id") * 104729 + day * 211) % 1000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    moves = located.select(
        "user_id",
        "ts",
        "x",
        "y",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "dt_us"
        ),
    ).where(F.col("px").isNotNull())
    dist2 = (F.col("x") - F.col("px")) * (F.col("x") - F.col("px")) + (
        F.col("y") - F.col("py")
    ) * (F.col("y") - F.col("py"))
    dt_s = F.expr("dt_us div 1000000")
    flagged = F.when(
        dist2 * 3600 * 3600 > F.lit(_VMAX2) * dt_s * dt_s, 1
    ).otherwise(0)
    return (
        moves.select("user_id", flagged.alias("flag"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.sum("flag").alias("n_flagged"),
        )
        .where(F.col("n_flagged") > 0)
    )


# ---------------------------------------------------------------------------
# text_code_detect — code-vs-prose routing signal
# ---------------------------------------------------------------------------

_CODE_KW = r"\b(def|class|return|import|function|var|const|void|int|public)\b"

_CODE_ORACLE = f"""
WITH scored AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '[{{}}();=<>\\[\\]]')) AS symbols,
           greatest(length(text), 1) AS chars,
           len(regexp_extract_all(lower(text), '{_CODE_KW}')) AS kw_hits
    FROM documents
)
SELECT doc_id,
       floor(CAST(symbols AS DOUBLE) / chars * 1e6 + 0.5) / 1e6
           AS symbol_density,
       kw_hits,
       symbols * 50 > chars OR kw_hits >= 2 AS is_code
FROM scored
"""


@query("text_code_detect", _CODE_ORACLE)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose router: per document, the code-symbol density
    (braces/parens/operators per char) and programming-keyword hits,
    combined into an is_code flag (symbol share > 2% — compared as the
    exact integer cross-product symbols·50 > chars — or ≥2 keyword
    hits). This is the lane switch at the top of a training-data
    pipeline: code goes to a code pipeline (different dedup grain,
    different quality gates), prose continues to
    `corpus_clean_filter`/`corpus_quality_gopher` — misrouting either
    way poisons both corpora. Pure regexp arithmetic, zero shuffles,
    and the flag's threshold compare is integer-exact (no float
    density at the decision boundary).
    """
    docs = read_table(spark, sf_dir, "documents")
    symbols = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[{}();=<>\[\]]"), 0)
    ).cast("long")
    chars = F.greatest(F.length("text"), F.lit(1)).cast("long")
    kw = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_CODE_KW), 0)
    ).cast("long")
    return docs.select(
        "doc_id",
        r6(symbols.cast("double") / chars).alias("symbol_density"),
        kw.alias("kw_hits"),
        ((symbols * 50 > chars) | (kw >= 2)).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# ml_offpolicy_ips — counterfactual policy value from logged data
# ---------------------------------------------------------------------------

_TYPES = ["click", "error", "purchase", "signup", "view"]

_IPS_ORACLE = f"""
WITH props AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS p
    FROM events GROUP BY 1
),
scored AS (
    SELECT e.user_id, e.event_type, e.value, p.p,
           CASE e.user_id % 5
                {" ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(_TYPES))}
           END AS target_action
    FROM events e JOIN props p USING (event_type)
),
weighted AS (
    SELECT CASE WHEN event_type = target_action THEN 1.0 / p ELSE 0 END AS w,
           CASE WHEN event_type = target_action THEN value / p ELSE 0 END
               AS wr
    FROM scored
)
SELECT floor(AVG(wr) * 1e6 + 0.5) / 1e6 AS ips_value,
       floor(SUM(wr) / SUM(w) * 1e6 + 0.5) / 1e6 AS snips_value,
       floor(SUM(w) * SUM(w) / SUM(w * w) * 1e4 + 0.5) / 1e4
           AS effective_n
FROM weighted
"""


@query("ml_offpolicy_ips", _IPS_ORACLE)
def ml_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation: estimate the value of a NEW targeting
    rule (each user segment gets one action) from ALREADY-LOGGED
    traffic via inverse-propensity scoring — the estimator that
    answers "what would this policy have earned" without an A/B test.
    Logging propensities are estimated from the same log (per-action
    share, a 5-row rollup broadcast back); the IPS average, the
    self-normalized SNIPS variant (bias-variance robust when weights
    are skewed), and Kish's effective sample size (ΣW)²/ΣW² — the
    honesty meter: tiny effective_n means the estimate rides on a few
    lucky matches — all come from ONE conditional aggregate. At
    100 TB: identical plan; the only state is the action rollup.
    """
    ev = read_table(spark, sf_dir, "events")
    props = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    props = props.withColumn(
        "p",
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy()),
    ).drop("n")
    target = F.element_at(
        F.array(*[F.lit(t) for t in _TYPES]),
        (F.col("user_id") % 5).cast("int") + 1,
    )
    scored = ev.join(F.broadcast(props), "event_type").select(
        "event_type",
        "value",
        "p",
        target.alias("target_action"),
    )
    hit = F.col("event_type") == F.col("target_action")
    w = F.when(hit, 1.0 / F.col("p")).otherwise(0.0)
    wr = F.when(hit, F.col("value") / F.col("p")).otherwise(0.0)
    return scored.select(w.alias("w"), wr.alias("wr")).agg(
        r6(F.avg("wr")).alias("ips_value"),
        r6(F.sum("wr") / F.sum("w")).alias("snips_value"),
        (
            F.floor(
                F.sum("w") * F.sum("w") / F.sum(F.col("w") * F.col("w")) * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("effective_n"),
    )


# ---------------------------------------------------------------------------
# dq_pattern_profile — regex-mask format census of string columns
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH cols AS (
    SELECT 'c_name' AS column_name, c_name AS v FROM customer
    UNION ALL
    SELECT 'c_mktsegment', c_mktsegment FROM customer
),
collapsed AS (
    SELECT column_name,
           regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                   v, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'),
                   '[0-9]', '9', 'g'), 'A+', 'A', 'g'),
                   'a+', 'a', 'g'), '9+', '9', 'g') AS mask
    FROM cols
),
counts AS (
    SELECT column_name, mask, COUNT(*) AS n FROM collapsed GROUP BY 1, 2
)
SELECT column_name, mask, n,
       floor(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY column_name) * 1e6 + 0.5) / 1e6
           AS share
FROM counts
"""


@query("dq_pattern_profile", _PATTERN_ORACLE)
def dq_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format census: collapse every string to its shape mask (upper
    runs → A, lower runs → a, digit runs → 9, punctuation verbatim)
    and count the distinct formats per column — the profiler readout
    that catches the '12 rows where the id has a letter in it' class
    of corruption that type checks cannot see (everything is a valid
    VARCHAR). The mask chain is a fixed regexp_replace cascade
    (codegen, one pass over the bytes), and because masks collapse
    repeats, the aggregate's keyspace is tiny however long the
    strings are — the profile of a 100 TB column is a handful of
    (column, mask, n, share) rows. Share uses a per-column window
    over the mask rollup.
    """
    cust = read_table(spark, sf_dir, "customer")
    cols = cust.select(
        F.lit("c_name").alias("column_name"), F.col("c_name").alias("v")
    ).unionByName(
        cust.select(
            F.lit("c_mktsegment").alias("column_name"),
            F.col("c_mktsegment").alias("v"),
        )
    )
    mask = F.col("v")
    for pat, rep in [
        ("[A-Z]", "A"),
        ("[a-z]", "a"),
        ("[0-9]", "9"),
        ("A+", "A"),
        ("a+", "a"),
        ("9+", "9"),
    ]:
        mask = F.regexp_replace(mask, pat, rep)
    counts = (
        cols.select("column_name", mask.alias("mask"))
        .groupBy("column_name", "mask")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcol = Window.partitionBy("column_name")
    return counts.select(
        "column_name",
        "mask",
        "n",
        r6(F.col("n").cast("double") / F.sum("n").over(wcol)).alias("share"),
    )
