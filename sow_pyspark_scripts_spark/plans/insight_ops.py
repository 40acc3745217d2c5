"""Association / statistical-testing tier: market-basket co-occurrence
mining, categorical-independence and distribution-distance tests, a
burst-rate abuse screen, and exact mergeable distinct counting via
bitmaps. These are the "is this data what I think it is" queries run
over a training-data warehouse before (and after) every big ingest —
the statistical siblings of the data-quality tier
(``plans/quality_ops.py``), extending the reference's analytics surface
(SURVEY.md §2.5 notes grouping/aggregates come free and should be
exposed; north-star tier per BASELINE.json).

Scale notes baked into each builder:
- basket pairs NEVER self-join the fact: items collapse to one
  array per order first (shuffle keyed on the order id), then pairs
  come from a bounded double-explode of that array — fan-out is
  O(items_per_order^2), a per-row constant, not a join;
- the chi-square contingency table is a single hash aggregate to a
  segment x priority grid (tens of rows); margins and expectations are
  windows over that tiny rollup, never over the fact;
- the KS statistic quantizes values to fixed-width bins FIRST, so the
  cumulative-distribution windows order thousands of bins, not
  billions of rows — the same aggregate-then-window discipline as
  ``win_cumulative_share``; cumulative counts stay integer-exact;
- the burst screen's 60 s trailing count is a RANGE frame per user —
  one shuffle keyed on user_id, sorted within partitions only;
- bitmap distinct is the Snowflake/Iceberg trick: user ids become
  (bucket, bit) positions, each bucket folds to a fixed 4 KiB bitmap,
  and bucket bitmaps OR-merge associatively — an EXACT distinct count
  with partial-aggregate mergeability (unlike count(distinct), which
  must re-shuffle raw ids; like HLL, but lossless).
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import with_prefix_sum
from ..functions.det import mean_grid, mean_grid_sql, r6
from ..registry import query
from ..sources import read_table

_M6V = mean_grid_sql("v")


# ---------------------------------------------------------------------------
# basket_affinity_pairs — market-basket part-pair co-occurrence
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 3

_BASKET_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM items a
JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
HAVING count(*) >= {_BASKET_MIN_SUPPORT}
"""


@query("basket_affinity_pairs", _BASKET_ORACLE)
def basket_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs bought together (the A-priori support-count
    step of market-basket analysis). The oracle states it as the
    textbook self-join; the Spark plan refuses that join: items
    collapse to one sorted array per order (single hash aggregate on
    the order key), then ordered pairs fall out of a double explode of
    the array — a narrow map whose fan-out is bounded by the per-order
    item count (~7 in TPC-H-shaped data), independent of table size.
    The only other shuffle is the final (part_a, part_b) count, whose
    keyspace the support filter then cuts. At 100 TB the self-join
    would shuffle the fact twice and rely on AQE to survive key skew;
    this shape shuffles it once and carries constant-width rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    lhs = sets.select(F.explode("parts").alias("part_a"), "parts")
    pairs = lhs.select(
        "part_a", F.explode("parts").alias("part_b")
    ).filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= _BASKET_MIN_SUPPORT)
    )


# ---------------------------------------------------------------------------
# stats_chi_square — independence test over a contingency rollup
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
    SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           count(*) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
),
m AS (
    SELECT segment, priority, n,
           sum(n) OVER (PARTITION BY segment)  AS row_n,
           sum(n) OVER (PARTITION BY priority) AS col_n,
           sum(n) OVER ()                      AS tot_n
    FROM cells
)
SELECT segment, priority, n,
       floor(row_n * col_n / CAST(tot_n AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS expected,
       floor(
           pow(n - row_n * col_n / CAST(tot_n AS DOUBLE), 2)
           / (row_n * col_n / CAST(tot_n AS DOUBLE)) * 1e6 + 0.5
       ) / 1e6 AS contrib
FROM m
"""


@query("stats_chi_square", _CHI2_ORACLE)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen: does order priority vary by
    customer market segment? One shuffle joins the fact to the customer
    dim, one hash aggregate collapses 100 TB to a segment x priority
    grid of a few dozen integer cells; the margins (row/column/total
    sums) and per-cell expected counts and chi-square contributions are
    unbounded-frame windows over that grid — driver-scale arithmetic,
    never touching the fact again. Each contribution is two IEEE ops
    from exact integers, so the 6-dp rounding is engine-stable; the
    judge (or a notebook) sums `contrib` for the statistic, with
    dof = (segments-1)(priorities-1).
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_n = F.sum("n").over(Window.partitionBy("segment"))
    col_n = F.sum("n").over(Window.partitionBy("priority"))
    tot_n = F.sum("n").over(
        Window.partitionBy()
    )
    expected = row_n * col_n / tot_n.cast("double")
    return cells.select(
        "segment",
        "priority",
        "n",
        r6(expected).alias("expected"),
        r6(F.pow(F.col("n") - expected, F.lit(2)) / expected).alias("contrib"),
    )


# ---------------------------------------------------------------------------
# stats_ks_distance — binned two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "purchase", "click"

_KS_ORACLE = f"""
WITH b AS (
    SELECT CAST(floor(value * 10) AS BIGINT) AS bin,
           sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS na,
           sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS nb
    FROM events
    WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND value IS NOT NULL
    GROUP BY 1
),
c AS (
    SELECT sum(na) OVER (ORDER BY bin) AS ca,
           sum(nb) OVER (ORDER BY bin) AS cb,
           sum(na) OVER () AS ta,
           sum(nb) OVER () AS tb
    FROM b
)
SELECT floor(max(abs(ca / CAST(ta AS DOUBLE) - cb / CAST(tb AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS ks_stat,
       max(ta) AS n_{_KS_A}, max(tb) AS n_{_KS_B}
FROM c
"""


@query("stats_ks_distance", _KS_ORACLE)
def stats_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance between the value distributions of two
    event types — the drift test run when a new data source lands.
    Values quantize to fixed 0.1-wide bins in the map phase, so the
    single hash aggregate reduces the stream to one integer row per
    bin; the empirical CDFs are cumulative sums over that bin rollup
    (thousands of rows through one ordered window — the deliberate,
    documented single-partition step over an already-tiny relation,
    same discipline as ``win_cumulative_share``). Cumulative counts
    stay integer-exact, so the only float ops are two divisions and a
    subtraction per bin; max() commutes deterministically.
    """
    ev = read_table(spark, sf_dir, "events")
    b = (
        ev.filter(
            F.col("event_type").isin(_KS_A, _KS_B)
            & F.col("value").isNotNull()
        )
        .groupBy(F.floor(F.col("value") * 10).cast("long").alias("bin"))
        .agg(
            F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0)).alias("nb"),
        )
    )
    wcum = Window.orderBy("bin")
    wall = Window.partitionBy()
    c = b.select(
        F.sum("na").over(wcum).alias("ca"),
        F.sum("nb").over(wcum).alias("cb"),
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"),
    )
    return c.agg(
        r6(
            F.max(
                F.abs(
                    F.col("ca") / F.col("ta").cast("double")
                    - F.col("cb") / F.col("tb").cast("double")
                )
            )
        ).alias("ks_stat"),
        F.max("ta").alias(f"n_{_KS_A}"),
        F.max("tb").alias(f"n_{_KS_B}"),
    )


# ---------------------------------------------------------------------------
# events_burst_rate — peak trailing-60s request rate per user
# ---------------------------------------------------------------------------

_BURST_MIN_PEAK = 2

_BURST_ORACLE = f"""
SELECT user_id, max(c) AS peak_60s
FROM (
    SELECT user_id,
           count(*) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 59 PRECEDING AND CURRENT ROW
           ) AS c
    FROM events
)
GROUP BY user_id
HAVING max(c) >= {_BURST_MIN_PEAK}
"""


@query("events_burst_rate", _BURST_ORACLE)
def events_burst_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screen: each user's peak number of events inside any
    trailing 60-second window, keeping users whose burst rate crosses a
    threshold. The trailing count is a RANGE frame over event-time
    seconds — one shuffle keyed on user_id, per-partition sort, no
    self-join of the event stream against itself (the naive
    formulation, which shuffles the fact twice and fans out per pair).
    RANGE (not ROWS) makes simultaneous events land in one frame, so
    the count is deterministic under equal timestamps. The aggregate
    reuses the window's partitioning — AQE sees both keyed on user_id
    and plans a single exchange. Second-bucketing parity (r7 sf0.1
    oracle sweep): Spark's unix_timestamp TRUNCATES to seconds while
    DuckDB's CAST(epoch(ts) AS BIGINT) rounds half-to-even — at sf0.1
    density sub-second events near .5s straddled different buckets and
    flipped 104 survivor rows; the oracle floors explicitly.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-59, Window.currentRow)
    )
    return (
        ev.select("user_id", F.count(F.lit(1)).over(w).alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").alias("peak_60s"))
        .filter(F.col("peak_60s") >= _BURST_MIN_PEAK)
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — exact, mergeable distinct counts via bitmaps
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS distinct_users
FROM events
GROUP BY event_type
"""


@query("agg_bitmap_distinct", _BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts by event type via bitmap aggregation
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_count``, Spark built-ins). Each
    user id maps to (bucket, bit); per (type, bucket) the bits fold
    into a fixed 4 KiB bitmap with full map-side partial aggregation,
    and bucket counts sum to the exact distinct total. Unlike
    ``count(distinct)`` — which expands to a two-phase plan shuffling
    the raw id column — the bitmap partials are associative and
    constant-width, so they merge like any sum: incrementally, across
    days, across shards (the same property ``agg_hll_partition_merge``
    shows for approximate sketches, here lossless). At 100 TB this is
    the difference between shuffling terabytes of ids and shuffling
    kilobytes of bitmaps per group.
    """
    ev = read_table(spark, sf_dir, "events")
    per_bucket = (
        ev.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
        )
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bm")
        )
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"))
    )


# ---------------------------------------------------------------------------
# stats_welch_ttest — two-sample mean comparison with unequal variances
# ---------------------------------------------------------------------------

_TT_A, _TT_B = "purchase", "error"

_TT_ORACLE = f"""
WITH g AS (
    SELECT event_type,
           count(*) AS n,
           avg(value) AS m,
           var_samp(value) AS v
    FROM events
    WHERE event_type IN ('{_TT_A}', '{_TT_B}') AND value IS NOT NULL
    GROUP BY event_type
),
a AS (SELECT n, m, v FROM g WHERE event_type = '{_TT_A}'),
b AS (SELECT n, m, v FROM g WHERE event_type = '{_TT_B}')
SELECT a.n AS n_a, b.n AS n_b,
       floor(a.m * 1e6 + 0.5) / 1e6 AS mean_a,
       floor(b.m * 1e6 + 0.5) / 1e6 AS mean_b,
       floor((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) * 1e6 + 0.5) / 1e6
           AS t_stat,
       floor(pow(a.v / a.n + b.v / b.n, 2)
             / (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1))
             * 1e3 + 0.5) / 1e3 AS df
FROM a, b
"""


@query("stats_welch_ttest", _TT_ORACLE)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions — the A/B-comparison primitive. One hash aggregate
    reduces the stream to two (n, mean, var) triples; the statistic and
    Welch-Satterthwaite degrees of freedom are scalar arithmetic over
    that 2-row relation (a broadcast-able cross of two singletons).
    Means/variances are sums of doubles, so the last-ulp may differ by
    reduction order; with ~1e3+ rows per group the relative error is
    ~1e-12, far inside the 6-dp (df: 3-dp) rounding.
    """
    ev = read_table(spark, sf_dir, "events")
    g = (
        ev.filter(
            F.col("event_type").isin(_TT_A, _TT_B) & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = g.filter(F.col("event_type") == _TT_A).select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("v").alias("v_a")
    )
    b = g.filter(F.col("event_type") == _TT_B).select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("v").alias("v_b")
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    df_num = F.pow(se2, F.lit(2))
    df_den = F.pow(F.col("v_a") / F.col("n_a"), F.lit(2)) / (F.col("n_a") - 1) + F.pow(
        F.col("v_b") / F.col("n_b"), F.lit(2)
    ) / (F.col("n_b") - 1)
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        r6(F.col("m_a")).alias("mean_a"),
        r6(F.col("m_b")).alias("mean_b"),
        r6((F.col("m_a") - F.col("m_b")) / F.sqrt(se2)).alias("t_stat"),
        (F.floor(df_num / df_den * 1e3 + F.lit(0.5)) / 1e3).alias("df"),
    )


# ---------------------------------------------------------------------------
# dq_reconcile_order_totals — header-vs-lines financial reconciliation
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH lines AS (
    SELECT l_orderkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100 + 0.5) AS BIGINT)) AS line_cents
    FROM lineitem GROUP BY l_orderkey
),
d AS (
    SELECT abs(line_cents
               - CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS diff
    FROM orders o JOIN lines l ON o.o_orderkey = l.l_orderkey
)
SELECT count(*) AS n_orders,
       sum(CASE WHEN diff > 1 THEN 1 ELSE 0 END) AS n_mismatched,
       max(diff) AS max_abs_diff_cents,
       floor(avg(diff) * 1e6 + 0.5) / 1e6 AS mean_abs_diff_cents
FROM d
"""


@query("dq_reconcile_order_totals", _RECON_ORACLE)
def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: does each order header's
    total match the sum of its line-item net charges? The per-line
    charge converts to integer cents in the map phase (floor(x*100+0.5)
    — one IEEE expression, bit-identical in both engines), so the
    per-order sums, diffs, and mismatch counts are all exact integer
    arithmetic regardless of aggregation order — the only way a
    tolerance compare ("diff > 1 cent") is reproducible at 100 TB. One
    shuffle aggregates lines to order grain; the header join is then
    key-to-key on co-aggregated relations, and the final audit row is a
    scalar aggregate.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
        + F.lit(0.5)
    ).cast("long")
    lines = li.groupBy("l_orderkey").agg(F.sum(line_cents).alias("line_cents"))
    hdr_cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = orders.join(lines, orders.o_orderkey == lines.l_orderkey).select(
        F.abs(F.col("line_cents") - hdr_cents).alias("diff")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("diff") > 1, 1).otherwise(0)).alias("n_mismatched"),
        F.max("diff").alias("max_abs_diff_cents"),
        r6(F.avg("diff")).alias("mean_abs_diff_cents"),
    )


# ---------------------------------------------------------------------------
# corpus_bigram_surprisal — bigram-LM document scoring
# ---------------------------------------------------------------------------

_BG_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
    FROM documents
),
db AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
           unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
    FROM toks WHERE len(t) >= 2
),
bg AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY w1, w2),
ug AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY w1),
scored AS (
    SELECT d.doc_id,
           -ln(CAST(b.c12 AS DOUBLE) / u.c1) AS s
    FROM db d
    JOIN bg b ON d.w1 = b.w1 AND d.w2 = b.w2
    JOIN ug u ON d.w1 = u.w1
)
SELECT doc_id, count(*) AS n_bigrams,
       floor(avg(s) * 1e6 + 0.5) / 1e6 AS mean_surprisal
FROM scored GROUP BY doc_id
"""


@query("corpus_bigram_surprisal", _BG_ORACLE)
def corpus_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document: train P(w2|w1) =
    C(w1,w2)/C(w1) on the corpus itself, then score each document by
    its mean -ln P over its bigrams — one rung up from
    ``text_unigram_surprisal`` (fluency, not just vocabulary; boilerplate
    and template spam score near zero, word salad scores high). The
    bigram stream comes from a per-row array zip (narrow transform) and
    is persisted, because three consumers read it (the bigram model,
    built on it; the scoring join back onto it; and through bg the
    unigram margin) — without the persist each consumer would re-scan
    and re-zip the corpus. The unigram margin re-aggregates the (much
    smaller) bigram model rather than the stream, and the model joins
    back on the same bigram key it was built on. The per-doc
    mean needs doc-key aggregation; ln terms sum in double with ~1e-12
    relative error, inside the 6-dp rounding.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", t.alias("t")).filter(
        (F.trim(F.lower(F.col("text"))) != "") & (F.size(t) >= 2)
    )
    zipped = toks.select(
        "doc_id",
        F.arrays_zip(
            F.slice("t", 1, F.size("t") - 1).alias("w1"),
            F.slice("t", 2, F.size("t") - 1).alias("w2"),
        ).alias("ps"),
    )
    db = (
        zipped.select("doc_id", F.explode("ps").alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .transform(_pin_lazy)
    )
    bg = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ug = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = (
        db.join(bg, ["w1", "w2"])
        .join(ug, "w1")
        .select(
            "doc_id",
            (-F.log(F.col("c12").cast("double") / F.col("c1"))).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        r6(F.avg("s")).alias("mean_surprisal"),
    )


# ---------------------------------------------------------------------------
# dq_psi_drift — population stability index between time halves
# ---------------------------------------------------------------------------

_PSI_CUT = "2024-01-16"
_PSI_BIN = 50.0

_PSI_ORACLE = f"""
WITH b AS (
    SELECT CAST(floor(value / {_PSI_BIN}) AS BIGINT) AS bin,
           sum(CASE WHEN ts < TIMESTAMP '{_PSI_CUT}' THEN 1 ELSE 0 END) AS nref,
           sum(CASE WHEN ts >= TIMESTAMP '{_PSI_CUT}' THEN 1 ELSE 0 END) AS ncur
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
),
t AS (
    SELECT bin, nref, ncur,
           sum(nref) OVER () AS tref, sum(ncur) OVER () AS tcur,
           count(*) OVER () AS nbins
    FROM b
),
p AS (
    SELECT bin,
           (nref + 0.5) / (tref + 0.5 * nbins) AS pr,
           (ncur + 0.5) / (tcur + 0.5 * nbins) AS pc
    FROM t
),
q AS (
    SELECT CAST(floor((pr - pc) * ln(pr / pc) * 1000000000.0 + 0.5) AS BIGINT) AS t9
    FROM p
)
SELECT floor(CAST(sum(t9) AS DOUBLE) / 1000.0 + 0.5) / 1000000.0 AS psi,
       count(*) AS n_bins
FROM q
"""


@query("dq_psi_drift", _PSI_ORACLE)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the first and second half of
    the event stream — the standard go/no-go drift score for a feature
    before retraining (PSI < 0.1 stable, > 0.25 shifted). Values land
    in fixed-width bins in the map phase (integer bin ids, no
    reference-quantile pass needed), one hash aggregate produces the
    two integer histograms side by side, and the PSI folds over that
    bin rollup with Laplace-smoothed shares (+0.5 per bin) so empty
    bins on either side stay finite. Everything after the single
    shuffle is arithmetic over tens of rows; counts are exact ints, so
    the 6-dp rounding of the final fold is engine-stable.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = (
        ev.groupBy(
            F.floor(F.col("value") / _PSI_BIN).cast("long").alias("bin")
        )
        .agg(
            F.sum(
                F.when(F.col("ts") < F.lit(_PSI_CUT).cast("timestamp"), 1).otherwise(0)
            ).alias("nref"),
            F.sum(
                F.when(F.col("ts") >= F.lit(_PSI_CUT).cast("timestamp"), 1).otherwise(0)
            ).alias("ncur"),
        )
    )
    wall = Window.partitionBy()
    t = b.select(
        "bin",
        "nref",
        "ncur",
        F.sum("nref").over(wall).alias("tref"),
        F.sum("ncur").over(wall).alias("tcur"),
        F.count(F.lit(1)).over(wall).alias("nbins"),
    )
    pr = (F.col("nref") + 0.5) / (F.col("tref") + 0.5 * F.col("nbins"))
    pc = (F.col("ncur") + 0.5) / (F.col("tcur") + 0.5 * F.col("nbins"))
    # per-bin terms quantize to the 1e-9 grid before summing (r5,
    # functions/det.py doctrine): the fold over bins is an exact integer
    # sum, so the 6dp rounding cannot flip with either engine's sum order
    t9 = F.floor((pr - pc) * F.log(pr / pc) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return t.select(t9.alias("t9")).agg(
        (F.floor(F.sum("t9").cast("double") / F.lit(1e3) + F.lit(0.5)) / F.lit(1e6)).alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# ml_ols_normal_equation — closed-form 2-feature linear regression
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH m AS (
    SELECT avg(l_quantity) AS m1, avg(l_discount) AS m2,
           avg(l_extendedprice) AS my,
           var_samp(l_quantity) AS v1, var_samp(l_discount) AS v2,
           covar_samp(l_quantity, l_discount) AS c12,
           covar_samp(l_quantity, l_extendedprice) AS c1y,
           covar_samp(l_discount, l_extendedprice) AS c2y,
           count(*) AS n
    FROM lineitem
)
SELECT n,
       floor((v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12) * 1e6 + 0.5) / 1e6
           AS beta_quantity,
       floor((v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12) * 1e6 + 0.5) / 1e6
           AS beta_discount,
       floor((my - (v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12) * m1
                 - (v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12) * m2)
             * 1e3 + 0.5) / 1e3 AS intercept
FROM m
"""


@query("ml_ols_normal_equation", _OLS_ORACLE)
def ml_ols_normal_equation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression (price ~ quantity + discount) in
    closed form: one aggregation pass collects the covariance matrix
    and means, and the normal equations solve as scalar Cramer's-rule
    arithmetic on that single row — distributed ML without MLlib, an
    iteration loop, or a second data pass (the multi-feature step up
    from ``agg_corr_regression``'s simple slope). Using
    var_samp/covar_samp co-moments (both engines compute them with
    one-pass stable updates) rather than raw sum-of-products avoids the
    n*Sxx - Sx^2 cancellation that loses half the mantissa at large n —
    which is what makes the 6-dp (intercept: 3-dp, magnitude ~1e4)
    roundings engine-stable.
    """
    li = read_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.avg("l_quantity").alias("m1"),
        F.avg("l_discount").alias("m2"),
        F.avg("l_extendedprice").alias("my"),
        F.var_samp("l_quantity").alias("v1"),
        F.var_samp("l_discount").alias("v2"),
        F.covar_samp("l_quantity", "l_discount").alias("c12"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("c1y"),
        F.covar_samp("l_discount", "l_extendedprice").alias("c2y"),
        F.count(F.lit(1)).alias("n"),
    )
    det = F.col("v1") * F.col("v2") - F.col("c12") * F.col("c12")
    b1 = (F.col("v2") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = (F.col("v1") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    return m.select(
        "n",
        r6(b1).alias("beta_quantity"),
        r6(b2).alias("beta_discount"),
        (
            F.floor(
                (F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")) * 1e3
                + F.lit(0.5)
            )
            / 1e3
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# events_streaks_islands — gaps-and-islands consecutive-day streaks
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
r AS (
    SELECT user_id, d,
           row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
    FROM days
),
isl AS (
    SELECT user_id, count(*) AS len
    FROM r GROUP BY user_id, d - CAST(rn AS INTEGER)
)
SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks
FROM isl GROUP BY user_id
"""


@query("events_streaks_islands", _STREAK_ORACLE)
def events_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands pattern (date minus dense row_number is constant
    within an unbroken run, so the difference IS the island key). The
    stream first collapses to distinct (user, day) — shuffle carries at
    most users x days rows, not events — then every window and both
    aggregates key on user_id, so after that first exchange the whole
    cascade is partition-local; AQE coalesces the ~constant-width
    intermediate. No self-join, no per-day spine needed.
    """
    ev = read_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    isl = (
        days.select("user_id", "d", rn.alias("rn"))
        .select("user_id", F.date_sub(F.col("d"), F.col("rn")).alias("grp"))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return isl.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# text_token_count_regex — BPE-pretokenizer-style token accounting
# ---------------------------------------------------------------------------

_TOKRE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_TOKRE_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_TOKRE}')) AS BIGINT)
           AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS n_alpha,
       CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT)
           AS n_num
FROM documents
"""


@query("text_token_count_regex", _TOKRE_ORACLE)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-pretokenizer-style regex (letter runs |
    digit runs | single punctuation — the shape of the GPT-2/tiktoken
    pre-split, ASCII-simplified so Java and RE2 regex flavors agree):
    the budget estimator run over a corpus before tokenizing 100 TB for
    real. ``regexp_extract_all`` + ``size`` is pure codegen'd map work —
    zero shuffles, scan-partition parallel, and the counts-by-class
    split (words vs numbers) feeds the mixture dashboards
    ``corpus_domain_mix`` models. Whitespace-split counts (``text_stats``)
    undercount punctuation-heavy and code-like text; this is the
    tokenizer-faithful census.
    """
    docs = read_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lowered, F.lit(_TOKRE), 0)).cast("long").alias(
            "n_tokens"
        ),
        F.size(F.regexp_extract_all(lowered, F.lit("[a-z]+"), 0)).cast("long").alias(
            "n_alpha"
        ),
        F.size(F.regexp_extract_all(lowered, F.lit("[0-9]+"), 0)).cast("long").alias(
            "n_num"
        ),
    )


# ---------------------------------------------------------------------------
# text_sentiment_lexicon — lexicon-based affect scoring
# ---------------------------------------------------------------------------

_SENT_POS = ("fast", "small")
_SENT_NEG = ("slow", "big")

_SENT_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
    FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN {_SENT_POS})) AS BIGINT) AS n_pos,
       CAST(len(list_filter(toks, x -> x IN {_SENT_NEG})) AS BIGINT) AS n_neg,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE floor((len(list_filter(toks, x -> x IN {_SENT_POS}))
                        - len(list_filter(toks, x -> x IN {_SENT_NEG})))
                       / CAST(len(toks) AS DOUBLE) * 1e6 + 0.5) / 1e6
       END AS sentiment
FROM t
"""


@query("text_sentiment_lexicon", _SENT_ORACLE)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the large-scale-sentiment-on-
    Spark recipe, cf. EDBT 2016 in PAPERS.md): count matches against
    positive/negative term lists per document, normalize by length.
    With a literal-sized lexicon the whole scorer is per-row
    higher-order-function work — ``filter(toks, x -> x IN (...))``
    compiles into codegen, ZERO shuffles, scan-partition parallel (for
    a VADER-sized lexicon, broadcast a lexicon relation and semi-join
    the exploded token stream instead; same output contract). Counts
    are integers and the score is one division, so 6-dp rounding is
    engine-stable. The fixture corpus's affect axis is performance
    vocabulary (fast/small vs slow/big) — the machinery, not the
    lexicon, is the operator.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = F.when(F.trim(F.lower(F.col("text"))) == "", F.array().cast("array<string>")).otherwise(t)
    n_pos = F.size(F.filter(toks, lambda x: x.isin(*_SENT_POS)))
    n_neg = F.size(F.filter(toks, lambda x: x.isin(*_SENT_NEG)))
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(
            r6((n_pos - n_neg) / n.cast("double"))
        )
        .alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# win_drawdown_max — maximum drawdown over a monthly revenue curve
# ---------------------------------------------------------------------------

_DD_ORACLE = """
WITH monthly AS (
    SELECT c.c_mktsegment AS segment,
           strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
c AS (
    SELECT segment, month,
           sum(rev) OVER (PARTITION BY segment ORDER BY month) AS cum
    FROM monthly
),
p AS (
    SELECT segment, month, cum,
           max(cum) OVER (PARTITION BY segment ORDER BY month) AS peak
    FROM c
)
SELECT segment,
       max(peak - cum) AS max_drawdown_cents,
       count(*) AS n_months
FROM p GROUP BY segment
"""


@query("win_drawdown_max", _DD_ORACLE)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative revenue curve per segment —
    the risk metric pattern (running peak minus running value, then the
    worst gap). The fact collapses to (segment, month) integer-cents
    grain FIRST (one shuffle with the broadcast dim folded in); the
    running sum, running max, and final max all operate over that
    ~segments x months rollup, partition-local per segment. Exact
    integer arithmetic end to end — no float drift in the running
    aggregates at any scale.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
    )
    w = Window.partitionBy("segment").orderBy("month")
    p = monthly.select(
        "segment",
        "month",
        F.sum("rev").over(w).alias("cum"),
    ).withColumn("peak", F.max("cum").over(w))
    return p.groupBy("segment").agg(
        F.max(F.col("peak") - F.col("cum")).alias("max_drawdown_cents"),
        F.count(F.lit(1)).alias("n_months"),
    )


# ---------------------------------------------------------------------------
# agg_herfindahl_index — supplier market concentration per part type prefix
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH rev AS (
    SELECT l_partkey % 10 AS category, l_suppkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS r
    FROM lineitem
    GROUP BY 1, 2
),
tot AS (
    SELECT category, r,
           sum(r) OVER (PARTITION BY category) AS t,
           count(*) OVER (PARTITION BY category) AS n_suppliers
    FROM rev
)
SELECT category,
       max(n_suppliers) AS n_suppliers,
       floor(sum(pow(r / CAST(t AS DOUBLE), 2)) * 1e6 + 0.5) / 1e6 AS hhi
FROM tot GROUP BY category
"""


@query("agg_herfindahl_index", _HHI_ORACLE)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index: per category,
    the sum of squared supplier revenue shares (1/n = perfect
    competition, 1.0 = monopoly) — the supplier-risk screen over a
    procurement fact. One hash aggregate to (category, supplier)
    integer-cents grain; the category totals are unbounded-frame
    windows over that rollup; shares and their squares are per-row
    IEEE ops from exact integers, so the 6-dp-rounded HHI fold is
    engine-stable (the sum commutes within 1e-12 over ~thousands of
    suppliers). Categories here are a partkey hash-prefix — the
    machinery targets any dimension column.
    """
    li = read_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy(
            (F.col("l_partkey") % 10).alias("category"), "l_suppkey"
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("long")
            ).alias("r")
        )
    )
    w = Window.partitionBy("category")
    tot = rev.select(
        "category",
        "r",
        F.sum("r").over(w).alias("t"),
        F.count(F.lit(1)).over(w).alias("n_suppliers"),
    )
    return tot.groupBy("category").agg(
        F.max("n_suppliers").alias("n_suppliers"),
        r6(
            F.sum(F.pow(F.col("r") / F.col("t").cast("double"), F.lit(2)))
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# dedup_exact_substring — repeated long-substring detection across docs
# ---------------------------------------------------------------------------

_SUB_W = 20

_SUB_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
    FROM documents
),
wins AS (
    SELECT DISTINCT doc_id,
           md5(array_to_string(list_slice(t, i, i + {_SUB_W} - 1), ' ')) AS h
    FROM toks,
         LATERAL unnest(range(1, len(t) - {_SUB_W} + 2)) AS u(i)
    WHERE len(t) >= {_SUB_W}
),
rep AS (
    SELECT h FROM wins GROUP BY h HAVING count(*) > 1
)
SELECT w.doc_id, count(*) AS n_shared_windows
FROM wins w JOIN rep ON w.h = rep.h
GROUP BY w.doc_id
"""


@query("dedup_exact_substring", _SUB_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication screen (the suffix-array dedup of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): any long token window that
    appears in more than one document marks shared boilerplate; per doc,
    count such windows (w=20 tokens). Windows hash to 16-byte md5 in the map phase
    (the window text itself is never shuffled — the hash is the
    suffix-array stand-in), per-doc DISTINCT collapses runs of a
    repeated phrase, one aggregate finds cross-doc repeats, and the
    semi-join back is hash-key-to-hash-key on co-aggregated relations.
    The explode is bounded (one window per token), so the shuffled
    volume is O(corpus tokens) constant-width rows — the relational
    price of avoiding a 100 TB suffix array.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", t.alias("t")).filter(F.size(t) >= _SUB_W)
    wins = (
        toks.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - _SUB_W + 1)
            ).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice("t", F.col("i"), F.lit(_SUB_W)))
            ).alias("h"),
        )
        .distinct()
    )
    rep = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") > 1
    )
    return (
        wins.join(rep.select("h"), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


# ---------------------------------------------------------------------------
# events_growth_accounting — weekly new/retained/resurrected/churned
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
),
marked AS (
    SELECT user_id, w,
           lag(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
           min(w) OVER (PARTITION BY user_id) AS first_w
    FROM uw
),
cur AS (
    SELECT strftime(w, '%Y-%m-%d') AS week,
           sum(CASE WHEN w = first_w THEN 1 ELSE 0 END) AS new_users,
           sum(CASE WHEN prev_w IS NOT NULL
                     AND CAST(datediff('day', prev_w, w) AS BIGINT) = 7
                    THEN 1 ELSE 0 END) AS retained,
           sum(CASE WHEN w <> first_w
                     AND (prev_w IS NULL
                          OR CAST(datediff('day', prev_w, w) AS BIGINT) > 7)
                    THEN 1 ELSE 0 END) AS resurrected
    FROM marked GROUP BY 1
),
churn AS (
    SELECT strftime(w + INTERVAL 7 DAY, '%Y-%m-%d') AS week,
           count(*) AS churned
    FROM marked m
    WHERE NOT EXISTS (
        SELECT 1 FROM uw u2
        WHERE u2.user_id = m.user_id AND u2.w = m.w + INTERVAL 7 DAY
    )
    GROUP BY 1
)
SELECT cur.week, new_users, retained, resurrected,
       coalesce(churn.churned, 0) AS churned_next_week
FROM cur LEFT JOIN churn ON cur.week = churn.week
"""


@query("events_growth_accounting", _GROWTH_ORACLE)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new / retained / resurrected /
    churned decomposition every growth team runs): classify each
    (user, week) by its neighbor weeks using lag and first-week windows
    — NO week-over-week self-join of the activity relation; the churn
    column (users active in week w but not w+1) falls out of the same
    lag relation as an anti-join expressed over pre-deduped pairs.
    The stream collapses to distinct (user, week) first, every window
    keys on user_id, both aggregates key on week — two narrow-keyed
    shuffles over user x week rows total, each orders of magnitude
    smaller than the event stream.
    """
    ev = read_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    wlag = Window.partitionBy("user_id").orderBy("w")
    wall = Window.partitionBy("user_id")
    marked = uw.select(
        "user_id",
        "w",
        F.lag("w").over(wlag).alias("prev_w"),
        F.min("w").over(wall).alias("first_w"),
        F.lead("w").over(wlag).alias("next_w"),
    ).transform(_pin_lazy)
    day7 = F.col("w") + F.expr("INTERVAL 7 DAY")
    cur = marked.groupBy(
        F.date_format("w", "yyyy-MM-dd").alias("week")
    ).agg(
        F.sum(F.when(F.col("w") == F.col("first_w"), 1).otherwise(0)).alias(
            "new_users"
        ),
        F.sum(
            F.when(
                F.col("prev_w").isNotNull()
                & (F.datediff(F.col("w"), F.col("prev_w")) == 7),
                1,
            ).otherwise(0)
        ).alias("retained"),
        F.sum(
            F.when(
                (F.col("w") != F.col("first_w"))
                & (
                    F.col("prev_w").isNull()
                    | (F.datediff(F.col("w"), F.col("prev_w")) > 7)
                ),
                1,
            ).otherwise(0)
        ).alias("resurrected"),
    )
    churn = (
        marked.filter(
            F.col("next_w").isNull() | (F.col("next_w") != day7)
        )
        .groupBy(F.date_format(day7, "yyyy-MM-dd").alias("week"))
        .agg(F.count(F.lit(1)).alias("churned_next_week"))
    )
    return cur.join(churn, "week", "left").select(
        "week",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce(F.col("churned_next_week"), F.lit(0)).alias(
            "churned_next_week"
        ),
    )


# ---------------------------------------------------------------------------
# dq_k_anonymity — quasi-identifier re-identification audit
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_ORACLE = f"""
WITH qi AS (
    SELECT c_nationkey AS nation, c_mktsegment AS segment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS balance_band,
           count(*) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT CAST(nation AS BIGINT) AS nation, segment, balance_band, group_size
FROM qi WHERE group_size < {_KANON_K}
"""


@query("dq_k_anonymity", _KANON_ORACLE)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit before releasing a dataset for training:
    every quasi-identifier combination (nation x segment x coarse
    balance band) that isolates fewer than k=5 individuals is a
    re-identification risk and must be suppressed or generalized — the
    governance sibling of ``corpus_pii_scrub`` (direct identifiers).
    One hash aggregate over the generalized keys; the k filter prunes
    its output. The generalization (banding a continuous attribute in
    the map phase) is itself the k-anonymity lever: widen the band,
    shrink the violation list — re-runnable cheaply because nothing
    but the one aggregate ever touches the table.
    """
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "balance_band"
            ),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < _KANON_K)
    )


# ---------------------------------------------------------------------------
# agg_skyline_pareto — 2-D skyline (Pareto front) over a supplier rollup
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH s AS (
    SELECT l_suppkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS cost_cents,
           sum(CAST(l_quantity AS BIGINT)) AS qty
    FROM lineitem GROUP BY l_suppkey
),
r AS (
    SELECT l_suppkey, cost_cents, qty,
           max(qty) OVER (
               ORDER BY cost_cents, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS best_cheaper_qty
    FROM s
)
SELECT l_suppkey, cost_cents, qty
FROM r
WHERE best_cheaper_qty IS NULL OR qty > best_cheaper_qty
"""


@query("agg_skyline_pareto", _SKYLINE_ORACLE)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto front (minimize cost, maximize quantity):
    a supplier survives iff no other supplier is both cheaper and
    higher-volume. The classic OLAP skyline operator, reduced for two
    dimensions to a sort + running max: after ordering by cost, a point
    is dominated exactly when some earlier point already achieved more
    quantity. The fact collapses to supplier grain FIRST (integer
    cents/units, one shuffle); the strictly-preceding running max then
    runs as the two-phase distributed prefix scan (`with_prefix_max`,
    cost-range buckets), so no single-partition window ever sees the
    supplier rollup — a grain that scales with SF. Ties on cost
    resolve by suppkey order, making the front deterministic; a point
    equal in cost and quantity to a front member survives (strict
    dominance), matching the oracle's STRICT `>` on both axes.
    """
    from ..operators.relational import with_prefix_max

    li = read_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + F.lit(0.5)
            ).cast("long")
        ).alias("cost_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    r = with_prefix_max(
        s,
        "qty",
        [F.col("cost_cents"), F.col("l_suppkey")],
        F.floor(F.col("cost_cents") / F.lit(1 << 24)).cast("long"),
        col_name="best_cheaper_qty",
    )
    return r.filter(
        F.col("best_cheaper_qty").isNull()
        | (F.col("qty") > F.col("best_cheaper_qty"))
    ).select("l_suppkey", "cost_cents", "qty")


# ---------------------------------------------------------------------------
# join_asof_forward — forward as-of: next event at or after
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
SELECT c.event_id,
       c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts,
       CAST(CASE WHEN p.ts IS NULL THEN NULL
            ELSE epoch_ms(p.ts) // 1000 - epoch_ms(c.ts) // 1000 END
            AS BIGINT) AS gap_sec
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts <= p.ts
"""


@query("join_asof_forward", _ASOF_FWD_ORACLE)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each click matched to the user's NEXT
    purchase at or after it (time-to-conversion), mirroring
    ``join_asof``'s backward direction and completing the as-of family
    (backward / backward-with-tolerance / forward). Same single-shuffle
    union trick, reversed: interleave both streams ordered by event
    time with purchases sorting after clicks at equal timestamps, and
    take ``first(purchase_ts, ignorenulls)`` over the
    current-row-to-unbounded-FOLLOWING frame — no range self-join, no
    per-pair fan-out, state linear in the partition like the backward
    form. The gap is computed from the matched timestamp only, so
    equal-timestamp purchase ties cannot make the output ambiguous.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("kind"),
        F.lit(None).cast("timestamp").alias("pts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(1).alias("kind"), F.col("ts").alias("pts"),
    )
    both = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = both.withColumn(
        "next_pts", F.first("pts", ignorenulls=True).over(w)
    ).filter(F.col("kind") == 0)
    return matched.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("next_pts", "yyyy-MM-dd HH:mm:ss").alias(
            "next_purchase_ts"
        ),
        (F.unix_timestamp("next_pts") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# events_entropy_per_user — behavioral diversity score
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
),
t AS (
    SELECT user_id, n, sum(n) OVER (PARTITION BY user_id) AS tot FROM c
)
SELECT user_id,
       max(tot) AS n_events,
       count(*) AS n_types,
       floor(sum(-(n / CAST(tot AS DOUBLE)) * ln(n / CAST(tot AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS entropy
FROM t GROUP BY user_id
"""


@query("events_entropy_per_user", _ENTROPY_ORACLE)
def events_entropy_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (0 = single-action bots, ln(5) =
    uniform across all five types) that feeds both bot screens
    (``events_burst_rate``) and engagement models. One hash aggregate
    to (user, type) grain — at most |types| rows per user — then the
    per-user total and the -p·ln(p) fold both key on user_id:
    partition-local after the single shuffle. Counts are exact ints;
    the fold sums ≤5 deterministic doubles, far inside 6-dp rounding.
    """
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn("tot", F.sum("n").over(Window.partitionBy("user_id")))
    p = F.col("n") / F.col("tot").cast("double")
    return t.groupBy("user_id").agg(
        F.max("tot").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        r6(F.sum(-p * F.log(p))).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# agg_order_to_ship_latency — fulfillment latency percentiles
# ---------------------------------------------------------------------------

_O2S_ORACLE = """
WITH l AS (
    SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY 1
),
d AS (
    SELECT o.o_orderpriority AS priority,
           CAST(datediff('day', o.o_orderdate, l.first_ship) AS BIGINT)
               AS days_to_ship
    FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       count(*) AS n_orders,
       round(quantile_cont(days_to_ship, 0.50), 4) AS p50_days,
       round(quantile_cont(days_to_ship, 0.95), 4) AS p95_days,
       max(days_to_ship) AS max_days
FROM d GROUP BY priority
"""


@query("agg_order_to_ship_latency", _O2S_ORACLE)
def agg_order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency percentiles by priority — the
    fulfillment SLA report (does URGENT actually ship faster?). Lines
    collapse to per-order first-ship FIRST (one shuffle on the order
    key), the header join is key-to-key on co-aggregated relations,
    and the day gaps are small exact integers, so ``percentile()``'s
    linear interpolation (== DuckDB ``quantile_cont``) lands on exact
    halves — engine-stable without wide rounding margins. EXACT
    percentile is scale-safe here, unlike on a continuous column:
    Spark's percentile state is a value->count map, so per-priority
    state is bounded by the ~100 distinct day gaps, not the
    order count (the bounded-integer-domain exception to the
    functions/sketch.py rule).
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    l = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    d = orders.join(l, orders.o_orderkey == l.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("first_ship"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_ship"),
    )
    return d.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.expr("percentile(days_to_ship, 0.50)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(days_to_ship, 0.95)"), 4).alias("p95_days"),
        F.max("days_to_ship").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# embedding_centroid_by_group — element-wise vector mean per label
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = f"""
SELECT CAST(label AS BIGINT) AS label,
       CAST(pos AS BIGINT) AS pos,
       count(*) AS n_vectors,
       {_M6V} AS centroid_v
FROM (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
)
GROUP BY label, pos
"""


@query("embedding_centroid_by_group", _CENTROID_ORACLE)
def embedding_centroid_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid of the embedding vectors per label — the
    vector-AGGREGATION primitive (class prototypes, IVF coarse-centroid
    training, drift monitoring of an embedding space) complementing the
    per-row pooling of ``embedding_mean_pool``. ``posexplode`` turns
    each 64-d vector into (pos, component) rows in the map phase; one
    hash aggregate on (label, pos) — a keyspace of labels x dims,
    thousands of cells however big the table — computes the means with
    full map-side partial aggregation. Scalar output rows rather than
    re-assembled arrays keep the result hash-stable and directly
    joinable by downstream nearest-centroid scoring.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("v").cast("double").alias("v"),
    )
    return flat.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        mean_grid(F.col("v")).alias("centroid_v"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_median — quantity-weighted median price
# ---------------------------------------------------------------------------

_WMED_ORACLE = """
WITH g AS (
    SELECT l_returnflag AS flag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
           sum(CAST(l_quantity AS BIGINT)) AS wt
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT flag, price_cents,
           sum(wt) OVER (PARTITION BY flag ORDER BY price_cents) AS cum,
           sum(wt) OVER (PARTITION BY flag) AS tot
    FROM g
)
SELECT flag,
       min(price_cents) AS weighted_median_cents,
       max(tot) AS total_weight
FROM c
WHERE cum * 2 >= tot
GROUP BY flag
"""


@query("agg_weighted_median", _WMED_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (lower weighted
    median: the smallest price whose cumulative quantity reaches half
    the total) — the robust "typical unit price" a plain median of line
    rows gets wrong when line sizes vary. Prices fold to integer cents
    and weights aggregate to (flag, price) grain FIRST — one shuffle,
    constant-width rows; the cumulative and total windows then run over
    that per-flag price rollup. Every comparison (`2*cum >= tot`) is
    integer arithmetic, so the selected member is exact on any engine —
    no interpolation, no float thresholds.
    """
    li = read_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("wt"))
    wcum = Window.partitionBy("flag").orderBy("price_cents")
    wall = Window.partitionBy("flag")
    c = g.select(
        "flag",
        "price_cents",
        F.sum("wt").over(wcum).alias("cum"),
        F.sum("wt").over(wall).alias("tot"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").alias("weighted_median_cents"),
            F.max("tot").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# events_cohort_ltv — cumulative value per cohort age
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
    SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
    FROM events GROUP BY user_id
),
spend AS (
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
                AS BIGINT) AS age_weeks,
           sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS rev
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       age_weeks,
       sum(rev) OVER (
           PARTITION BY cohort_week ORDER BY age_weeks
       ) AS cum_revenue_cents
FROM spend
"""


@query("events_cohort_ltv", _LTV_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase revenue per
    signup-week cohort as it ages — the money twin of
    ``events_retention``'s headcount matrix, and the curve payback
    models are fit to. First-week assignment is one user-grain
    aggregate joined back on user_id (both sides key-partitioned);
    revenue folds to integer cents at (cohort, age) grain — a
    cohorts x ages rollup — and the cumulative window runs inside each
    cohort partition of that tiny relation. Exact integer money end to
    end; the event stream is scanned once per branch and shuffled only
    on user_id.
    """
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.date_trunc("week", "ts"))).alias(
            "cohort_week"
        )
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return spend.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
        F.sum("rev").over(w).alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# join_asof_nearest — nearest-in-time match, either direction
# ---------------------------------------------------------------------------

_ASOF_NEAR_ORACLE = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
b AS (
    SELECT c.event_id, c.user_id, c.ts, p.ts AS pts
    FROM c ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
),
f AS (
    SELECT c.event_id, p.ts AS pts
    FROM c ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT b.event_id, b.user_id,
       CAST(CASE
         WHEN b.pts IS NULL AND f.pts IS NULL THEN NULL
         WHEN b.pts IS NULL THEN epoch_ms(f.pts) // 1000 - epoch_ms(b.ts) // 1000
         WHEN f.pts IS NULL THEN epoch_ms(b.ts) // 1000 - epoch_ms(b.pts) // 1000
         ELSE least(epoch_ms(b.ts) // 1000 - epoch_ms(b.pts) // 1000,
                    epoch_ms(f.pts) // 1000 - epoch_ms(b.ts) // 1000)
       END AS BIGINT) AS nearest_gap_sec
FROM b JOIN f ON b.event_id = f.event_id
"""


@query("join_asof_nearest", _ASOF_NEAR_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of: each click's distance to the CLOSEST
    purchase by the same user, in either direction — sensor alignment /
    nearest-fill semantics, completing the as-of family's fourth
    direction (backward, backward+tolerance, forward, nearest). Both
    directional matches come from ONE interleaved pass: a single
    union of the two streams, one shuffle on user_id, with
    last(ignorenulls) looking back and first(ignorenulls) looking
    forward over the same sort — not two joins; the oracle's two ASOF
    joins are the semantic spec, not the plan. The gap is derived from
    matched timestamps alone, so equal-distance ties need no
    tiebreak: both candidates give the same gap.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("pts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("kind"), F.col("ts").alias("pts"),
    )
    both = clicks.unionByName(purchases)
    # purchases sort before clicks at equal ts (kind 0 < 1) so an
    # equal-timestamp purchase is visible to BOTH frames (gap 0).
    order = [F.col("ts"), F.col("kind")]
    wback = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    m = (
        both.withColumn("prev_pts", F.last("pts", ignorenulls=True).over(wback))
        .withColumn("next_pts", F.first("pts", ignorenulls=True).over(wfwd))
        .filter(F.col("kind") == 1)
    )
    back_gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_pts")
    fwd_gap = F.unix_timestamp("next_pts") - F.unix_timestamp("ts")
    return m.select(
        "event_id",
        "user_id",
        F.when(
            F.col("prev_pts").isNull() & F.col("next_pts").isNull(), F.lit(None)
        )
        .when(F.col("prev_pts").isNull(), fwd_gap)
        .when(F.col("next_pts").isNull(), back_gap)
        .otherwise(F.least(back_gap, fwd_gap))
        .cast("long")
        .alias("nearest_gap_sec"),
    )


# ---------------------------------------------------------------------------
# events_action_bitmask — unordered behavior-set fingerprints
# ---------------------------------------------------------------------------

_BITMASK_ORACLE = """
WITH m AS (
    SELECT user_id,
           bit_or(CASE event_type
               WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 4
               WHEN 'signup' THEN 8 WHEN 'error' THEN 16 ELSE 0 END) AS mask
    FROM events GROUP BY user_id
)
SELECT CAST(mask AS BIGINT) AS mask,
       count(*) AS n_users,
       CAST(CASE WHEN mask & 7 = 7 THEN count(*) ELSE 0 END AS BIGINT)
           AS full_funnel_users
FROM m GROUP BY mask
"""


@query("events_action_bitmask", _BITMASK_ORACLE)
def events_action_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered behavior-set fingerprints: each user's action types
    fold into one integer bitmask (view=1, click=2, purchase=4, ...),
    and the mask histogram is the full lattice of behavior combinations
    in one pass — the set-membership complement to ``events_funnel``'s
    ORDERED view->click->purchase path. Any segment ("did all of
    view+click+purchase, in any order") is then a bit test on a
    32-row result instead of another scan. Two hash aggregates (user
    grain, then mask grain), both map-side combined; ``bit_or`` partials
    merge associatively like any sum, so the fingerprint is
    incremental-friendly across daily batches too.
    """
    ev = read_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(0)
    )
    m = ev.groupBy("user_id").agg(F.bit_or(bit).alias("mask"))
    g = m.groupBy(F.col("mask").cast("long").alias("mask")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return g.select(
        "mask",
        "n_users",
        F.when(F.col("mask").bitwiseAND(7) == 7, F.col("n_users"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("full_funnel_users"),
    )


# ---------------------------------------------------------------------------
# expr_data_masking — deterministic PII masking (governance sibling of scrub)
# ---------------------------------------------------------------------------

_MASK_ORACLE = """
SELECT regexp_replace(regexp_replace(regexp_replace(
           c_name, '[a-z]', 'x', 'g'), '[A-Z]', 'X', 'g'), '[0-9]', 'n', 'g')
           AS masked_name,
       count(*) AS n,
       min(c_custkey) AS min_key
FROM customer
GROUP BY 1
"""


@query("expr_data_masking", _MASK_ORACLE)
def expr_data_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic data masking with the built-in ``mask`` function
    (upper->X, lower->x, digit->n, punctuation kept): the
    share-the-shape-not-the-value governance transform for exporting
    datasets to lower-trust environments — structure-preserving
    (lengths, delimiters, casing pattern survive for format validation)
    where ``corpus_pii_scrub`` redacts outright. Pure codegen'd map
    work; the histogram of masked shapes (with a representative key)
    is itself the audit artifact: one surviving shape per template
    proves no stray format leaked. The oracle rebuilds mask() from
    ordered regexp_replace passes (lower, then upper, then digits —
    ordered so introduced mask characters are never re-masked).
    """
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.select(F.mask("c_name").alias("masked_name"), "c_custkey")
        .groupBy("masked_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_custkey").alias("min_key"),
        )
    )


# ---------------------------------------------------------------------------
# events_locf_fill — last-observation-carried-forward imputation grid
# ---------------------------------------------------------------------------

_LOCF_ORACLE = """
WITH bounds AS (
    SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
),
spine AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
),
users AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
daily AS (
    SELECT user_id, day, val FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, round(value, 2) AS val,
               row_number() OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
),
grid AS (
    SELECT u.user_id, s.day, d.val
    FROM users u CROSS JOIN spine s
    LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day
)
SELECT user_id,
       strftime(day, '%Y-%m-%d') AS day,
       last_value(val IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value,
       val IS NOT NULL AS observed
FROM grid
"""


@query("events_locf_fill", _LOCF_ORACLE)
def events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: each purchase
    user's latest reading per day, forward-filled across a dense daily
    grid — the standard panel-data densification before feature
    extraction (sensor panels, account balances, price marks). The
    grid is users x days — days is calendar-bounded, so the cross join
    with the generated spine is the CONTROLLED explosion (users
    broadcast-sized spine, never event x event); the per-day latest
    reading is a keyed rank window, and the fill itself is
    last(ignorenulls) over the user's ordered grid — one shuffle on
    user_id for rank, grid, and fill alike. Null until first
    observation, flagged so downstream can distinguish imputed rows.
    """
    ev = read_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    users = purch.select("user_id").distinct()
    rn = F.row_number().over(
        Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    daily = (
        purch.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            F.round("value", 2).alias("val"),
            rn.alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    grid = users.crossJoin(F.broadcast(spine)).join(
        daily, ["user_id", "day"], "left"
    )
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("val", ignorenulls=True).over(wfill).alias("filled_value"),
        F.col("val").isNotNull().alias("observed"),
    )


# ---------------------------------------------------------------------------
# text_compression_ratio — compressibility as a quality signal (rows-only)
# ---------------------------------------------------------------------------


@query("text_compression_ratio", None)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression ratio as a corpus-quality signal (the RedPajama/
    CCNet-family heuristic): highly compressible text is repetitive
    boilerplate, incompressible text is noise/binary junk; natural
    prose sits in a mid band. zlib is pure-Python-stdlib and
    deterministic, but has no SQL twin, so this is a rows-only-checked
    op (the driver contract's documented weaker tier, like the HLL
    sketches) — the Arrow-batched scalar pandas_udf is the point: one
    Python boundary, vectorized per batch, the codec slot where a real
    pipeline drops in zstd dictionaries. The keep-band flag mirrors
    ``corpus_quality_gopher``'s gate pattern.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.SCALAR)
    def _ratio(texts):
        import zlib

        def one(t):
            if t is None or len(t) == 0:
                return None
            b = t.encode("utf-8")
            return round(len(zlib.compress(b, 6)) / len(b), 6)

        return texts.map(one)

    docs = read_table(spark, sf_dir, "documents")
    r = docs.select("doc_id", _ratio(F.col("text")).alias("ratio"))
    return r.select(
        "doc_id",
        "ratio",
        ((F.col("ratio") >= 0.25) & (F.col("ratio") <= 0.9)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# agg_abc_classification — revenue-rank ABC banding of parts
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS r
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, r,
           sum(r) OVER (ORDER BY r DESC, l_partkey) AS cum,
           sum(r) OVER () AS tot
    FROM rev
),
banded AS (
    SELECT l_partkey, r,
           CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                WHEN cum * 100 <= tot * 95 THEN 'B'
                ELSE 'C' END AS band
    FROM ranked
)
SELECT band, count(*) AS n_parts, sum(r) AS revenue_cents
FROM banded GROUP BY band
"""


@query("agg_abc_classification", _ABC_ORACLE)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, banded at
    the classic 80% / 95% cumulative cuts (A = the head that earns 80%,
    B = the next 15%, C = the long tail) — the prioritization op behind
    stocking, audit, and dedup-effort decisions alike. Revenue folds to
    integer cents at part grain first; the cumulative-share banding is
    the two-phase distributed prefix-scan over that rollup — the
    partkey-grain relation is UNBOUNDED at 100 TB (200M parts at
    TPC-H SF100k), so the running sum buckets by -floor(log2(r))
    (order-preserving for revenue desc: local cumsum per bucket,
    tiny bucket-total prefix, broadcast offsets back) instead of an
    unpartitioned window, and the grand total broadcasts as a 1-row
    aggregate. All band thresholds are integer cross-multiplications
    (`cum * 10 <= tot * 8`) — no float shares, so band membership is
    exact on any engine. Deterministic tie order (revenue desc,
    partkey) pins boundary parts.
    """
    li = read_table(spark, sf_dir, "lineitem")
    # pin the part-grain rollup: it has THREE consumers (the prefix-scan
    # window, the per-bucket offsets, the grand total) and AQE does not
    # reuse the rollup exchange across them — unpinned, the plan scanned
    # lineitem and re-aggregated 600k rows 3x (plan nodes 1/11/27 in
    # plans/r08/agg_abc_classification_before.txt). Guide §2.4: one
    # materialization, three readers. sf0.1: 5.8s -> 0.7s.
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + F.lit(0.5)
            ).cast("long")
        ).alias("r")
    ).transform(_pin_lazy)
    # bucket ascending == revenue descending (r >= 1 cent after the fold)
    bucket = (-F.floor(F.log2(F.col("r").cast("double") + 1))).cast("long")
    cum = with_prefix_sum(
        rev, "r", [F.col("r").desc(), F.col("l_partkey")], bucket, "cum"
    )
    tot = rev.agg(F.sum("r").alias("tot"))
    ranked = cum.crossJoin(F.broadcast(tot))
    band = (
        F.when(F.col("cum") * 10 <= F.col("tot") * 8, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(band.alias("band"), "r")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("r").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# events_error_budget_sli — SLO error-rate report with budget burn
# ---------------------------------------------------------------------------

_SLI_BUDGET_PCT = 25  # error budget: 25% of events may be errors (fixture-scaled)

_SLI_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n_events,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
    FROM events GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       n_events, n_errors,
       floor(n_errors / CAST(n_events AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS error_rate,
       n_errors * 100 > n_events * {_SLI_BUDGET_PCT} AS budget_breached,
       sum(CASE WHEN n_errors * 100 > n_events * {_SLI_BUDGET_PCT}
                THEN 1 ELSE 0 END)
           OVER (ORDER BY day) AS breach_days_to_date
FROM daily
"""


@query("events_error_budget_sli", _SLI_ORACLE)
def events_error_budget_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO/SLI error-budget report: daily error rate against a fixed
    budget, with a running count of breach days — the table an
    on-call dashboard renders and an alerting rule thresholds. One
    conditional hash aggregate to day grain; the breach test is an
    integer cross-multiplication (`errors * 100 > events * budget`), so
    breach membership never depends on float division (which only
    feeds the displayed rate, rounded 6-dp); the running breach count
    is an ordered window over the ~days-sized rollup. At 100 TB/day
    the plan is unchanged — day grain is constant-size.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    breached = F.col("n_errors") * 100 > F.col("n_events") * _SLI_BUDGET_PCT
    wcum = Window.orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "n_errors",
        r6(F.col("n_errors") / F.col("n_events").cast("double")).alias("error_rate"),
        breached.alias("budget_breached"),
        F.sum(F.when(breached, 1).otherwise(0))
        .over(wcum)
        .alias("breach_days_to_date"),
    )


# ---------------------------------------------------------------------------
# ml_decile_lift — gains/lift table over a scored population
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH score AS (
    SELECT user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS spend,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
dec AS (
    SELECT spend, conv,
           ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
    FROM score
),
g AS (
    SELECT decile, count(*) AS n_users, sum(conv) AS conversions
    FROM dec GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_users, conversions,
       sum(conversions) OVER (ORDER BY decile) AS cum_conversions,
       floor(sum(conversions) OVER (ORDER BY decile)
             / CAST((SELECT sum(conv) FROM score) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS cum_capture_rate
FROM g
"""


@query("ml_decile_lift", _LIFT_ORACLE)
def ml_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table — the standard model-evaluation artifact: rank
    the population by a score (here total spend as the propensity
    proxy), cut into deciles, and report cumulative conversion capture
    per decile (a good model captures most conversions in the top
    cuts). The stream collapses to user grain first; the decile cut is
    ntile(10) SEMANTICS computed arithmetically from the two-phase
    distributed row number (`with_global_row_number` — spend-desc via a
    negated sort key, user tiebreak) plus the broadcast population
    count, so no single-partition window ever sees the user-grain
    relation; the capture curve is a cumulative window over the 10-row
    decile grid, with the grand total broadcast back rather than
    re-scanned. Integer conversions keep the cumulative counts exact;
    only the displayed rate divides, rounded 6-dp.
    """
    from ..operators.relational import with_global_row_number

    ev = read_table(spark, sf_dir, "events")
    score = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "spend"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    ).transform(_pin_lazy)
    ranked = with_global_row_number(
        score.withColumn("_neg", -F.col("spend")),
        ["_neg", "user_id"],
        col_name="_rn",
        bucket_width=65536,
    )
    pop = score.agg(F.count(F.lit(1)).alias("_n"))
    # ntile(t) closed form from (row_number, n): the first n%t tiles get
    # one extra row — identical to the window function on a total order
    rn, nb = F.col("_rn"), F.col("_n")
    qz = F.floor(nb / F.lit(10))
    rz = nb % F.lit(10)
    big = rz * (qz + 1)
    decile = F.when(rn <= big, F.floor((rn - 1) / (qz + 1)) + 1).otherwise(
        rz + F.floor((rn - big - 1) / qz) + 1
    )
    dec = ranked.crossJoin(F.broadcast(pop)).select(
        "conv", decile.cast("long").alias("decile")
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("conversions"),
    )
    tot = score.agg(F.sum("conv").alias("tot"))
    wcum = Window.orderBy("decile")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "conversions",
            F.sum("conversions").over(wcum).alias("cum_conversions"),
            r6(
                F.sum("conversions").over(wcum) / F.col("tot").cast("double")
            ).alias("cum_capture_rate"),
        )
    )


# ---------------------------------------------------------------------------
# sample_balanced_classes — class-balanced deterministic downsample
# ---------------------------------------------------------------------------

_BAL_ORACLE = """
WITH k AS (
    SELECT min(c) AS k FROM (
        SELECT count(*) AS c FROM events GROUP BY event_type
    )
),
r AS (
    SELECT event_type, event_id, user_id,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
           ) AS rn
    FROM events
)
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM r, k WHERE rn <= k.k
GROUP BY event_type
"""


@query("sample_balanced_classes", _BAL_ORACLE)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every class keeps exactly
    min-class-size rows, selected by the same deterministic
    md5-permutation as ``sample_reservoir_group`` — the
    imbalanced-training-set equalizer, reproducible across retries
    and speculative tasks (rand() is neither). The per-class quota is
    a 1-row aggregate broadcast into the rank filter, so the plan is
    one rank window (WindowGroupLimit cannot pre-prune here since k is
    dynamic, but the shuffle still keys on the class column only) plus
    one broadcast join; the verification aggregate proves equal class
    sizes by construction.
    """
    ev = read_table(spark, sf_dir, "events")
    k = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").alias("k")
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.md5(F.col("event_id").cast("string")), "event_id"
        )
    )
    r = ev.select("event_type", "event_id", "user_id", rn.alias("rn"))
    return (
        r.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# dq_functional_dependency — FD discovery / violation audit
# ---------------------------------------------------------------------------

_FD_ORACLE = """
WITH fd AS (
    SELECT c_nationkey AS lhs,
           count(DISTINCT c_mktsegment) AS n_rhs,
           count(*) AS n_rows
    FROM customer GROUP BY c_nationkey
)
SELECT CAST(lhs AS BIGINT) AS lhs,
       n_rhs, n_rows,
       n_rhs > 1 AS violates_fd
FROM fd
"""


@query("dq_functional_dependency", _FD_ORACLE)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (profiling/FD-mining primitive): does
    `nationkey -> mktsegment` hold? Per candidate-LHS value, the
    distinct-RHS count — 1 everywhere means the dependency holds and
    the column pair is join-compressible / a denormalization candidate;
    >1 rows pinpoint where it breaks (here it breaks by design —
    segments vary within a nation — which is what the audit should
    say). One distinct-aggregate keyed on the LHS; at 100 TB swap the
    exact distinct for ``approx_count_distinct`` to pre-screen
    thousands of column pairs, then confirm survivors exactly.
    """
    cust = read_table(spark, sf_dir, "customer")
    fd = cust.groupBy(F.col("c_nationkey").cast("long").alias("lhs")).agg(
        F.countDistinct("c_mktsegment").alias("n_rhs"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return fd.select(
        "lhs", "n_rhs", "n_rows", (F.col("n_rhs") > 1).alias("violates_fd")
    )


# ---------------------------------------------------------------------------
# events_ohlc_bars — open/high/low/close resampling
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_hour,
       count(*) AS n_trades,
       round(arg_min(value, ts), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, ts), 2) AS close
FROM events WHERE event_type = 'purchase'
GROUP BY date_trunc('hour', ts)
"""


@query("events_ohlc_bars", _OHLC_ORACLE)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resampling: hourly open/high/low/close bars
    over the purchase-value stream — the financial/metrics downsampling
    every tick store serves, and the argmin/argmax-by-time idiom
    (``min_by``/``max_by``) that avoids the rank-window-then-filter
    detour entirely: open and close come from the SAME single hash
    aggregate as high/low/count, one shuffle on the bar key, map-side
    combined (min_by partials merge associatively). Equal-timestamp
    ties at a bar edge resolve identically in both engines only
    because the fixture has at most one purchase per user-timestamp;
    a production feed would tiebreak on a sequence column inside the
    min_by key.
    """
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    return p.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "bar_hour"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.round(F.min_by("value", "ts"), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max_by("value", "ts"), 2).alias("close"),
    )


# ---------------------------------------------------------------------------
# dedup_bloom_prescreen — sketch-prune-then-verify cross-batch dedup
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
WITH base AS (
    SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id % 10 <> 0
),
delta AS (
    SELECT doc_id, md5(lower(text)) AS h FROM documents WHERE doc_id % 10 = 0
)
SELECT d.doc_id, d.h AS content_hash
FROM delta d JOIN base b ON d.h = b.h
"""


@query("dedup_bloom_prescreen", _BLOOM_ORACLE)
def dedup_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch dedup with a Bloom prescreen, built relationally
    (PySpark exposes neither ``stat.bloomFilter`` nor
    ``bloom_filter_agg``, so the filter is its sparse relational twin):
    the base corpus's content hashes map to k=2 probe positions in an
    m=2^17-bit space (``xxhash64`` with distinct seeds, pmod m), and
    the DISTINCT position set — bounded by m, i.e. constant-size
    however large the base grows — broadcasts to the delta, which keeps
    only rows with BOTH probes present. True matches plus the sketch's
    false positives then pay the exact hash semi-join; the sketch only
    prunes, never decides, which is what keeps the result
    oracle-checkable and FP-rate-independent. At 100 TB the base is
    distilled to ≲1 MiB of positions instead of semi-joining the whole
    delta against it.
    """
    docs = read_table(spark, sf_dir, "documents")
    m = 1 << 17
    h = F.md5(F.lower(F.col("text")))
    base = docs.filter(F.col("doc_id") % 10 != 0).select(h.alias("h")).distinct()
    delta = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", h.alias("h")
    )

    def probe(col, seed):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m))

    pos = (
        base.select(
            F.explode(
                F.array(probe(F.col("h"), 1), probe(F.col("h"), 2))
            ).alias("p")
        )
        .distinct()
        .transform(_pin_lazy)
    )
    d = delta.withColumn("p1", probe(F.col("h"), 1)).withColumn(
        "p2", probe(F.col("h"), 2)
    )
    cand = d.join(
        F.broadcast(pos.withColumnRenamed("p", "p1")), "p1", "semi"
    ).join(F.broadcast(pos.withColumnRenamed("p", "p2")), "p2", "semi")
    return cand.join(base, "h", "semi").select(
        "doc_id", F.col("h").alias("content_hash")
    )


# ---------------------------------------------------------------------------
# # events_rolling_zscore — online per-user anomaly flag
# ---------------------------------------------------------------------------

_RZ_WINDOW = 20

_RZ_ORACLE = f"""
WITH w AS (
    SELECT event_id, user_id, value,
           avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_RZ_WINDOW} PRECEDING AND 1 PRECEDING
           ) AS mu,
           stddev_samp(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_RZ_WINDOW} PRECEDING AND 1 PRECEDING
           ) AS sd,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_RZ_WINDOW} PRECEDING AND 1 PRECEDING
           ) AS n_hist
    FROM events
)
SELECT event_id, user_id,
       CAST(n_hist AS BIGINT) AS n_hist,
       CASE WHEN n_hist >= 5 AND sd > 0.001
            THEN abs(value - mu) > 3 * sd ELSE false END AS is_anomaly
FROM w
"""


@query("events_rolling_zscore", _RZ_ORACLE)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online rolling z-score anomaly flag: each event scored against
    the mean/stddev of the SAME user's previous 20 events — the
    frame ends at 1 PRECEDING, so the point never contaminates its own
    baseline (the leakage bug in naive formulations, and the difference
    from ``events_anomaly_zscore``'s global retrospective score). One
    shuffle on user_id serves all three frame aggregates. The emitted
    column is the boolean flag, not the z value: the threshold compare
    happens against `3*sd` with a minimum-history and minimum-variance
    guard, keeping the float boundary far from the 50/50 edge that
    would make a hash-compare flaky.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_RZ_WINDOW, -1)
    )
    d = ev.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    return d.select(
        "event_id",
        "user_id",
        F.col("n_hist").cast("long").alias("n_hist"),
        F.when(
            (F.col("n_hist") >= 5) & (F.col("sd") > 0.001),
            F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"),
        )
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# sample_leave_last_out — temporal train/eval split per user
# ---------------------------------------------------------------------------

_LLO_ORACLE = """
WITH r AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT CASE WHEN rn = 1 THEN 'test' ELSE 'train' END AS split,
       event_type,
       count(*) AS n
FROM r GROUP BY 1, 2
"""


@query("sample_leave_last_out", _LLO_ORACLE)
def sample_leave_last_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-out temporal split: each user's most recent event is
    the eval example, everything earlier is training history — the
    standard recommender/sequence-model evaluation protocol, where a
    random split would leak the future into training. One rank window
    keyed on user_id (ts desc, event_id tiebreak so concurrent events
    split deterministically); the audit aggregate proves the split is
    exactly one test row per user and type-balanced enough to trust.
    The split column is derived, not materialized state — at 100 TB
    you write it as a partition column and both halves stay one scan.
    """
    ev = read_table(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    return (
        ev.select(
            "event_type",
            F.when(rn == 1, "test").otherwise("train").alias("split"),
        )
        .groupBy("split", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
