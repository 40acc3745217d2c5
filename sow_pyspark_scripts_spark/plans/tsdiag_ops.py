"""Time-series diagnostics tier: the Ljung-Box portmanteau test (is
there ANY autocorrelation left across lags 1..7 — the whiteness check
run on forecast residuals and rate series before trusting i.i.d.-based
alarms), permutation entropy (ordinal-pattern complexity — how
predictable a daily series is, robust to monotone transforms), and the
stationary distribution + entropy rate of the event-type Markov chain
(where user behavior settles long-run, and how many bits each step
actually carries).

The reference's pipelines are pure snapshot ETL (`sql_to_es_etl.py`,
`snowflake_to_es_etl.py` re-index the current state); its only temporal
structure is the month-bucket loop (`preprocess_and_store_parquets.py:
163`). This tier gives the engine the sequence-diagnostics half that
decides whether the forecasting/alerting queries upstream
(`events_forecast_seasonal_naive`, `events_anomaly_zscore`,
`events_periodicity_autocorr`) are even applicable.

Scale notes baked into each builder:
- Ljung-Box collapses the fact to day grain FIRST; the seven lag
  columns come from ONE ordered pass over that calendar-bounded
  rollup, and all 31 accumulators (per-lag cross products, head/tail
  sums, counts, plus n/S/Sxx) are exact BIGINTs from a single
  aggregate — the rho_k closed forms and Q evaluate once in double on
  the 1-row result;
- permutation entropy reads the same day-grain rollup with two lead()
  frames and classifies each triple into one of 6 ordinal patterns via
  a tie-broken CASE lattice (earlier day wins ties — deterministic in
  both engines); the pattern census is a 6-row aggregate;
- the Markov stationary distribution power-iterates a <=|types|^2
  transition rollup 12 times (tiny joins, nothing row-sized after the
  one user-keyed lead window), and the entropy rate folds the final
  pi against the per-state transition entropies — all driver-sized.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table

_LAGS = (1, 2, 3, 4, 5, 6, 7)
_MARKOV_ITERS = 12


# ---------------------------------------------------------------------------
# stats_ljung_box — portmanteau whiteness test over lags 1..7
# ---------------------------------------------------------------------------


def _ljung_box_oracle() -> str:
    lag_cols = ",\n           ".join(
        f"lag(x, {k}) OVER (ORDER BY day) AS x{k}" for k in _LAGS
    )
    acc = ",\n           ".join(
        f"SUM(x * x{k}) AS p{k}, "
        f"SUM(CASE WHEN x{k} IS NOT NULL THEN x END) AS a{k}, "
        f"SUM(x{k}) AS b{k}"
        for k in _LAGS
    )
    rho = {
        k: (
            f"(CAST(n AS DOUBLE) * n * p{k}"
            f" - CAST(n AS DOUBLE) * sx * (a{k} + b{k})"
            f" + (n - {k}) * CAST(sx AS DOUBLE) * sx)"
            f" / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * sxx"
            f" - CAST(sx AS DOUBLE) * sx))"
        )
        for k in _LAGS
    }
    q_terms = " + ".join(f"({rho[k]}) * ({rho[k]}) / (n - {k})" for k in _LAGS)
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
),
l AS (
    SELECT x,
           {lag_cols}
    FROM daily
),
s AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
           {acc}
    FROM l
)
SELECT n AS n_days,
       floor(({rho[1]}) * 1e6 + 0.5) / 1e6 AS rho_1,
       floor(({rho[7]}) * 1e6 + 0.5) / 1e6 AS rho_7,
       floor(CAST(n AS DOUBLE) * (n + 2) * ({q_terms}) * 1e6 + 0.5) / 1e6
           AS q_stat
FROM s
"""


@query("stats_ljung_box", _ljung_box_oracle())
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event volume, lags 1..7 —
    the joint whiteness check that one autocorrelation at a time
    (`events_periodicity_autocorr`) cannot give: Q = n(n+2) *
    sum_k rho_k^2/(n-k) ~ chi2(7) under independence, the standard gate
    on forecast residuals before any i.i.d.-assuming alarm downstream.
    The fact collapses to day grain once; all seven lag columns come
    from ONE ordered window pass over that calendar-bounded rollup
    (single tiny partition by construction — the rollup IS small, the
    fact never moves), and one aggregate emits 31 exact BIGINT
    accumulators: per-lag cross products sum(x_t*x_{t-k}), head/tail
    sums, plus n, S, Sxx. Each rho_k is the mean-adjusted ACF in
    n^2-scaled integer form [n^2*Sxy_k - nS(A_k+B_k) + (n-k)S^2] /
    [n(n*Sxx - S^2)], evaluated in double on the 1-row result so both
    engines round identically. Zero joins; one shuffle to day grain.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in _LAGS]
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ]
    for k in _LAGS:
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(F.col("x") * xk).alias(f"p{k}"),
            F.sum(F.when(xk.isNotNull(), F.col("x"))).alias(f"a{k}"),
            F.sum(xk).alias(f"b{k}"),
        ]
    s = lagged.agg(*aggs)
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    den = nd * (nd * F.col("sxx") - sxd * F.col("sx"))

    def rho(k: int):
        return (
            nd * F.col("n") * F.col(f"p{k}")
            - nd * F.col("sx") * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (F.col("n") - k) * sxd * F.col("sx")
        ) / den

    q = nd * (F.col("n") + 2) * sum(
        (rho(k) * rho(k) / (F.col("n") - k) for k in _LAGS), F.lit(0.0)
    )
    return s.select(
        F.col("n").alias("n_days"),
        r6(rho(1)).alias("rho_1"),
        r6(rho(7)).alias("rho_7"),
        r6(q).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# stats_permutation_entropy — ordinal-pattern complexity of daily revenue
# ---------------------------------------------------------------------------

_PATTERN_CASE = """CASE
    WHEN a <= b AND a <= c AND b <= c THEN 'abc'
    WHEN a <= b AND a <= c THEN 'acb'
    WHEN b < a AND b <= c AND a <= c THEN 'bac'
    WHEN b < a AND b <= c THEN 'bca'
    WHEN a <= b THEN 'cab'
    ELSE 'cba'
END"""

_PE_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS r
    FROM events GROUP BY 1
),
tri AS (
    SELECT r AS a,
           lead(r, 1) OVER (ORDER BY day) AS b,
           lead(r, 2) OVER (ORDER BY day) AS c
    FROM daily
),
pat AS (
    SELECT {_PATTERN_CASE} AS pattern
    FROM tri WHERE b IS NOT NULL AND c IS NOT NULL
),
census AS (SELECT pattern, COUNT(*) AS cnt FROM pat GROUP BY 1),
shares AS (
    SELECT pattern, cnt,
           CAST(cnt AS DOUBLE) / SUM(cnt) OVER () AS share
    FROM census
),
tot AS (
    SELECT pattern, cnt, share,
           SUM(-share * log2(share)) OVER () AS h
    FROM shares
)
SELECT pattern, cnt,
       floor(share * 1e6 + 0.5) / 1e6 AS share,
       floor(h / log2(6.0) * 1e6 + 0.5) / 1e6 AS h_norm
FROM tot
"""


@query("stats_permutation_entropy", _PE_ORACLE)
def stats_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order m=3) of daily revenue:
    classify every consecutive (r_t, r_t+1, r_t+2) triple into one of
    the 6 ordinal patterns and measure the Shannon entropy of the
    pattern census, normalized to [0,1] by log2(6) — the
    model-free complexity gauge that separates trending/seasonal
    (few patterns dominate, low PE) from noise-like (uniform patterns,
    PE ~ 1) series, robust to any monotone transform of the values.
    Ties break by time order (earlier day ranks first) through a
    strict/non-strict comparison lattice — a deterministic CASE both
    engines evaluate identically on exact integer cents. The fact
    collapses to day grain once; two lead() frames over the
    calendar-bounded rollup build the triples, the census is a 6-row
    aggregate, and the entropy folds over those 6 rows. Output is the
    pattern distribution with the normalized entropy as a constant
    audit column.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "r"
        )
    )
    w = Window.orderBy("day")
    tri = daily.select(
        F.col("r").alias("a"),
        F.lead("r", 1).over(w).alias("b"),
        F.lead("r", 2).over(w).alias("c"),
    ).where(F.col("b").isNotNull() & F.col("c").isNotNull())
    census = tri.select(F.expr(_PATTERN_CASE).alias("pattern")).groupBy(
        "pattern"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shares = census.select(
        "pattern",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wall)).alias("share"),
    )
    sh = F.col("share")
    return shares.select(
        "pattern",
        "cnt",
        r6(sh).alias("share"),
        r6(
            F.sum(-sh * F.log2(sh)).over(wall) / F.log2(F.lit(6.0))
        ).alias("h_norm"),
    )


# ---------------------------------------------------------------------------
# events_markov_stationary — long-run state mix + entropy rate
# ---------------------------------------------------------------------------


def _markov_oracle() -> str:
    its = []
    prev = "it0"
    for t in range(1, _MARKOV_ITERS + 1):
        its.append(
            f"it{t} AS (SELECT t.nxt AS st, SUM(p.pi * t.p) AS pi "
            f"FROM trans t JOIN {prev} p ON t.cur = p.st GROUP BY 1)"
        )
        prev = f"it{t}"
    its_sql = ",\n".join(its)
    return f"""
WITH pairs AS (
    SELECT event_type AS cur,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
    FROM events
),
cnts AS (
    SELECT cur, nxt, COUNT(*) AS n FROM pairs
    WHERE nxt IS NOT NULL GROUP BY 1, 2
),
trans AS (
    SELECT cur, nxt,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur) AS p
    FROM cnts
),
hrow AS (
    SELECT cur AS st, SUM(-p * log2(p)) AS h FROM trans GROUP BY 1
),
it0 AS (
    SELECT cur AS st, 1.0 / (SELECT COUNT(DISTINCT cur) FROM trans) AS pi
    FROM trans GROUP BY cur
),
{its_sql},
er AS (
    SELECT SUM(f.pi * h.h) AS entropy_rate
    FROM {prev} f JOIN hrow h ON f.st = h.st
)
SELECT f.st AS state,
       floor(f.pi * 1e6 + 0.5) / 1e6 AS pi,
       floor(er.entropy_rate * 1e6 + 0.5) / 1e6 AS entropy_rate
FROM {prev} f CROSS JOIN er
"""


@query("events_markov_stationary", _markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution and entropy rate of the event-type
    Markov chain — where `events_markov_transitions`' matrix settles
    long-run (the equilibrium behavior mix, independent of where users
    start) and how many bits of surprise each step carries
    (H = -sum_i pi_i sum_j P_ij log2 P_ij — the compressibility /
    predictability ceiling of the event stream, the sequence-level
    companion to `events_entropy_per_user`). One user-keyed lead()
    window builds transition bigrams (ties in ts broken by event_id so
    both engines see the same sequence); the chain then lives entirely
    on the <=|types|^2 transition rollup: 12 unrolled power-iteration
    steps (tiny join + aggregate each, the `ml_kmeans_lloyd` unrolled
    pattern) converge pi to well past the 1e-6 output quantum for any
    mixing chain this size, and the entropy rate folds the final pi
    against per-state transition entropies. After the one keyed
    shuffle, every relation is driver-sized.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    cnts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wcur = Window.partitionBy("cur")
    trans = cnts.select(
        "cur",
        "nxt",
        (F.col("n").cast("double") / F.sum("n").over(wcur)).alias("p"),
    ).transform(_pin_lazy)
    hrow = trans.groupBy(F.col("cur").alias("st")).agg(
        F.sum(-F.col("p") * F.log2("p")).alias("h")
    )
    nstates = trans.agg(F.countDistinct("cur").alias("k"))
    pi = (
        trans.select("cur")
        .distinct()
        .join(F.broadcast(nstates))
        .select(F.col("cur").alias("st"), (F.lit(1.0) / F.col("k")).alias("pi"))
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            trans.join(F.broadcast(pi), trans["cur"] == pi["st"])
            .groupBy(F.col("nxt").alias("st2"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
            .select(F.col("st2").alias("st"), "pi")
        )
    er = pi.join(F.broadcast(hrow), "st").agg(
        F.sum(F.col("pi") * F.col("h")).alias("entropy_rate")
    )
    return pi.join(F.broadcast(er)).select(
        F.col("st").alias("state"),
        r6(F.col("pi")).alias("pi"),
        r6(F.col("entropy_rate")).alias("entropy_rate"),
    )
