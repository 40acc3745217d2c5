"""Community / recommender / attribution tier: synchronous label
propagation (community detection on the co-purchase graph — the
cheap-per-round, hub-robust alternative to modularity optimization;
`graph_modularity` SCORES a given partition, LPA FINDS one), one ALS
half-step (the fix-items-solve-users ridge update that is the inner
loop of every large-scale matrix-factorization recommender —
`reco_item_item_cf`'s neighborhood model is the memory-based
alternative), Markov removal-effect attribution (the data-driven
multi-touch model: a channel's credit is how much conversion
probability DIES when the channel is deleted from the empirical
chain — completing the attribution family next to last-touch and
Shapley), and distinct-n corpus diversity (the generation-diversity
metric of Li et al. 2016, here as a per-source corpus screen for
templated/boilerplate-heavy sources that repetition-based
`corpus_quality_gopher` sees only within documents, not across
them).

Scale notes baked into each builder:
- LPA rounds are joins against the bounded EDGE relation (basket
  pairs with a support floor, the `basket_affinity_pairs` fan-out
  bound: per-order part sets are tiny, so pairs never explode); the
  mode update is a (node,label) hash aggregate + per-node
  WindowGroupLimit rank, all exact integers with a deterministic
  min-label tie-break, so 2 synchronous rounds = 2 bounded shuffles;
- the ALS half-step is ONE fact join + ONE user-keyed aggregate:
  item factors are content-addressed dyadics (md5 nibbles / 256), so
  every normal-equation term is an exact multiple of 2^-16 and the
  per-user sums are order-free EXACT double arithmetic; the 2x2
  Cramer solve is per-row closed form;
- removal-effect propagates the bounded (<=5-state) chain 3 steps
  for the base and each single-channel-deleted scenario — tiny-
  relation joins only after the ONE fact pass that builds transition
  counts and the ONE that builds the start distribution;
- distinct-n is two hash aggregates over (source, gram) with exact
  BIGINT counts.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# graph_label_propagation — 2 synchronous LPA rounds on co-purchase
# ---------------------------------------------------------------------------

_LPA_ORACLE = """
WITH baskets AS (
    SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
    FROM lineitem GROUP BY 1
),
pairs AS (
    SELECT u.a, v.b
    FROM baskets,
         unnest(parts) AS u(a),
         unnest(parts) AS v(b)
    WHERE u.a < v.b
),
edges AS (
    SELECT a, b FROM pairs GROUP BY a, b HAVING COUNT(*) >= 2
),
bidir AS (
    SELECT a AS v, b AS u FROM edges
    UNION ALL
    SELECT b AS v, a AS u FROM edges
),
l0 AS (SELECT DISTINCT v, v AS label FROM bidir),
n1 AS (
    SELECT b.v, l.label, COUNT(*) AS cnt
    FROM bidir b JOIN l0 l ON b.u = l.v
    GROUP BY b.v, l.label
),
l1 AS (
    SELECT v, label FROM (
        SELECT v, label,
               row_number() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, label ASC) AS rk
        FROM n1
    ) WHERE rk = 1
),
n2 AS (
    SELECT b.v, l.label, COUNT(*) AS cnt
    FROM bidir b JOIN l1 l ON b.u = l.v
    GROUP BY b.v, l.label
),
l2 AS (
    SELECT v, label FROM (
        SELECT v, label,
               row_number() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, label ASC) AS rk
        FROM n2
    ) WHERE rk = 1
)
SELECT label AS community, COUNT(*) AS n_members
FROM l2 GROUP BY 1
"""


@query("graph_label_propagation", _LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds over the co-purchase
    part graph (edges = part pairs sharing >= 2 orders, the
    `basket_affinity_pairs` fan-out with its support floor): each
    node adopts the most frequent label among its neighbors, ties
    broken to the smallest label, starting from label = own id.
    LPA is the linear-per-round community detector that actually
    runs at billion-edge scale — no global objective, no spectral
    solve — and the deterministic min-label tie-break plus fixed
    round count replaces the usual random visit order so both
    engines converge to the identical labeling (`graph_cc_pointer_
    jumping` is the degenerate everyone-agrees variant of the same
    propagation pattern). Each round is one hash aggregate over
    (node, neighbor-label) plus a per-node rank prune
    (WindowGroupLimit) — exact integer counts, two bounded shuffles
    per round, fact table touched only once to build baskets. Output
    is the community-size histogram after round 2.
    """
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
    )
    edges = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("a", "b")
    )
    bidir = edges.select(
        F.col("a").alias("v"), F.col("b").alias("u")
    ).unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("u")))
    # consumed by both rounds — truncate lineage once
    bidir = bidir.transform(_pin_lazy)
    labels = bidir.select("v").distinct().select(
        "v", F.col("v").alias("label")
    )
    w = Window.partitionBy("v").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(2):
        nbr = (
            bidir.join(
                labels.select(
                    F.col("v").alias("u"), F.col("label").alias("label")
                ),
                "u",
            )
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            nbr.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("v", "label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# reco_als_half_step — fix item factors, solve user factors (d=2)
# ---------------------------------------------------------------------------

_ALS_ORACLE = """
WITH ratings AS (
    SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
           SUM(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS r
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
feats AS (
    SELECT custkey, r,
           ((instr('0123456789abcdef',
                   substring(md5(CAST(partkey AS VARCHAR) || ':alsq'), 1, 1)) - 1) * 16
            + instr('0123456789abcdef',
                    substring(md5(CAST(partkey AS VARCHAR) || ':alsq'), 2, 1)) - 1)
               / 256.0 AS q1,
           ((instr('0123456789abcdef',
                   substring(md5(CAST(partkey AS VARCHAR) || ':alsq'), 3, 1)) - 1) * 16
            + instr('0123456789abcdef',
                    substring(md5(CAST(partkey AS VARCHAR) || ':alsq'), 4, 1)) - 1)
               / 256.0 AS q2
    FROM ratings
),
normal AS (
    SELECT custkey, COUNT(*) AS n_items,
           SUM(q1 * q1) + 0.1 AS a11, SUM(q1 * q2) AS a12,
           SUM(q2 * q2) + 0.1 AS a22,
           SUM(r * q1) AS b1, SUM(r * q2) AS b2
    FROM feats GROUP BY 1
)
SELECT custkey, n_items,
       floor((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * 1e6 + 0.5) / 1e6
           AS u1,
       floor((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * 1e6 + 0.5) / 1e6
           AS u2
FROM normal
"""


@query("reco_als_half_step", _ALS_ORACLE)
def reco_als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step of a rank-2 matrix-factorization recommender:
    with item factors held fixed, every user's factor vector solves
    its own d x d ridge system u = (QᵀQ + λI)⁻¹ Qᵀr — which is
    exactly why ALS scales: the update is embarrassingly parallel
    per user, one co-partitioned aggregate, no gradient
    synchronization (the full algorithm alternates this step with
    its item-side mirror; `ml_logreg_newton` shows the same
    fixed-small-dimension closed-form-solve discipline). Ratings are
    summed integer quantities per (customer, part) from one
    fact-dim join; item factors are content-addressed dyadics (md5
    nibbles / 256 — deterministic across engines AND cluster sizes,
    standing in for the previous iteration's item matrix), so every
    normal-equation term q·q or r·q is an exact multiple of 2⁻¹⁶
    and the per-user sums are EXACT in double regardless of
    addition order. The 2x2 Cramer inverse runs per user row;
    λ = 0.1 joins after the sums as a shared literal.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
            ).alias("r")
        )
    )
    h = F.md5(F.concat(F.col("partkey").cast("string"), F.lit(":alsq")))
    nib = lambda j: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1
    )
    feats = ratings.select(
        "custkey",
        "r",
        ((nib(1) * 16 + nib(2)) / F.lit(256.0)).alias("q1"),
        ((nib(3) * 16 + nib(4)) / F.lit(256.0)).alias("q2"),
    )
    normal = feats.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(F.col("q1") * F.col("q1")) + 0.1).alias("a11"),
        F.sum(F.col("q1") * F.col("q2")).alias("a12"),
        (F.sum(F.col("q2") * F.col("q2")) + 0.1).alias("a22"),
        F.sum(F.col("r") * F.col("q1")).alias("b1"),
        F.sum(F.col("r") * F.col("q2")).alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return normal.select(
        "custkey",
        "n_items",
        r6(
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
        ).alias("u1"),
        r6(
            (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
        ).alias("u2"),
    )


# ---------------------------------------------------------------------------
# events_attribution_removal — Markov removal-effect channel credit
# ---------------------------------------------------------------------------

_REMOVAL_CHANNELS = ("click", "view", "signup", "error")
_REMOVAL_STEPS = 3


def _removal_scenario_sql(tag: str, drop: str | None) -> str:
    keep_r = "TRUE" if drop is None else f"r.src <> '{drop}'"
    keep_q = (
        "TRUE" if drop is None else f"src <> '{drop}' AND dst <> '{drop}'"
    )
    keep_s = "TRUE" if drop is None else f"s.src <> '{drop}'"
    body = f"""
q_{tag} AS (SELECT src, dst, pr FROM q WHERE {keep_q}),
v1_{tag} AS (SELECT r.src AS src, r.pr_hit AS v FROM r WHERE {keep_r}),
v2_{tag} AS (
    SELECT r.src AS src, r.pr_hit + COALESCE(SUM(q.pr * v1.v), 0) AS v
    FROM r LEFT JOIN q_{tag} q ON r.src = q.src
           LEFT JOIN v1_{tag} v1 ON q.dst = v1.src
    WHERE {keep_r} GROUP BY r.src, r.pr_hit
),
v3_{tag} AS (
    SELECT r.src AS src, r.pr_hit + COALESCE(SUM(q.pr * v2.v), 0) AS v
    FROM r LEFT JOIN q_{tag} q ON r.src = q.src
           LEFT JOIN v2_{tag} v2 ON q.dst = v2.src
    WHERE {keep_r} GROUP BY r.src, r.pr_hit
),
p_{tag} AS (
    SELECT COALESCE(SUM(s.sp * COALESCE(v3.v, 0)), 0) AS pconv
    FROM start_p s LEFT JOIN v3_{tag} v3 ON s.src = v3.src
    WHERE {keep_s}
)"""
    return body


def _removal_oracle() -> str:
    scen = ",\n".join(
        [_removal_scenario_sql("base", None)]
        + [_removal_scenario_sql(c, c) for c in _REMOVAL_CHANNELS]
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS channel, (SELECT pconv FROM p_base) AS p_base,"
        f" (SELECT pconv FROM p_{c}) AS p_removed"
        for c in _REMOVAL_CHANNELS
    )
    return f"""
WITH seq AS (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
),
trans AS (
    SELECT src, dst, COUNT(*) AS n FROM seq
    WHERE dst IS NOT NULL AND src <> 'purchase' GROUP BY 1, 2
),
p AS (
    SELECT src, dst,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS pr
    FROM trans
),
r AS (
    SELECT src, SUM(CASE WHEN dst = 'purchase' THEN pr ELSE 0 END) AS pr_hit
    FROM p GROUP BY 1
),
q AS (SELECT src, dst, pr FROM p WHERE dst <> 'purchase'),
firsts AS (
    SELECT src FROM (
        SELECT event_type AS src,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1 AND src <> 'purchase'
),
starts AS (SELECT src, COUNT(*) AS n FROM firsts GROUP BY 1),
start_p AS (
    SELECT src, CAST(n AS DOUBLE) / SUM(n) OVER () AS sp FROM starts
),
{scen},
combined AS ({rows}),
eff AS (
    SELECT channel, p_base, p_removed,
           GREATEST(0.0, 1 - p_removed / p_base) AS effect
    FROM combined
)
SELECT channel,
       floor(p_base * 1e6 + 0.5) / 1e6 AS p_base,
       floor(p_removed * 1e6 + 0.5) / 1e6 AS p_removed,
       floor(effect * 1e6 + 0.5) / 1e6 AS removal_effect,
       floor(effect / SUM(effect) OVER () * 1e6 + 0.5) / 1e6
           AS attribution_share
FROM eff ORDER BY channel
"""


@query("events_attribution_removal", _removal_oracle())
def events_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: credit each channel by how
    much the 3-step conversion probability of the
    empirical journey chain DROPS when that channel is deleted
    (transitions into it become lost mass — no renormalization, per
    the standard model). This is the data-driven multi-touch model
    that sits between `events_attribution_last_touch` (positional,
    ignores paths) and `events_attribution_shapley` (coalition-
    exact but exponential in channels): removal effect prices a
    channel by its structural position in real paths — a mid-funnel
    channel every journey passes through gets credit last-touch
    gives entirely to the final click. TWO fact passes total (the
    user-keyed lead window for transition counts; the per-user rank
    for the start distribution); every scenario — base plus one per
    deleted channel — then propagates p_k = R + Q·p_(k-1) over the
    <=5-state transient matrix, tiny broadcast joins exactly like
    `events_absorbing_markov`, whose machinery this generalizes.
    Attribution shares normalize the four removal effects; floors at
    zero guard sampling noise where deleting a channel helps.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull() & (F.col("src") != "purchase"))
    trans = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    p = trans.withColumn(
        "pr",
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy("src")),
    )
    r = p.groupBy("src").agg(
        F.sum(
            F.when(F.col("dst") == "purchase", F.col("pr")).otherwise(0.0)
        ).alias("pr_hit")
    ).transform(_pin_lazy)
    q = (
        p.where(F.col("dst") != "purchase")
        .select("src", "dst", "pr")
        .transform(_pin_lazy)
    )
    firsts = (
        ev.select(
            F.col("event_type").alias("src"),
            F.row_number().over(w).alias("rn"),
        )
        .where((F.col("rn") == 1) & (F.col("src") != "purchase"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    start_p = firsts.select(
        "src",
        (
            F.col("n").cast("double")
            / F.sum("n").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("sp"),
    ).transform(_pin_lazy)

    def scenario_pconv(drop: str | None) -> DataFrame:
        rs = r if drop is None else r.where(F.col("src") != drop)
        qs = (
            q
            if drop is None
            else q.where((F.col("src") != drop) & (F.col("dst") != drop))
        )
        ss = (
            start_p
            if drop is None
            else start_p.where(F.col("src") != drop)
        )
        pk = rs.select("src", F.col("pr_hit").alias("v"))
        for _ in range(_REMOVAL_STEPS - 1):
            pk = (
                rs.join(qs, "src", "left")
                .join(
                    pk.select(
                        F.col("src").alias("dst"), F.col("v").alias("pv")
                    ),
                    "dst",
                    "left",
                )
                .groupBy("src", "pr_hit")
                .agg(
                    (
                        F.first("pr_hit")
                        + F.coalesce(
                            F.sum(F.col("pr") * F.col("pv")), F.lit(0.0)
                        )
                    ).alias("v")
                )
                .select("src", "v")
            )
        return ss.join(
            pk.select(F.col("src").alias("src"), "v"), "src", "left"
        ).agg(
            F.coalesce(
                F.sum(F.col("sp") * F.coalesce(F.col("v"), F.lit(0.0))),
                F.lit(0.0),
            ).alias("pconv")
        )

    base = scenario_pconv(None).select(F.col("pconv").alias("p_base"))
    rows = [
        base.join(
            scenario_pconv(c).select(F.col("pconv").alias("p_removed"))
        ).select(F.lit(c).alias("channel"), "p_base", "p_removed")
        for c in _REMOVAL_CHANNELS
    ]
    combined = reduce(DataFrame.unionAll, rows)
    eff = combined.select(
        "channel",
        "p_base",
        "p_removed",
        F.greatest(
            F.lit(0.0), 1 - F.col("p_removed") / F.col("p_base")
        ).alias("effect"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return eff.select(
        "channel",
        r6(F.col("p_base")).alias("p_base"),
        r6(F.col("p_removed")).alias("p_removed"),
        r6(F.col("effect")).alias("removal_effect"),
        r6(F.col("effect") / F.sum("effect").over(wall)).alias("attribution_share"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# text_distinct_ngrams — distinct-1/distinct-2 corpus diversity
# ---------------------------------------------------------------------------

_DISTINCTN_ORACLE = r"""
WITH toks AS (
    SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents WHERE trim(text) <> ''
),
uni AS (
    SELECT source, unnest(t) AS g FROM toks
),
bi AS (
    SELECT source, t[i] || ' ' || t[i+1] AS g
    FROM toks, unnest(range(1, len(t))) AS r(i)
    WHERE len(t) >= 2
),
u AS (
    SELECT source, COUNT(*) AS n_unigrams,
           COUNT(DISTINCT g) AS distinct_unigrams
    FROM uni GROUP BY 1
),
b AS (
    SELECT source, COUNT(*) AS n_bigrams,
           COUNT(DISTINCT g) AS distinct_bigrams
    FROM bi GROUP BY 1
)
SELECT u.source, u.n_unigrams, u.distinct_unigrams,
       floor(CAST(u.distinct_unigrams AS DOUBLE) / u.n_unigrams * 1e6 + 0.5)
           / 1e6 AS distinct_1,
       b.n_bigrams, b.distinct_bigrams,
       floor(CAST(b.distinct_bigrams AS DOUBLE) / b.n_bigrams * 1e6 + 0.5)
           / 1e6 AS distinct_2
FROM u JOIN b ON u.source = b.source
ORDER BY u.source
"""


@query("text_distinct_ngrams", _DISTINCTN_ORACLE)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: distinct unigrams / total
    unigrams and distinct bigrams / total bigrams (Li et al. 2016's
    distinct-1/distinct-2) — the CROSS-document repetition screen
    for a training corpus: a source whose bigram diversity collapses
    is templated or machine-generated even when every individual
    document looks clean, which is exactly the failure mode
    `corpus_quality_gopher`'s within-document repetition ratios
    cannot see (and near-dup pairs in `corpus_cross_source_dup_
    matrix` only catch when whole documents repeat). Tokens are the
    shared whitespace split; bigrams come from a bounded positional
    slide (`transform` over the token array — no self-join); both
    grains aggregate to (source, gram) with exact BIGINT counts,
    and the two distinct-counts per source are the same two-level
    partial-aggregate shape the engine uses for any COUNT(DISTINCT)
    at scale. One division per ratio at the end.
    """
    docs = read_table(spark, sf_dir, "documents").where(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "source",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"),
    )
    uni = toks.select("source", F.explode("t").alias("g"))
    bi = toks.where(F.size("t") >= 2).select(
        "source",
        F.explode(
            F.transform(
                F.slice("t", 1, F.size("t") - 1),
                lambda x, i: F.concat_ws(
                    " ", x, F.element_at(F.col("t"), i + 2)
                ),
            )
        ).alias("g"),
    )
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unigrams"),
        F.countDistinct("g").alias("distinct_unigrams"),
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("g").alias("distinct_bigrams"),
    )
    return (
        u.join(b, "source")
        .select(
            "source",
            "n_unigrams",
            "distinct_unigrams",
            r6(
                F.col("distinct_unigrams").cast("double")
                / F.col("n_unigrams")
            ).alias("distinct_1"),
            "n_bigrams",
            "distinct_bigrams",
            r6(
                F.col("distinct_bigrams").cast("double") / F.col("n_bigrams")
            ).alias("distinct_2"),
        )
        .orderBy("source")
    )
