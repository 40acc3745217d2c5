"""Distributed-state tier: operators whose essence is merging or
relating per-key state across the cluster — a mutual-kNN neighborhood
graph over embeddings, Chan-style mergeable variance states, the
cogrouped two-table pandas API, and a multi-signal per-user behavior
profile.

Scale notes baked into each builder:
- the mutual-kNN graph never broadcasts the query side (every node is
  a query): candidate pairs form by a self equi-join on the IVF cell
  key — both sides shuffle once on cell, work is sum(cell²) not N² —
  and mutuality is a self-join of the per-node top-k edge list on the
  reversed key pair. Cosines round to 1e-6 BEFORE ranking (ties break
  by id), the `operators/similarity.py` convention;
- the variance merge demonstrates the algebra every distributed AVG/
  VAR already relies on, as data: per-shard (n, Σ, M2) states from
  one hash aggregate, pairwise-merged with Chan's parallel formula in
  a second constant-size pass, property-tested equal to the direct
  single-pass variance. This is the shape of ANY mergeable-state
  rollup (daily -> monthly sketches, shard -> global moments);
- the cogrouped reconciliation uses applyInPandas over COGROUPED
  orders/lineitem (the one Python-API surface the other queries do
  not touch): each side arrives grouped by key in Arrow batches, so
  per-key two-sided logic (fill-rate, cent-exact price reconcile)
  runs vectorized without a JVM join first; cents are integerized
  inside pandas before summing so the result is order-independent;
- the bot profile computes rate, inter-arrival regularity, and
  type-entropy per user in one logical pass: the (user, type) rollup
  feeds entropy, the user-keyed lag window feeds arrival stats, and
  both branches key on user_id — one exchange, reused.
"""

from __future__ import annotations

from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..functions.det import cos_grid_sql, d2_grid_sql, mean_grid_sql, r6
from ..sources import read_table

_M6V = mean_grid_sql("v")


# ---------------------------------------------------------------------------
# graph_knn_mutual — mutual-kNN graph via IVF-cell blocking
# ---------------------------------------------------------------------------

_KNN_K = 3

_KNN_ORACLE = f"""
WITH flat AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cent AS (SELECT label AS cent_id, pos, {_M6V} AS c FROM flat GROUP BY label, pos),
dists AS (
  SELECT f.vec_id, c.cent_id,
         {d2_grid_sql('f.v', 'c.c')} AS d2
  FROM flat f JOIN cent c ON f.pos = c.pos
  GROUP BY f.vec_id, c.cent_id
),
cells AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
),
pairflat AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid, ca.cell,
         CAST(unnest(a.embedding) AS DOUBLE) AS qv,
         CAST(unnest(b.embedding) AS DOUBLE) AS cv
  FROM embeddings a JOIN cells ca USING (vec_id)
  JOIN cells cb ON ca.cell = cb.cell AND a.vec_id <> cb.vec_id
  JOIN embeddings b ON b.vec_id = cb.vec_id
),
sims AS (
  SELECT qid, cid, {cos_grid_sql('qv', 'cv')} AS sim
  FROM pairflat GROUP BY 1, 2
),
topk AS (
  SELECT qid, cid, sim FROM (
    SELECT qid, cid, sim,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
    FROM sims
  ) WHERE rnk <= {_KNN_K}
)
SELECT a.qid AS a, a.cid AS b, a.sim
FROM topk a JOIN topk b ON a.qid = b.cid AND a.cid = b.qid
WHERE a.qid < a.cid
"""


@query("graph_knn_mutual", _KNN_ORACLE)
def graph_knn_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction over the embedding corpus: an edge
    (a,b) survives iff b is in a's top-{_KNN_K} cosine neighbors AND
    a is in b's — the symmetric neighborhood graph that seeds
    density-based clustering, near-dup cluster growing, and label
    propagation. Unlike `similarity_topk_ivf` (few queries, broadcast
    query side) EVERY node is a query here, so candidates form by a
    grouping on the IVF cell key (nearest per-label centroid,
    deterministic codebook): one shuffle on cell, pair work is
    Σ(cell size²) instead of N², and no broadcast of the corpus.
    Cell-local scoring is an ``applyInPandas`` numpy GEMM — each cell's
    block multiplies against itself with BLAS and keeps only its nodes'
    top-{_KNN_K} (rounded-sim rank, id tie-break), so the quadratic
    arithmetic never materializes as rows (the per-pair expression form
    was ~4x slower at sf0.1). Mutuality is a self-join of the top-k
    edge list on the reversed (qid,cid) pair, emitting each surviving
    edge once in canonical a<b order. At 100 TB raise recall with
    multi-probe (assign each node to its p nearest cells) — same plan
    shape; cells cap worker memory at (corpus/n_cells)·dim doubles.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..operators.similarity import ivf_cells

    emb = read_table(spark, sf_dir, "embeddings")
    _, cells = ivf_cells(emb)
    # the cell assignment's centroid subtree is itself a multi-pass plan:
    # truncate the lineage once (tiny (vec_id, cell) relation) so the
    # grouped scoring does not re-derive the codebook — the
    # `embedding_pca_power_iter` pattern
    cells = cells.transform(_pin_lazy)
    with_c = emb.join(cells, "vec_id").select("vec_id", "embedding", "cell")

    topk_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("cid", LongType()),
            StructField("sim", DoubleType()),
        ]
    )
    kk = _KNN_K

    def _cell_topk(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"qid": [], "cid": [], "sim": []}).astype(
                {"qid": "int64", "cid": "int64", "sim": "float64"}
            )
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        # ranking-type hybrid (ADVICE r2, at GEMM cost): BLAS gives fast
        # sims; the safety band around the k-th largest (margin 1e-5 >>
        # reassociation error ~1e-13) is recomputed with EXACT-INTEGER
        # grid sums (r5, functions/det.py doctrine) — bit-identical to
        # the oracle's cos_grid_sql under any thread count; see
        # operators/similarity._knn_gemm_topk
        qm = np.floor(mat * 1e6 + 0.5).astype(np.int64)
        sqn = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        g = np.where(sqn == 0.0, 1.0, sqn)
        matn = qm / g[:, None]
        fast = matn @ matn.T
        rows = []
        for i in range(len(ids)):
            sv = np.where(ids != ids[i], fast[i], -np.inf)
            m = min(kk, int(np.isfinite(sv).sum()))
            if m == 0:
                continue
            kth = np.partition(sv, len(sv) - m)[len(sv) - m]
            band = np.nonzero(sv >= kth - 1e-5)[0]
            dot = (qm[i][None, :] * qm[band]).sum(axis=1).astype(np.float64)
            sims_b = np.floor(dot / (sqn[i] * sqn[band]) * 1e6 + 0.5) / 1e6
            cids = ids[band]
            order = np.lexsort((cids, -sims_b))[:kk]
            for o in order:
                rows.append((ids[i], cids[o], sims_b[o]))
        return pd.DataFrame(rows, columns=["qid", "cid", "sim"])

    topk = (
        with_c.groupBy("cell")
        .applyInPandas(_cell_topk, topk_schema)
        # consumed twice (forward + reversed side of the mutuality
        # self-join): truncate so the cell GEMM runs once
        .transform(_pin_lazy)
    )
    rev = topk.select(
        F.col("cid").alias("qid"), F.col("qid").alias("cid")
    )
    return (
        topk.join(rev, ["qid", "cid"])
        .where(F.col("qid") < F.col("cid"))
        .select(F.col("qid").alias("a"), F.col("cid").alias("b"), "sim")
    )


# ---------------------------------------------------------------------------
# agg_variance_shard_merge — Chan parallel-variance state merge
# ---------------------------------------------------------------------------

_VARMERGE_ORACLE = """
WITH pts AS (
    SELECT l_orderkey % 8 AS shard,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
shards AS (
    SELECT shard, COUNT(*) AS n, SUM(y) AS s,
           SUM(CAST(y AS HUGEINT) * y) AS ss
    FROM pts GROUP BY 1
),
states AS (
    SELECT n, s,
           CAST(floor(CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * s / n + 0.5) AS HUGEINT) AS m2q,
           CAST(floor(CAST(s AS DOUBLE) * s / n + 0.5) AS HUGEINT) AS sqq
    FROM shards
),
merged AS (
    SELECT SUM(n) AS n, SUM(s) AS s,
           SUM(m2q) AS m2_within, SUM(sqq) AS sq_means
    FROM states
)
SELECT n,
       floor((CAST(s AS DOUBLE) / n) / 100 * 1e4 + 0.5) / 1e4 AS mean,
       floor(((CAST(m2_within AS DOUBLE)
               + (CAST(sq_means AS DOUBLE) - CAST(s AS DOUBLE) * s / n)) / n)
             / 10000 * 1e4 + 0.5) / 1e4 AS var_pop
FROM merged
"""


@query("agg_variance_shard_merge", _VARMERGE_ORACLE)
def agg_variance_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable variance states: each of 8 shards reduces to
    (n, Σy, Σy²) — the associative state behind every distributed
    VAR/STDDEV — and a constant-size second pass merges them with the
    parallel-variance decomposition: total M2 = Σ within-shard M2 +
    between-shard dispersion of shard means. The point, as a query:
    ANY moment statistic can roll up incrementally (per-partition ->
    per-day -> global) without revisiting rows, which is what lets a
    100 TB pipeline maintain global variance over a growing table by
    merging yesterday's state with today's shard states
    (`agg_incremental_merge` is the first-moment sibling). Shard sums
    are exact int128/decimal; the merge arithmetic runs on 8 rows.
    Property test: merged result == direct one-pass var_pop.
    """
    li = read_table(spark, sf_dir, "lineitem")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    pts = li.select((F.col("l_orderkey") % 8).alias("shard"), y.alias("y"))
    shards = pts.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    # Quantize each shard's M2 contribution to the 1-cent² grid BEFORE
    # the merge: integer addition is order-free, so the merged state is
    # bit-identical regardless of which executor sums which shard
    # (the raw double sums differed from DuckDB's in the last ulp and
    # flipped the q4 rounding of var_pop).
    states = shards.select(
        "n",
        "s",
        F.floor(F.col("ss").cast("double") - sd * sd / nd + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("m2q"),
        F.floor(sd * sd / nd + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("sqq"),
    )
    merged = states.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("m2q").alias("m2_within"),
        F.sum("sqq").alias("sq_means"),
    )
    S, N = F.col("s").cast("double"), F.col("n").cast("double")
    var_pop = (
        F.col("m2_within").cast("double")
        + (F.col("sq_means").cast("double") - S * S / N)
    ) / N
    return merged.select(
        "n",
        (F.floor((S / N) / 100 * 1e4 + F.lit(0.5)) / 1e4).alias("mean"),
        (F.floor(var_pop / 10000 * 1e4 + F.lit(0.5)) / 1e4).alias("var_pop"),
    )


# ---------------------------------------------------------------------------
# api_cogroup_pandas — two-sided keyed reconciliation via cogroup
# ---------------------------------------------------------------------------

_COGROUP_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           COUNT(*) AS n_lines,
           SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS net_cents
    FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey,
       COALESCE(li.n_lines, 0) AS n_lines,
       COALESCE(li.net_cents, 0) AS net_cents,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS order_cents,
       COALESCE(li.net_cents, 0)
           > CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS overbilled
FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
"""


@query("api_cogroup_pandas", _COGROUP_ORACLE)
def api_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-pandas API surface: orders and lineitem are cogrouped
    on orderkey and reconciled per key inside ONE Arrow-batched pandas
    function (`groupBy().cogroup().applyInPandas`) — the API for
    two-sided per-key logic that would otherwise need a join plus a
    grouped UDF (think: order-vs-shipment reconciliation, label-vs-
    prediction alignment, CDC old-vs-new diffing with custom rules).
    Both sides shuffle once and arrive as pandas frames; prices
    integerize to cents inside pandas BEFORE summing so the result is
    order-independent and engine-exact. The oracle is the equivalent
    join+aggregate — same semantics, no Python.

    Cogroup KEY GRANULARITY is the scale lever (r7 sweep finding): a
    per-orderkey cogroup invokes Python once per ORDER — 150k pandas
    frames at sf0.1 cost 76s of pure per-group overhead on a healthy
    host. Cogrouping on a 1024-way KEY BUCKET instead delivers ~146
    orders per Arrow batch and does the per-order reconciliation
    VECTORIZED inside pandas (groupby + merge) — identical rows, Python
    invoked 1024 times regardless of corpus size. At 100 TB prefer the
    pure-JVM form when the logic is expressible; bucketed cogroup is
    the escape hatch shape when it is not.
    """
    n_buckets = 1024
    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("bkt", F.pmod(F.col("o_orderkey"), F.lit(n_buckets)))
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .withColumn("bkt", F.pmod(F.col("l_orderkey"), F.lit(n_buckets)))
    )

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if odf.empty:
            return pd.DataFrame(
                columns=[
                    "o_orderkey", "n_lines", "net_cents", "order_cents",
                    "overbilled",
                ]
            )
        if ldf.empty:
            agg = pd.DataFrame(
                {"l_orderkey": pd.Series(dtype="int64"),
                 "n_lines": pd.Series(dtype="int64"),
                 "net_cents": pd.Series(dtype="int64")}
            )
        else:
            cents = np.floor(
                ldf["l_extendedprice"].values
                * (1 - ldf["l_discount"].values)
                * 100
                + 0.5
            ).astype("int64")
            agg = (
                pd.DataFrame(
                    {"l_orderkey": ldf["l_orderkey"].values, "c": cents}
                )
                .groupby("l_orderkey", sort=False)["c"]
                .agg(n_lines="size", net_cents="sum")
                .reset_index()
            )
        out = odf.merge(
            agg, left_on="o_orderkey", right_on="l_orderkey", how="left"
        )
        order_cents = np.floor(
            out["o_totalprice"].values * 100 + 0.5
        ).astype("int64")
        n_lines = out["n_lines"].fillna(0).astype("int64")
        net = out["net_cents"].fillna(0).astype("int64")
        return pd.DataFrame(
            {
                "o_orderkey": out["o_orderkey"].astype("int64"),
                "n_lines": n_lines,
                "net_cents": net,
                "order_cents": order_cents,
                "overbilled": net.values > order_cents,
            }
        )

    return (
        orders.groupBy("bkt")
        .cogroup(li.groupBy("bkt"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, n_lines long, net_cents long, "
            "order_cents long, overbilled boolean",
        )
    )


# ---------------------------------------------------------------------------
# events_bot_score_profile — multi-signal per-user profile in one pass
# ---------------------------------------------------------------------------

_BOT_ORACLE = """
WITH by_type AS (
    SELECT user_id, event_type, COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
ent AS (
    SELECT user_id, SUM(c) AS n_events,
           floor((ln(SUM(c)) - SUM(c * ln(c)) / SUM(c)) * 1e6 + 0.5) / 1e6
               AS type_entropy
    FROM by_type GROUP BY 1
),
gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
arr AS (
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           AVG(CAST(gap_us AS DOUBLE)) AS mean_gap,
           COALESCE(var_pop(CAST(gap_us AS DOUBLE)), 0) AS var_gap
    FROM gaps GROUP BY 1
)
SELECT e.user_id, e.n_events, e.type_entropy,
       floor(COALESCE(sqrt(a.var_gap) / NULLIF(a.mean_gap, 0), 0) * 1e6
             + 0.5) / 1e6 AS gap_cv,
       (CASE WHEN e.n_events >= 40 THEN 1 ELSE 0 END
        + CASE WHEN e.type_entropy < 0.75 THEN 1 ELSE 0 END
        + CASE WHEN a.n_gaps >= 5 AND
                    COALESCE(sqrt(a.var_gap) / NULLIF(a.mean_gap, 0), 0)
                    < 0.45 THEN 1 ELSE 0 END) AS bot_score
FROM ent e JOIN arr a USING (user_id)
"""


@query("events_bot_score_profile", _BOT_ORACLE)
def events_bot_score_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal bot screen: per user, (1) raw volume, (2) Shannon
    entropy of the event-type mix (scripted clients hammer one
    endpoint — low entropy), (3) coefficient of variation of
    inter-arrival times (timers fire regularly — low CV), combined
    into a 0-3 rule score. The entropy branch aggregates the bounded
    (user, type) rollup using the factored form
    H = ln(n) - Σc·ln(c)/n (one log per rollup row, exact integer
    counts inside); the regularity branch is a user-keyed lag window
    over the raw stream feeding a moment aggregate. Both branches key
    on user_id, so the plan shuffles the fact once and reuses the
    exchange; the final join relates two user-grain rollups. At
    100 TB the thresholds come from `dq_mad_outliers`-style robust
    quantiles instead of literals — same plan.
    """
    ev = read_table(spark, sf_dir, "events")
    by_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    ent = by_type.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        r6(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("type_entropy"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
        ).alias("gap_us"),
    )
    arr = gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.avg(F.col("gap_us").cast("double")).alias("mean_gap"),
        F.coalesce(
            F.var_pop(F.col("gap_us").cast("double")), F.lit(0.0)
        ).alias("var_gap"),
    )
    cv = F.coalesce(
        F.sqrt(F.col("var_gap")) / F.nullif(F.col("mean_gap"), F.lit(0)),
        F.lit(0.0),
    )
    return ent.join(arr, "user_id").select(
        "user_id",
        "n_events",
        "type_entropy",
        r6(cv).alias("gap_cv"),
        (
            F.when(F.col("n_events") >= 40, 1).otherwise(0)
            + F.when(F.col("type_entropy") < 0.75, 1).otherwise(0)
            + F.when((F.col("n_gaps") >= 5) & (cv < 0.45), 1).otherwise(0)
        ).alias("bot_score"),
    )
