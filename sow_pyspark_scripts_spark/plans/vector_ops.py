r"""Vector/linear-algebra + corpus-hygiene tier: dimensionality
reduction as relational algebra (PCA by power iteration over a
covariance RELATION), held-out language-model evaluation with the
train/test discipline, and URL canonicalization — three staples of a
training-data platform that are usually hidden inside libraries,
expressed here as oracle-checkable Spark plans.

Scale notes:
- the covariance matrix is a (i, j, value) RELATION of d² = 4096 rows
  regardless of corpus size: the pair explode fans each vector to its
  d² co-moment contributions map-side and ONE hash aggregate reduces
  them. Power iteration then joins the 4096-row matrix against a
  64-row vector — driver-free linear algebra over broadcastable
  relations, with every iterate re-quantized (1e-9) so both engines
  walk the identical trajectory;
- perplexity evaluation splits by the content-addressed md5 bucket
  (`sample_hash_split`), builds the smoothed unigram LM from train
  only (vocabulary-bounded model relation), and scores test tokens via
  a broadcast-joined log-prob lookup: the model is the small side, the
  test corpus streams;
- URL canonicalization is pure string expressions (lower, strip
  default ports / tracking params / trailing slash) — whole-stage
  codegen, then an exact-dedup groupBy on the canonical key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketch import approx_pctl, approx_pctls
from ..functions.det import mean_grid, mean_grid_sql, r6
from ..registry import query
from ..sources import read_table

_M9V = mean_grid_sql("v", "1000000000.0")

_PCA_ITERS = 3


# ---------------------------------------------------------------------------
# embedding_pca_power_iter — top principal component, relationally
# ---------------------------------------------------------------------------

def _pca_sql() -> str:
    head = f"""
WITH flat AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
mu AS (
    SELECT pos, {_M9V} AS m FROM flat GROUP BY pos
),
cent AS (
    SELECT vec_id, pos,
           CAST(floor((v - m) * 1e4 + 0.5) AS BIGINT) AS xq
    FROM flat JOIN mu USING (pos)
),
n AS (SELECT count(DISTINCT vec_id) AS n FROM flat),
cov AS (
    SELECT a.pos AS i, b.pos AS j,
           CAST(floor(sum(a.xq * b.xq) / ((SELECT n FROM n) - 1) / 1e8 * 1e9
                      + 0.5) AS BIGINT) AS c9
    FROM cent a JOIN cent b ON a.vec_id = b.vec_id
    GROUP BY a.pos, b.pos
),
v0 AS (SELECT DISTINCT pos, CAST(125000000 AS BIGINT) AS vq FROM flat)"""
    step = """,
w{k} AS (
    SELECT i AS pos,
           CAST(floor(sum(c9 * vq) / 1e9 + 0.5) AS BIGINT) AS w9
    FROM cov JOIN v{p} ON v{p}.pos = cov.j
    GROUP BY i
),
nrm{k} AS (SELECT sqrt(CAST(sum(w9 * w9) AS DOUBLE)) / 1e9 AS nm FROM w{k}),
v{k} AS (
    SELECT pos,
           CAST(floor((w9 / 1e9) / (SELECT nm FROM nrm{k}) * 1e9 + 0.5)
                AS BIGINT) AS vq
    FROM w{k}
)"""
    sql = head
    for k in range(1, _PCA_ITERS + 1):
        sql += step.format(k=k, p=k - 1)
    last = f"v{_PCA_ITERS}"
    return (
        sql
        + f""",
sgn AS (
    SELECT CASE WHEN vq < 0 THEN -1.0 ELSE 1.0 END AS s
    FROM {last}
    ORDER BY abs(vq) DESC, pos ASC LIMIT 1
),
lam AS (
    SELECT floor(CAST(sum(CAST(floor((cov.c9 / 1e9) * (a.vq / 1e9) * (b.vq / 1e9)
                                     * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000.0 + 0.5) / 1000000.0 AS eigenvalue
    FROM cov JOIN {last} a ON a.pos = cov.i JOIN {last} b ON b.pos = cov.j
)
SELECT CAST({last}.pos AS BIGINT) AS dim,
       floor(({last}.vq / 1e9) * sgn.s * 1e6 + 0.5) / 1e6 AS loading,
       lam.eigenvalue AS eigenvalue
FROM {last}, sgn, lam
"""
    )


@query("embedding_pca_power_iter", _pca_sql())
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: ONE distributed
    pass builds the d²-bounded covariance from per-partition integer
    GEMM partials (each partition emits one d×d block), then 3 power
    iterations run driver-side on the collected 4096-cell matrix — the
    same split Spark MLlib uses (`RowMatrix.computePrincipalComponents`
    collects the d² Gramian and eigensolves on the driver). The collect
    is bounded by d², never by corpus size, so at 100 TB only the first
    pass touches data; iterating in-driver replaces ~10 scheduler
    round-trips of 64-row Spark jobs with microseconds of arithmetic.

    Cross-engine determinism: centered values quantize to a 1e-4
    integer grid, making every co-moment an EXACT int64 sum (sum-order
    independent — float partials once flipped an r9 boundary); the
    driver iteration uses arbitrary-precision Python ints for every
    matvec (exactly the int64 sums the oracle's SQL computes) and
    re-quantizes the iterate to the same 1e-9 grid each step, so both
    engines walk the identical trajectory; the sign fixes to the
    largest-|loading| component.

    Approximation bound (ADVICE r2): the 1e-4 input grid perturbs each
    covariance cell by at most ~(2·5e-5·max|x| + 2.5e-9) per vector
    before the /(n-1), i.e. the computed component is the true PCA of a
    matrix within ~1e-4·max|x| of the data — negligible at the
    fixture's O(1) magnitudes, and the bound scales LINEARLY with data
    magnitude (normalize inputs first if |x| >> 1). The oracle applies
    the same grid, so tests verify trajectory identity, not the
    unquantized component. n is taken from the per-pos counts, which
    must be uniform — asserted, not assumed."""
    emb = read_table(spark, sf_dir, "embeddings")
    r9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("p0", "vf")
    ).select("vec_id", (F.col("p0") + 1).alias("pos"), F.col("vf").cast("double").alias("v"))
    mu = flat.groupBy("pos").agg(
        mean_grid(F.col("v"), 1e9).alias("m"), F.count(F.lit(1)).alias("cnt")
    )
    # the d-row mean vector is plan-bounded: collect it once and center
    # inside the co-moment kernel (values are ALREADY r9-quantized, so
    # the trajectory contract with the oracle is unchanged). The vector
    # count rides in the SAME aggregate (max per-pos count == distinct
    # vec_id for the uniform-length arrays the fixture guarantees), so
    # the corpus is scanned twice total (means, co-moments) — the
    # oracle's separate count(DISTINCT vec_id) pass is folded away
    mu_rows = mu.collect()
    mu_map = {r["pos"]: r["m"] for r in mu_rows}
    mu_arr = [mu_map[p] for p in sorted(mu_map)]
    counts = {r["cnt"] for r in mu_rows}
    if len(counts) > 1:  # ragged arrays would silently skew n and mu
        raise ValueError(
            f"embedding_pca_power_iter requires uniform vector length; "
            f"per-position counts differ: {sorted(counts)[:5]}..."
        )
    n_val = max(counts, default=0)

    # covariance as per-partition numpy outer products: each partition
    # emits ONE d×d partial block XqᵀXq as (i, j, sxx) rows —
    # d²·n_partitions rows shuffle instead of d²·N (the pair-explode
    # self-join was the bench's #2 cost at sf0.1). The centered values
    # quantize to a 1e-4 integer grid FIRST, so every co-moment is an
    # exact int64 sum — order-independent, hence bit-identical between
    # the GEMM partials here and the oracle's pairwise SQL sum (float
    # partials flipped an r9 boundary once in 4096 cells). Products are
    # ≤4e8, so one partition overflows int64 only past ~2e10 rows.
    from pyspark.sql.types import LongType, StructField, StructType

    _cov_schema = StructType(
        [
            StructField("i", LongType()),
            StructField("j", LongType()),
            StructField("sxx", LongType()),
        ]
    )

    def _partial_cov(batches):
        import numpy as np
        import pandas as pd

        m = np.asarray(mu_arr, dtype=np.float64)
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) - m
            xq = np.floor(x * 1e4 + 0.5).astype(np.int64)
            blk = xq.T @ xq
            acc = blk if acc is None else acc + blk
        if acc is not None:
            d = acc.shape[0]
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": (ii + 1).ravel().astype("int64"),
                    "j": (jj + 1).ravel().astype("int64"),
                    "sxx": acc.ravel(),
                }
            )

    cov = (
        emb.select("embedding")
        .mapInPandas(_partial_cov, _cov_schema)
        .groupBy("i", "j")
        .agg(F.sum("sxx").alias("sxx"))
        .select(
            "i",
            "j",
            # covariance cell on the 1e-9 grid, stored AS THE INTEGER
            # numerator c9 = round(c·1e9): every downstream matvec sum
            # is then an exact int64 sum — order-independent, so the
            # two engines cannot diverge on a rounding boundary
            F.floor(
                F.col("sxx") / F.lit(max(n_val - 1, 1)) / F.lit(1e8) * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long").alias("c9"),
        )
    )

    # ONE action materializes the d²-bounded matrix (4096 rows — the
    # MLlib Gramian-collect shape); everything below is driver-side
    # exact-integer arithmetic mirroring the oracle's SQL step by step.
    import math

    cells = {(r["i"], r["j"]): r["c9"] for r in cov.collect()}
    out_schema = "dim long, loading double, eigenvalue double"
    if not cells:
        return spark.createDataFrame([], out_schema)
    dims = sorted({i for i, _ in cells})
    vq = {p: 125_000_000 for p in dims}  # 0.125·1e9 start, as in v0
    for _ in range(_PCA_ITERS):
        # S = Σ c9·vq exact (Python ints never overflow, matching the
        # oracle's int64 range at these magnitudes); w on the 1e-9 grid
        w9 = {
            i: math.floor(
                sum(cells.get((i, j), 0) * vq[j] for j in dims) / 1e9 + 0.5
            )
            for i in dims
        }
        nm = math.sqrt(float(sum(w * w for w in w9.values()))) / 1e9
        if nm == 0.0:
            vq = {p: 0 for p in dims}
            break
        vq = {i: math.floor((w9[i] / 1e9) / nm * 1e9 + 0.5) for i in dims}
    top = max(dims, key=lambda p: (abs(vq[p]), -p))
    s = -1.0 if vq[top] < 0 else 1.0
    # per-term 1e-9 quantization then exact integer sum (r5): the
    # oracle's DuckDB sum order over the d² join is unpinned, so the
    # fold must be order-free in both engines
    lam9 = sum(
        math.floor((c9 / 1e9) * (vq[i] / 1e9) * (vq[j] / 1e9) * 1e9 + 0.5)
        for (i, j), c9 in sorted(cells.items())
    )
    eigenvalue = math.floor(lam9 / 1e3 + 0.5) / 1e6
    rows = [
        (int(p), math.floor((vq[p] / 1e9) * s * 1e6 + 0.5) / 1e6, eigenvalue)
        for p in dims
    ]
    return spark.createDataFrame(rows, out_schema)


# ---------------------------------------------------------------------------
# text_heldout_perplexity — add-one unigram LM scored on the test split
# ---------------------------------------------------------------------------

_HASH_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) "
    "AS BIGINT) % 100"
)

_PPL_ORACLE = rf"""
WITH docs2 AS (
    SELECT doc_id, text,
           CASE WHEN {_HASH_BUCKET} < 90 THEN 'train' ELSE 'test' END AS split
    FROM documents
),
toks AS (
    SELECT doc_id, split, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
    FROM docs2 WHERE trim(lower(text)) <> ''
),
train_c AS (SELECT w, count(*) AS c FROM toks WHERE split = 'train' GROUP BY w),
consts AS (
    SELECT (SELECT sum(c) FROM train_c) AS big_n,
           (SELECT count(*) FROM train_c) AS vocab
),
test_t AS (
    SELECT t.w, count(*) AS tc, max(coalesce(tr.c, 0)) AS c
    FROM toks t LEFT JOIN train_c tr ON tr.w = t.w
    WHERE t.split = 'test'
    GROUP BY t.w
),
scored AS (
    SELECT sum(tc) AS n_tokens,
           sum(CASE WHEN c = 0 THEN tc ELSE 0 END) AS n_oov,
           sum(tc * ln((c + 1.0) / (big_n + vocab + 1.0))) AS ll
    FROM test_t, consts
)
SELECT n_tokens, n_oov,
       floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS oov_rate,
       floor(-ll / n_tokens * 1e6 + 0.5) / 1e6 AS avg_nll,
       floor(exp(-ll / n_tokens) * 1e4 + 0.5) / 1e4 AS perplexity
FROM scored
"""


@query("text_heldout_perplexity", _PPL_ORACLE)
def text_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of an add-one-smoothed unigram LM: train on
    the 90% content-addressed hash split, score the held-out 10% —
    the quality number (with OOV rate) a corpus team tracks per ingest
    to catch distribution shift, with the train/test discipline that
    `text_unigram_surprisal` (in-sample) deliberately skips.

    The model is the vocabulary-bounded (token, count) relation; test
    scoring collapses the test split to per-distinct-token counts FIRST
    (so ln() runs once per type, not per token) and the model join is
    hash on the token. ln()'s last-ulp engine differences wash out
    under the final 1e-6 rounding (the `corpus_kl_divergence_drift`
    precedent)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    t = F.trim(F.lower(F.col("text")))
    # whole-doc empty strings drop (matches the oracle's guard)
    toks = (
        docs.where(t != "")
        .select(
            F.when(bucket < 90, "train").otherwise("test").alias("split"),
            F.explode(F.split(t, r"\s+")).alias("w"),
        )
    )
    train_c = toks.where(F.col("split") == "train").groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    consts = train_c.agg(
        F.sum("c").alias("big_n"), F.count(F.lit(1)).alias("vocab")
    )
    test_t = (
        toks.where(F.col("split") == "test")
        .join(train_c, "w", "left")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("tc"),
            F.max(F.coalesce(F.col("c"), F.lit(0))).alias("c"),
        )
    )
    scored = test_t.crossJoin(F.broadcast(consts)).agg(
        F.sum("tc").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 0, F.col("tc")).otherwise(0)).alias("n_oov"),
        F.sum(
            F.col("tc")
            * F.log((F.col("c") + 1.0) / (F.col("big_n") + F.col("vocab") + 1.0))
        ).alias("ll"),
    )
    return scored.select(
        "n_tokens",
        "n_oov",
        r6(F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        r6(-F.col("ll") / F.col("n_tokens")).alias("avg_nll"),
        (
            F.floor(F.exp(-F.col("ll") / F.col("n_tokens")) * F.lit(1e4) + F.lit(0.5))
            / F.lit(1e4)
        ).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# corpus_url_canonical_dedup — canonicalize crawl URLs, dedup on the key
# ---------------------------------------------------------------------------

_URL_ORACLE = r"""
WITH raw AS (
    SELECT doc_id,
           'HTTPS://' || upper(source) || '.Example.org:443/' || lang
               || '/doc/' || CAST(doc_id % 50 AS VARCHAR)
               || '/?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
               || '&utm_campaign=x' AS url
    FROM documents
),
canon AS (
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), ':443/', '/'),
                 'utm_[a-z]+=[^&]*&?', '', 'g'),
               '[?&]$', ''),
             '/\?', '?') AS curl
    FROM raw
)
SELECT curl AS canonical_url,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY curl
"""


@query("corpus_url_canonical_dedup", _URL_ORACLE)
def corpus_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup: lowercase the scheme/host, strip
    the default :443 port, remove utm_* tracking parameters and dangling
    separators, then exact-dedup on the canonical key — the first
    normalization a web-crawl pipeline applies (the same crawl page
    arrives under dozens of tracking-param spellings).

    The dirty URLs are minted deterministically from doc fields (the
    `integrity_ops` synthetic-URL pattern) so the oracle sees identical
    inputs. Canonicalization is a whole-stage-codegen regexp chain — the
    `udf_normalize_text` discipline (`preprocess_and_store_parquets.py:
    111-138` eliminated the same way); the only shuffle is the dedup
    groupBy on the canonical key."""
    docs = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.org:443/"),
        F.col("lang"),
        F.lit("/doc/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&id="),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("&utm_campaign=x"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), ":443/", "/"),
                "utm_[a-z]+=[^&]*&?",
                "",
            ),
            "[?&]$",
            "",
        ),
        "/\\?",
        "?",
    )
    return (
        docs.select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# dedup_paragraph_exact — sub-document dedup at paragraph grain
# ---------------------------------------------------------------------------

_PARA_ORACLE = r"""
WITH paras AS (
    SELECT doc_id, trim(p) AS p
    FROM (SELECT doc_id, unnest(string_split(text, '.')) AS p FROM documents)
    WHERE trim(p) <> ''
),
keyed AS (SELECT doc_id, md5(p) AS fp, octet_length(encode(p)) AS b FROM paras),
groups AS (
    SELECT fp, count(*) AS n_copies, min(doc_id) AS keeper_doc_id,
           max(b) AS bytes_each
    FROM keyed GROUP BY fp
)
SELECT (SELECT count(*) FROM keyed) AS n_paragraphs,
       count(*) AS n_distinct,
       sum(n_copies - 1) AS n_duplicates,
       sum((n_copies - 1) * bytes_each) AS bytes_saved
FROM groups
"""


@query("dedup_paragraph_exact", _PARA_ORACLE)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup: split each document at sentence/
    paragraph boundaries, fingerprint each fragment, and report the
    duplicate count and bytes saved — the sub-document dedup pass
    (boilerplate headers, licence blocks, navigation chrome) that
    doc-level `dedup_exact` misses and that every pre-training corpus
    runs between doc dedup and `dedup_exact_substring`'s window scan.

    The explode is per-row bounded (paragraphs per doc); the shuffle
    carries 16-byte fingerprints + lengths, never paragraph text; the
    rollup result is fingerprint-bounded. Byte accounting is exact
    integers."""
    docs = read_table(spark, sf_dir, "documents")
    paras = (
        docs.select("doc_id", F.explode(F.split("text", r"\.")).alias("p"))
        .select("doc_id", F.trim("p").alias("p"))
        .where(F.col("p") != "")
    )
    keyed = paras.select(
        "doc_id", F.md5("p").alias("fp"), F.octet_length("p").alias("b")
    )
    groups = keyed.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.max("b").alias("bytes_each"),
    )
    tot = keyed.agg(F.count(F.lit(1)).alias("n_paragraphs"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("n_copies") - 1).alias("n_duplicates"),
        F.sum((F.col("n_copies") - 1) * F.col("bytes_each")).cast("long").alias(
            "bytes_saved"
        ),
    ).crossJoin(F.broadcast(tot)).select(
        "n_paragraphs", "n_distinct", "n_duplicates", "bytes_saved"
    )


# ---------------------------------------------------------------------------
# agg_theil_decomposition — inequality between vs within regions
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH c AS (
    SELECT r_name, sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name, o_custkey
),
tot AS (SELECT sum(cents) AS x_tot, count(*) AS n_tot FROM c),
within AS (
    SELECT r_name, sum(cents) AS x_r, count(*) AS n_r,
           sum(CAST(floor(CAST(cents AS DOUBLE) / (SELECT x_tot FROM tot)
                    * ln(CAST(cents AS DOUBLE) * (SELECT n_tot FROM tot)
                         / (SELECT x_tot FROM tot)) * 1e12 + 0.5) AS BIGINT))
               AS t_u
    FROM c GROUP BY r_name
),
parts AS (
    SELECT sum(t_u) AS t_total_u,
           sum(CAST(floor(CAST(x_r AS DOUBLE) / (SELECT x_tot FROM tot)
                    * ln((CAST(x_r AS DOUBLE) / (SELECT x_tot FROM tot))
                         / (CAST(n_r AS DOUBLE) / (SELECT n_tot FROM tot)))
                    * 1e12 + 0.5) AS BIGINT)) AS t_between_u
    FROM within
)
SELECT floor(CAST(t_total_u AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS theil_total,
       floor(CAST(t_between_u AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
           AS theil_between,
       floor(CAST(t_total_u - t_between_u AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
           AS theil_within
FROM parts
"""


@query("agg_theil_decomposition", _THEIL_ORACLE)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue, decomposed into
    between-region and within-region components (T = T_between +
    T_within) — the decomposable inequality measure that `agg_gini_revenue`
    and `agg_herfindahl_index` are not: it answers WHERE the
    concentration lives (across geographies or inside them).

    Per-customer revenue aggregates once (cents-exact); each customer's
    Theil term quantizes to integer picounits BEFORE the regional and
    grand sums, so the decomposition identity holds exactly in both
    engines; the grand totals broadcast as a 1-row aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = read_table(spark, sf_dir, "region")
    c = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents")
        )
    )
    tot = c.agg(F.sum("cents").alias("x_tot"), F.count(F.lit(1)).alias("n_tot"))
    ct = c.crossJoin(F.broadcast(tot))
    t_u = F.floor(
        F.col("cents").cast("double")
        / F.col("x_tot")
        * F.log(
            F.col("cents").cast("double") * F.col("n_tot") / F.col("x_tot")
        )
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    within = ct.groupBy("r_name").agg(
        F.sum("cents").alias("x_r"),
        F.count(F.lit(1)).alias("n_r"),
        F.sum(t_u).alias("t_u"),
        F.max("x_tot").alias("x_tot"),
        F.max("n_tot").alias("n_tot"),
    )
    tb_u = F.floor(
        F.col("x_r").cast("double")
        / F.col("x_tot")
        * F.log(
            (F.col("x_r").cast("double") / F.col("x_tot"))
            / (F.col("n_r").cast("double") / F.col("n_tot"))
        )
        * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    parts = within.agg(
        F.sum("t_u").alias("t_total_u"), F.sum(tb_u).alias("t_between_u")
    )
    r6u = lambda c: r6(c.cast("double") / F.lit(1e12))  # noqa: E731
    return parts.select(
        r6u(F.col("t_total_u")).alias("theil_total"),
        r6u(F.col("t_between_u")).alias("theil_between"),
        r6u(F.col("t_total_u") - F.col("t_between_u")).alias("theil_within"),
    )


# ---------------------------------------------------------------------------
# stats_beta_binomial — Bayesian conversion-rate posterior
# ---------------------------------------------------------------------------

_BETA_ORACLE = """
WITH d AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
    FROM events GROUP BY 1
),
post AS (
    SELECT day, n, k, 1.0 + k AS a, 1.0 + n - k AS b FROM d
)
SELECT day, n, k,
       floor(a / (a + b) * 1e6 + 0.5) / 1e6 AS posterior_mean,
       floor((a / (a + b) - 1.959963984540054
              * sqrt(a * b / ((a + b) * (a + b) * (a + b + 1)))) * 1e6 + 0.5)
           / 1e6 AS ci_low,
       floor((a / (a + b) + 1.959963984540054
              * sqrt(a * b / ((a + b) * (a + b) * (a + b + 1)))) * 1e6 + 0.5)
           / 1e6 AS ci_high
FROM post
"""


@query("stats_beta_binomial", _BETA_ORACLE)
def stats_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian daily conversion rate: Beta(1,1) prior updated by each
    day's (purchases, trials) -> posterior mean and a normal-
    approximation 95% credible interval — the smoothed rate a dashboard
    shows INSTEAD of raw k/n (which whipsaws on low-traffic days; the
    prior pulls small samples toward 1/2 and leaves big ones alone).

    One day-grain rollup; the posterior moments are closed forms over
    exact integer counts with the z quantile embedded as an identical
    literal (`stats_mde_power` discipline)."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    a = F.lit(1.0) + F.col("k")
    b = F.lit(1.0) + F.col("n") - F.col("k")
    mean = a / (a + b)
    sd = F.sqrt(a * b / ((a + b) * (a + b) * (a + b + 1)))
    z = F.lit(1.959963984540054)
    return d.select(
        "day", "n", "k",
        r6(mean).alias("posterior_mean"),
        r6(mean - z * sd).alias("ci_low"),
        r6(mean + z * sd).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# corpus_line_dedup — CCNet-style high-document-frequency line removal
# ---------------------------------------------------------------------------

_LINE_ORACLE = r"""
WITH frags AS (
    SELECT DISTINCT doc_id, source, trim(p) AS frag
    FROM (SELECT doc_id, source, unnest(string_split(text, '.')) AS p
          FROM documents)
    WHERE trim(p) <> ''
),
src_docs AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM frags GROUP BY source),
df AS (
    SELECT source, frag, count(*) AS doc_freq,
           octet_length(encode(frag)) AS b
    FROM frags GROUP BY source, frag
),
tagged AS (
    SELECT df.source, doc_freq, b, n_docs,
           (CAST(doc_freq AS DOUBLE) / n_docs > 0.1 AND doc_freq >= 3)
               AS is_boiler
    FROM df JOIN src_docs ON df.source = src_docs.source
)
SELECT source, max(n_docs) AS n_docs,
       count(*) AS n_distinct_lines,
       sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS n_boilerplate_lines,
       sum(CASE WHEN is_boiler THEN doc_freq * b ELSE 0 END) AS bytes_removed
FROM tagged GROUP BY source
"""


@query("corpus_line_dedup", _LINE_ORACLE)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level boilerplate removal accounting: within each
    source, fragments appearing in more than 10% of that source's
    documents (and at least 3) are boilerplate — navigation chrome,
    legal footers — and get stripped corpus-wide. Reports, per source,
    how many distinct lines are boilerplate and the bytes removal
    saves. The per-SOURCE document-frequency criterion is what
    distinguishes this from global `dedup_paragraph_exact`: a line can
    be boilerplate for one crawl domain and content for another.

    Fragment doc-frequency is one (source, frag)-keyed aggregate over
    the per-doc-distinct explode; the per-source doc counts broadcast
    back. Shuffles carry fragments once — the removal itself at scale
    is a broadcast-semi-join of the boilerplate set against the
    fragment stream."""
    docs = read_table(spark, sf_dir, "documents")
    frags = (
        docs.select("doc_id", "source", F.explode(F.split("text", r"\.")).alias("p"))
        .select("doc_id", "source", F.trim("p").alias("frag"))
        .where(F.col("frag") != "")
        .distinct()
    )
    src_docs = frags.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    df = frags.groupBy("source", "frag").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.max(F.octet_length("frag")).alias("b"),
    )
    tagged = df.join(F.broadcast(src_docs), "source").select(
        "source",
        "doc_freq",
        "b",
        "n_docs",
        (
            (F.col("doc_freq").cast("double") / F.col("n_docs") > 0.1)
            & (F.col("doc_freq") >= 3)
        ).alias("is_boiler"),
    )
    return tagged.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias(
            "n_boilerplate_lines"
        ),
        F.sum(
            F.when(F.col("is_boiler"), F.col("doc_freq") * F.col("b")).otherwise(0)
        ).cast("long").alias("bytes_removed"),
    )


# ---------------------------------------------------------------------------
# ml_best_threshold_f1 — decision-threshold sweep in one scan
# ---------------------------------------------------------------------------

_F1_ORACLE = """
WITH b AS (SELECT {bounds} FROM events WHERE event_type IN ('purchase', 'click')),
base AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) / 100.0 AS score,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IN ('purchase', 'click')
),
cand AS (SELECT unnest([{blist}]) AS thr FROM b),
cm AS (
    SELECT thr,
           sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
           sum(CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
           sum(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0 END) AS fn
    FROM base, cand GROUP BY thr
)
SELECT thr AS best_threshold, tp, fp, fn,
       floor(2.0 * tp / (2.0 * tp + fp + fn) * 1e6 + 0.5) / 1e6 AS f1
FROM cm
ORDER BY floor(2.0 * tp / (2.0 * tp + fp + fn) * 1e6 + 0.5) / 1e6 DESC, thr ASC
LIMIT 1
"""


def _f1_sql() -> str:
    deciles = [k / 10.0 for k in range(1, 10)]
    bounds = ",\n       ".join(
        f"floor(quantile_disc(CAST(floor(value * 100 + 0.5) AS BIGINT) / 100.0, {p})"
        f" * 1e6 + 0.5) / 1e6 AS b{k}"
        for k, p in enumerate(deciles, start=1)
    )
    blist = ", ".join(f"b{k}" for k in range(1, 10))
    return _F1_ORACLE.format(bounds=bounds, blist=blist)


@query("ml_best_threshold_f1", _f1_sql())
def ml_best_threshold_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold tuning: sweep the score deciles as candidate
    thresholds for classifying purchase-vs-click by event value and
    pick the F1-maximizing one, with its confusion counts — the readout
    between `ml_auc_roc` (threshold-free) and deployment (which needs
    ONE threshold). Same one-scan shape as `ml_best_split_gini`:
    candidates from one percentile pass fan out map-side, the confusion
    matrix is exact integer counts per candidate, and the argmax runs
    over 9 rows with F1 rounded identically before ranking."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    score = (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") / F.lit(100.0))
    base = ev.select(
        score.alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    deciles = [k / 10.0 for k in range(1, 10)]
    # ONE sketch queried at all 9 ranks (r9, functions/sketch.approx_pctls)
    b = base.agg(F.transform(approx_pctls("score", tuple(deciles)), r6).alias("bl"))
    cand = b.select(F.explode("bl").alias("thr"))
    cm = (
        base.crossJoin(F.broadcast(cand))
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when((F.col("score") < F.col("thr")) & (F.col("y") == 1), 1).otherwise(0)).alias("fn"),
        )
    )
    f1 = r6(
        F.lit(2.0) * F.col("tp") / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    return (
        cm.select(F.col("thr").alias("best_threshold"), "tp", "fp", "fn", f1.alias("f1"))
        .orderBy(F.desc("f1"), F.asc("best_threshold"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# expr_luhn_checksum — payment-card-style check-digit validation
# ---------------------------------------------------------------------------

_LUHN_ORACLE = """
WITH pans AS (
    SELECT c_custkey,
           CAST(4000000000000000 + c_custkey * 7 AS VARCHAR) AS pan
    FROM customer
),
digits AS (
    SELECT c_custkey, pan,
           CAST(substring(reverse(pan), i, 1) AS BIGINT) AS d,
           i
    FROM pans, LATERAL (SELECT unnest(range(1, len(pan) + 1)) AS i) t
),
summed AS (
    SELECT c_custkey, pan,
           sum(CASE WHEN i % 2 = 0
                    THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                    ELSE d END) AS s
    FROM digits GROUP BY c_custkey, pan
)
SELECT (s % 10 = 0) AS luhn_valid, count(*) AS n_accounts
FROM summed GROUP BY 1
"""


@query("expr_luhn_checksum", _LUHN_ORACLE)
def expr_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn (mod-10) checksum validation over minted card-like account
    numbers — the PAN/IMEI/SSN-class check-digit validation a PII
    detection or payments-ingest pipeline runs per row, expressed as a
    pure digit-array fold (reverse, double every second digit, subtract
    9 above 9, sum mod 10). No UDF: the digit explode is a bounded
    16-way fan-out and the validity census is one tiny rollup."""
    cust = read_table(spark, sf_dir, "customer")
    pans = cust.select(
        "c_custkey",
        (F.lit(4000000000000000) + F.col("c_custkey") * 7).cast("string").alias("pan"),
    )
    digits = pans.select(
        "c_custkey",
        "pan",
        F.posexplode(F.split(F.reverse(F.col("pan")), "(?!$)")).alias("p0", "ds"),
    ).select(
        "c_custkey",
        "pan",
        (F.col("p0") + 1).alias("i"),
        F.col("ds").cast("long").alias("d"),
    )
    term = F.when(
        F.col("i") % 2 == 0,
        F.when(F.col("d") * 2 > 9, F.col("d") * 2 - 9).otherwise(F.col("d") * 2),
    ).otherwise(F.col("d"))
    summed = digits.groupBy("c_custkey", "pan").agg(F.sum(term).alias("s"))
    return summed.groupBy((F.col("s") % 10 == 0).alias("luhn_valid")).agg(
        F.count(F.lit(1)).alias("n_accounts")
    )


# ---------------------------------------------------------------------------
# corpus_dataset_card — the datasheet a training dump ships with
# ---------------------------------------------------------------------------

_CARD_ORACLE = r"""
WITH t AS (
    SELECT doc_id, source, lang, text,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS fp
    FROM documents WHERE trim(lower(text)) <> ''
),
dups AS (SELECT fp FROM t GROUP BY fp HAVING count(*) > 1),
flagged AS (
    SELECT t.*, (dups.fp IS NOT NULL) AS is_dup
    FROM t LEFT JOIN dups ON t.fp = dups.fp
)
SELECT source, lang,
       count(*) AS n_docs,
       sum(n_tok) AS total_tokens,
       sum(n_bytes) AS total_bytes,
       floor(CAST(sum(n_tok) AS DOUBLE) / count(*) * 1e2 + 0.5) / 1e2
           AS avg_tokens_per_doc,
       sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_exact_dup_docs,
       floor(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e4 + 0.5) / 1e4 AS dup_rate
FROM flagged GROUP BY source, lang
"""


@query("corpus_dataset_card", _CARD_ORACLE)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per (source, language) slice — document count,
    token and byte volume, mean document length, and the exact-duplicate
    membership rate — the datasheet table every training dump ships
    with, and the roll-call that decides mixture weights
    (`corpus_domain_mix`) and dedup priorities (`dedup_funnel_report`).

    One scan computes tokens/bytes/fingerprints; the duplicate-group
    membership is a fingerprint-keyed semi-join against the >1-count
    fingerprint rollup (the shuffle moves digests, not documents); the
    card itself is one (source, lang)-bounded aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    tl = F.trim(F.lower(F.col("text")))
    t = docs.where(tl != "").select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(tl, r"\s+")).cast("long").alias("n_tok"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("fp"),
    )
    dups = (
        t.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("fp", F.lit(True).alias("is_dup"))
    )
    flagged = t.join(dups, "fp", "left").select(
        "source", "lang", "n_tok", "n_bytes",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )
    r2 = lambda c: F.floor(c * F.lit(1e2) + F.lit(0.5)) / F.lit(1e2)  # noqa: E731
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    return flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_bytes").alias("total_bytes"),
        r2(F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias(
            "avg_tokens_per_doc"
        ),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_exact_dup_docs"),
        r4(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# corpus_novelty_curve — marginal novelty of each ingestion batch
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = r"""
WITH toks AS (
    SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents WHERE trim(lower(text)) <> ''
),
sh AS (
    SELECT DISTINCT source,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
    FROM toks WHERE len(t) >= 3
),
first_seen AS (SELECT s, min(source) AS first_src FROM sh GROUP BY s),
per_batch AS (
    SELECT sh.source, count(*) AS n_shingles,
           sum(CASE WHEN first_seen.first_src = sh.source THEN 1 ELSE 0 END)
               AS n_novel
    FROM sh JOIN first_seen ON sh.s = first_seen.s
    GROUP BY sh.source
)
SELECT source, n_shingles, n_novel,
       floor(CAST(n_novel AS DOUBLE) / n_shingles * 1e6 + 0.5) / 1e6
           AS novelty_rate
FROM per_batch
"""


@query("corpus_novelty_curve", _NOVELTY_ORACLE)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve: treating sources as ordered ingestion
    batches, what fraction of each batch's distinct 3-gram shingles has
    never appeared in an earlier batch — the diminishing-returns readout
    that tells a data team when another crawl of the same domain stops
    adding information (and the batch-grain complement to
    `decontam_ngram_overlap`'s pairwise split check).

    First-seen attribution is ONE min() aggregate over the (shingle,
    source) relation — no per-batch-pair joins, so the cost is
    independent of the number of batches; the join back is keyed on the
    shingle (hash, digest-sized keys after the distinct)."""
    docs = read_table(spark, sf_dir, "documents")
    tl = F.trim(F.lower(F.col("text")))
    toks = docs.where(tl != "").select("source", F.split(tl, r"\s+").alias("t"))
    n = F.size("t")
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at("t", i), F.element_at("t", i + 1), F.element_at("t", i + 2)
    )
    sh = (
        toks.where(n >= 3)
        .select(
            "source",
            F.explode(
                F.transform(F.sequence(F.lit(1), n - 2), shingle)
            ).alias("s"),
        )
        .distinct()
    )
    first_seen = sh.groupBy("s").agg(F.min("source").alias("first_src"))
    per_batch = (
        sh.join(first_seen, "s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_src") == F.col("source"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_batch.select(
        "source",
        "n_shingles",
        "n_novel",
        r6(F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty_rate"),
    )
