"""Training-corpus operations tier 2: lexical retrieval (BM25),
Gopher-style quality heuristics, context-window sequence packing, and
train/test n-gram decontamination.

These extend the north-star pipeline ops (plans/text_pipeline.py,
plans/dedup_sim.py) with the remaining pieces a 100 TB pretraining-data
build needs: rank documents against a query without embeddings, filter
by repetition/shape heuristics, pack variable-length docs into
fixed-token training sequences, and prove the test split is not leaked
into train. All four are pure DataFrame plans — no UDFs, everything
whole-stage-codegen — with DuckDB oracle twins.

Float discipline: ln() may differ by an ulp between libm (DuckDB) and
Java Math.log (Spark), so BM25 idf and the final score are rounded
half-up to 6dp before any ranking or comparison; all other arithmetic
here is integer-exact.
"""

from __future__ import annotations

from ..functions.det import r6, split_bucket
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import tokenize
from ..registry import query
from ..sources import read_table
from .sql_common import _HASH_BUCKET_SQL


_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "text_bm25_topk",
    f"""
    WITH doclen AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    corpus AS (
        SELECT count(*) AS n_docs,
               floor(avg(dl) * 1e6 + 0.5) / 1e6 AS avgdl
        FROM doclen
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w IN {_BM25_TERMS!r}
        GROUP BY doc_id, w
    ),
    idf AS (
        SELECT w,
               floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 1e6 + 0.5) / 1e6 AS idf
        FROM (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w), corpus
    )
    SELECT doc_id,
           floor(sum(idf * tf * ({_BM25_K1} + 1)
                     / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)))
                 * 1e6 + 0.5) / 1e6 AS score
    FROM tf JOIN idf USING (w) JOIN doclen USING (doc_id), corpus
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {spark, hash, window} — lexical
    retrieval over the corpus without an inverted-index service.

    Plan shape: one explode of only matching terms (the IN filter sits
    under the explode, so non-query tokens never leave the scan
    stage), a (doc, term) count, a 3-row idf table and a 1-row corpus
    stats row — both broadcast — then a per-doc sum and a global
    top-k. The top-k is orderBy+limit, which Spark executes as
    TakeOrderedAndProject: each partition keeps its local top 20 and
    only 20·n_partitions rows ever reach the driver-side heap, so the
    ranking never materializes a global sort at 100 TB.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    doclen = toks.select("doc_id", F.size("toks").alias("dl"))
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), r6(F.avg("dl")).alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("w"))
        .where(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(corpus.select("n_docs")))
        .select(
            "w",
            r6(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            ).alias("idf"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = F.col("idf") * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(idf), "w")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus.select("avgdl")))
        .groupBy("doc_id")
        .agg(r6(F.sum(contrib)).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@query(
    "corpus_quality_gopher",
    """
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    wc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS w FROM base)
        GROUP BY doc_id, w
    ),
    topw AS (SELECT doc_id, max(c) AS top_c FROM wc GROUP BY doc_id),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               floor(list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum')
                     / len(toks) * 1e6 + 0.5) / 1e6 AS mean_wlen,
               floor(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 1e6 + 0.5) / 1e6
                   AS distinct_ratio
        FROM base
    )
    SELECT m.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_wlen,
           distinct_ratio,
           floor(CAST(top_c AS DOUBLE) / n_words * 1e6 + 0.5) / 1e6 AS top_word_frac,
           (n_words BETWEEN 20 AND 1000
            AND mean_wlen BETWEEN 2.0 AND 8.0
            AND distinct_ratio >= 0.2) AS passes
    FROM m JOIN topw ON m.doc_id = topw.doc_id
    """,
)
def corpus_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-shape heuristics (Rae et al. 2021, public):
    word count bounds, mean word length bounds, duplication ratios
    (distinct-word ratio, most-frequent-word fraction), and the
    combined keep/drop gate.

    Everything except top_word_frac is computed per-row from the token
    array with higher-order functions — zero shuffles, pure map. The
    most-frequent-word count needs a (doc, word) aggregate; both its
    shuffles key on doc_id, which AQE coalesces, and the final join is
    doc_id==doc_id on two already-co-partitioned aggregates. Ratios
    are rounded 6dp half-up before the threshold comparisons so the
    pass/fail gate is engine-stable.
    """
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("toks"))
    n = F.size("toks")
    mean_wlen = r6(
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n
    )
    distinct_ratio = r6(F.size(F.array_distinct("toks")).cast("double") / n)
    m = base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        distinct_ratio.alias("distinct_ratio"),
    )
    topw = (
        base.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    joined = m.join(topw, "doc_id")
    top_frac = r6(F.col("top_c").cast("double") / F.col("n_words"))
    return joined.select(
        "doc_id",
        "n_words",
        "mean_wlen",
        "distinct_ratio",
        top_frac.alias("top_word_frac"),
        (
            F.col("n_words").between(20, 1000)
            & F.col("mean_wlen").between(2.0, 8.0)
            & (F.col("distinct_ratio") >= 0.2)
        ).alias("passes"),
    )


_CTX_TOKENS = 2048


@query(
    "pack_sequences",
    f"""
    WITH doclen AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS ntok
        FROM documents
    ),
    cum AS (
        SELECT source, ntok,
               coalesce(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM doclen
    )
    SELECT source,
           CAST(floor(cum_before / {_CTX_TOKENS}) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS sum_tokens
    FROM cum
    GROUP BY source, floor(cum_before / {_CTX_TOKENS})
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign docs (in stable doc_id
    order) to ~2048-token context bins via a running token total, then
    report per-bin document and token counts.

    The running sum is windowed PER SOURCE SHARD, not globally — a
    global ORDER BY window is a single-partition shuffle that dies at
    100 TB, while per-shard packing is embarrassingly parallel and is
    what real pipelines do (pack within each input file/shard). Token
    counts are integers, so the cumulative sums are exact in both
    engines.
    """
    docs = read_table(spark, sf_dir, "documents")
    doclen = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("ntok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = doclen.select(
        "source",
        "ntok",
        F.coalesce(F.sum("ntok").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / _CTX_TOKENS).cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
        )
    )


_NGRAM = 8


@query(
    "decontam_ngram_overlap",
    f"""
    WITH split AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CASE WHEN {_HASH_BUCKET_SQL} < 90 THEN 'train' ELSE 'test' END AS split
        FROM documents
    ),
    sh AS (
        SELECT doc_id, split,
               unnest(list_transform(range(1, len(toks) - {_NGRAM - 2}),
                                     i -> array_to_string(toks[i:i + {_NGRAM - 1}], ' ')))
                   AS shingle
        FROM split
        WHERE len(toks) >= {_NGRAM}
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM sh t
        WHERE t.split = 'test'
          AND EXISTS (SELECT 1 FROM sh tr
                      WHERE tr.split = 'train' AND tr.shingle = t.shingle)
    )
    SELECT (SELECT count(*) FROM split WHERE split = 'test') AS n_test,
           (SELECT count(*) FROM contaminated) AS n_contaminated
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check: count test-split documents
    sharing any 8-gram (word shingle) with the train split — the
    standard benchmark-leakage screen run before a training dump ships.

    The split reuses sample_hash_split's content-addressed md5 bucket
    (train = bucket<90, i.e. train+valid; test = the held-out 10%).
    Shingles are built with sequence+transform+slice — array ops in
    whole-stage codegen, no UDF — then immediately collapsed to 64-bit
    xxhash64 fingerprints, so every downstream exchange moves 8-byte
    ints instead of ~60-byte strings (~10× less shuffle I/O; a false
    positive needs an xxhash64 collision between a test and train
    8-gram — negligible below trillions of distinct shingles, and the
    standard trade every production decontam pipeline makes). The
    hashed (doc_id, split, k) relation materializes once (persist) and
    feeds both sides of the left_semi join, so the corpus is scanned
    and exploded a single time; the overlap semi-join short-circuits
    per probe key.
    """
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.when(split_bucket() < 90, "train").otherwise("test").alias("split"),
    )
    n = F.size("toks")
    shingled = (
        base.where(n >= _NGRAM)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - (_NGRAM - 1)),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, _NGRAM)),
                )
            ).alias("shingle"),
        )
        .select("doc_id", "split", F.xxhash64("shingle").alias("k"))
        .transform(_pin_lazy)
    )
    train_sh = shingled.where(F.col("split") == "train").select("k").distinct()
    test_sh = shingled.where(F.col("split") == "test")
    n_contam = (
        test_sh.join(train_sh, "k", "left_semi")
        .agg(F.countDistinct("doc_id").alias("n_contaminated"))
    )
    n_test = (
        base.where(F.col("split") == "test")
        .agg(F.count(F.lit(1)).alias("n_test"))
    )
    return n_test.crossJoin(F.broadcast(n_contam))


@query(
    "arrow_token_count",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def arrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow exemplar: per-batch token counting computed entirely
    in pyarrow.compute — the Arrow-NATIVE Python boundary (no pandas
    materialization at all, unlike mapInPandas), completing the
    engine's Python-surface set (scalar pandas_udf, UDAF, UDTF,
    applyInPandas, mapInPandas, applyInPandasWithState, mapInArrow).

    Each RecordBatch crosses the JVM boundary once, is processed
    columnar-vectorized, and returns columnar — for kernels pyarrow
    ships (string splits, list ops, casts) this is the fastest Python
    path there is. Used here on a function Spark could also do natively
    so the DuckDB oracle can check the plumbing end to end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(batches):
        for batch in batches:
            toks = pc.split_pattern(batch.column("text"), " ")
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.cast(pc.list_value_length(toks), pa.int64())],
                ["doc_id", "n_tokens"],
            )

    return docs.mapInArrow(count_tokens, "doc_id long, n_tokens long")


# ---------------------------------------------------------------------------
# corpus_kl_divergence_drift — token-distribution drift between sources
# ---------------------------------------------------------------------------


@query(
    "corpus_kl_divergence_drift",
    r"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ),
    cnt AS (
      SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common_tokens,
             sum(a.c) AS sa, sum(b.c) AS sb,
             sum(a.c * ln(CAST(a.c AS DOUBLE) / b.c)) AS wa,
             sum(b.c * ln(CAST(b.c AS DOUBLE) / a.c)) AS wb
      FROM cnt a JOIN cnt b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common_tokens,
           floor((wa / sa + ln(CAST(sb AS DOUBLE) / sa)) * 1e6 + 0.5) / 1e6 AS kl_ab,
           floor((wb / sb + ln(CAST(sa AS DOUBLE) / sb)) * 1e6 + 0.5) / 1e6 AS kl_ba
    FROM pairs
    """,
)
def corpus_kl_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence between per-source token distributions, every source
    pair — the drift monitor a training-data pipeline runs when a new
    crawl snapshot lands ("does src14 still look like src3?").
    Distributions are restricted to each pair's COMMON vocabulary and
    renormalized over it, which makes the divergence finite without
    smoothing constants; the algebra is factored so ONE grouped
    aggregate per pair suffices:
        KL(a‖b) = Σ (cᵃ/Sᵃ)·ln((cᵃ/Sᵃ)/(cᵇ/Sᵇ)) = Wᵃ/Sᵃ + ln(Sᵇ/Sᵃ)
    with Wᵃ = Σ cᵃ·ln(cᵃ/cᵇ) and Sᵃ = Σ cᵃ over common tokens — so the
    plan is token-count agg → one self-join on token (source_a <
    source_b dedups the pair space) → one (pair) agg. Counts are exact
    ints; ln() ulp differences wash out under the final 1e-6 half-up
    round. Scale: the join fans out each token row by at most the
    number of sources — the pair relation, not the corpus, is the
    quadratic term, and it is quadratic in #sources (tiny), never rows.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.where(F.trim(F.col("text")) != "").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    cnt = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    a, b = cnt.alias("a"), cnt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common_tokens"),
            F.sum("a.c").alias("sa"),
            F.sum("b.c").alias("sb"),
            F.sum(
                F.col("a.c") * F.log(F.col("a.c").cast("double") / F.col("b.c"))
            ).alias("wa"),
            F.sum(
                F.col("b.c") * F.log(F.col("b.c").cast("double") / F.col("a.c"))
            ).alias("wb"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_common_tokens",
        r6(
            F.col("wa") / F.col("sa")
            + F.log(F.col("sb").cast("double") / F.col("sa"))
        ).alias("kl_ab"),
        r6(
            F.col("wb") / F.col("sb")
            + F.log(F.col("sa").cast("double") / F.col("sb"))
        ).alias("kl_ba"),
    )


# ---------------------------------------------------------------------------
# text_pmi_bigrams — pointwise mutual information collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 20


@query(
    "text_pmi_bigrams",
    rf"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE trim(text) <> ''
    ),
    uni AS (
      SELECT unnest(t) AS token FROM toks
    ),
    ucnt AS (SELECT token, count(*) AS c FROM uni GROUP BY token),
    nu AS (SELECT sum(c) AS n FROM ucnt),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS pair
      FROM toks WHERE len(t) >= 2
    ),
    bcnt AS (
      SELECT pair[1] AS t1, pair[2] AS t2, count(*) AS c FROM bg GROUP BY 1, 2
    ),
    nb AS (SELECT sum(c) AS n FROM bcnt),
    scored AS (
      SELECT b.t1 || ' ' || b.t2 AS bigram, b.c AS n,
             floor(ln(CAST(b.c * u1.c_nu * u1.c_nu_again AS DOUBLE)
                      / (nb.n * u1.c1 * u2.c2)) * 1e6 + 0.5) / 1e6 AS pmi
      FROM (SELECT t1, t2, c FROM bcnt WHERE c >= {_PMI_MIN_COUNT}) b
      JOIN (SELECT token, c AS c1,
                   (SELECT n FROM nu) AS c_nu,
                   (SELECT n FROM nu) AS c_nu_again FROM ucnt) u1 ON u1.token = b.t1
      JOIN (SELECT token, c AS c2 FROM ucnt) u2 ON u2.token = b.t2
      CROSS JOIN nb
    )
    SELECT bigram, n, pmi, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT bigram, n, pmi,
             row_number() OVER (ORDER BY pmi DESC, bigram) AS rnk
      FROM scored
    ) WHERE rnk <= {_PMI_TOP_K}
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information — the
    statistically-surprising token pairs (PMI = ln P(a,b)/(P(a)P(b))),
    the standard phrase-mining signal that raw bigram frequency
    (text_bigram_freq) misses because it just re-finds stopword pairs.
    The ratio is assembled as ONE integer fraction
    c_ab·N_uni² / (N_bi·c_a·c_b) before the single ln() call — both
    engines divide the same exact integers, so the only float op is one
    log, rounded half-up at 1e-6 before ranking (deterministic
    tie-break on the bigram text). Plan shape: two hash aggregates
    (unigrams, bigrams) + two broadcast scalar totals + two joins of
    the c≥5 bigram survivors against the unigram counts, then a top-k.
    The bigram relation never carries floats through a shuffle.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = tokenize(F.col("text"))
    base = docs.where(F.trim(F.col("text")) != "").select(t.alias("t"))
    uni = base.select(F.explode("t").alias("token"))
    ucnt = uni.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    nu = ucnt.agg(F.sum("c").alias("n_uni"))
    bg = base.where(F.size("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("t1"),
                    F.element_at("t", i + 1).alias("t2"),
                ),
            )
        ).alias("p")
    )
    bcnt = bg.groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2")).agg(
        F.count(F.lit(1)).alias("c")
    )
    nb = bcnt.agg(F.sum("c").alias("n_bi"))
    u1 = ucnt.select(F.col("token").alias("t1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("token").alias("t2"), F.col("c").alias("c2"))
    scored = (
        bcnt.where(F.col("c") >= _PMI_MIN_COUNT)
        .join(u1, "t1")
        .join(u2, "t2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            F.concat_ws(" ", "t1", "t2").alias("bigram"),
            F.col("c").alias("n"),
            r6(
                F.log(
                    (F.col("c") * F.col("n_uni") * F.col("n_uni")).cast("double")
                    / (F.col("n_bi") * F.col("c1") * F.col("c2"))
                )
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("bigram"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# corpus_inverted_index — posting-list construction (IR front door)
# ---------------------------------------------------------------------------

_II_TOP_TOKENS = 50
_II_POSTING_HEAD = 5


@query(
    "corpus_inverted_index",
    rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
      SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    stats AS (
      SELECT token,
             count(*) AS df,
             sum(tf) AS cf,
             array_to_string(list(doc_id ORDER BY tf DESC, doc_id)[:{_II_POSTING_HEAD}],
                             ',') AS top_docs
      FROM tf GROUP BY token
    )
    SELECT token, df, cf, top_docs, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT token, df, cf, top_docs,
             row_number() OVER (ORDER BY df DESC, token) AS rnk
      FROM stats
    ) WHERE rnk <= {_II_TOP_TOKENS}
    """,
)
def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — token → (document frequency,
    collection frequency, posting-list head) for the top-50 tokens by
    df: the data structure under every lexical search engine, built as
    a pipeline of two hash aggregates. The posting head (top-5 docs by
    tf, doc_id tie-break) is computed with a per-token row_number —
    a KEYED window, so WindowGroupLimit prunes each group to 5 rows
    before the sort ever sees the full posting list — then packed to a
    comma-joined string (arrays hash differently across drivers;
    strings don't). Full posting lists are never materialized on one
    node: only the 5-row heads reach the collect_list, which makes the
    operator safe for stopword-class tokens whose raw posting list at
    100 TB would be billions of entries.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.where(F.trim(F.col("text")) != "").select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    wtok = Window.partitionBy("token").orderBy(F.col("tf").desc(), F.col("doc_id"))
    heads = (
        tf.withColumn("rn", F.row_number().over(wtok))
        .where(F.col("rn") <= _II_POSTING_HEAD)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("top_docs")
        )
    )
    stats = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    w = Window.orderBy(F.col("df").desc(), F.col("token"))
    return (
        stats.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _II_TOP_TOKENS)
        .join(heads, "token")
        .select("token", "df", "cf", "top_docs", "rank")
    )


# ---------------------------------------------------------------------------
# tokenizer_bpe_pairs — first BPE merge iteration: adjacent-char pair counts
# ---------------------------------------------------------------------------

_BPE_K = 25

_BPE_ORACLE = f"""
WITH words AS (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
), pairs AS (
    SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
    FROM words, unnest(range(1, length(w))) AS t(i)
    WHERE length(w) >= 2
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_K}
"""


@query("tokenizer_bpe_pairs", _BPE_ORACLE)
def tokenizer_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of one BPE merge iteration: frequency of every
    adjacent symbol pair within words across the corpus — the statistic
    a tokenizer trainer computes over the full 100 TB corpus before each
    merge. Words explode once; each word then fans out into its
    length-1 character pairs via a sequence explode (bounded by word
    length, all codegen — no Python). The pair keyspace is |alphabet|²,
    so the count aggregate is map-side-combined into almost nothing,
    and the top-k is TakeOrderedAndProject with a lexical tiebreak.
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.substring(F.col("w"), F.col("i"), 2).alias("pair"))
    # substring(col, col, 2): positions are 1-based in both engines
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), "pair").limit(_BPE_K)


# ---------------------------------------------------------------------------
# text_zipf_fit — rank-frequency power-law fit over the token distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200

_ZIPF_ORACLE = f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
    FROM documents
), freq AS (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
), ranked AS (
    SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
    FROM freq
    ORDER BY n DESC, tok LIMIT {_ZIPF_TOP}
)
SELECT round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           AS zipf_slope,
       round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           AS zipf_intercept,
       count(*) AS n_points
FROM ranked
"""


@query("text_zipf_fit", _ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit: OLS slope of ln(frequency) against ln(rank)
    over the top-200 tokens — a slope far from -1 is the classic tell
    that a corpus is synthetic, templated, or spam-heavy, so this runs
    as a per-source health check in corpus intake. The token stream
    collapses to the vocabulary in one map-side-combined aggregate; the
    top-k cut is TakeOrderedAndProject; ranking and the regression then
    touch exactly 200 rows (the single-partition window is over that
    bounded relation, never the data).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top = freq.orderBy(F.desc("n"), "tok").limit(_ZIPF_TOP)
    ranked = top.select(
        "n", F.row_number().over(Window.orderBy(F.desc("n"), "tok")).alias("rank")
    )
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 6).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_points"),
    )


# ---------------------------------------------------------------------------
# tokenizer_bpe_train — N full BPE merge iterations (learn the merge table)
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_pairs_cte(src: str, name: str) -> str:
    return f"""{name} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c
  FROM (
    SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS pr,
           cnt
    FROM (SELECT string_split(trim(seq), '  ') AS t, cnt FROM {src})
    WHERE len(t) >= 2
  ) GROUP BY a, b
)"""


def _bpe_chain_ctes(include_final_v: bool) -> str:
    """The shared CTE chain: word-type vocab -> char sequences -> N
    (pair-count, argmax, apply-merge) rounds. With ``include_final_v``
    the chain also applies merge N, yielding v{N+1} = the fully merged
    segmentation (what `tokenizer_bpe_apply` scores); without it the
    chain stops at m{N} (all `tokenizer_bpe_train` needs)."""
    parts = [
        r"""WITH words AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
v1 AS (
  SELECT w,
         ' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS seq,
         cnt
  FROM words
)"""
    ]
    for k in range(1, _BPE_MERGES + 1):
        parts.append(_bpe_pairs_cte(f"v{k}", f"p{k}"))
        parts.append(f"m{k} AS (SELECT a, b, c FROM p{k} ORDER BY c DESC, a, b LIMIT 1)")
        if k < _BPE_MERGES or include_final_v:
            parts.append(
                f"""v{k + 1} AS (
  SELECT w,
         replace(seq, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ') AS seq,
         cnt
  FROM v{k}, m{k}
)"""
            )
    return ",\n".join(parts)


def _bpe_train_sql() -> str:
    union = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, a AS tok_a, b AS tok_b,"
        f" a || b AS merged, c AS pair_count FROM m{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return _bpe_chain_ctes(False) + "\n" + union + "\nORDER BY rank"


@query("tokenizer_bpe_train", _bpe_train_sql())
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer TRAINING (Sennrich et al. 2016, public): learn
    the first {N} merges over the corpus and emit the ranked merge table
    — `tokenizer_bpe_pairs` is one counting step; this runs the whole
    loop. The working set is the Zipf-collapsed WORD-TYPE relation
    (distinct words + frequencies — the standard trainer state, multiple
    orders of magnitude smaller than the corpus), so after the one
    corpus-sized aggregate every iteration is vocabulary-sized: count
    weighted adjacent-pair frequencies, take the argmax (count DESC,
    then lexicographic — a total order, so the merge choice is unique),
    apply the merge, repeat.

    Greedy left-to-right merge application — the semantics every BPE
    implementation uses — is encoded as plain non-overlapping string
    replace: token sequences are DOUBLE-space separated and padded with
    one space each side, and the pattern ' a  b ' consumes one boundary
    space on each side, so replace() (left-to-right, resume-after-match
    in both engines) reproduces exactly the greedy merge walk, including
    runs like 'l l l l' -> 'll ll', while the double separator prevents
    any match across token boundaries. Every statistic is an integer
    count — no float enters the query, so no grid pinning is needed.

    Scale: the word-type relation pins once (one corpus scan ever); each
    merge is one map-side-combined aggregate over it plus a broadcast
    1-row argmax (pinned to cut the O(N^2) lineage re-derivation), and
    the merge application is a codegen string map. At 100 TB the corpus
    pass dominates and happens once; 8 or 50k merges differ only in the
    vocabulary-sized loop."""
    docs = read_table(spark, sf_dir, "documents")
    merges, _ = _bpe_merge_loop(docs, include_final_v=False)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("rank")


def _bpe_merge_loop(
    docs: DataFrame, include_final_v: bool
) -> tuple[list[DataFrame], DataFrame]:
    """Spark twin of `_bpe_chain_ctes`: returns the N ranked 1-row merge
    frames and the word-type segmentation frame (w, seq, cnt) — after
    ALL N merges when ``include_final_v``, after N-1 otherwise."""
    words = _pin_lazy(
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = words.select(
        "w",
        F.concat(
            F.lit(" "),
            F.rtrim(F.regexp_replace("w", "(.)", "$1  ")),
            F.lit(" "),
        ).alias("seq"),
        "cnt",
    )
    merges = []
    for k in range(1, _BPE_MERGES + 1):
        t = F.split(F.trim(F.col("seq")), "  ")
        prs = F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("a"),
                F.element_at(t, i + F.lit(1)).alias("b"),
            ),
        )
        pair_counts = (
            v.where(F.size(t) >= 2)
            .select(F.explode(prs).alias("pr"), "cnt")
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        m = _pin_lazy(pair_counts.orderBy(F.desc("c"), "a", "b").limit(1))
        merges.append(
            m.select(
                F.lit(k).cast("long").alias("rank"),
                F.col("a").alias("tok_a"),
                F.col("b").alias("tok_b"),
                F.concat("a", "b").alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        if k < _BPE_MERGES or include_final_v:
            v = v.crossJoin(F.broadcast(m)).select(
                "w",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
                ).alias("seq"),
                "cnt",
            )
    return merges, v


_BPE_APPLY_ORACLE = (
    _bpe_chain_ctes(True)
    + f""",
seg AS (
  SELECT w, len(string_split(trim(seq), '  ')) AS n_tok
  FROM v{_BPE_MERGES + 1}
),
occ AS (
  SELECT lang, w, count(*) AS n
  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY lang, w
)
SELECT o.lang,
       sum(o.n) AS total_words,
       sum(o.n * s.n_tok) AS total_tokens,
       sum(o.n * length(o.w)) AS total_chars,
       floor(CAST(sum(o.n * s.n_tok) AS DOUBLE) / sum(o.n) * 1e6 + 0.5) / 1e6
           AS fertility,
       floor(CAST(sum(o.n * length(o.w)) AS DOUBLE) / sum(o.n * s.n_tok)
             * 1e6 + 0.5) / 1e6 AS chars_per_token
FROM occ o JOIN seg s ON o.w = s.w
GROUP BY o.lang
"""
)


@query("tokenizer_bpe_apply", _BPE_APPLY_ORACLE)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment the corpus with the merge table `tokenizer_bpe_train`
    just learned and report per-language fertility (tokens per word)
    and compression (chars per token) — the trained-tokenizer equity
    table (`corpus_tokenizer_fertility` measures a regex PROXY
    tokenizer; this measures the actual learned BPE at {N} merges). A
    language whose fertility stays near its character count is
    under-served by the merge table — the statistic that drives
    vocabulary-size and data-mix decisions before a training run.

    Train and apply share one loop (`_bpe_merge_loop`): segmentation
    happens on the Zipf-collapsed WORD-TYPE relation (every merge pass
    is vocabulary-sized), and the corpus is touched exactly twice — once
    to build the type counts, once for per-(lang, word) occurrence
    counts, which then broadcast-join the tiny segmented vocabulary.
    Counts stay exact integers; the two ratios divide once per language
    row on the rollup (sums first — never an average of per-doc
    ratios)."""
    docs = read_table(spark, sf_dir, "documents")
    _, v = _bpe_merge_loop(docs, include_final_v=True)
    seg = v.select(
        "w",
        F.size(F.split(F.trim(F.col("seq")), "  ")).alias("n_tok"),
    )
    occ = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = occ.join(F.broadcast(seg), "w")
    tok = F.sum(F.col("n") * F.col("n_tok"))
    wrd = F.sum("n")
    chs = F.sum(F.col("n") * F.length("w"))
    return joined.groupBy("lang").agg(
        wrd.cast("long").alias("total_words"),
        tok.cast("long").alias("total_tokens"),
        chs.cast("long").alias("total_chars"),
        r6(tok.cast("double") / wrd).alias("fertility"),
        r6(chs.cast("double") / tok).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# text_chunk_overlap — sliding-window context chunking (embedding/RAG prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 64
_CHUNK_S = 48


@query(
    "text_chunk_overlap",
    f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    k AS (
        SELECT doc_id, t, len(t) AS n,
               1 + (greatest(len(t) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) // {_CHUNK_S}
                   AS nk
        FROM base
    ),
    ch AS (
        SELECT doc_id, n, t, unnest(range(0, nk)) AS ci FROM k
    )
    SELECT doc_id,
           CAST(ci AS BIGINT) AS chunk_idx,
           CAST(len(sl) AS BIGINT) AS n_tokens,
           array_to_string(sl, ' ') AS chunk_text
    FROM (
        SELECT doc_id, ci,
               list_slice(t, ci * {_CHUNK_S} + 1,
                          least(ci * {_CHUNK_S} + {_CHUNK_W}, n)) AS sl
        FROM ch
    )
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking — the preprocessing every
    embedding/retrieval pipeline runs before vectorizing long documents:
    W={W}-token windows at stride S={S} (16-token overlap so no span
    straddles a boundary unseen), the last window short if the doc ends
    mid-stride. Emits (doc_id, chunk_idx, n_tokens, chunk_text) — the
    relation `embeddings` rows are produced FROM in a real deployment.

    Pure per-row fan-out: the chunk count is closed-form
    (1 + ceil(max(n-W,0)/S)), the window is an array slice of the one
    tokenization, and nothing shuffles — at 100 TB this is a map-only
    stage whose output partitioning inherits the scan, exactly what a
    downstream embedding UDF wants. Token counts are integers; the text
    round-trips join/split exactly, so both engines emit identical
    rows."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n = F.size(t)
    nk = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - _CHUNK_W, F.lit(0)) + F.lit(_CHUNK_S - 1))
            / F.lit(_CHUNK_S)
        ).cast("long")
    )
    base = docs.select("doc_id", t.alias("t"), n.alias("n"), nk.alias("nk"))
    ch = base.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("nk") - 1)).alias("ci"),
    )
    sl = F.slice(F.col("t"), F.col("ci") * _CHUNK_S + 1, F.lit(_CHUNK_W))
    return ch.select(
        "doc_id",
        F.col("ci").cast("long").alias("chunk_idx"),
        F.size(sl).cast("long").alias("n_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )
