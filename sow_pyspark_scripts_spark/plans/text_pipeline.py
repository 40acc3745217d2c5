"""Registered text queries — the E3 NLP pipeline
(``preprocess_and_store_parquets.py``) re-expressed natively, plus the
north-star text-analysis operators over ``documents``.

The reference's shape: JDBC read -> prune -> bool filter -> concat ->
trim -> normalize UDF -> empty->null -> notNull -> global row_number ->
driver-side 10k chunk loop -> collect -> spaCy UDF -> per-bucket parquet.
Here every step is a Catalyst expression except lemmatization
(Arrow pandas_udf), there is no driver loop, and chunk membership is a
column. All queries below are DuckDB-oracle-checked, including the UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6, split_bucket
from ..functions.scalar import empty_to_null
from ..functions.text import (
    LANG_MARKERS,
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    normalize_text,
    quality_score,
    token_count,
)
from ..operators.text import LEMMA_SQL_CASE, make_lemmatize_udf, remove_stopwords, tokenize
from ..registry import query
from .sql_common import (  # noqa: F401 — re-exported for compat
    _HASH_BUCKET_SQL,
    _LANG_SQL,
)
from ..sources import read_table

# DuckDB twin of functions.text.normalize_text — the reference chain
# verbatim (preprocess_and_store_parquets.py:112-135): four phrase
# removals (empty replacement), whitespace collapse BEFORE the
# email/path/digit removals (never after), digits -> single space,
# trim. RE2 and Java regex agree on the ASCII \b/\w/\d/\s semantics
# used here (see functions/text.py fidelity note).
_NORMALIZE_SQL = """
trim(
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(lower({col}), '\\bencounter id\\b', '', 'g'),
                '\\blong text id\\b', '', 'g'),
              '\\barea affected\\b', '', 'g'),
            '\\baffected applications\\b', '', 'g'),
          '\\s+', ' ', 'g'),
        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '', 'g'),
      '([A-Za-z]:)?(\\\\[\\w-]+)+\\\\?([\\w-]+(\\.\\w+)*)?', '', 'g'),
    '\\d+', ' ', 'g')
)
"""


def _norm_sql(col: str) -> str:
    return _NORMALIZE_SQL.format(col=col)


@query(
    "text_normalize",
    f"""
    SELECT doc_id, {_norm_sql('text')} AS normalized FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """udf_normalize_text (preprocess_and_store_parquets.py:111-138) as a
    pure column expression: lower + 8 regexp_replace + trim, the
    reference's exact regexes in its exact order. Stays inside
    whole-stage codegen — no Python worker on the 100 TB hot path."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_text(F.col("text")).alias("normalized"))


@query(
    "text_pipeline_e3",
    f"""
    WITH staged AS (
      SELECT doc_id,
             {_norm_sql("concat_ws('.', source, text)")} AS result
      FROM documents
      WHERE lang <> 'zh'
    )
    SELECT doc_id, result FROM staged
    WHERE CASE WHEN result = '' THEN NULL ELSE result END IS NOT NULL
    """,
)
def text_pipeline_e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3's row pipeline end-to-end (preprocess_and_store_parquets.py:188-202):
    prune -> boolean filter (lang<>'zh' replays is_federal==False) ->
    concat_ws text assembly -> trim+normalize -> empty->null -> notNull."""
    docs = read_table(spark, sf_dir, "documents")
    staged = (
        docs.filter(F.col("lang") != "zh")
        .select(
            "doc_id",
            normalize_text(F.concat_ws(".", F.col("source"), F.col("text"))).alias("result"),
        )
    )
    return staged.withColumn("result", empty_to_null(F.col("result"))).filter(
        F.col("result").isNotNull()
    )


@query(
    "text_stats",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE array_length(string_split_regex(trim(text), '\s+'))
                END AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           floor((
             0.4 * least(1.0, CAST(CASE WHEN trim(text)='' THEN 0 ELSE array_length(string_split_regex(trim(text),'\s+')) END AS DOUBLE) / 50.0)
             + 0.3 * (1.0 - CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0))
             + 0.3 * least(1.0, 5.0 * CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|for|on)\b')) AS DOUBLE)
                                 / greatest(CAST(CASE WHEN trim(text)='' THEN 0 ELSE array_length(string_split_regex(trim(text),'\s+')) END AS DOUBLE), 1.0))
             ) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analytics: char/token/BPE-ish counts + quality score
    (length / punctuation / stopword-ratio blend), all JVM-side."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )


@query(
    "text_lang_id",
    f"""
    WITH hits AS (
      SELECT doc_id, text,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS en_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS de_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS fr_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS es_h
      FROM documents
    )
    SELECT doc_id, {_LANG_SQL} AS lang_pred FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-word n-gram hits (north-star text analysis;
    deterministic heuristic, fastText-swappable behind the same column)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_norm_sql('text')}) AS fingerprint FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized content — the shuffle
    key for exact dedup at scale (32-byte digest moves, not the doc)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "tokenize_stopwords",
    r"""
    SELECT doc_id,
           coalesce(array_to_string(
             list_filter(
               CASE WHEN trim(lower(text)) = '' THEN []
                    ELSE string_split_regex(trim(lower(text)), '\s+') END,
               t -> t NOT IN ('a','an','and','are','as','at','be','but','for','if','in',
                              'into','is','it','no','of','on','or','such','that','the',
                              'their','then','there','these','they','this','to','was',
                              'will','with','by','hi')
             ), chr(31)), '') AS tokens
    FROM documents
    """,
)
def tokenize_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """udf_tokenize_docs' tokenize+stopword stages (preprocess_and_store_
    parquets.py:151-160) natively: split + higher-order filter with the
    reference's customized stop list (+by +hi -not, :67-71). Order-preserving;
    token list serialized as a chr(31)-joined string so the output is
    hashable in any harness."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws("\x1f", remove_stopwords(tokenize(F.col("text")))).alias("tokens"),
    )


@query(
    "lemmatize_tokens",
    rf"""
    SELECT doc_id,
           coalesce(array_to_string(
             list_transform(
               list_filter(
                 CASE WHEN trim(lower(text)) = '' THEN []
                      ELSE string_split_regex(trim(lower(text)), '\s+') END,
                 t -> t NOT IN ('a','an','and','are','as','at','be','but','for','if','in',
                                'into','is','it','no','of','on','or','such','that','the',
                                'their','then','there','these','they','this','to','was',
                                'will','with','by','hi')
               ),
               t -> {LEMMA_SQL_CASE}
             ), chr(31)), '') AS lemmas
    FROM documents
    """,
)
def lemmatize_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas_udf path (udf_tokenize_docs' lemmatization stage):
    Arrow-batched array<string> -> array<string>. Deterministic rule
    lemmatizer so even the Python boundary is oracle-checked; the lemma
    list is serialized as a chr(31)-joined string for hashability."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", remove_stopwords(tokenize(F.col("text"))).alias("tokens")
    )
    return toks.select(
        "doc_id",
        F.concat_ws("\x1f", make_lemmatize_udf()(F.col("tokens"))).alias("lemmas"),
    )


_STOPLIST_SQL = """('a','an','and','are','as','at','be','but','for','if','in',
                    'into','is','it','no','of','on','or','such','that','the',
                    'their','then','there','these','they','this','to','was',
                    'will','with','by','hi')"""


@query(
    "text_tfidf",
    rf"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        CASE WHEN trim(lower(text)) = '' THEN []
             ELSE string_split_regex(trim(lower(text)), '\s+') END,
        t -> t NOT IN {_STOPLIST_SQL})) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf,
             floor(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) * 1000000.0 + 0.5)
               / 1000000.0 AS tfidf
      FROM tf JOIN df USING (tok), n
    )
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT doc_id, tok, tf, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (smoothed idf = ln((N+1)/(df+1))+1).
    Two aggregates (term frequency, document frequency) + a broadcast
    single-row corpus count — the document-frequency table is the only
    corpus-wide state and it shuffles by token, not by document, so the
    shape is unchanged at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(remove_stopwords(tokenize(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            r6(
                F.col("tf")
                * (F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", F.col("tf").cast("long").alias("tf"), "tfidf", "rank")
    )


# DuckDB twin of the md5-prefix bucket: value of the first two hex chars.


@query(
    "sample_hash_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_HASH_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_HASH_BUCKET_SQL} < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split: bucket = first md5
    byte of the salted id, mod 100. Content-addressed sampling — no RNG,
    no seed coordination across 1000 executors, stable under reruns and
    incremental appends (a doc's split never changes). The salt isolates
    this split from any other hash use of doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = split_bucket()
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test").alias("split"),
    )


@query(
    "text_length_histogram",
    r"""
    SELECT CAST(least(floor(CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE array_length(string_split_regex(trim(text), '\s+'))
                END AS DOUBLE) / 10), 20) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(min(CASE WHEN trim(text) = '' THEN 0
                    ELSE array_length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS min_tokens,
           CAST(max(CASE WHEN trim(text) = '' THEN 0
                    ELSE array_length(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS max_tokens
    FROM documents GROUP BY 1
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (10-token buckets, capped at 20) — the
    corpus-shape profile a filtering pipeline reads before choosing
    length cutoffs. One aggregate; the histogram is as wide as the
    bucket count no matter the corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    nt = token_count(F.col("text")).cast("double")
    bucket = F.least(F.floor(nt / 10), F.lit(20)).cast("long")
    return docs.select(bucket.alias("bucket"), nt.cast("long").alias("nt")).groupBy(
        "bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("nt").alias("min_tokens"),
        F.max("nt").alias("max_tokens"),
    )


@query(
    "text_bigram_freq",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(lower(text)) = '' THEN []
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, n, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT bigram, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, bigram) AS rnk
      FROM bg GROUP BY bigram
    ) WHERE rnk <= 20
    """,
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams: the n-gram frequency profile behind
    boilerplate detection and stop-phrase mining. Explode + count + global
    top-k (TakeOrderedAndProject after partial counts — the full bigram
    distribution never leaves the executors)."""
    docs = read_table(spark, sf_dir, "documents")
    # tokenize ONCE through a named projection: inlining the split into
    # the transform lambda re-splits the whole text on every element_at
    # call (2 splits PER BIGRAM -> O(tokens^2) work per doc; measured
    # 7.0s -> 1.9s at sf0.1). Higher-order lambdas are interpreted
    # per element, so common-subexpression elimination never rescues an
    # expression duplicated inside one.
    base = docs.select(tokenize(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    idx = F.sequence(F.lit(1), F.size("t") - 1)
    bigram = F.explode(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
            ),
        )
    )
    bg = base.select(bigram.alias("bigram"))
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
    )


_QUALITY_SQL = r"""floor((
  0.4 * least(1.0, CAST(CASE WHEN trim(text)='' THEN 0 ELSE array_length(string_split_regex(trim(text),'\s+')) END AS DOUBLE) / 50.0)
  + 0.3 * (1.0 - CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS DOUBLE)
                 / greatest(CAST(length(text) AS DOUBLE), 1.0))
  + 0.3 * least(1.0, 5.0 * CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|for|on)\b')) AS DOUBLE)
                      / greatest(CAST(CASE WHEN trim(text)='' THEN 0 ELSE array_length(string_split_regex(trim(text),'\s+')) END AS DOUBLE), 1.0))
  ) * 10000.0 + 0.5) / 10000.0"""

_NTOK_SQL = r"""CAST(CASE WHEN trim(text) = '' THEN 0
     ELSE array_length(string_split_regex(trim(text), '\s+')) END AS BIGINT)"""


@query(
    "corpus_clean_filter",
    f"""
    WITH hits AS (
      SELECT doc_id, text,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS en_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS de_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS fr_h,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS es_h,
             {_NTOK_SQL} AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    )
    SELECT doc_id, n_tokens, quality
    FROM hits
    WHERE {_LANG_SQL} = 'en' AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 200
    """,
)
def corpus_clean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style corpus cleaning gate in one pass: language == en,
    quality >= 0.5, 5 <= tokens <= 200. All three signals are codegen'd
    expressions over one scan — the shape of every pretraining-data
    filter sweep (at 100 TB this is a single narrow stage; nothing
    shuffles until the survivors are written)."""
    docs = read_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
    )
    return enriched.filter(
        (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.5)
        & F.col("n_tokens").between(5, 200)
    ).select("doc_id", "n_tokens", "quality")


# A-ES weighted sampling: key = ln(u)/w with u a hash-uniform in (0,1);
# top-k keys win. Same 4-hex-digit uniform on both engines.
_U16_SQL = """(
  (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 1)) - 1) * 4096
  + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':ws'), 2, 1)) - 1) * 256
  + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':ws'), 3, 1)) - 1) * 16
  + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':ws'), 4, 1)) - 1)
  + 1)"""


@query(
    "sample_weighted",
    f"""
    WITH weighted AS (
      SELECT doc_id,
             {_NTOK_SQL} + 1 AS w,
             CAST({_U16_SQL} AS DOUBLE) / 65537.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, CAST(w AS BIGINT) AS w,
             floor(ln(u) / w * 100000000.0 + 0.5) / 100000000.0 AS k
      FROM weighted
    )
    SELECT doc_id, w, k, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT doc_id, w, k, row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= 20
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    per-doc key ln(u)/w with a HASH-uniform u — deterministic, seedless,
    coordination-free across 1000 executors, and mergeable (per-partition
    top-k then global top-k, which is exactly how TakeOrderedAndProject
    plans it). Weight = token count + 1: longer docs proportionally more
    likely, every doc still possible."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws")))
    nib = lambda j: F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1  # noqa: E731
    u16 = nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4) + 1
    w = (token_count(F.col("text")) + 1).cast("long")
    u = u16.cast("double") / F.lit(65537.0)
    k = F.floor(F.log(u) / w * F.lit(100000000.0) + F.lit(0.5)) / F.lit(100000000.0)
    keyed = docs.select("doc_id", w.alias("w"), k.alias("k"))
    win = Window.orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= 20)
    )


@query(
    "udtf_sentence_split",
    r"""
    WITH sents AS (
      SELECT doc_id,
             unnest(string_split(text, '.')) AS sentence,
             generate_subscripts(string_split(text, '.'), 1) AS sentence_idx
      FROM documents
    )
    SELECT doc_id, CAST(sentence_idx AS BIGINT) AS sentence_idx, trim(sentence) AS sentence
    FROM sents WHERE trim(sentence) <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function — rows out per row in): sentence
    splitting, the canonical one-to-many text transform. The reference
    had no UDTFs (SURVEY §2.9); this is the surface for expansions whose
    logic outgrows explode(split(...)) — here kept equivalent to it so
    the SQL oracle can replay the output exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, sentence_idx: bigint, sentence: string")
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            for i, raw in enumerate(text.split("."), start=1):
                s = raw.strip()
                if s:
                    yield doc_id, i, s

    docs = read_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("sentence_split", SentenceSplit)
    return spark.sql(
        "SELECT s.* FROM __udtf_docs, LATERAL sentence_split(doc_id, text) s"
    )


@query(
    "udaf_geometric_mean",
    """
    SELECT event_type,
           floor(exp(avg(ln(1.0 + value))) * 10000.0 + 0.5) / 10000.0 AS geo_mean_1p,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def udaf_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (Arrow series in, scalar out):
    geometric mean of (1+value) per event type. The reference had no
    UDAFs (SURVEY §2.9); the oracle replays it as exp(avg(ln(1+x))) —
    the log-space identity that also makes the Spark-native formulation
    partial-aggregable when you outgrow the UDAF."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` turns
    # hints into strings, which defeats pandas_udf signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean_1p(v: "pd.Series") -> "float":
        return float(np.exp(np.log1p(v).mean()))

    ev = read_table(spark, sf_dir, "events")
    # grouped-agg pandas UDFs cannot mix with native aggregates in one
    # agg() — compute each and join (5-row broadcast)
    g = ev.groupBy("event_type").agg(geo_mean_1p("value").alias("g"))
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return g.join(F.broadcast(n), "event_type").select(
        "event_type",
        (F.floor(F.col("g") * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "geo_mean_1p"
        ),
        "n",
    )
