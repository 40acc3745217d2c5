"""Shared DSIR building blocks (LEAF module — imports only pyspark and
the operator layer, never the registry or another plan module).

DSIR (Xie et al. 2023, arXiv:2302.03169): importance weights from
hashed-bigram bags, ln(p_target/p_raw) with Laplace smoothing over a
FIXED bucket vocabulary. Extracted here (r5, VERDICT r4 task #3) so the
in-query form (`plans/dsel_ops.corpus_dsir_weights`), the STORED twin
(`corpus_dsir_weights_stored`, reading tables persisted by
`plans/ann_index.build_doc_index`), and the curation-funnel stage all
share ONE implementation — the stored tables are definitionally
bit-identical to an in-query recompute.

Determinism: the smoothed ratio is assembled as one integer fraction
before the single ln(); per-bucket log-ratios quantize half-up to
integer nano-units and per-doc sums run on BIGINTs, so float addition
order can never flip a weight (functions/det.py doctrine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy

DSIR_BUCKETS = 256


def dsir_rollup(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, n, is_tgt): per-document hashed-bigram bucket
    counts — the ONLY aggregate that sees unbounded data (map-side
    combinable, keyed by doc). This is the relation the stored index
    persists: scoring any target slice later is a broadcast join against
    a 256-row table, never a re-tokenization of the corpus."""
    from ..operators.text import tokenize

    toks = docs.where(F.trim(F.col("text")) != "").select(
        "doc_id", "lang", tokenize(F.col("text")).alias("t")
    )
    return dsir_rollup_from_tokens(toks)


def dsir_rollup_from_tokens(toks: DataFrame) -> DataFrame:
    """The rollup from a PRE-TOKENIZED (doc_id, lang, t) relation — so
    an index build that also needs shingles (plans/ann_index
    ``build_doc_index``) tokenizes the corpus ONCE and derives both
    streams from the pinned token arrays."""
    bg = toks.where(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("b"),
    )
    hashed = bg.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_tgt"),
        (
            F.conv(F.substring(F.md5("b"), 1, 8), 16, 10).cast("long")
            % F.lit(DSIR_BUCKETS)
        ).alias("bucket"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("n"), F.max("is_tgt").alias("is_tgt")
    )


def dsir_lr(rollup: DataFrame) -> DataFrame:
    """(bucket, lrq): quantized integer-nano log-ratio per bucket from a
    rollup — bounded (256 rows), broadcast downstream. Corpus totals
    come from an unpartitioned window over the BOUNDED bucket table
    (the doctrine's tiny-relation exception)."""
    bucket_tab = rollup.groupBy("bucket").agg(
        F.sum("n").alias("rc"),
        F.sum(F.when(F.col("is_tgt"), F.col("n")).otherwise(0)).alias("tc"),
    )
    wall = Window.partitionBy()
    return bucket_tab.select(
        "bucket",
        "rc",
        "tc",
        F.sum("rc").over(wall).alias("n_raw"),
        F.sum("tc").over(wall).alias("n_tgt"),
    ).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("tc") + 1) * (F.col("n_raw") + DSIR_BUCKETS)).cast("double")
                / ((F.col("rc") + 1) * (F.col("n_tgt") + DSIR_BUCKETS)).cast("double")
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lrq"),
    )


def dsir_lr_complete(rollup: DataFrame) -> DataFrame:
    """(bucket, lrq) over the COMPLETE 0..255 bucket domain: like
    ``dsir_lr`` but buckets absent from the training rollup still get
    their (Laplace-smoothed) log-ratio — required when the SCORED docs
    can hash into buckets the training slice never produced (the
    delta-vs-frozen-base shape; an inner join would silently drop those
    bigrams). The spine is a 256-row range — driver-free, broadcast."""
    spark = rollup.sparkSession
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    bucket_tab = (
        spine.join(
            rollup.groupBy("bucket").agg(
                F.sum("n").alias("rc0"),
                F.sum(F.when(F.col("is_tgt"), F.col("n")).otherwise(0)).alias(
                    "tc0"
                ),
            ),
            "bucket",
            "left",
        )
        .select(
            "bucket",
            F.coalesce("rc0", F.lit(0)).alias("rc"),
            F.coalesce("tc0", F.lit(0)).alias("tc"),
        )
    )
    wall = Window.partitionBy()
    return bucket_tab.select(
        "bucket",
        "rc",
        "tc",
        F.sum("rc").over(wall).alias("n_raw"),
        F.sum("tc").over(wall).alias("n_tgt"),
    ).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("tc") + 1) * (F.col("n_raw") + DSIR_BUCKETS)).cast("double")
                / ((F.col("rc") + 1) * (F.col("n_tgt") + DSIR_BUCKETS)).cast("double")
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lrq"),
    )


def dsir_weights_from(
    docs: DataFrame, rollup: DataFrame, lr: DataFrame
) -> DataFrame:
    """(doc_id, n_bigrams, dsir_logw) from a (possibly stored) rollup +
    log-ratio table: one broadcast join, one per-doc integer sum."""
    per_doc = (
        rollup.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("lrq")).alias("s"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        r6(
            F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            / F.lit(1e9)
        ).alias("dsir_logw"),
    )


def dsir_weights_inquery(docs: DataFrame) -> DataFrame:
    """The self-contained (index-free) DSIR weights plan — rollup pinned
    because it feeds both the bucket table and the per-doc sum."""
    rollup = dsir_rollup(docs).transform(_pin_lazy)
    return dsir_weights_from(docs, rollup, dsir_lr(rollup))
