"""Scale smoke: run the corpus/embedding operator battery at ~100x the
sf0.1 fixture row counts and report wall-clock scaling.

The per-round bench (bench.py, sf0.1) exercises 5k documents / 2k
embedding vectors — small enough that fixed costs dominate. This tool
answers the 100-TB design question directly: synthesize 500k documents
(with planted exact-duplicate and near-duplicate groups) and 200k
64-dim embedding vectors (100 planted clusters) ENTIRELY inside Spark
(range + hash expressions, no driver materialization), lay them out
beside the sf0.1 relational tables, and run the heavy corpus operators
end-to-end. Near-linear wall-clock vs the sf0.1 numbers = the
partition strategy holds; anything super-linear is a design bug to fix.

A CLI over ``tools/runner.py``: its session (``get_spark`` at
``local[32]``, 64 shuffle partitions, a 48g heap), its isolation step
and its timed build plus noop write.

Usage: python tools/scale_smoke.py [--mult 100] [--out /tmp/scale_smoke]
Writes one JSON line per query: {"query": ..., "sec": ..., "leaked_rdds": ...}
and a final summary line. Not part of the default pytest suite (runtime
is minutes, not seconds); results are recorded in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tools import runner  # noqa: E402

SF01 = "/root/testdata/sf0.1"

# the battery: corpus/embedding-heavy queries whose inputs we scale
QUERIES = [
    "dedup_exact",
    "dedup_prefix_hash",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_index_build",
    "dedup_minhash_incremental_stored",
    "dedup_simhash",
    # r3 (VERDICT r2 #2): the battery runs the LSH->Jaccard-verify
    # COMPOSITE — exact Jaccard only on band-collision candidates. The
    # full co-shingle self-join (dedup_ngram_jaccard) is retired to
    # oracle duty: 400s isolated at 100x, 66% of the r2 battery's wall
    # clock, and never the plan a 100 TB deployment runs.
    "dedup_lsh_jaccard_verify",
    # r8 (VERDICT r7 #4): the r7 sweep fix — length-gap<=50 pushed into
    # the join + thresholded levenshtein(l,r,50) — claims block-bounded
    # DP work; the battery row demonstrates it at 500k docs
    "dedup_edit_distance_blocked",
    "dedup_cluster_keep_best",
    "corpus_curation_funnel",
    "text_stats",
    "text_lang_id",
    "text_fingerprint",
    "corpus_quality_gopher",
    "corpus_line_dedup",
    "tokenizer_vocab_coverage",
    "pack_sequences",
    "sample_hash_split",
    "decontam_ngram_overlap",
    # NOTE: at 64 dims a 0.3 cosine threshold admits ~0.8% of RANDOM
    # pairs, so dedup_embedding_cosine's output is quadratic in N by
    # selectivity; the documented scale path is the SRP-bucketed
    # variant, which is what a 100 TB deployment runs:
    "dedup_embedding_cosine_lsh",
    # r4: SemDeDup's bounded-cell scale form (the label-seeded oracle
    # form has a FIXED cell count — quadratic per cell — and stays out
    # of the battery by design; this is the registered 100 TB shape)
    "dedup_semantic_semdedup_sharded",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "graph_knn_mutual",
    "embedding_pca_power_iter",
    "embedding_quantize_int8",
    "corpus_dsir_weights",
    "embedding_pq_encode",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "similarity_topk_ivfadc",
    # r3: stored-index split — build once (pays encoding), query codes
    # only; the *_stored rows are the production ANN read path
    "similarity_index_build",
    "similarity_topk_pq_stored",
    "similarity_topk_ivfpq_stored",
    "similarity_topk_pq_refine_stored",
    "similarity_topk_ivfadc_stored",
    "similarity_topk_ivfadc_multiprobe_stored",
    "embedding_pq_encode_delta",
    # r5 session 2: tokenizer training/apply (word-type-relation loop),
    # learned quality gate (full + frozen-base delta + streamed drain),
    # and decontamination served from the stored band index
    "tokenizer_bpe_train",
    "tokenizer_bpe_apply",
    "text_quality_classifier",
    "text_quality_classifier_delta",
    "streaming_quality_score",
    "decontam_minhash_lsh",
    "decontam_minhash_lsh_stored",
    "text_chunk_overlap",
    "corpus_diversity_sample",
]

_WORDS = 1000  # synthetic vocabulary size


def synth(spark: SparkSession, out: Path, mult: int) -> None:
    """Synthesize documents/embeddings at mult x sf0.1 counts, copy the
    relational tables from sf0.1 unchanged."""
    n_docs = 5_000 * mult
    n_vecs = 2_000 * mult
    out.mkdir(parents=True, exist_ok=True)
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ]:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            shutil.copy(f"{SF01}/{t}.parquet", dst)

    # documents: ~40-word texts from a deterministic hash-indexed
    # vocabulary; 5% exact-duplicate groups (text keyed by id % 95%N),
    # plus 2% near-duplicates (same base text + one extra token)
    base = int(n_docs * 0.93)
    docs = (
        spark.range(0, n_docs, 1, 64)
        .withColumn(
            "tkey",
            F.when(F.col("id") % 100 < 5, F.col("id") % F.lit(base))
            .otherwise(F.col("id") % F.lit(n_docs)),
        )
        .withColumn(
            "words",
            F.transform(
                F.sequence(F.lit(1), F.lit(40)),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("tkey") * 40 + i), F.lit(_WORDS)),
                ),
            ),
        )
        .withColumn(
            "text",
            F.when(
                F.col("id") % 100 >= 98,
                F.concat(F.array_join("words", " "), F.lit(" extra token tail")),
            ).otherwise(F.array_join("words", " ")),
        )
        .select(
            F.col("id").alias("doc_id"),
            "text",
            F.element_at(
                F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("de"), F.lit("fr")),
                (F.pmod(F.xxhash64("id"), F.lit(5)) + 1).cast("int"),
            ).alias("lang"),
            F.concat(F.lit("src"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(20))).alias(
                "source"
            ),
            F.length("text").alias("n_chars"),
        )
    )
    docs.write.mode("overwrite").parquet(str(out / "documents.parquet"))

    # embeddings: 100 LOOSE planted clusters (within-cluster cosine
    # ~0.08 — well under the near-dup thresholds, like the fixture's
    # random vectors) plus 0.5% planted TRUE near-dup pairs (vector
    # id%200==1 regenerates id-1's vector with tiny jitter), all in
    # codegen — no driver materialization at any mult
    n_clusters = 100
    vkey = F.when(F.col("id") % 200 == 1, F.col("id") - 1).otherwise(F.col("id"))
    vecs = (
        spark.range(0, n_vecs, 1, 64)
        .withColumn("vkey", vkey)
        .withColumn("cid", F.pmod(F.xxhash64("vkey"), F.lit(n_clusters)))
        .withColumn(
            "embedding",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: (
                    (F.pmod(F.xxhash64(F.col("cid") * 64 + d), F.lit(2000)) - 1000)
                    / 1000.0
                    * 0.3
                    + (F.pmod(F.xxhash64(F.col("vkey") * 64 + d, F.lit(13)), F.lit(2000)) - 1000)
                    / 1000.0
                    + (F.pmod(F.xxhash64(F.col("id") * 64 + d, F.lit(29)), F.lit(200)) - 100)
                    / 5000.0
                ).cast("float"),
            ),
        )
        .select(
            F.col("id").alias("vec_id"),
            "embedding",
            F.col("cid").cast("int").alias("label"),
        )
    )
    vecs.write.mode("overwrite").parquet(str(out / "embeddings.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--out", default="/tmp/scale_smoke")
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    args = ap.parse_args()

    out = Path(args.out) / f"x{args.mult}"
    run = runner.Runner(
        "scale_smoke", str(out), master="local[32]", shuffle_partitions=64,
        extra_conf={"spark.driver.memory": "48g"},
    )
    t0 = time.time()
    synth(run.spark, out, args.mult)
    print(json.dumps({"synth_sec": round(time.time() - t0, 1), "mult": args.mult}))

    names = args.queries.split(",") if args.queries else QUERIES
    # bench.py's host-throttle canary, interleaved every few queries.
    # Round 7 finding: the host throttles under SUSTAINED load and
    # recovers at idle, so bracketing canaries read healthy while
    # mid-battery entries inflate 10-50x (measured: embedding_pq_encode
    # 162.7s in-battery vs 6.8-19.8s isolated same boot). Interleaving
    # the probe makes each row attributable. Each query runs after the
    # runner's isolation step: leftover persisted blocks and
    # localCheckpoints otherwise inflated late battery entries 3-10x.
    print(json.dumps({"canary": runner.canary(), "at": "pre"}))
    recs, _ = runner.sweep(run, names, canary_every=5)
    print(json.dumps({"canary": runner.canary(), "at": "post"}))
    run.stop()
    secs = [r["sec"][-1] for r in recs if "error" not in r]
    print(json.dumps({"total_sec": round(sum(secs), 1), "n": len(secs)}))


if __name__ == "__main__":
    main()
