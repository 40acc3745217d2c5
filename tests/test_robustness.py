"""Robustness edges: malformed-input ingestion, operator behavior on
empty inputs, and structural invariants the oracle comparison can't
express (bin bounds, monotonicity)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sow_pyspark_scripts_spark.operators.relational import with_global_row_number

from .conftest import SF_DIR


def test_json_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE JSON ingestion: malformed lines land in the
    _corrupt_record column instead of failing the job or being silently
    dropped — at 100 TB some records WILL be broken, and the pipeline
    must quarantine them, not die (FAILFAST) or lie (DROPMALFORMED)."""
    path = tmp_path / "mixed.jsonl"
    lines = []
    for i in range(100):
        if i % 7 == 0:
            lines.append(f'{{"id": {i}, "name": "rec_{i}"')  # unclosed brace
        else:
            lines.append(f'{{"id": {i}, "name": "rec_{i}"}}')
    path.write_text("\n".join(lines))
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(path))
        .cache()  # SPARK-21610: corrupt-record column needs a materialized frame
    )
    bad = df.where(F.col("_corrupt_record").isNotNull())
    good = df.where(F.col("_corrupt_record").isNull())
    assert df.count() == 100
    assert bad.count() == 15  # ceil(100/7)
    assert good.count() == 85
    # good rows parsed fully; corrupt rows preserve the raw line for replay
    assert good.where(F.col("id").isNull()).count() == 0
    assert bad.where(~F.col("_corrupt_record").startswith("{")).count() == 0


def test_pack_sequences_bin_bound(spark):
    """A bin's token total may exceed the context budget only by the
    final document that straddles the boundary — never by more. (The
    oracle proves equality with DuckDB; this proves the packing makes
    sense.)"""
    from sow_pyspark_scripts_spark.plans.corpus_ops import _CTX_TOKENS, pack_sequences

    out = pack_sequences(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    max_doc = docs.select(F.max(F.size(F.split("text", " ")))).collect()[0][0]
    assert (out["sum_tokens"] < _CTX_TOKENS + max_doc).all()
    # bins within each source are dense from 0
    for _, g in out.groupby("source"):
        bins = sorted(g["bin"])
        assert bins == list(range(len(bins)))


def test_global_row_number_empty_and_single(spark):
    """Degenerate inputs: empty frame -> empty result with the column
    present; single row -> row_num 1."""
    schema = StructType([StructField("k", LongType())])
    empty = spark.createDataFrame([], schema)
    out = with_global_row_number(empty, ["k"])
    assert out.columns == ["k", "row_num"]
    assert out.count() == 0
    one = with_global_row_number(spark.createDataFrame([(42,)], schema), ["k"])
    assert [(r.k, r.row_num) for r in one.collect()] == [(42, 1)]


def test_approx_pctls_empty_and_all_null_keep_the_per_rank_shape(spark):
    """On empty or all-null input the percentile array is one NULL per
    rank, so an explode of it yields one row per rank."""
    from pyspark.sql.types import DoubleType

    from sow_pyspark_scripts_spark.functions.sketch import approx_pctls

    ps = (0.25, 0.5, 0.75)
    schema = StructType([StructField("x", DoubleType())])
    empty = spark.createDataFrame([], schema)
    all_null = spark.createDataFrame([(None,), (None,)], schema)
    for df in (empty, all_null):
        b = df.agg(approx_pctls("x", ps).alias("q"))
        assert b.collect()[0].q == [None, None, None]
        assert b.select(F.explode("q")).count() == len(ps)
    one = spark.createDataFrame([(2.0,)], schema).agg(approx_pctls("x", ps).alias("q"))
    assert one.collect()[0].q == [2.0, 2.0, 2.0]


def test_scd2_single_event_user(spark):
    """A user with one event yields exactly one open-ended interval."""
    import pandas as pd

    import sow_pyspark_scripts_spark.plans.warehouse_ops as wo

    src = spark.createDataFrame(
        pd.DataFrame(
            {"user_id": [1], "event_type": ["view"], "ts": [pd.Timestamp("2024-01-01")]}
        )
    )
    orig = wo.read_table
    try:
        wo.read_table = lambda s, d, n: src
        out = wo.scd2_intervals(spark, "ignored").collect()
    finally:
        wo.read_table = orig
    assert len(out) == 1
    assert out[0].is_current and out[0].valid_to is None


def test_observation_sidecar_metrics(spark):
    """Observation API: production telemetry (row counts, sums) collected
    DURING the job — no second pass over the data. The observed metrics
    must equal a direct aggregate of the same plan."""
    from pyspark.sql import Observation

    from sow_pyspark_scripts_spark.sources import read_table
    from .conftest import SF_DIR

    li = read_table(spark, SF_DIR, "lineitem")
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "price_cents"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "price_cents"
        ),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"]
    assert got["price_cents"] == want["price_cents"]


def test_queries_survive_empty_input(spark, tmp_path_factory):
    """An empty ingest day (or an all-filtered partition) must produce an
    empty, well-typed result — never an exception. Swept over the
    operator families with nontrivial empty-edge behavior (Arrow GEMM
    broadcasts, partitioned-write round-trips, iterative algorithms,
    windows, percentiles); the full 324-query sweep was run once
    offline and these were the only failure modes found (all fixed).
    The ANN tier (in-query and stored, the index build and the recall
    gates) is also run on a one-row embeddings table: one vector codes
    and trains every codebook, but no query has a candidate."""
    import os
    import shutil
    import tempfile

    import __spark_entry__ as entrymod
    from sow_pyspark_scripts_spark.sources.staging import sf_tag

    base = tmp_path_factory.mktemp("sf_empty")
    one = tmp_path_factory.mktemp("sf_one_vector")
    from .conftest import SF_DIR

    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(str(base / f"{t}.parquet"))
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(1).write.mode(
        "overwrite"
    ).parquet(str(one / "embeddings.parquet"))
    queries = entrymod.queries()
    for name in [
        "dedup_embedding_cosine",   # driver-side Arrow collect of the matrix
        "ml_knn_classify_loo",      # GEMM top-k worker batches
        "join_partition_pruned_dpp",  # partitioned write -> schema inference
        "dedup_minhash_lsh",
        "text_bm25_topk",
        "graph_pagerank_iter",
        "embedding_pca_power_iter",
        "scd2_intervals",
        "events_window_funnel",
        "feature_pit_training_matrix",
        "dq_equidepth_histogram",
        "flagship_incident_etl",
    ]:
        assert queries[name](spark, str(base)).count() == 0, name
    # rows on (empty, one-row) embeddings: a global aggregate keeps its
    # one row; the build audits 4 subquantizers + the coarse layer
    ann = {
        "embedding_pq_encode": (0, 1),
        "similarity_topk_pq": (0, 0),
        "similarity_topk_pq_refine": (0, 0),
        "similarity_topk_ivfpq": (0, 0),
        "similarity_topk_ivfadc": (0, 0),
        "similarity_topk_ivfadc_multiprobe": (0, 0),
        "similarity_topk_pq_stored": (0, 0),
        "similarity_topk_pq_refine_stored": (0, 0),
        "similarity_topk_ivfpq_stored": (0, 0),
        "similarity_topk_ivfadc_stored": (0, 0),
        "similarity_topk_ivfadc_multiprobe_stored": (0, 0),
        "similarity_index_build": (1, 5),
        "similarity_pq_recall": (1, 1),
        "similarity_ivfadc_recall": (1, 1),
        "similarity_ivfadc_multiprobe_recall": (1, 1),
    }
    index_root = os.path.join(tempfile.gettempdir(), "spark_ann_index")
    try:
        for name, want in ann.items():
            got = tuple(len(queries[name](spark, str(d)).collect()) for d in (base, one))
            assert got == want, (name, got)
    finally:
        # the fixture paths are unique to this run, so no later staging
        # would ever sweep the indexes the stored queries built here
        tags = tuple(sf_tag(str(d)) + "_" for d in (base, one))
        for n in os.listdir(index_root) if os.path.isdir(index_root) else []:
            if n.startswith(tags):
                shutil.rmtree(os.path.join(index_root, n), ignore_errors=True)
