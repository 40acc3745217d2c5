"""The benchmark's workloads: one query mix each, over the same table sizes.

Each workload is a closed loop with one client: the mix runs query after
query, as a pipeline runs them, and one pass is one trip through it.
Every run warms up with ``WARM_PASSES[workload]`` passes before the
timed ones; the first of them is the cold pass.
"""

WORKLOADS = {
    # The reference's three pipelines, incident ETL (S1), snowflake ETL
    # (S2) and text pipeline (S3), plus a streaming drain: many short
    # jobs, so Catalyst, job scheduling, scans and the drain dominate;
    # no dedup, ANN or pin work.
    "etl_ref": (
        "flagship_incident_etl",
        "snowflake_etl_e2",
        "text_pipeline_e3",
        "streaming_tumbling_agg",
    ),
    # Build once, query many: the first read of the warm-up writes the
    # stored ANN index (the thread-pooled write chains); every timed
    # pass is a driver-bound IVF-ADC read of it.
    "ann_rw": ("similarity_topk_ivfadc_stored",),
}

# Passes after the cold one still get faster for a while; a pass of
# ann_rw costs half as much as one of etl_ref, so it gets one more.
WARM_PASSES = {"etl_ref": 3, "ann_rw": 4}
