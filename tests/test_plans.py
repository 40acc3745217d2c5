"""Physical-plan contracts: the optimizations the engine claims are
asserted, not hoped for. A refactor that silently turns a broadcast join
into a sort-merge join, or un-pushes a filter, fails here — performance
regressions become test failures."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from .conftest import SF_DIR

QUERIES = entrymod.queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().toString()


def test_flagship_joins_are_broadcast(spark):
    plan = _plan(spark, "flagship_incident_etl")
    # all five joins broadcast (bounded dims + keyed rollup); the fact
    # table is never shuffled for a join
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan


def test_shipping_priority_pushdown_and_topk(spark):
    plan = _plan(spark, "agg_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # global top-10 without full sort
    assert "BroadcastHashJoin" in plan
    full = _optimized(spark, "agg_shipping_priority")
    # every scan carries its filter: segment, orderdate, shipdate
    assert "EqualTo(c_mktsegment,BUILDING)" in full
    assert "LessThan(o_orderdate" in full
    assert "GreaterThan(l_shipdate" in full


def test_prune_reaches_scan(spark):
    full = _optimized(spark, "proj_drop_prune")
    # ReadSchema lists only the three surviving columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", full)
    assert m, full
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_extendedprice"}, cols


def test_no_cartesian_products_anywhere(spark):
    # cross joins must always have a broadcast side; a CartesianProduct at
    # 100 TB is a plan bug. (Checked on the pairwise-heavy queries.)
    for name in [
        "similarity_topk_exact",
        "similarity_topk_lsh",
        "similarity_topk_ivf",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
    ]:
        assert "CartesianProduct" not in _plan(spark, name), name


def test_partitioned_read_prunes(spark, tmp_path):
    plan = _plan(spark, "sink_parquet_partitioned")
    # the scan's partition filter selects exactly the one month bucket
    assert "month_year" in plan
    assert "3-1995" in plan


def test_semi_and_asof_plan_shapes(spark):
    # EXISTS plans as a semi join (never a dedup-after-join)
    assert "LeftSemi" in _plan(spark, "join_semi_exists")
    # as-of never plans a range explosion: no CartesianProduct, and its
    # only join is the internal union (window handles the matching)
    plan = _plan(spark, "join_asof")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_salted_join_no_broadcast_of_big_side(spark):
    # the salted join's big side must not be broadcast (the whole point
    # is a shuffle join that tolerates skew)
    plan = _plan(spark, "join_salted_skew")
    assert "CartesianProduct" not in plan


def test_volume_shipping_single_shuffle_join(spark):
    # Q7 shape: supplier, customer and both nation roles ride in as
    # broadcasts (at fixture scale AQE broadcasts orders too — the only
    # join allowed to shuffle is lineitem⋈orders at real scale).
    plan = _plan(spark, "join_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # decimal-exact volume: the sum must run on DecimalType, not double
    assert "DecimalType" in _optimized(spark, "join_volume_shipping") or "decimal(" in plan


def test_bm25_topk_never_global_sorts(spark):
    # the top-20 is TakeOrderedAndProject (per-partition heaps), and the
    # tiny idf/corpus sides are broadcast — no global Sort, no SMJ.
    plan = _plan(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_decontam_stays_udf_free(spark):
    # shingling is sequence+transform+slice in codegen; a Python UDF
    # here would put every token through the Arrow boundary.
    plan = _plan(spark, "decontam_ngram_overlap")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_scalar_subquery_shapes_broadcast_the_scalar(spark):
    # Q22/Q15 shapes: the 1-row scalar aggregate must come back as a
    # broadcast (BroadcastNestedLoopJoin over 1 row is fine); the anti
    # join must not broadcast the big probe side.
    for name in ["subq_antijoin_topbal", "subq_max_joinback"]:
        plan = _plan(spark, name)
        assert "Broadcast" in plan, name
        assert "CartesianProduct" not in plan, name


def test_scd2_windows_never_single_partition(spark):
    # both window passes are keyed on user_id — a global (unpartitioned)
    # window would show an Exchange SinglePartition and die at scale.
    plan = _plan(spark, "scd2_intervals")
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan


def test_exists_chain_is_semi_plus_anti(spark):
    # Q21 shape: the correlated EXISTS/NOT EXISTS pair must decorrelate
    # to hash semi + anti joins, not nested-loop subquery execution.
    plan = _plan(spark, "subq_exists_chain")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_reuses_cached_edges(spark):
    # edges/nodes are computed once and re-read by all iterations — as
    # lazily localCheckpointed RDD scans since r4 (persist() parked a
    # CacheManager entry for the session lifetime, the ADVICE r3 leak
    # pattern); the 1-row node count must ride as a broadcast, never a
    # cartesian.
    plan = _plan(spark, "graph_pagerank_iter")
    assert "ExistingRDD" in plan or "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_join_exchange(spark):
    # the whole point of bucketing: the SMJ's inputs come straight from
    # the bucketed scans; the only shuffle in the plan is the final
    # aggregation, never the join.
    import re

    plan = _plan(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_global_row_number_is_two_phase(spark):
    # the global row_number must run as the bucketed two-phase form: the
    # full table windows on hashpartitioning(_rn_bucket); SinglePartition
    # exchanges may only carry the tiny bucket-count/total tables.
    import re

    for name in ["win_row_number_chunk", "agg_collect_batch", "win_ntile_chunks"]:
        plan = _plan(spark, name)
        assert "hashpartitioning(_rn_bucket" in plan, name
        assert len(re.findall(r"Exchange SinglePartition", plan)) <= 2, name


def test_topn_per_group_uses_window_group_limit(spark):
    # rank<=k windows must hit Spark's WindowGroupLimit rewrite: each
    # map task keeps only its local top-k per group BEFORE the shuffle,
    # so the exchange carries k·groups·tasks rows, not the full table.
    plan = _plan(spark, "win_topn_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_chunk_windows_is_shuffle_free(spark):
    # split/sequence/explode/slice chunking is a pure map stage: any
    # Exchange here means the op stopped scaling linearly with input.
    plan = _plan(spark, "text_chunk_windows")
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_heavy_hitters_threshold_is_broadcast_scalar(spark):
    # the global total must arrive as a one-row broadcast onto the
    # per-key counts — not a window-over-everything, not a cartesian of
    # two big sides.
    plan = _plan(spark, "agg_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_multires_rollup_cascades_from_materialized_hourly(spark):
    # the returned plan must read the MATERIALIZED hourly rollup (one
    # raw-events scan happened at write time): its only Exchange is the
    # daily re-aggregation of rolled-up rows, and no events.parquet scan
    # appears in the read-side plan.
    plan = _plan(spark, "events_multires_rollup")
    assert plan.count("Exchange") == 1, plan
    assert "spark_rollup_hourly" in plan, plan
    assert "events.parquet" not in plan, plan


def test_cdc_changelog_single_keyed_shuffle(spark):
    # last-writer-wins is one row_number window partitioned on the merge
    # key: exactly one hash shuffle, never a single-partition sort.
    plan = _plan(spark, "cdc_apply_changelog")
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_dpp_prunes_fact_partitions(spark):
    # the months-of-1995 dim must turn into a dynamicpruning subquery on
    # the partitioned fact scan — the directory-level skip that makes a
    # date-restricted query touch 12 of ~90 partitions at 100 TB.
    df = QUERIES["join_partition_pruned_dpp"](spark, SF_DIR)
    full = df._jdf.queryExecution().toString()
    assert "dynamicpruning" in full, full


def test_countmin_sketch_lookup_is_broadcast(spark):
    # the sketch (≤ d·w cells) must ride to the probe side as a
    # broadcast; a sort-merge join here would shuffle the distinct-key
    # table for a 1536-row lookup.
    plan = _plan(spark, "agg_countmin_sketch")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    # at real scale (neither side broadcast-able, big probe scan) Catalyst
    # injects a bloom-filter runtime filter: the build side aggregates a
    # bloom_filter_agg, the probe scan filters with might_contain before
    # the shuffle. Fixture sizes are below every threshold, so lower them
    # to observe the 100 TB plan shape, then restore.
    from sow_pyspark_scripts_spark.sources import read_table
    from pyspark.sql import functions as F

    scan_k = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast_k = "spark.sql.autoBroadcastJoinThreshold"
    old_scan, old_bcast = spark.conf.get(scan_k), spark.conf.get(bcast_k)
    try:
        spark.conf.set(scan_k, "0")
        spark.conf.set(bcast_k, "-1")
        li = read_table(spark, SF_DIR, "lineitem")
        o = read_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        full = j._jdf.queryExecution().toString()
        assert "might_contain" in full.lower(), full
        assert "bloom_filter_agg" in full.lower(), full
    finally:
        spark.conf.set(scan_k, old_scan)
        spark.conf.set(bcast_k, old_bcast)


def test_pca_result_is_bounded_local_relation(spark):
    # the distributed work is the single covariance pass; the returned
    # relation is the d-row driver-side eigenvector (MLlib's
    # Gramian-collect split), so its plan must be a LocalTableScan with
    # NO parquet rescans and no leftover iteration joins
    plan = _plan(spark, "embedding_pca_power_iter")
    assert any(s in plan for s in ("LocalTableScan", "LocalRelation", "ExistingRDD")), plan
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")


def test_band_lookup_is_broadcast_nested_loop(spark):
    # a pure-range lookup against a 4-row build side must plan as a
    # broadcast nested loop — never a cartesian product, never a shuffle
    # of the fact for the join
    plan = _plan(spark, "join_band_lookup")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_equidepth_histogram_is_two_scans_no_sort(spark):
    # boundaries come from ONE aggregate pass and broadcast back; the
    # binning pass is map-side — no global Sort anywhere in the plan
    plan = _plan(spark, "dq_equidepth_histogram")
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "Sort " not in plan.replace("SortAggregate", "SAgg")


def test_window_funnel_exchanges_key_on_user(spark):
    # every exchange in the funnel keys on user_id — the whole pipeline
    # rides one partitioning
    import re

    plan = _plan(spark, "events_window_funnel")
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    # user_id everywhere; funnel_depth only above the 3-row final rollup
    assert keys <= {"user_id", "funnel_depth"}, keys
    assert "user_id" in keys


def test_pit_matrix_first_order_has_no_prior_features(spark):
    # leakage check: a customer's first-ever order must see zero prior
    # orders and zero prior revenue (the RANGE frame excludes the
    # current row and everything after)
    from pyspark.sql import functions as F

    df = QUERIES["feature_pit_training_matrix"](spark, SF_DIR)
    firsts = df.where(F.col("f_order_seq") == 0)
    bad = firsts.where(
        (F.col("f_prior_orders_30d") != 0) | (F.col("f_prior_revenue_30d") != 0.0)
    ).count()
    assert bad == 0, f"{bad} first orders carry prior-window features"


def test_knn_loo_never_shuffles_pairs(spark):
    # the 25M-candidate pair relation must never hit an exchange: only
    # qid-keyed top-5 rows (5/vector) shuffle after the mapInPandas GEMM
    plan = _plan(spark, "ml_knn_classify_loo")
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_spatial_grid_join_is_broadcast_equi_join(spark):
    # the radius join must never materialize the quadratic pair space:
    # the replicated-cell supplier side broadcasts and the join is a
    # plain BroadcastHashJoin on the cell key — no CartesianProduct, no
    # BroadcastNestedLoopJoin carrying the distance predicate.
    plan = _plan(spark, "join_spatial_grid")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cv_fold_ols_is_single_scan(spark):
    # all five fold models come from ONE pass over lineitem: exactly one
    # parquet scan in the plan, and the only exchanges carry the 5-row
    # fold rollup (plus the 1-row totals broadcast).
    plan = _plan(spark, "ml_cv_fold_ols")
    assert plan.count("Scan parquet") == 1, plan


def test_abc_classification_prefix_scan_is_two_phase(spark):
    # the cumulative-revenue window must run as the bucketed two-phase
    # prefix-scan (hashpartitioning on _ps_bucket), never an unpartitioned
    # window over the partkey-grain relation; SinglePartition exchanges may
    # only carry the tiny bucket-total / scalar-total sides.
    import re

    plan = _plan(spark, "agg_abc_classification")
    assert "hashpartitioning(_ps_bucket" in plan, plan
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 2, plan


def test_decile_lift_has_no_global_ntile(spark):
    # the decile cut must come from the two-phase row number plus the
    # broadcast population count — never ntile over a single-partition
    # window on the user-grain rollup
    plan = _plan(spark, "ml_decile_lift")
    assert "ntile" not in plan, plan
    assert "hashpartitioning(_rn_bucket" in plan, plan


def test_skyline_running_max_is_two_phase(spark):
    # the strictly-preceding running max runs bucketed (with_prefix_max):
    # hash exchange on _pm_bucket, and SinglePartition exchanges carry
    # only the one-row-per-bucket totals side
    plan = _plan(spark, "agg_skyline_pareto")
    assert "hashpartitioning(_pm_bucket" in plan, plan


def test_rank_stats_prefix_scan_is_two_phase(spark):
    # AUC / Mann-Whitney mid-ranks come from the bucketed prefix scan
    # over the distinct-score rollup — no unpartitioned window anywhere
    for name in ("ml_auc_roc", "stats_mann_whitney"):
        plan = _plan(spark, name)
        assert "hashpartitioning(_ps_bucket" in plan, (name, plan)


def test_vocab_coverage_total_is_broadcast_not_window(spark):
    # the grand token total must ride a broadcast 1-row aggregate, not a
    # global window over the vocabulary relation
    plan = _plan(spark, "tokenizer_vocab_coverage")
    assert "windowspecdefinition()" not in plan.replace(" ", ""), plan


# --- stored-index read-path contracts (round 3) -------------------------------


def _scan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_pq_stored_reads_codes_not_vectors(spark):
    """The stored ADC query's candidate side must be the code table:
    exactly ONE scan touches the float `embedding` column, and it is the
    query-side scan with the vec_id<20 filter pushed into it. A refactor
    that re-reads vectors for candidates fails here."""
    scans = _scan_lines(_plan(spark, "similarity_topk_pq_stored"))
    emb_scans = [s for s in scans if "embedding#" in s]
    assert len(emb_scans) == 1, scans
    assert "< 20" in emb_scans[0], emb_scans[0]
    # candidate side: the 4-nibble code table
    assert any("c0#" in s and "c3#" in s for s in scans), scans


def test_ivfadc_stored_reads_codes_not_vectors(spark):
    scans = _scan_lines(_plan(spark, "similarity_topk_ivfadc_stored"))
    emb_scans = [s for s in scans if "embedding#" in s]
    assert len(emb_scans) == 1, scans
    assert "< 20" in emb_scans[0], emb_scans[0]
    assert any("rc0#" in s and "rc3#" in s for s in scans), scans


def test_refine_stored_rereads_vectors_for_refine_only(spark):
    """ADC+R re-reads full-precision vectors for the R-row re-rank: the
    plan has exactly THREE embedding scans (query subvectors + the two
    refine sides), all joined broadcast — and still streams candidates
    from the code table."""
    plan = _plan(spark, "similarity_topk_pq_refine_stored")
    scans = _scan_lines(plan)
    emb_scans = [s for s in scans if "embedding#" in s]
    assert len(emb_scans) == 3, scans
    assert any("c0#" in s for s in scans), scans
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "similarity_topk_ivfadc_stored",
        "similarity_topk_ivfadc_multiprobe_stored",
        "similarity_topk_pq_stored",
        "similarity_topk_ivfpq_stored",
        "similarity_topk_pq_refine_stored",
        # in-query: the index families pin their corpus subvectors, so a
        # sign cell left in the plan can only come from the query side
        "similarity_topk_pq",
        "similarity_topk_pq_refine",
        "similarity_topk_ivfpq",
        "similarity_topk_ivfadc",
        "similarity_topk_ivfadc_multiprobe",
        "embedding_pq_encode",
    ],
)
def test_query_lut_plans_carry_no_sign_cells(spark, name):
    """A query LUT reads the query's subvector slices only. Catalyst
    does not prune an unused field of a struct built inside
    explode(array(...)), so query subvectors built with their sign cells
    plan 16-32 unrolled CASE WHEN plane sums that no operator reads. The
    in-query forms read the corpus codes through the index families,
    whose coded subvectors are pinned, so their plans hold none either."""
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count("CASE WHEN")
    assert n == 0, f"{name}: {n} CASE WHEN in the optimized plan"


def _plan_nodes(plan: str) -> list[str]:
    """The operator name of each line of a plan tree string."""
    import re

    return [m.group(1) for m in re.finditer(r"(?m)^[\s:|+\-]*([A-Z]\w*)", plan)]


_ADC_STORED = [
    "similarity_topk_pq_stored",
    "similarity_topk_pq_refine_stored",
    "similarity_topk_ivfpq_stored",
    "similarity_topk_ivfadc_stored",
    "similarity_topk_ivfadc_multiprobe_stored",
]


@pytest.mark.parametrize("name", _ADC_STORED)
def test_stored_adc_reads_gather_without_aggregate_or_explode(spark, name):
    """ADC is a table lookup: a stored read joins the candidates' code
    columns to the one-row query LUTs and gathers 4 slots. Its optimized
    plan explodes nothing (no Generate: the codes stay columns and the
    codebook is one row) and sums nothing per pair (no Aggregate), and
    the broadcast cross join of flat PQ never plans a CartesianProduct."""
    df = QUERIES[name](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    nodes = _plan_nodes(qe.optimizedPlan().toString())
    assert "Aggregate" not in nodes and "Generate" not in nodes, (name, nodes)
    assert "CartesianProduct" not in qe.executedPlan().toString(), name


@pytest.mark.parametrize("name", [n.replace("_stored", "") for n in _ADC_STORED])
def test_in_query_adc_reads_sum_no_pairs(spark, name):
    """The in-query twins train their index in the plan, so they keep
    the training aggregates, but none is keyed by (qid, cid): the pair
    score is the same gather as in the stored reads."""
    import re

    df = QUERIES[name](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    for keys in re.findall(r"Aggregate \[([^\]]*)\]", plan):
        cols = {k.split("#")[0].strip() for k in keys.split(",")}
        assert cols != {"qid", "cid"}, (name, keys)
    assert "CartesianProduct" not in qe.executedPlan().toString(), name


def test_minhash_incremental_stored_hashes_delta_only(spark):
    """The stored incremental probe must not recompute base bands:
    exactly ONE documents scan (the delta side) and at least one scan of
    the persisted band table. The in-query incremental has TWO document
    scans by construction — this pins the physical split."""
    plan = _plan(spark, "dedup_minhash_incremental_stored")
    scans = _scan_lines(plan)
    doc_scans = [s for s in scans if "text#" in s]
    band_scans = [s for s in scans if "bsig#" in s]
    assert len(doc_scans) == 1, scans
    assert len(band_scans) >= 1, scans
    in_query = _scan_lines(_plan(spark, "dedup_minhash_incremental"))
    assert len([s for s in in_query if "text#" in s]) == 2, in_query


def test_decontam_stored_never_rehashes_text(spark):
    """The stored decontamination probe must serve candidates from the
    persisted band table and tag splits from doc_id alone: ZERO scans
    read the text column (column pruning proves no shingle hashing),
    while the in-query form necessarily reads text. Guards the stored
    routing against silently flipping to the fallback path."""
    stored = _scan_lines(_plan(spark, "decontam_minhash_lsh_stored"))
    assert not [s for s in stored if "text#" in s], stored
    assert [s for s in stored if "bsig#" in s], stored
    in_query = _scan_lines(_plan(spark, "decontam_minhash_lsh"))
    assert [s for s in in_query if "text#" in s], in_query


def test_quality_classifier_learns_past_base_rate(spark):
    """The trained logistic gate must be non-degenerate (both classes
    predicted) and beat the majority-class base rate on its training
    corpus — the label (top-word repetition) is never in the feature
    set, so this asserts the model actually learned the proxy mapping,
    not an echo of its own inputs."""
    from sow_pyspark_scripts_spark.registry import QUERIES

    rows = QUERIES["text_quality_classifier"](spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    pos = sum(r.label for r in rows)
    base = max(pos, n - pos) / n
    preds = {r.pred for r in rows}
    assert preds == {True, False}, preds
    acc = sum((r.pred == bool(r.label)) for r in rows) / n
    assert acc > base, (acc, base)


def test_bpe_train_merge_counts_monotone(spark):
    """BPE merge-time pair counts are non-increasing in rank: a pair
    created by merge k is a super-pattern that already existed (count <=
    c_k), and counts of untouched pairs only shrink — so a rank with a
    HIGHER count than its predecessor means the argmax or the merge
    application is wrong."""
    from sow_pyspark_scripts_spark.plans.corpus_ops import _BPE_MERGES
    from sow_pyspark_scripts_spark.registry import QUERIES

    rows = QUERIES["tokenizer_bpe_train"](spark, SF_DIR).collect()
    assert [r.rank for r in rows] == list(range(1, _BPE_MERGES + 1))
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True), counts
    for r in rows:
        assert r.merged == r.tok_a + r.tok_b
