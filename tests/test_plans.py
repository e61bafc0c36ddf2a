"""Physical-plan regression guards: the properties that make these queries
viable at 100 TB (scan pushdown, column pruning, broadcast dims, partial
aggregation) must survive future edits."""

from __future__ import annotations

import pytest

from dataclod_spark.registry import load_all_queries

from conftest import SF_SMOKE


def _plan(spark, name: str, mode: str = "formatted") -> str:
    reg = load_all_queries()
    df = reg[name].fn(spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q1_scan_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # date filter reached parquet
    # column pruning: comment column-free schema, no un-needed key columns
    assert "l_orderkey" not in plan.split("ReadSchema:")[1].splitlines()[0]
    assert "partial_" in _plan(spark, "q1_pricing_summary", "simple")  # map-side agg


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier", "simple")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region at minimum
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3


def test_q9_string_filter_pushdown(spark):
    plan = _plan(spark, "q9_profit")
    assert "StringContains(p_name,widget)" in plan


def test_t1_topk_avoids_full_sort(spark):
    plan = _plan(spark, "t1_topk", "simple")
    assert "TakeOrderedAndProject" in plan


def test_spatial_join_shuffles_once_on_cell(spark):
    """The spatial join's only wide exchange over the candidate stream is
    the cell-id hash join (reference-point dedup avoids a distinct)."""
    from dataclod_spark.operators.spatial_join import spatial_join, point_wkb, envelope_wkb
    from pyspark.sql import functions as F

    from dataclod_spark.registry import load

    e = load(spark, SF_SMOKE, "events")
    pts = e.select(
        F.col("event_id").alias("pid"),
        point_wkb((F.col("event_id") % 89).cast("double"), (F.col("user_id") % 43).cast("double")).alias("geom"),
    )
    boxes = e.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("bid"),
        envelope_wkb(
            (F.col("event_id") % 97).cast("double"),
            (F.col("user_id") % 41).cast("double"),
            (F.col("event_id") % 97 + 3).cast("double"),
            (F.col("user_id") % 41 + 2).cast("double"),
        ).alias("geom"),
    )
    joined = spatial_join(pts, boxes, "intersects", cell_target=64)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = joined._jdf.queryExecution().explainString(jmode)
    # no distinct/dedup exchange over candidate pairs
    assert "HashAggregate(keys=[id_1" not in plan
    assert "dropDuplicates" not in plan.lower()


def test_v4_ivf_corpus_assignment_is_projection(spark):
    """IVF cell assignment must be a pure projection over the corpus scan
    (centroid literals, no shuffle/Python before the bucket join)."""
    plan = _plan(spark, "v4_knn_ivf", "simple")
    assert "BroadcastHashJoin" in plan  # probe side broadcast, corpus streamed
    pre_join = plan.split("BroadcastHashJoin")[-1]  # corpus subtree is below
    assert "ArrowEvalPython" not in plan  # no Python anywhere in IVF
    assert "BatchEvalPython" not in plan


def test_d6_ngram_inverted_index_join_shape(spark):
    """The n-gram join shuffles posting lists (gram hash), never all-pairs:
    no cartesian/nested-loop product in the plan."""
    plan = _plan(spark, "d6_ngram_jaccard", "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_st2_streaming_uses_stateful_window_agg(spark):
    """Streaming tumbling agg plans a stateful aggregate over the window,
    not a driver-side collect."""
    from dataclod_spark.streaming.run import read_events_stream, tumbling_stream

    df = tumbling_stream(read_events_stream(spark, SF_SMOKE))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_g10_geo_stats_partial_aggregation(spark):
    """GeoStatistics aggregates partially map-side: one row per task enters
    the final exchange."""
    plan = _plan(spark, "g10_geo_statistics", "simple")
    assert "partial_" in plan


def test_sp2_hash_sample_is_zero_shuffle_filter(spark):
    """The Bernoulli hash sample must stay a pure scan+filter — no
    Exchange, no Python — so it composes with any downstream plan."""
    from dataclod_spark.operators.sampling import hash_sample
    from dataclod_spark.registry import load

    d = load(spark, SF_SMOKE, "documents")
    plan = hash_sample(d, key="doc_id", rate_pct=15)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the round-robin scan-spread exchange belongs to registry.load (tiny
    # single-row-group inputs only, absent at scale) — the OPERATOR must
    # add no keyed shuffle of its own
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Python" not in plan


def test_sp1_stratified_sample_stays_jvm_side(spark):
    """Exact-quota stratified sampling: pure JVM plan (no Python), and
    the rank windows appear only on the band/fallback branches — the
    window-input boundedness itself is pinned by
    tests/test_sampling_scale.py's skew fixture (a window partition is a
    one-task sort; the band keeps it ≪ the stratum)."""
    plan = _plan(spark, "sp1_stratified_sample", "simple")
    assert "Python" not in plan
    # two rank windows (band + fallback), never a third over the bulk
    assert plan.count("row_number()") <= 2


def test_sampling_stable_under_repartition(spark):
    """Hash sampling must select the same rows regardless of physical
    partitioning (the reproducibility contract rand()-based sampling
    cannot give)."""
    from dataclod_spark.operators.sampling import hash_sample, stratified_sample
    from dataclod_spark.registry import load

    d = load(spark, SF_SMOKE, "documents")
    a = {r.doc_id for r in hash_sample(d, "doc_id", 15).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in hash_sample(d.repartition(7), "doc_id", 15).select("doc_id").collect()
    }
    assert a == b and a
    sa = {
        r.doc_id
        for r in stratified_sample(d, "doc_id", "lang", 20).select("doc_id").collect()
    }
    sb = {
        r.doc_id
        for r in stratified_sample(d.repartition(5), "doc_id", "lang", 20)
        .select("doc_id")
        .collect()
    }
    assert sa == sb and sa


def test_d8_sign_signature_is_projection(spark):
    """The embedding sign-LSH code is a pure JVM projection — no shuffle,
    no Python — before the bucket aggregation."""
    from pyspark.sql import functions as F

    from dataclod_spark.operators.dedup import dim_sign_signature
    from dataclod_spark.registry import load

    e = load(spark, SF_SMOKE, "embeddings")
    sig = e.select("vec_id", dim_sign_signature(F.col("embedding")).alias("bucket"))
    plan = sig._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # load's scan-spread round-robin exchange is allowed (see sp2 test)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Python" not in plan


def test_x11_tfidf_broadcasts_df_side(spark):
    """The document-frequency table joins back by broadcast — the tf table
    (the big side at 100 TB) must not shuffle for the join."""
    plan = _plan(spark, "x11_tfidf_top_terms", "simple")
    assert "BroadcastHashJoin" in plan


def test_st6_static_side_broadcasts(spark):
    """The stream-static enrichment join must broadcast the dim side (plan
    checked on the batch twin of the streaming frame)."""
    from pyspark.sql import functions as F

    from dataclod_spark.registry import load
    from dataclod_spark.streaming.run import static_enrich_stream

    ev = load(spark, SF_SMOKE, "events")
    dim = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    plan = static_enrich_stream(ev, dim)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in plan


def test_b1_bucketed_join_avoids_shuffle(spark):
    """With broadcast disabled, the bucketed-table join must run with no
    Exchange on either side (bucket-to-bucket sort-merge join)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        reg = load_all_queries()
        df = reg["b1_bucketed_join"].fn(spark, SF_SMOKE)
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        plan = df._jdf.queryExecution().explainString(jmode)
        # the join inputs read bucketed files directly — no exchange on
        # either join key (the agg/sort after the join may still shuffle)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_e5_rollup_reaggregates_partials(spark):
    """The hourly level must re-aggregate the minute-level partials — one
    scan of raw events feeding two aggregate levels (each partial+final),
    not two independent scans."""
    plan = _plan(spark, "e5_hypertable_rollup", "simple")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 4  # partial+final × two levels


def test_e4_asof_single_window_no_join(spark):
    """As-of join is a union + window — no join operator, one hash
    exchange on the key."""
    plan = _plan(spark, "e4_asof_join")
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d9_winnow_posting_list_shape(spark):
    """Substring-dedup pairs enumerate in-list pairs per fingerprint
    posting list — no join at all (the fingerprint projection runs ONCE),
    and certainly no nested-loop cross product."""
    plan = _plan(spark, "d9_winnow_pairs", "simple")
    assert "Join" not in plan and "CartesianProduct" not in plan
    # one expensive fingerprint pass: a single scan of documents
    assert plan.count("Scan parquet") == 1


def test_p2_partition_pruning_in_scan(spark):
    """The partition-column filter must prune at the directory level:
    PartitionFilters set, and only the matching partition scanned."""
    reg = load_all_queries()
    df = reg["p2_partition_pruning"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_v12_v13_adc_zero_shuffle_topk(spark):
    """The compressed-domain searches must stay pure projections: zero
    exchanges (the LUT is plan constants, never a join), zero Python,
    and a TakeOrderedAndProject top-k (per-partition heap, no full
    sort) — the properties that make ADC scanning viable over a
    billion-code corpus."""
    for name in ("v12_pq_adc_topk", "v13_ivf_adc_search"):
        plan = _plan(spark, name, "simple")
        # keyed exchanges only — load's scan-spread round-robin is allowed
        # (tiny single-row-group inputs only, absent at scale)
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert "Python" not in plan and "ArrowEval" not in plan, name
        assert "TakeOrderedAndProject" in plan, name


def test_sp7_dsir_broadcast_weight_joins(spark):
    """DSIR's weight table must come back as a BROADCAST join (256
    bounded rows) and every aggregate must have a map-side partial —
    the corpus shuffles bucket counts, never token rows with weights
    attached."""
    plan = _plan(spark, "sp7_dsir_weights", "simple")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan


def test_routed_argmin_cid_zero_shuffle_projection(spark):
    """routed_argmin_cid's plan: a pure projection — the member centroids
    live in constant-folded map literals and the per-row argmin is a
    zip_with fold, so there is NO exchange, join, or aggregate anywhere
    (the r7 broadcast-join form shuffled the vector payload through its
    final min(struct) aggregate; see SCALE.md round-8 note).  No k-fold
    expression either (a when-chain form falls out of codegen at large
    k)."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dataclod_spark.operators.embeddings import routed_argmin_cid

    rnd = random.Random(2)
    cents = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(64)]
    df = spark.createDataFrame(
        [Row(__id=i, __v=[rnd.gauss(0, 1) for _ in range(8)]) for i in range(50)],
        "__id long, __v array<double>",
    )
    out = df.select("__id", "__v", routed_argmin_cid(F.col("__v"), cents).alias("__a"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_round8_new_ops_no_window(spark):
    """The round-8 curation ops must hold the no-per-group-window rule
    (a window partition is a one-task sort AQE cannot split): d16's
    cluster argmax is a hash aggregate, m6's canonical is a hash agg +
    join-back, x27 is aggregates over a bounded profile table.  All
    three plans must be window-free and every aggregate map-side
    partial."""
    for name in ("m6_media_near_dedup", "x27_source_drift"):
        plan = _plan(spark, name, "simple")
        assert "Window" not in plan, name
        assert "partial_" in plan, name
    # d16 runs connected_components eagerly (localCheckpoint inside), so
    # pin the operator's own aggregate stage instead of the full query
    from pyspark.sql import functions as F

    from dataclod_spark.functions.text import quality_score
    from dataclod_spark.operators.dedup import dedup_keep_best
    from dataclod_spark.registry import load

    d = load(spark, SF_SMOKE, "documents")
    df = dedup_keep_best(d, quality_score(F.col("text")), jaccard_threshold=0.2)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "Window" not in plan
    assert "partial_" in plan


def test_round8_late_ops_plan_shapes(spark):
    """x28: window-free (gram-df is a hash agg, the join back is a join);
    u6: the SCD2 history comes back as a BROADCAST hash join (never a
    nested-loop over the interval predicate) with map-side partials;
    v14: the recall grader adds no Python and no extra corpus scans
    beyond its two searches (both sides broadcast the 10-query side)."""
    plan = _plan(spark, "x28_ngram_novelty", "simple")
    assert "Window" not in plan
    assert "partial_" in plan
    plan = _plan(spark, "u6_scd2_enrich", "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan
    plan = _plan(spark, "v14_ann_recall", "simple")
    assert "Python" not in plan and "ArrowEval" not in plan


def test_round9_stop_gram_guard_window_free(spark):
    """VERDICT r8 #1: the max_doc_freq stop-gram guard must NOT be a
    per-gram window (a window partition pins each gram's full posting
    list to ONE task on exactly the highest-df keys).  Guard-ON plans
    for both n-gram pair ops must be window-free, with the gram-df
    count map-side partial-aggregated."""
    from dataclod_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from dataclod_spark.registry import load

    d = load(spark, SF_SMOKE, "documents")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    for fn in (ngram_jaccard_pairs, ngram_containment_pairs):
        df = fn(d, max_doc_freq=50)
        plan = df._jdf.queryExecution().explainString(jmode)
        assert "Window" not in plan, fn.__name__
        assert "partial_count" in plan, fn.__name__


def test_round9_meter_ops_plan_shapes(spark):
    """v15: the distance profile streams k·n pairs straight into a
    map-side partial aggregate — no window, no sort, query side
    broadcast; x29: calibration assignment broadcasts the bounded grid
    (its band windows live in the grid computation, which is bounded by
    construction — the assignment itself must not window)."""
    plan = _plan(spark, "v15_distance_profile", "simple")
    assert "Window" not in plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    plan = _plan(spark, "x29_source_calibration", "simple")
    assert "BroadcastHashJoin" in plan
    assert "percent_rank" not in plan
