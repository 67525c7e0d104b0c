"""Physical-plan property tests (SURVEY.md §4.2): the scale guarantees —
predicate pushdown, column pruning, broadcast join selection, partial
aggregation, heap top-k, no accidental cartesian products — asserted on the
actual Catalyst plans so a regression that would only hurt at 100 TB fails
at sf0.001.
"""

from __future__ import annotations

from distributed_video_analytics_flink_spark.operators import QUERIES
from distributed_video_analytics_flink_spark.plans import (
    formatted_plan,
    hash_aggregate_count,
    has_top_k,
    join_strategies,
    pushed_filters,
    scan_schemas,
)

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return QUERIES[name].fn(spark, SF)


def test_filters_reach_parquet_scan(spark):
    df = _q(spark, "scan_filter_project")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed


def test_scan_prunes_columns(spark):
    """pricing_summary touches 7 of 11 lineitem columns; the scan schema
    must not include the unused join keys."""
    schemas = scan_schemas(_q(spark, "pricing_summary"))
    assert schemas, "no file scan found"
    assert "l_partkey" not in schemas[0] and "l_suppkey" not in schemas[0]
    assert "l_quantity" in schemas[0]


def test_dim_joins_broadcast(spark):
    """The TPC-H-style snowflake join should broadcast every dimension —
    no sort-merge exchange for region/nation/customer at this asymmetry."""
    joins = join_strategies(_q(spark, "join_region_revenue"))
    assert joins and all(j == "BroadcastHashJoin" for j in joins)


def test_no_cartesian_products_anywhere(spark):
    """No registered query may plan a CartesianProduct — the all-pairs
    shapes (dedup, similarity) must stay blocked/bucketed. (Broadcast
    nested-loop against a single-row broadcast side is acceptable and
    appears in the intentionally-tiny query-vector cross joins.)"""
    offenders = {}
    for name, spec in QUERIES.items():
        joins = join_strategies(spec.fn(spark, SF))
        if any(j == "CartesianProduct" for j in joins):
            offenders[name] = joins
    assert not offenders, f"cartesian products in: {offenders}"


def test_aggregations_are_partial(spark):
    """Shuffled aggregations must show partial+final HashAggregate pairs
    (map-side combine) — the shuffle carries group partials, not rows."""
    for name in ("pricing_summary", "events_per_user_day", "dedup_exact"):
        assert hash_aggregate_count(_q(spark, name)) == 2, name


def test_topk_uses_heap_not_global_sort(spark):
    for name in (
        "sort_limit_topk",
        "sim_cosine_topk",
        # r15 heads: the SCALE.md story stakes these on per-partition heaps
        "text_bm25_topk",
        "emb_binary_hamming_topk",
        "curation_dsir_importance",
        "sim_hybrid_rrf_topk",
    ):
        assert has_top_k(_q(spark, name)), name


def test_bm25_postings_filter_below_first_exchange(spark):
    """text_bm25_topk's 100 TB claim: the token IN-filter runs on the scan
    side of the first shuffle, so only matching postings ever cross the
    wire. In the formatted plan, operator numbers grow from the leaf scan
    (1) toward the root — the IN-filter's number must be smaller than
    every Exchange's. The postings materialization (localCheckpoint) would
    hide the filter behind Scan ExistingRDD, so it is identity-patched for
    the inspection (the test_corpus_sink monkeypatch precedent)."""
    import re

    from distributed_video_analytics_flink_spark.operators import dedup

    orig = dedup._materialize
    dedup._materialize = lambda df: df
    try:
        plan = formatted_plan(_q(spark, "text_bm25_topk"))
    finally:
        dedup._materialize = orig
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    filt = [
        int(re.match(r"\((\d+)\)", b).group(1))
        for b in blocks
        if b.startswith("(")
        and "Filter" in b.split("\n")[0]
        and "IN (merge" in b
    ]
    exch = [
        int(re.match(r"\((\d+)\)", b).group(1))
        for b in blocks
        if b.startswith("(")
        and b.split("\n")[0].split(") ", 1)[1].startswith("Exchange")
    ]
    assert filt and exch, plan[:500]
    assert min(filt) < min(exch)


def test_codegen_in_final_plan(spark):
    """After AQE finalizes, the relational spine must run inside
    whole-stage codegen (UDF-free queries only — pandas ops break the
    codegen span by design)."""
    for name in ("pricing_summary", "join_region_revenue", "sort_limit_topk"):
        df = _q(spark, name)
        df.collect()
        plan = formatted_plan(df)
        assert "codegen id" in plan, name


def test_motion_pipeline_single_shuffle(spark):
    """The video pipeline's only exchange is the per-camera repartition
    (Flink's keyBy analog); pixel bytes must not be shuffled twice."""
    from distributed_video_analytics_flink_spark.operators.video import (
        detect_motion_batch,
        fixture_frames,
    )
    from distributed_video_analytics_flink_spark.plans import exchange_count
    from distributed_video_analytics_flink_spark.schemas import FRAME_SCHEMA

    frames = spark.createDataFrame(fixture_frames(), schema=FRAME_SCHEMA)
    assert exchange_count(detect_motion_batch(frames)) == 1


def test_rowlocal_operators_never_shuffle(spark):
    """The embarrassingly-parallel operators (hash sampling, PII scrub,
    chunk expansion) must plan zero exchanges — a shuffle here would be a
    100 TB regression with no semantic payoff."""
    from distributed_video_analytics_flink_spark.plans import exchange_count

    for name in ("sample_hash_bernoulli", "text_scrub_pii", "text_chunk_documents"):
        assert exchange_count(_q(spark, name)) == 0, name


def test_centroid_aggregation_is_partial(spark):
    """sim_label_centroids must partial-aggregate the per-dimension sums
    map-side (HashAggregate pairs around the exchange): the shuffle then
    carries one row per (label, dim) regardless of vector count."""
    df = _q(spark, "sim_label_centroids")
    assert hash_aggregate_count(df) >= 2  # partial+final around the exchange
    plan = formatted_plan(df)
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_stratified_sample_is_scan_only(spark):
    """curation_sample_stratified is a pure scan predicate: zero shuffles,
    zero joins — the property that makes the sample reproducible and free
    at any cluster size."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "curation_sample_stratified")
    assert exchange_count(df) == 0
    assert not join_strategies(df)


def test_unpivot_uses_expand_no_extra_shuffle(spark):
    """Native unpivot plans an Expand node over the aggregated rows — one
    exchange total (the groupBy), nothing added by the wide->long fanout."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "unpivot_event_stats")
    assert "Expand" in formatted_plan(df)
    assert exchange_count(df) == 1
    assert hash_aggregate_count(df) == 2  # partial + final


def test_simhash64_single_shuffle_partial_agg(spark):
    """64 conditional sums still plan as one partial+final HashAggregate
    pair over one exchange — signature width never adds shuffles."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "dedup_simhash64")
    assert exchange_count(df) == 1
    assert hash_aggregate_count(df) == 2


def test_session_window_single_shuffle(spark):
    """Native session_window sessionization: one exchange, partial+final
    aggregation with a MergingSessions node — no window-function pass."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "sessionize_session_window")
    assert exchange_count(df) == 1
    assert hash_aggregate_count(df) == 2
    plan = formatted_plan(df)
    assert "MergingSessions" in plan
    assert "windowspecdefinition" not in plan  # no window-function pass


def test_gapfill_spine_generated_not_shuffled(spark):
    """timeseries_gapfill: the calendar spine comes from Generate
    (sequence+explode) over one span row per user — at most the two
    keyed aggregations plus the join shuffle, never a cartesian."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "timeseries_gapfill")
    plan = formatted_plan(df)
    assert "Generate" in plan
    assert exchange_count(df) <= 3
    assert "CartesianProduct" not in join_strategies(df)


def test_curation_pipeline_shuffle_budget(spark):
    """The flagship curation pass stays within its shuffle budget (digest
    dedup, token stats, doc_id join, final accounting) and every
    aggregation partial-aggregates."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "curation_pipeline")
    assert exchange_count(df) <= 5
    assert "CartesianProduct" not in join_strategies(df)
    assert hash_aggregate_count(df) % 2 == 0  # every agg is a partial+final pair


def test_tpch_composites_broadcast_all_dims(spark):
    """The TPC-H-grade composites must broadcast every dimension side at
    this asymmetry — Q10's customer/nation and Q7's supplier/customer/
    nation-x2 never induce a sort-merge exchange."""
    for name in ("join_returned_items", "join_nation_volume"):
        joins = join_strategies(_q(spark, name))
        assert joins and all(j == "BroadcastHashJoin" for j in joins), (name, joins)


def test_disjunctive_predicate_reaches_both_scans(spark):
    """join_disjunctive_parts: Catalyst must split the cross-side
    OR-of-ANDs and push the single-side implications into BOTH scans —
    the fact side gets the l_quantity envelope, the broadcast side the
    brand/size arms. If either scan reads unfiltered, the plan regressed
    to filter-after-join."""
    df = _q(spark, "join_disjunctive_parts")
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed or "p_size" in pushed, pushed


def test_large_orders_aggregates_before_join(spark):
    """agg_large_orders: the HAVING-filtered lineitem aggregate must be
    the build (broadcast) side of the orders join — aggregate-then-join,
    never join-then-aggregate."""
    import re

    df = _q(spark, "agg_large_orders")
    joins = join_strategies(df)
    assert "BroadcastHashJoin" in joins
    plan = formatted_plan(df)
    # a BroadcastExchange whose input carries the aggregate's sum_qty column
    # IS the aggregate-then-join shape: the HAVING survivor set broadcasts
    assert re.search(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[[^\]]*sum_qty", plan), plan


def test_weighted_sample_is_pure_scan_predicate(spark):
    """sample_weighted_hash: zero joins, zero aggregates, zero exchanges —
    the weighted coin is a scan-level filter that composes with partition
    pruning at 100 TB."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "sample_weighted_hash")
    assert join_strategies(df) == []
    assert hash_aggregate_count(df) == 0
    assert exchange_count(df) == 0


def test_keep_best_dup_shuffles_digests_not_bodies(spark):
    """curation_keep_best_dup: one exchange keyed on the md5 fingerprint,
    and the shuffled projection must NOT carry the document body — bodies
    stay at the scan; only (doc_id, source, n_chars, digest) move."""
    from distributed_video_analytics_flink_spark.plans.inspect import (
        exchange_count,
        formatted_plan,
    )

    df = _q(spark, "curation_keep_best_dup")
    assert exchange_count(df) == 1
    plan = formatted_plan(df)
    ex = plan.index("Exchange")
    # 'text' may appear below the exchange (scan/project) but the exchange
    # output attributes are listed on its own line: assert the window sort
    # above the exchange doesn't reference the body column
    window_part = plan[:ex]
    assert "text#" not in window_part, "document body shuffled through the window"


def test_containment_bounded_exchanges_no_cartesian(spark):
    """dedup_containment: the stop-shingle cut + inverted-index join must
    stay a pure equi-join pipeline — no cartesian, bounded exchanges, and
    every aggregate a partial+final pair."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "dedup_containment")
    assert "CartesianProduct" not in join_strategies(df)
    assert exchange_count(df) <= 4
    assert hash_aggregate_count(df) % 2 == 0


def test_funnel_and_retention_partial_aggregate(spark):
    """The product-analytics queries keep every aggregate partial and
    never plan a cartesian — all legs are user_id equi-joins."""
    for name in ("events_funnel_steps", "events_retention_cohorts"):
        df = _q(spark, name)
        assert "CartesianProduct" not in join_strategies(df), name
        assert hash_aggregate_count(df) % 2 == 0, name


def test_not_in_plans_null_aware_anti_join(spark):
    """subquery_not_in_nulls: NOT IN must plan Spark's null-aware anti
    join (BroadcastNestedLoopJoin over the broadcast subquery side) — a
    plain hash anti join would silently drop the NULL poisoning semantics
    the query exists to pin."""
    joins = join_strategies(_q(spark, "subquery_not_in_nulls"))
    assert "BroadcastNestedLoopJoin" in joins, joins


def test_market_share_single_fact_shuffle(spark):
    """join_market_share: six joins but only lineitem-orders is fact-fact;
    customer/supplier/region and both nation roles must broadcast, leaving
    at most one shuffled join in the plan."""
    joins = join_strategies(_q(spark, "join_market_share"))
    shuffled = [j for j in joins if j != "BroadcastHashJoin"]
    assert joins and len(shuffled) <= 1, joins


def test_customer_histogram_keeps_left_outer(spark):
    """join_customer_orders_histogram: the order-side filter lives in the
    join condition, so the plan must still be a LEFT OUTER join (a WHERE
    would have let Catalyst rewrite it inner, silently dropping the
    zero-order customers bucket)."""
    plan = formatted_plan(_q(spark, "join_customer_orders_histogram"))
    assert "LeftOuter" in plan, plan[:2000]


def test_quantize_is_pure_map(spark):
    """emb_quantize_int8: Arrow-batched pandas UDF over a scan — the only
    exchange allowed is the final presentation sort."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "emb_quantize_int8")
    assert exchange_count(df) <= 1, formatted_plan(df)[:3000]
    assert "ArrowEvalPython" in formatted_plan(df)


def test_top_supplier_broadcasts_scalar_max(spark):
    """join_top_supplier: the global-max side is one row and the supplier
    dim is small — every join must be broadcast; the only shuffle is the
    per-supplier revenue aggregate (plus the presentation sort)."""
    df = _q(spark, "join_top_supplier")
    joins = join_strategies(df)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_anomaly_zscore_single_type_shuffle(spark):
    """events_anomaly_zscore: one window over event_type = one hash
    exchange (plus the presentation sort); the 3-sigma filter itself is
    row-local."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "events_anomaly_zscore")
    assert exchange_count(df) <= 2, formatted_plan(df)[:3000]


def test_shard_manifest_prefix_sum_is_distributed(spark):
    """curation_shard_manifest: the doc-level running sums must be windows
    PARTITIONED BY bucket (parallel), never a global-order window over the
    corpus. The only single-partition structure allowed is the 256-row
    bucket-offset window."""
    plan = formatted_plan(_q(spark, "curation_shard_manifest"))
    # one SinglePartition exchange: the bucket-subtotal offsets (256 rows)
    assert plan.count("SinglePartition") <= 1, plan[:3000]
    assert "hashpartitioning(bucket" in plan, plan[:3000]


def test_pq_paths_are_pure_maps(spark):
    """emb_pq_codes / emb_pq_adc_topk: codebooks live in the UDF closure —
    no join, no aggregate-shuffle; the only exchanges allowed are the
    presentation sort (codes) / top-k (ADC)."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    for name, cap in (("emb_pq_codes", 1), ("emb_pq_adc_topk", 1)):
        df = _q(spark, name)
        assert exchange_count(df) <= cap, (name, formatted_plan(df)[:2000])
        assert not join_strategies(df), name


def test_markov_single_fact_shuffle(spark):
    """events_markov_transitions: the user_id sequencing window is the one
    fact-sized exchange; the transition aggregate and its normalization
    window operate on a 25-row table."""
    from distributed_video_analytics_flink_spark.plans.inspect import exchange_count

    df = _q(spark, "events_markov_transitions")
    assert exchange_count(df) <= 4, formatted_plan(df)[:3000]


def test_fuzzy_cascade_keeps_banded_shape(spark):
    """dedup_fuzzy_levenshtein: the cascade must not introduce a cartesian
    or a non-equi join — candidates come from the banded equi-join, texts
    join back on doc_id keys."""
    joins = join_strategies(_q(spark, "dedup_fuzzy_levenshtein"))
    assert joins and all(
        j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        for j in joins
    ), joins


def test_promo_share_pushdown_and_broadcast(spark):
    """agg_promo_revenue_share: the year predicate reaches the lineitem
    scan; part broadcasts."""
    df = _q(spark, "agg_promo_revenue_share")
    assert "l_shipdate" in " ".join(pushed_filters(df))
    joins = join_strategies(df)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_dynamic_partition_pruning_on_results_table(spark, tmp_path):
    """The (camera_id, day)-partitioned results table must benefit from
    Dynamic Partition Pruning: joining it to a FILTERED dimension on the
    partition column plants a dynamicpruning subquery on the scan, so at
    100 TB the fact read is limited to the dim's surviving days at
    runtime — without the filter being known at planning time."""
    from pyspark.sql import functions as F

    facts = spark.range(2000).select(
        (F.col("id") % 8).cast("string").alias("camera_id"),
        F.date_format(
            F.expr("date_add(DATE '2024-01-01', CAST(id % 30 AS INT))"), "yyyy-MM-dd"
        ).alias("day"),
        (F.col("id") * 13 % 97).alias("detection_count"),
    )
    path = str(tmp_path / "results")
    facts.write.mode("overwrite").partitionBy("camera_id", "day").parquet(path)

    dim = spark.range(30).select(
        F.date_format(
            F.expr("date_add(DATE '2024-01-01', CAST(id AS INT))"), "yyyy-MM-dd"
        ).alias("day"),
        (F.col("id") % 4).alias("shift"),
    )
    back = spark.read.parquet(path)
    joined = back.join(dim.filter(F.col("shift") == 0), "day").groupBy("camera_id").agg(
        F.sum("detection_count").alias("total")
    )
    plan = formatted_plan(joined).lower()
    assert "dynamicpruning" in plan, plan[:4000]


def test_pipeline_v2_broadcasts_eval_shingles(spark):
    """curation_pipeline_v2: the decontamination stage must broadcast the
    eval-shingle set (the corpus side never shuffles its shingles), and
    the funnel must be monotone non-increasing."""
    df = _q(spark, "curation_pipeline_v2")
    assert "BroadcastHashJoin" in join_strategies(df)
    row = df.collect()[0]
    assert (
        row["n_corpus"]
        >= row["n_after_dedup"]
        >= row["n_after_quality"]
        >= row["n_final"]
        > 0
    )
    assert row["n_shards"] >= 1


def test_train_split_dupes_never_straddle(spark):
    """curation_train_split keys on the CONTENT fingerprint: every copy of
    a duplicated text must land in the same split — the property that
    stops exact dupes leaking from train into eval."""
    from pyspark.sql import functions as F

    from distributed_video_analytics_flink_spark.sources.tables import load_table

    # sf0.1: the smallest SF whose corpus contains exact duplicates
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 100
    split = F.when(bucket == 98, "val").when(bucket == 99, "test").otherwise("train")
    per_text = (
        docs.select(F.md5("text").alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"), F.count(F.lit(1)).alias("n"))
    )
    assert per_text.filter(F.col("n_splits") > 1).count() == 0
    # and the corpus actually HAS duplicates, so the property is non-vacuous
    assert per_text.filter(F.col("n") > 1).count() > 0


def test_product_profit_broadcasts_dimensions(spark):
    """Q9 analog: the three hint-broadcast dimension joins (part, supplier,
    nation) must be BroadcastHashJoin. The lineitem-orders join is the one
    unavoidable fact-sized shuffle and is allowed either strategy — at
    sf0.001 it happens to auto-broadcast, but pinning that would encode a
    small-fixture accident, not the plan contract (ADVICE r6)."""
    joins = join_strategies(_q(spark, "join_product_profit"))
    assert len(joins) == 4
    assert joins.count("BroadcastHashJoin") >= 3
    assert all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") for j in joins
    )


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """100 TB scan-reduction insurance: when a filtered dimension is too
    big to broadcast (simulated by disabling broadcast), Spark must inject
    a runtime bloom filter built from the dimension's join keys and apply
    it as a might_contain() predicate on the fact scan — the shuffle-join
    analog of broadcast pruning. The application-side size threshold is
    lowered to stand in for a 100 TB fact table (default gate: 10 GB scan;
    the sf0.001 fixture would never cross it)."""
    from distributed_video_analytics_flink_spark.operators.relational import load_table
    from pyspark.sql import functions as F

    saved = {}
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        part = load_table(spark, SF, "part").filter(F.col("p_name").like("%widget%"))
        df = (
            li.join(part, F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand")
            .count()
        )
        plan = formatted_plan(df)
        assert "might_contain" in plan, "no runtime bloom filter on the fact scan"
        assert "bloom_filter_agg" in plan, "no bloom build on the dimension side"
        # sanity: the join really is non-broadcast in this configuration
        assert "BroadcastHashJoin" not in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hard_negative_rank_limit_pushdown(spark):
    """emb_hard_negative_triplets' 100 TB claim (VERDICT r16 #1): the
    bare `rnk <= 3` head filter must let InferWindowGroupLimit plant a
    WindowGroupLimit BELOW the head exchange (Partial — map-side top-3
    retention per (anchor, role) before any row moves) plus the Final
    pass above it. The r16 compound `(pos AND rnk=1) OR (neg AND
    rnk<=3)` predicate defeated the rule and shuffled the whole scored
    corpus into 2k head partitions; this pin keeps that regression from
    returning."""
    import re

    plan = formatted_plan(_q(spark, "emb_hard_negative_triplets"))
    blocks = dict(
        re.findall(r"\((\d+)\) (WindowGroupLimit|Exchange)", plan)
    )
    partial = [int(n) for n, kind in blocks.items() if kind == "WindowGroupLimit"]
    assert len(partial) >= 2, f"expected Partial+Final WindowGroupLimit, got {plan}"
    # formatted-plan numbering grows leaf -> root: the Partial limit must
    # sit BELOW the specific head exchange that hash-partitions on
    # (anchor_id, role) — not merely below max over all exchanges, which
    # any later broadcast would satisfy (ADVICE r17 #3 hardening)
    head_exchanges = [
        int(n)
        for n in re.findall(
            r"\((\d+)\) Exchange\n(?:[^\n]*\n){0,2}"
            r"Arguments: hashpartitioning\(anchor_id[^,]*, role",
            plan,
        )
    ]
    assert head_exchanges, f"no (anchor_id, role) head exchange found:\n{plan}"
    assert min(partial) < min(head_exchanges), (partial, head_exchanges)
    assert "row_number(), 3, Partial" in plan and "row_number(), 3, Final" in plan


def test_train_step_hashes_once_behind_barrier(spark):
    """text_classifier_train_step (r17): the md5 token/bigram hashing must
    run exactly once per document, below the feature-array
    materialization. Before r17 the one-projection score was duplicated
    by filter pushdown — the full md5 scoring lambda appeared in BOTH the
    pushed Filter and the Project above it, plus a third md5 per
    surviving token (plans/r17/text_classifier_train_step_before.txt;
    interleaved A/B measured 2.3x; its one-shot script,
    scripts/ab_r17_train_step.py, is in git history). With
    the bucket arrays pinned behind the _materialize barrier, no md5 may
    appear anywhere in the serving plan (the hashing lives below the
    ExistingRDD leaf), and the misclassified-only filter must still sit
    below the explode's aggregation."""
    import re

    plan = formatted_plan(_q(spark, "text_classifier_train_step"))
    assert "md5" not in plan, "md5 leaked above the feature barrier"
    assert "Scan ExistingRDD" in plan
    # the e != 0 gate must run before the bucket aggregation (formatted
    # node numbers grow leaf -> root)
    nodes = dict(re.findall(r"\((\d+)\) (Filter|Exchange)", plan))
    filt = [int(n) for n, k in nodes.items() if k == "Filter"]
    exch = [int(n) for n, k in nodes.items() if k == "Exchange"]
    assert filt and exch and min(filt) < min(exch), (filt, exch)


def test_fuzzy_levenshtein_threshold_is_exact(spark):
    """dedup_fuzzy_levenshtein (r17) verifies survivors with the
    THRESHOLDED levenshtein (banded DP, O(len*32) per pair instead of
    O(len^2)). The contract the optimization rides: for any pair within
    the bound the thresholded form returns the EXACT distance, and past
    the bound it returns -1 — so `>= 0` reproduces `lev <= 32`
    row-for-row. Pin that equivalence on planted strings straddling the
    bound (identical, 1 edit, exactly 32 edits, 33 edits, disjoint)."""
    from pyspark.sql import functions as F

    base = "x" * 40
    cases = [
        ("eq", base, base),
        ("one", base, base[:-1] + "y"),
        ("at32", base, "y" * 32 + base[32:]),
        ("at33", base, "y" * 33 + base[33:]),
        ("far", base, "z" * 40),
    ]
    df = spark.createDataFrame(cases, "name string, a string, b string").select(
        "name",
        F.levenshtein("a", "b").alias("full"),
        F.levenshtein("a", "b", 32).alias("capped"),
    )
    got = {r["name"]: (r["full"], r["capped"]) for r in df.collect()}
    assert got["eq"] == (0, 0)
    assert got["one"] == (1, 1)
    assert got["at32"] == (32, 32)
    assert got["at33"][0] == 33 and got["at33"][1] == -1
    assert got["far"][0] == 40 and got["far"][1] == -1
    # the registered query's cut: capped >= 0  <=>  full <= 32
    for full, capped in got.values():
        assert (capped >= 0) == (full <= 32)
        if capped >= 0:
            assert capped == full


def test_keep_best_dup_aggregates_not_windows(spark):
    """curation_keep_best_dup (r17): keep-best must be the PARTIAL
    aggregate form (max_by + count), not the window form — the rank
    filter could never ride InferWindowGroupLimit there (the dup_count
    window over the same partition blocks pruning), so every duplicate
    row shuffled and sorted per group. With the aggregate, each map task
    forwards one (best, count) partial per fingerprint. Pin: no Window
    node, and a partial/final aggregate pair around one exchange."""
    import re

    plan = formatted_plan(_q(spark, "curation_keep_best_dup"))
    nodes = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    assert "Window" not in nodes, nodes
    aggs = [n for n in nodes if n in ("HashAggregate", "SortAggregate", "ObjectHashAggregate")]
    assert len(aggs) >= 2, nodes  # partial + final (each printed twice: tree+details)
    assert "max_by" in plan and "partial_max_by" in plan
