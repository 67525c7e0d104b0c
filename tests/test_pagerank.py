"""graph_pagerank: integer-quantized PageRank over the semantic k-NN
graph. Oracle parity (bit-exact vs DuckDB's unrolled CTEs) is covered by
tests/test_oracle_parity.py's full-registry parametrization; here the
structural invariants that make the integer formulation trustworthy."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_video_analytics_flink_spark.operators.similarity import (
    _PR_SCALE,
    graph_pagerank,
)
from distributed_video_analytics_flink_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_pagerank_mass_and_coverage(spark):
    ranks = graph_pagerank(spark, SF).collect()
    n_vectors = load_table(spark, SF, "embeddings").count()
    # every vector is a node (k-NN emits edges for every vector) and
    # appears exactly once with positive rank
    assert len(ranks) == n_vectors
    assert len({r["vec_id"] for r in ranks}) == n_vectors
    assert all(r["pr_q"] > 0 for r in ranks)
    # integer mass conservation: each DIV floors, so total mass can only
    # leak DOWN from SCALE, and only by sub-unit truncations (bounded
    # well within 0.1% for any graph this size)
    total = sum(r["pr_q"] for r in ranks)
    assert 0.999 * _PR_SCALE <= total <= _PR_SCALE


def test_pagerank_favors_connected_vectors(spark):
    """A symmetric k-NN graph gives frequently-chosen neighbors more
    in-edges; the max-rank node must strictly beat the min-rank node and
    the spread must be real (not a constant vector) — i.e. the iteration
    actually moved mass along edges instead of degenerating to the
    teleport-only fixed point."""
    ranks = graph_pagerank(spark, SF).collect()
    vals = sorted(r["pr_q"] for r in ranks)
    assert vals[-1] > vals[0]
    assert vals[-1] - vals[0] > _PR_SCALE // (100 * len(vals))


def test_pagerank_iterations_are_jvm_only(spark):
    """The expensive Arrow-side k-NN scoring is pinned behind the
    localCheckpoint; the iteration plan the driver executes afterwards
    must be pure JVM (joins + partial aggregates over (node, int) rows),
    with no Python evaluation node anywhere."""
    from distributed_video_analytics_flink_spark.plans import formatted_plan

    plan = formatted_plan(graph_pagerank(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # applyInPandas surfaces as FlatMapGroupsInPandas, NOT *EvalPython —
    # without this assertion the test passed vacuously while the k-NN
    # scoring re-entered the plan through outdeg/ranks (r8 ADVICE finding)
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_converged_pagerank_contract(spark):
    """graph_pagerank_converged reaches its integer fixpoint within the
    iteration cap on the fixture graph and spans every vector."""
    from distributed_video_analytics_flink_spark.operators.similarity import (
        graph_pagerank_converged,
    )

    row = graph_pagerank_converged(spark, SF).collect()[0]
    assert row["converged"] is True
    assert row["within_iter_cap"] is True
    assert row["n_nodes"] == load_table(spark, SF, "embeddings").count()


def test_converged_edges_partitioned_once(spark, tmp_path):
    """The co-partitioning contract (r8 VERDICT #3): the degree-annotated
    edge set lives in a table BUCKETED by src, so a single iteration step
    plans NO exchange that re-partitions on the edge frame's `u` — only
    the rank side (node) and the per-destination aggregate shuffle.
    Broadcast is disabled so the join takes the sort-merge path a 100 TB
    rank table would (locally AQE would broadcast the tiny rank side)."""
    from distributed_video_analytics_flink_spark.plans import (
        exchange_count,
        formatted_plan,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "u long, v long"
        )
        outdeg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("outd"))
        spark.sql("DROP TABLE IF EXISTS pr_edges_plan_test")
        (
            edges.join(outdeg, "u")
            .write.bucketBy(32, "u")
            .sortBy("u")
            .option("path", str(tmp_path / "edges"))
            .mode("overwrite")
            .saveAsTable("pr_edges_plan_test")
        )
        edges_od = spark.table("pr_edges_plan_test")
        ranks = edges.select(F.col("u").alias("node")).distinct().withColumn(
            "r", F.lit(_PR_SCALE // 3).cast("long")
        ).localCheckpoint()
        step = (
            edges_od.join(ranks, edges_od["u"] == ranks["node"])
            .select(F.col("v").alias("node"), F.expr("(85 * r) DIV (100 * outd)").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        plan = formatted_plan(step)
        # the bucketed edge layout is reused: nothing re-partitions on u
        assert "hashpartitioning(u#" not in plan, plan
        # rank-side join exchange + the destination aggregate exchange only
        assert exchange_count(step) <= 2, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_edges_plan_test")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_memo_bounded_and_stale_apps_evicted(spark):
    """r9 ADVICE: the shared k-NN frame memo (memo.py) must not grow
    without bound — entries from dead applications are evicted on insert
    (their checkpoint blocks died with the context) and each name keeps
    at most _MAX_PER_NAME live entries, least recently used first, so
    dropping the reference lets the ContextCleaner reclaim the pinned
    localCheckpoint blocks."""
    import distributed_video_analytics_flink_spark.memo as M
    import distributed_video_analytics_flink_spark.operators.similarity as S

    app = spark.sparkContext.applicationId
    saved = dict(M._ENTRIES)
    try:
        M._ENTRIES.clear()
        dummy = spark.range(1)
        M._ENTRIES[("dead-app", "knn_frame", "sfX", "fp")] = dummy  # stale app
        for i in range(M._MAX_PER_NAME):
            M._ENTRIES[(app, "knn_frame", f"old{i}", "fp")] = dummy
        M._ENTRIES[(app, "other", "k", "fp")] = dummy  # another name
        df = S._shared_knn_frame(spark, SF)
        assert not [k for k in M._ENTRIES if k[0] == "dead-app"]
        knn = [k for k in M._ENTRIES if k[1] == "knn_frame"]
        assert len(knn) == M._MAX_PER_NAME
        assert (app, "knn_frame", "old0", "fp") not in M._ENTRIES  # LRU went
        assert (app, "other", "k", "fp") in M._ENTRIES  # bound is per name
        (key,) = [k for k in M._ENTRIES if k[1] == "knn_frame" and k[2] == SF]
        assert M._ENTRIES[key] is df
        # hit path: same handle back, no growth, no eviction churn
        n = len(M._ENTRIES)
        assert S._shared_knn_frame(spark, SF) is df
        assert len(M._ENTRIES) == n
        # LRU, not insertion-FIFO (r10 review): a hit refreshes the
        # entry's position, so the just-used frame is evicted LAST
        M._ENTRIES.clear()
        M._ENTRIES[(app, "knn_frame", "oldA", "fp")] = dummy
        M._ENTRIES[key] = df
        M._ENTRIES[(app, "knn_frame", "oldB", "fp")] = dummy  # SF middle-aged
        assert S._shared_knn_frame(spark, SF) is df  # hit -> most recent
        assert list(M._ENTRIES)[-1] == key
        assert next(iter(M._ENTRIES)) == (app, "knn_frame", "oldA", "fp")
    finally:
        M._ENTRIES.clear()
        M._ENTRIES.update(saved)


def test_knn_memo_stats_observable(spark):
    """r10 VERDICT #4: the memo exposes hit/miss counters so bench.py can
    mark which graph-family timings rode a warm memo (memo_cached in
    BENCH_DETAIL) instead of relying on the SCALE.md prose caveat."""
    import distributed_video_analytics_flink_spark.memo as M
    import distributed_video_analytics_flink_spark.operators.similarity as S

    zero = {"hits": 0, "misses": 0}
    saved = dict(M._ENTRIES)
    try:
        M._ENTRIES.clear()
        s0 = M.memo_stats().get("knn_frame", zero)
        df = S._shared_knn_frame(spark, SF)  # cold: a miss
        s1 = M.memo_stats()["knn_frame"]
        assert s1 == {"hits": s0["hits"], "misses": s0["misses"] + 1}
        assert S._shared_knn_frame(spark, SF) is df  # warm: a hit
        s2 = M.memo_stats()["knn_frame"]
        assert s2 == {"hits": s0["hits"] + 1, "misses": s0["misses"] + 1}
    finally:
        M._ENTRIES.clear()
        M._ENTRIES.update(saved)
