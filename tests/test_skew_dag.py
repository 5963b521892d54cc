"""Power-law DAG hardening: a hub node with 1e5 dependents, its edges
co-located in ONE partition (ingest order), must not produce straggler
tasks in the wave-join family. prepare_edges measures dep_id skew with
the q_join_key_skew_profile metric and round-robin declusters the edge
table; the tests assert the decision triggers, the hot wave-join stage
balances to within 10× of the median task, and the closure / topo-level
results stay correct at that scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from overseer_spark.operators.scheduling import (
    _SKEW_FACTOR_THRESHOLD,
    prepare_edges,
    topo_levels,
    transitive_dependents,
)
from overseer_spark.operators.skew import key_skew_factor

N_HUB = 100_000


def _hub_edges(spark):
    """200k edges: 1e5 jobs all depending on 'hub' (coalesced into one
    partition — the worst-case ingest layout) + 1e5 uniform singleton
    edges, so the mean key size is ~2 and the hub is ~5e4× it."""
    hub = (
        spark.range(N_HUB)
        .select(
            F.format_string("j%d", "id").alias("job_id"),
            F.lit("hub").alias("dep_id"),
        )
        .coalesce(1)
    )
    uniform = spark.range(N_HUB).select(
        F.format_string("x%d", "id").alias("job_id"),
        F.format_string("p%d", "id").alias("dep_id"),
    )
    return hub.unionAll(uniform)


def test_skew_factor_detects_hub_and_uniform_passes_through(spark):
    deps = _hub_edges(spark)
    factor = key_skew_factor(deps, "dep_id")
    assert factor > _SKEW_FACTOR_THRESHOLD  # ~5e4
    uniform = spark.range(1000).select(
        F.format_string("a%d", "id").alias("job_id"),
        F.format_string("b%d", "id").alias("dep_id"),
    )
    assert key_skew_factor(uniform, "dep_id") == 1.0
    # below threshold: prepare_edges must be a no-op (no extra shuffle)
    assert prepare_edges(uniform) is uniform


def test_hub_wave_join_has_no_straggler_after_declustering(spark):
    """The hot stage is the frontier wave join: with the hub's edges in
    one partition the hub wave emits 1e5 rows from a single task. After
    prepare_edges, no task may exceed 10× the median non-empty task."""
    deps = _hub_edges(spark)
    frontier = spark.createDataFrame([("hub",)], "dep_id string")

    def task_rows(edges):
        joined = edges.join(F.broadcast(frontier), "dep_id").select("job_id")
        dist = (
            joined.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return sorted(r["count"] for r in dist)

    before = task_rows(deps)
    assert before[-1] == N_HUB  # the straggler: one task emits everything

    prepared = prepare_edges(deps)
    after = task_rows(prepared)
    assert sum(after) == N_HUB
    median = after[len(after) // 2]
    assert after[-1] <= 10 * median, (after[-1], median)
    prepared.unpersist()


def test_hub_closure_and_topo_levels_stay_correct(spark):
    """Correctness at hub scale: the distributed BFS closure of 'hub' is
    exactly its 1e5 dependents, and topo_levels puts roots at 0 and the
    1e5 hub dependents (+ uniform dependents) at 1. Both release the
    declustered edge copy prepare_edges persisted."""
    spark.catalog.clearCache()
    deps = _hub_edges(spark)
    closure = transitive_dependents(deps, ["hub"], strategy="bfs")
    assert closure.count() == N_HUB
    assert closure.filter(~F.col("id").startswith("j")).count() == 0

    jobs = (
        spark.range(N_HUB)
        .select(F.format_string("j%d", "id").alias("id"))
        .unionAll(spark.range(N_HUB).select(F.format_string("x%d", "id").alias("id")))
        .unionAll(spark.range(N_HUB).select(F.format_string("p%d", "id").alias("id")))
        .unionAll(spark.createDataFrame([("hub",)], "id string"))
    )
    levels = topo_levels(jobs, deps)
    by_level = {
        r["level"]: r["n"]
        for r in levels.groupBy("level").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # roots: hub + the 1e5 p-nodes; level 1: 1e5 j-nodes + 1e5 x-nodes
    assert by_level == {0: N_HUB + 1, 1: 2 * N_HUB}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
