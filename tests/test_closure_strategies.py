"""Both closure strategies (recursive CTE / BFS loop) agree with a Python
reference on a randomized DAG."""

from __future__ import annotations

import random

import pytest

from overseer_spark.operators.scheduling import transitive_dependents


@pytest.fixture(scope="module")
def dag(spark):
    rng = random.Random(7)
    n = 200
    # random DAG: edges only from higher to lower ids (acyclic by construction)
    edges = []
    for child in range(1, n):
        for _ in range(rng.randint(0, 3)):
            parent = rng.randrange(0, child)
            edges.append((f"j{child}", f"j{parent}"))  # child depends on parent
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, schema="job_id string, dep_id string").cache()
    return df, edges


def py_dependents(edges, seed):
    out, frontier = set(), {seed}
    while frontier:
        nxt = {j for j, d in edges if d in frontier} - out
        out |= nxt
        frontier = nxt
    return out


@pytest.mark.parametrize(
    "strategy,seed",
    [
        ("recursive_cte", "j0"),  # deepest closure
        ("recursive_cte", "j5"),
        ("recursive_cte", "j150"),
        ("recursive_cte", "j199"),  # empty closure
        ("bfs", "j150"),  # shallow: keeps the per-level driver loop cheap
        ("bfs", "j199"),
        ("local", "j0"),
        ("local", "j199"),
    ],
)
def test_strategies_match_python(spark, dag, strategy, seed):
    df, edges = dag
    got = {
        r["id"]
        for r in transitive_dependents(df, [seed], strategy=strategy).collect()
    }
    assert got == py_dependents(edges, seed), f"{strategy} wrong for {seed}"


@pytest.mark.parametrize("strategy", ["recursive_cte", "bfs", "local", "auto"])
def test_seed_reached_from_another_seed_is_left_out(spark, strategy):
    """Every leg leaves out all seeds, also one that another seed reaches
    (b behind seed a); auto runs above the cap, so it takes the CTE."""
    from overseer_spark.session import local_frame

    deps = local_frame(spark, [("b", "a"), ("c", "b")], "job_id string, dep_id string")
    cap = 1 if strategy == "auto" else 100
    got = transitive_dependents(deps, ["a", "b"], strategy=strategy, local_edge_cap=cap)
    assert [r["id"] for r in got.collect()] == ["c"]


def test_bfs_deep_closure_with_checkpointing(spark, dag):
    """One deep-seed BFS run exercising the localCheckpoint path: the j0
    closure is deeper than the 4 waves between lineage cuts."""
    df, edges = dag
    got = {r["id"] for r in transitive_dependents(df, ["j0"], strategy="bfs").collect()}
    assert got == py_dependents(edges, "j0")


def test_auto_falls_back(spark, dag):
    df, edges = dag
    got = {r["id"] for r in transitive_dependents(df, ["j3"], strategy="auto").collect()}
    assert got == py_dependents(edges, "j3")


def test_auto_uses_distributed_above_cap(spark, dag):
    """With the cap below the edge count, auto must route to a distributed
    strategy and still agree with the reference."""
    df, edges = dag
    got = {
        r["id"]
        for r in transitive_dependents(
            df, ["j5"], strategy="auto", local_edge_cap=10
        ).collect()
    }
    assert got == py_dependents(edges, "j5")


def test_local_raises_above_cap(spark, dag):
    df, _ = dag
    import pytest as _pt

    with _pt.raises(ValueError):
        transitive_dependents(df, ["j5"], strategy="local", local_edge_cap=10)


def test_dataframe_seeds(spark, dag):
    df, edges = dag
    seeds = spark.createDataFrame([("j0",), ("j150",)], schema="id string")
    got = {r["id"] for r in transitive_dependents(df, seeds).collect()}
    want = (py_dependents(edges, "j0") | py_dependents(edges, "j150")) - {"j0", "j150"}
    assert got == want


def test_topo_levels_matches_python(spark, dag):
    """topo_levels agrees with a Python longest-path-from-roots on the
    randomized DAG (includes diamonds — max, not first-visit, semantics)."""
    from overseer_spark.operators.scheduling import topo_levels

    df, edges = dag
    nodes = sorted({x for e in edges for x in e})
    jobs = spark.createDataFrame([(n,) for n in nodes], schema="id string")

    deps_of: dict[str, list[str]] = {}
    for j, d in edges:
        deps_of.setdefault(j, []).append(d)
    levels: dict[str, int] = {}

    def level(n: str) -> int:
        if n not in levels:
            ds = deps_of.get(n, [])
            levels[n] = 0 if not ds else 1 + max(level(d) for d in ds)
        return levels[n]

    expected = {n: level(n) for n in nodes}
    for strategy in ("auto", "distributed"):
        got = {
            r.id: r.level
            for r in topo_levels(jobs, df, strategy=strategy).collect()
        }
        assert got == expected, strategy


def test_pagerank_matches_power_iteration(spark, dag):
    """Spark pagerank == pure-Python power iteration on the random DAG
    (same simplified formulation: dangling mass dropped)."""
    from overseer_spark.operators.scheduling import pagerank

    df, edges = dag
    nodes = sorted({x for e in edges for x in e})
    jobs = spark.createDataFrame([(n,) for n in nodes], schema="id string")

    n = len(nodes)
    d = 0.85
    outd: dict[str, int] = {}
    for j, _ in edges:
        outd[j] = outd.get(j, 0) + 1
    ranks = {x: 1.0 / n for x in nodes}
    for _ in range(10):
        incoming = {x: 0.0 for x in nodes}
        for j, dep in edges:
            incoming[dep] += ranks[j] / outd[j]
        ranks = {x: (1.0 - d) / n + d * incoming[x] for x in nodes}

    # BOTH physical strategies must match the reference recurrence: the
    # driver-side fast path (auto, small graph) and the distributed loop
    for strategy in ("auto", "distributed"):
        got = {
            r.id: r.rank
            for r in pagerank(jobs, df, iterations=10, strategy=strategy).collect()
        }
        assert set(got) == set(ranks)
        for x in nodes:
            assert abs(got[x] - ranks[x]) < 1e-9, (strategy, x, got[x], ranks[x])
        # ranks form a probability-mass-like vector (<=1 with dangling loss)
        assert 0 < sum(got.values()) <= 1.0 + 1e-9


def test_detect_cycles_kahn(spark):
    """detect_cycles (dag_cycle_check's operator): on a graph with a
    3-cycle plus a clean chain, exactly the cycle members AND everything
    dependency-locked behind them are flagged; the clean chain is not."""
    from overseer_spark.operators.scheduling import detect_cycles

    # chain a->b->c (a depends on b, b on c); cycle x->y->z->x; w depends on x
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("z", "x"), ("w", "x")]
    nodes = sorted({n for e in edges for n in e})
    jobs = spark.createDataFrame([(n,) for n in nodes], schema="id string")
    deps = spark.createDataFrame(edges, schema="job_id string, dep_id string")
    for strategy in ("auto", "distributed"):
        stuck = {
            r.id for r in detect_cycles(jobs, deps, strategy=strategy).collect()
        }
        assert stuck == {"x", "y", "z", "w"}, strategy

    # acyclic-only graph: nothing flagged (both physical strategies)
    deps2 = spark.createDataFrame(edges[:2], schema="job_id string, dep_id string")
    jobs2 = spark.createDataFrame([("a",), ("b",), ("c",)], schema="id string")
    for strategy in ("auto", "distributed"):
        assert detect_cycles(jobs2, deps2, strategy=strategy).count() == 0


def test_critical_path_strategies_agree(spark, dag):
    """critical_path: the driver-side Kahn fast path and the distributed
    wave relaxation produce identical max-plus longest paths on the
    random DAG, with deterministic id-keyed weights."""
    from pyspark.sql import functions as F

    from overseer_spark.operators.scheduling import critical_path

    df, edges = dag
    nodes = sorted({x for e in edges for x in e})
    jobs = spark.createDataFrame(
        [(n, 1 + (hash(n) % 7)) for n in nodes], schema="id string, weight long"
    )
    local = {
        r.id: r.cp
        for r in critical_path(jobs, df, strategy="auto").collect()
    }
    dist = {
        r.id: r.cp
        for r in critical_path(jobs, df, strategy="distributed").collect()
    }
    assert local == dist and len(local) == len(nodes)


def test_detect_cycles_dangling_dep_parity(spark):
    """An edge to a dep_id that is not a job row (malformed graph — the
    integrity-audit op's most likely input) must report the dependent as
    stuck under BOTH strategies: the ghost dep is never done, so the job
    can never start. Regression: the driver fast path used to drop such
    edges entirely and silently diverge from the distributed leg."""
    from overseer_spark.operators.scheduling import detect_cycles

    jobs = spark.createDataFrame([("a",), ("b",)], schema="id string")
    deps = spark.createDataFrame(
        [("a", "ghost")], schema="job_id string, dep_id string"
    )
    for strategy in ("auto", "distributed"):
        stuck = {r.id for r in detect_cycles(jobs, deps, strategy=strategy).collect()}
        assert stuck == {"a"}, strategy


@pytest.mark.parametrize(
    "edges,levels",
    [
        # an edge from a job that is no job row: the phantom job is never
        # emitted (the distributed topo_levels leg used to put it at level 1)
        ([("b", "a"), ("ghost", "a")], {"a": 0, "b": 1}),
        # a dep that is no job row is never reached: c waits forever, d is
        # reached through b, and so is e behind d
        (
            [("b", "a"), ("c", "ghost"), ("d", "c"), ("d", "b"), ("e", "d")],
            {"a": 0, "b": 1, "d": 2, "e": 3},
        ),
        # a dep on a cycle no root reaches is never reached either: x and y
        # never get a value, d is reached through b
        (
            [("b", "a"), ("x", "y"), ("y", "x"), ("d", "x"), ("d", "b")],
            {"a": 0, "b": 1, "d": 2},
        ),
    ],
    ids=["unknown_job", "unknown_dep", "unreached_cycle"],
)
def test_longest_path_legs_agree_on_unknown_ids(spark, edges, levels):
    """topo_levels and critical_path return the same rows from the
    driver-side and the distributed leg when an edge names an id that is
    no job row, or a dep that no root reaches."""
    from overseer_spark.operators.scheduling import critical_path, topo_levels
    from overseer_spark.session import local_frame

    names = sorted({n for e in edges for n in e} - {"ghost"})
    weight = {n: 2 + i for i, n in enumerate(names)}
    jobs = local_frame(spark, sorted(weight.items()), "id string, weight long")
    deps = local_frame(spark, edges, "job_id string, dep_id string")
    cp = {}
    for n in sorted(levels, key=levels.get):
        cp[n] = weight[n] + max(
            (cp[d] for j, d in edges if j == n and d in cp), default=0
        )
    for strategy in ("auto", "distributed"):
        got = {r.id: r.level for r in topo_levels(jobs, deps, strategy=strategy).collect()}
        assert got == levels, strategy
        got = {r.id: r.cp for r in critical_path(jobs, deps, strategy=strategy).collect()}
        assert got == cp, strategy


def test_dataframe_seeds_above_cap_route_distributed(spark, dag):
    """The local leg bounds the seed frame like the edge table: a
    DataFrame seed set larger than local_edge_cap takes the distributed
    leg even when every edge fits, and still matches the reference."""
    df, edges = dag
    cap = len(edges)
    ids = ["j150"] + [f"ghost{i}" for i in range(cap)]
    seeds = spark.createDataFrame([(i,) for i in ids], schema="id string")
    with pytest.raises(ValueError):
        transitive_dependents(df, seeds, strategy="local", local_edge_cap=cap)
    want = py_dependents(edges, "j150") - set(ids)
    for strategy in ("auto", "bfs"):
        got = transitive_dependents(df, seeds, strategy=strategy, local_edge_cap=cap)
        assert {r["id"] for r in got.collect()} == want, strategy


@pytest.fixture(scope="module")
def sparse_graph(spark):
    """Edge-sparse, node-heavy: the 100 TB ingest shape that breaks an
    edges-only probe — many independent jobs, a handful of edges."""
    nodes = [f"n{i}" for i in range(60)]
    edges = [("n1", "n0"), ("n2", "n1"), ("n3", "n2")]
    jobs = spark.createDataFrame(
        [(n, 1 + (i % 5)) for i, n in enumerate(nodes)],
        schema="id string, weight long",
    )
    deps = spark.createDataFrame(edges, schema="job_id string, dep_id string")
    return jobs, deps, nodes, edges


def test_probe_bounds_nodes_not_just_edges(spark, sparse_graph):
    """The auto-strategy probe must reject the driver fast path when the
    JOBS table exceeds the cap even though the edge table is tiny —
    otherwise jobs.select('id').collect() is unbounded on an edge-sparse
    100 TB jobs table."""
    from overseer_spark.operators.scheduling import _try_local_graph

    jobs, deps, nodes, _ = sparse_graph
    ids = jobs.select("id")
    assert _try_local_graph(ids, deps, cap=10) is None  # 3 edges pass, 60 nodes don't
    assert _try_local_graph(ids, deps, cap=100) is not None  # both bounded -> local ok


def test_edge_sparse_auto_routes_distributed_and_matches(spark, sparse_graph):
    """With cap=10 the sparse graph (3 edges / 60 nodes) must take the
    distributed leg (probe unit-tested above gates exactly this) and every
    dag_* op must return the same result the local fast path computes."""
    from overseer_spark.operators.scheduling import (
        critical_path,
        detect_cycles,
        pagerank,
        topo_levels,
    )

    jobs, deps, nodes, edges = sparse_graph

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for op, kw in (
        (topo_levels, {}),
        (detect_cycles, {}),
        (critical_path, {}),
    ):
        small_cap = rows(op(jobs, deps, strategy="auto", local_edge_cap=10, **kw))
        local = rows(op(jobs, deps, strategy="auto", local_edge_cap=10_000, **kw))
        assert small_cap == local, op.__name__

    pr_dist = {
        r.id: r.rank
        for r in pagerank(jobs, deps, strategy="auto", local_edge_cap=10).collect()
    }
    pr_local = {
        r.id: r.rank
        for r in pagerank(jobs, deps, strategy="auto", local_edge_cap=10_000).collect()
    }
    assert set(pr_dist) == set(pr_local) == set(nodes)
    for n in nodes:
        assert abs(pr_dist[n] - pr_local[n]) < 1e-9, n


def test_distributed_legs_leave_nothing_cached(spark):
    """The distributed leg of every graph operator releases what it
    persisted: after each call the CacheManager is empty. The chain is
    deeper than the waves between two lineage cuts, so the loops both cut
    and end with persisted frontiers still pinned."""
    from overseer_spark.operators.scheduling import (
        critical_path,
        detect_cycles,
        pagerank,
        topo_levels,
    )
    from overseer_spark.session import local_frame

    names = [f"c{i}" for i in range(7)]
    edges = list(zip(names[1:], names)) + [("c3", "c1")]
    jobs = local_frame(spark, [(n, 1) for n in names], "id string, weight long")
    deps = local_frame(spark, edges, "job_id string, dep_id string")
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name, run in (
        ("transitive_dependents", lambda: transitive_dependents(deps, ["c0"], strategy="bfs")),
        ("topo_levels", lambda: topo_levels(jobs, deps, strategy="distributed")),
        ("pagerank", lambda: pagerank(jobs, deps, strategy="distributed")),
        ("detect_cycles", lambda: detect_cycles(jobs, deps, strategy="distributed")),
        ("critical_path", lambda: critical_path(jobs, deps, strategy="distributed")),
    ):
        run().collect()
        assert cache.isEmpty(), name


@pytest.mark.parametrize("op", ["closure", "topo_levels", "critical_path", "detect_cycles"])
def test_wave_loop_cuts_result_when_empty_wave_is_a_cut_wave(spark, op):
    """On a chain whose empty wave is the 4th, a lineage-cut wave, the
    result is still cut before the waves persisted since the last cut
    are released: its plan holds no join left to replay per action."""
    from overseer_spark.operators.scheduling import (
        critical_path,
        detect_cycles,
        topo_levels,
    )
    from overseer_spark.session import local_frame

    names = [f"c{i}" for i in range(4)]  # waves 1-3 reach c1-c3
    jobs = local_frame(spark, [(n, 1) for n in names], "id string, weight long")
    deps = local_frame(spark, list(zip(names[1:], names)), "job_id string, dep_id string")
    run = {
        "closure": lambda: transitive_dependents(deps, ["c0"], strategy="bfs"),
        "topo_levels": lambda: topo_levels(jobs, deps, strategy="distributed"),
        "critical_path": lambda: critical_path(jobs, deps, strategy="distributed"),
        "detect_cycles": lambda: detect_cycles(jobs, deps, strategy="distributed"),
    }[op]
    out = run()
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == (0 if op == "detect_cycles" else 4 - (op == "closure"))
