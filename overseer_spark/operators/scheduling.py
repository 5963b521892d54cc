"""Scheduling queries over the ``jobs`` / ``dependencies`` tables.

These are the reference's load-bearing relational operations (SURVEY.md §2.A
R3-R6), re-expressed as declarative DataFrame plans:

- ready-set   = filter + anti-join          (reference overseer/store/jdbc.clj:230-242)
- dead-set    = conjunctive range filter    (reference overseer/store/jdbc.clj:244-252)
- dependents  = iterative BFS over edges    (reference overseer/store/jdbc.clj:101-113)

Scale notes: the jobs table partitions naturally by ``status`` (the ready
query then scans only the ``unstarted`` partition) and the squuid id prefix
is time-ordered for range pruning. The anti-join's build side (blocked ids)
is small relative to the job count, so AQE converts it to a broadcast join —
no full shuffle of the jobs table.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overseer_spark.core import STATUS_FINISHED, STATUS_STARTED, STATUS_UNSTARTED


def ready_jobs(
    jobs: DataFrame,
    deps: DataFrame,
    limit: int | None = None,
    types: Iterable[str] | None = None,
) -> DataFrame:
    """Unstarted jobs whose every dependency is finished (R3/Q31).

    ``blocked = deps ⋉ (jobs where status != finished on dep_id)``;
    ``ready = unstarted ▷ blocked`` (anti-join). Equivalent to the
    reference's NOT IN subquery (overseer/store/jdbc.clj:230-242) but with
    explicit semi/anti joins, which Catalyst plans without a correlated
    subquery and AQE broadcasts. ``types`` keeps only jobs of those types
    (the R12 handleable filter), pushed onto the unstarted side before the
    anti-join; None leaves the plan unchanged.
    """
    unfinished = jobs.filter(F.col("status") != STATUS_FINISHED).select(
        F.col("id").alias("dep_id")
    )
    blocked = (
        deps.join(unfinished, "dep_id", "left_semi").select("job_id").distinct()
    )
    unstarted = jobs.filter(F.col("status") == STATUS_UNSTARTED)
    if types is not None:
        unstarted = unstarted.filter(F.col("type").isin(sorted(types)))
    ready = unstarted.join(
        blocked, jobs["id"] == blocked["job_id"], "left_anti"
    ).select("id")
    return ready.limit(limit) if limit else ready


def dead_jobs(jobs: DataFrame, threshold: int, limit: int | None = None) -> DataFrame:
    """Started jobs with a stale heartbeat (R4/Q32; reference
    overseer/store/jdbc.clj:244-252). NULL heartbeats never match."""
    dead = jobs.filter(
        (F.col("status") == STATUS_STARTED) & (F.col("heartbeat") < F.lit(threshold))
    ).select("id")
    return dead.limit(limit) if limit else dead


def direct_dependents(deps: DataFrame, ids: DataFrame) -> DataFrame:
    """One BFS step: DISTINCT job_id of edges whose dep_id ∈ ids (R6;
    reference overseer/store/jdbc.clj:89-99)."""
    frontier = ids.select(F.col("id").alias("dep_id"))
    return (
        deps.join(frontier, "dep_id", "left_semi").select(F.col("job_id").alias("id")).distinct()
    )


# a hub key this many × the mean key size triggers edge declustering —
# same order as AQE's skewedPartitionFactor default (5) with headroom
_SKEW_FACTOR_THRESHOLD = 8.0


def prepare_edges(deps: DataFrame, skew_mitigation: str = "auto") -> DataFrame:
    """Hub-hardening for the wave-join family (closure / topo levels /
    critical path / pagerank). Power-law DAGs have hub nodes with 1e5+
    dependents; the per-wave joins broadcast the (small) frontier, so the
    join itself never shuffles — but the hub's output rows materialize in
    whichever edge-table partitions hold its edges, and ingest order
    typically co-locates them into ONE partition: a 1e5-row straggler
    task per wave while every other task emits ~nothing.

    Decision is measured, not guessed: ``key_skew_factor`` (the
    q_join_key_skew_profile ``skew_x`` metric) on ``dep_id``; above the
    threshold the edge table is round-robin repartitioned — one bounded
    shuffle that spreads every hub's edges across all partitions — and
    cached, since the wave loop re-reads it once per DAG level. Uniform
    graphs skip the shuffle entirely. ``skew_mitigation="off"`` bypasses
    the probe (single-wave callers that cannot amortize it)."""
    if skew_mitigation == "off":
        return deps
    from overseer_spark.operators.skew import key_skew_factor

    if key_skew_factor(deps, "dep_id") <= _SKEW_FACTOR_THRESHOLD:
        return deps
    n = int(deps.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return deps.repartition(n).persist()


def _release_edges(prepared: DataFrame, original: DataFrame) -> None:
    """Drop the cache :func:`prepare_edges` may have pinned. ``prepared is
    original`` exactly when no repartition+persist happened; otherwise the
    wave loop that amortized the cache is over and a long-lived driver must
    not accumulate one pinned edge copy per skewed-DAG call. Unpersist only
    drops cached blocks — any still-lazy result recomputes from lineage."""
    if prepared is not original:
        prepared.unpersist()


def _try_local_graph(
    jobs: DataFrame, deps: DataFrame, cap: int
) -> tuple[list, list] | None:
    """Bounded probe-and-fetch for the driver-side fast paths: collect at
    most cap+1 rows from EACH of the edge and node tables; None when
    either exceeds the cap. Probing edges alone is a scale hazard — an
    edge-sparse 100 TB jobs table (millions of independent jobs, <100k
    edges: a normal ingest shape) passes an edge probe and an unbounded
    ``jobs.collect()`` then OOMs the driver, so BOTH tables are bounded.
    Each fetch is one LocalLimit-bounded scan (cap+1 rows max per task),
    cheap over an arbitrarily large table.

    Returning the fetched rows is the amortization: a passing probe IS
    the data the local leg needs, so the fast path pays two Spark jobs
    total — the same count as an unprobed collect — instead of the two
    probe counts + two collects it cost before (the dag_pagerank bench
    regression in r4). ``jobs`` must be pre-projected to the columns the
    caller wants back (``id`` [+ weight]); edge rows carry
    (job_id, dep_id)."""
    edge_rows = deps.select("job_id", "dep_id").limit(cap + 1).collect()
    if len(edge_rows) > cap:
        return None
    job_rows = jobs.limit(cap + 1).collect()
    if len(job_rows) > cap:
        return None
    return job_rows, edge_rows


def _local_graph_ok(jobs: DataFrame, deps: DataFrame, cap: int) -> bool:
    """Boolean view of :func:`_try_local_graph` (both tables under cap)."""
    return _try_local_graph(jobs.select("id"), deps, cap) is not None


def transitive_dependents(
    deps: DataFrame,
    seed_ids: Iterable[str] | DataFrame,
    checkpoint_every: int = 4,
    max_iterations: int = 1000,
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
    skew_mitigation: str = "auto",
) -> DataFrame:
    """All direct + transitive dependents of the seed jobs (R5/Q33).

    Three physical strategies, same semantics (cross-checked in
    tests/test_closure_strategies.py):

    - ``local``: collect the edge list to the driver and run the BFS in
      Python. Job graphs are usually tiny relative to the data they move
      (thousands of edges), and a distributed fixed-point on a small graph
      pays one full job-scheduling round trip *per level* — driver compute
      is orders of magnitude cheaper. Bounded by ``local_edge_cap``.
    - ``recursive_cte`` (Spark ≥ 4): a single ``WITH RECURSIVE`` plan —
      one job, no Python-driven loop.
    - ``bfs``: iterative semi-join BFS with frontier/visited sets,
      mirroring the reference's loop (overseer/store/jdbc.clj:101-113) but
      distributed; ``localCheckpoint`` every few iterations truncates
      lineage so plans don't grow with graph depth. The driver only ever
      materializes per-iteration *counts* — id sets stay on executors.
      Use for very deep graphs or engines without recursive CTEs.

    ``auto`` probes the edge-table size (one ``take`` of at most
    ``local_edge_cap + 1`` rows — a few MB even over a huge table) and
    picks local for small graphs, else the CTE, else BFS — the same
    stats-driven strategy switch Spark itself applies for broadcast joins.
    """
    spark = deps.sparkSession
    if isinstance(seed_ids, DataFrame):
        frontier = seed_ids.select(F.col(seed_ids.columns[0]).alias("id")).distinct()
    else:
        seed_ids = list(seed_ids)
        frontier = spark.createDataFrame(
            [(i,) for i in seed_ids], schema="id string"
        )
    if strategy in ("auto", "local"):
        # size probe: one job, and LocalLimit caps every task at reading
        # cap+1 rows, so this stays cheap over an arbitrarily large edge
        # table (df.take would escalate through several ever-larger scans)
        edge_df = deps.select("job_id", "dep_id")
        small = edge_df.limit(local_edge_cap + 1).count() <= local_edge_cap
        if small:
            edges = edge_df.collect()
            if isinstance(seed_ids, DataFrame):
                seeds = {r[0] for r in frontier.collect()}
            else:
                seeds = set(seed_ids)
            adj: dict[str, list[str]] = {}
            for e in edges:
                adj.setdefault(e.dep_id, []).append(e.job_id)
            out: set[str] = set()
            fr = seeds
            while fr:
                nxt = {j for d in fr for j in adj.get(d, ())} - out - seeds
                out |= nxt
                fr = nxt
            return spark.createDataFrame(
                [(i,) for i in sorted(out)], schema="id string"
            )
        if strategy == "local":
            raise ValueError(
                f"edge table exceeds local_edge_cap={local_edge_cap}; "
                "use strategy='recursive_cte' or 'bfs'"
            )
    # beyond the local cap the graph is big enough for hub skew to
    # matter — measure once, decluster if needed (see prepare_edges)
    raw_deps = deps
    deps = prepare_edges(deps, skew_mitigation)
    try:
        if strategy in ("auto", "recursive_cte"):
            try:
                return _dependents_recursive_cte(deps, frontier)
            except Exception:
                if strategy == "recursive_cte":
                    raise
        visited = frontier  # seeds excluded from result at the end
        result = spark.createDataFrame([], schema="id string")
        pinned: list[DataFrame] = []  # persisted frontiers awaiting release
        for it in range(max_iterations):
            nxt = direct_dependents(deps, frontier).join(visited, "id", "left_anti")
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                # truncate lineage so the plan doesn't grow with graph depth
                nxt = nxt.localCheckpoint(eager=True)
                n = nxt.count()
                if n:
                    result = result.union(nxt).localCheckpoint(eager=True)
                    visited = visited.union(nxt).localCheckpoint(eager=True)
                # result/visited lineage is cut past the interim persisted
                # frontiers — release them so cached blocks stay
                # O(checkpoint_every), not O(depth) (critical_path pattern)
                for p in pinned:
                    p.unpersist()
                pinned.clear()
            else:
                nxt = nxt.persist()
                n = nxt.count()  # single action per iteration: populates cache
                if n:
                    pinned.append(nxt)
                    result = result.union(nxt)
                    visited = visited.union(nxt)
            if n == 0:
                nxt.unpersist()
                break
            frontier = nxt
        out = result.distinct()
        if pinned:
            # cut once so dropping the last frontiers can't force recompute
            out = out.localCheckpoint(eager=True)
            for p in pinned:
                p.unpersist()
        return out
    finally:
        _release_edges(deps, raw_deps)


def _dependents_recursive_cte(deps: DataFrame, seeds: DataFrame) -> DataFrame:
    """Single-plan reachability via Spark 4 ``WITH RECURSIVE`` (UNION ALL
    recursion + outer DISTINCT — safe on validated acyclic graphs)."""
    import uuid

    dview = f"_deps_{uuid.uuid4().hex[:12]}"
    sview = f"_seeds_{uuid.uuid4().hex[:12]}"
    deps.createOrReplaceTempView(dview)
    seeds.createOrReplaceTempView(sview)
    spark = deps.sparkSession
    out = spark.sql(
        f"""WITH RECURSIVE reach(id) AS (
              SELECT d.job_id FROM {dview} d
              WHERE d.dep_id IN (SELECT id FROM {sview})
              UNION ALL
              SELECT d.job_id FROM {dview} d JOIN reach r ON d.dep_id = r.id)
            SELECT DISTINCT id FROM reach"""
    )
    # spark.sql analyzes eagerly — the plan no longer needs the views
    spark.catalog.dropTempView(dview)
    spark.catalog.dropTempView(sview)
    return out


def topo_levels(
    jobs: DataFrame,
    deps: DataFrame,
    checkpoint_every: int = 4,
    max_iterations: int = 1000,
    skew_mitigation: str = "auto",
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Execution waves over the job DAG: ``level 0`` = jobs with no
    dependencies; ``level(j) = 1 + max(level(dep))`` — the longest path
    from any root. Every job in wave *k* can run concurrently once wave
    *k−1* finishes, so this is the scheduler's parallelism profile (the
    reference computes nothing like it — workers discover readiness
    incrementally via R3 — but operators want it for capacity planning).

    Iterative level-synchronous propagation, one distributed join per wave:
    frontier_k = jobs one edge past frontier_{k-1}, keeping the MAX level
    per job (a diamond's sink must wait for its *longest* incoming path).
    ``localCheckpoint`` every few waves truncates lineage, same discipline
    as :func:`transitive_dependents`. Iteration count = DAG depth, not row
    count — a 100 TB job table with a shallow DAG converges in a handful
    of passes. Same adaptive switch as :func:`pagerank`: under
    ``local_edge_cap`` edges the identical Kahn longest-path recurrence
    runs driver-side (the wave loop is pure scheduling overhead there).
    """
    spark = jobs.sparkSession
    probe = (
        _try_local_graph(jobs.select("id"), deps, local_edge_cap)
        if strategy == "auto"
        else None
    )
    if probe is not None:
        job_rows, edge_rows = probe
        ids = [r["id"] for r in job_rows]
        edges = [(r["job_id"], r["dep_id"]) for r in edge_rows]
        known = set(ids)
        indeg = {i: 0 for i in ids}
        out_adj: dict[str, list[str]] = {}
        for j, d in edges:
            if j in known:
                indeg[j] += 1
                out_adj.setdefault(d, []).append(j)
        # Kahn order, level(j) = 1 + max(level(dep)) — same max semantics
        lvl = {i: 0 for i, n in indeg.items() if n == 0}
        queue = list(lvl)
        while queue:
            d = queue.pop()
            for j in out_adj.get(d, ()):
                cand = lvl[d] + 1
                if j not in lvl or cand > lvl[j]:
                    lvl[j] = cand
                indeg[j] -= 1
                if indeg[j] == 0:
                    queue.append(j)
        return spark.createDataFrame(
            [(i, lvl[i]) for i in sorted(lvl)], schema="id string, level long"
        )
    raw_deps = deps
    deps = prepare_edges(deps, skew_mitigation)
    try:
        roots = jobs.select("id").join(
            deps.select(F.col("job_id").alias("id")), "id", "left_anti"
        )
        frontier = roots.withColumn("level", F.lit(0).cast("long"))
        acc = frontier
        pinned: list[DataFrame] = []  # persisted frontiers awaiting release
        for it in range(max_iterations):
            nxt = (
                deps.join(frontier, deps.dep_id == frontier.id)
                .select(F.col("job_id").alias("id"), (F.col("level") + 1).alias("level"))
                .groupBy("id")
                .agg(F.max("level").alias("level"))
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
                n = nxt.count()
                if n:
                    acc = acc.union(nxt).localCheckpoint(eager=True)
                # acc's lineage is cut — release interim persisted
                # frontiers (critical_path pattern: cached blocks stay
                # O(checkpoint_every), not O(depth))
                for p in pinned:
                    p.unpersist()
                pinned.clear()
            else:
                nxt = nxt.persist()
                n = nxt.count()
                if n:
                    pinned.append(nxt)
                    acc = acc.union(nxt)
            if n == 0:
                nxt.unpersist()
                break
            frontier = nxt
        out = acc.groupBy("id").agg(F.max("level").cast("long").alias("level"))
        if pinned:
            out = out.localCheckpoint(eager=True)
            for p in pinned:
                p.unpersist()
        return out
    finally:
        _release_edges(deps, raw_deps)


def pagerank(
    jobs: DataFrame,
    deps: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    skew_mitigation: str = "auto",
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Criticality score per job: PageRank over the dependency edges
    (``job_id → dep_id`` — rank flows from a job to what it depends on, so
    heavily-depended-on upstream jobs score highest; the nodes an outage
    hurts most). Simplified formulation ``r = (1−d)/N + d·Σ r(in)/outdeg``
    with dangling mass dropped (no per-iteration driver collect).

    Same adaptive strategy switch as :func:`transitive_dependents`: job
    graphs are usually tiny relative to the data they move, and a
    10-iteration distributed loop on a 13-node graph pays ~30 Spark jobs
    of pure scheduling overhead — ``auto`` probes the edge count (one
    bounded ``limit().count()``) and runs the identical float recurrence
    driver-side under ``local_edge_cap``. Beyond the cap (``distributed``
    forces it): each iteration is ONE join (edges × current ranks on the
    out-node) + one aggregation keyed by the in-node — both shuffles
    land on the same id-hash partitioning, and AQE broadcasts the rank
    side while it is dimension-sized. Iteration count is fixed,
    independent of graph size; ``localCheckpoint`` every few rounds
    truncates lineage exactly like :func:`topo_levels`.
    """
    spark = jobs.sparkSession
    probe = (
        _try_local_graph(jobs.select("id"), deps, local_edge_cap)
        if strategy == "auto"
        else None
    )
    if probe is not None:
        job_rows, edge_rows = probe
        ids = [r["id"] for r in job_rows]
        if not ids:
            return jobs.select("id").withColumn("rank", F.lit(0.0))
        edges = [(r["job_id"], r["dep_id"]) for r in edge_rows]
        outd: dict[str, int] = {}
        for a, _ in edges:
            outd[a] = outd.get(a, 0) + 1
        n = len(ids)
        base = (1.0 - damping) / n
        rank = {i: 1.0 / n for i in ids}
        for _ in range(iterations):
            contrib: dict[str, float] = {}
            for a, b in edges:
                if a in rank:
                    contrib[b] = contrib.get(b, 0.0) + rank[a] / outd[a]
            rank = {i: base + damping * contrib.get(i, 0.0) for i in ids}
        return spark.createDataFrame(
            [(i, rank[i]) for i in sorted(ids)], schema="id string, rank double"
        )
    raw_deps = deps
    deps = prepare_edges(deps, skew_mitigation)
    try:
        nodes = jobs.select("id")
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = deps.groupBy("job_id").agg(F.count(F.lit(1)).alias("_outd"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        base = (1.0 - damping) / n_nodes
        for it in range(iterations):
            contribs = (
                deps.join(ranks, deps.job_id == ranks.id)
                .join(out_deg, "job_id")
                .select(
                    F.col("dep_id").alias("id"),
                    (F.col("rank") / F.col("_outd")).alias("_c"),
                )
                .groupBy("id")
                .agg(F.sum("_c").alias("_in"))
            )
            ranks = nodes.join(contribs, "id", "left").select(
                "id",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        if deps is not raw_deps:
            # prepare_edges pinned a declustered edge cache that the
            # finally-block is about to release: cut the returned plan
            # loose so later actions reuse materialized ranks instead of
            # recomputing the whole iteration chain (correct either way —
            # lineage replays the repartition — but wastefully). NOTE this
            # one path returns an EAGERLY materialized result; the
            # uncached path stays lazy like the other graph ops.
            ranks = ranks.localCheckpoint(eager=True)
        return ranks
    finally:
        _release_edges(deps, raw_deps)


def detect_cycles(
    jobs: DataFrame,
    deps: DataFrame,
    checkpoint_every: int = 4,
    max_iterations: int = 1000,
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Jobs trapped in dependency cycles — distributed Kahn's algorithm.

    The reference VALIDATES graph shape before insert (``valid-graph?``,
    core.clj:34-39, R23) but trusts Loom's digraph to be a DAG; at engine
    scale a cyclic submission would deadlock the ready-set query (R3: a
    cycle's members are never ready, never dead — silently stuck forever).
    This is the audit that finds them: iteratively emit jobs whose
    dependencies are ALL emitted (two anti-joins per wave — a node with no
    un-done dep), until fixpoint; whatever remains can never start = the
    set of jobs on or downstream-locked by a cycle. Iterations = DAG
    depth, not row count; lineage truncated on the same cadence as
    :func:`topo_levels`. Same adaptive switch as :func:`pagerank` —
    under ``local_edge_cap`` edges the identical Kahn peel runs
    driver-side. NOTE vs topo_levels: that op's longest-path
    frontier never terminates on a cyclic graph — this one always does
    (the fixpoint is monotone and bounded by |jobs|).
    """
    spark = jobs.sparkSession
    probe = (
        _try_local_graph(jobs.select("id"), deps, local_edge_cap)
        if strategy == "auto"
        else None
    )
    if probe is not None:
        job_rows, edge_rows = probe
        id_list = [r["id"] for r in job_rows]
        edges = [(r["job_id"], r["dep_id"]) for r in edge_rows]
        known = set(id_list)
        indeg = {i: 0 for i in id_list}
        out_adj: dict[str, list[str]] = {}
        for j, d in edges:
            # d may be a dangling dep (not a job row): it is never emitted,
            # so indeg[j] stays unsatisfied and j is reported stuck —
            # matching the distributed leg, where an unknown dep_id is
            # never in `done` and keeps its dependents blocked forever
            if j in known:
                indeg[j] += 1
                out_adj.setdefault(d, []).append(j)
        queue = [i for i, n in indeg.items() if n == 0]
        emitted = set()
        while queue:
            d = queue.pop()
            emitted.add(d)
            for j in out_adj.get(d, ()):
                indeg[j] -= 1
                if indeg[j] == 0:
                    queue.append(j)
        stuck = sorted(set(id_list) - emitted)
        return spark.createDataFrame(
            [(i,) for i in stuck], schema="id string"
        )
    ids = jobs.select("id")
    done = ids.join(
        deps.select(F.col("job_id").alias("id")), "id", "left_anti"
    ).persist()
    done.count()
    for it in range(max_iterations):
        blocked = (
            deps.join(
                done.select(F.col("id").alias("dep_id")), "dep_id", "left_anti"
            )
            .select(F.col("job_id").alias("id"))
            .distinct()
        )
        newly = ids.join(done, "id", "left_anti").join(blocked, "id", "left_anti")
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            newly = newly.localCheckpoint(eager=True)
        else:
            newly = newly.persist()
        if newly.count() == 0:
            break
        done = done.union(newly)
    return ids.join(done, "id", "left_anti")


def job_runtime_stats(log_df: DataFrame) -> DataFrame:
    """Per-type runtime/outcome profile from the transition log — the
    Monitoring-guide analytics (reference doc/guide/Monitoring.md) the
    engine can answer about ITSELF because SparkLogStore keeps every
    transition: runtime = first started `updated_at` → last terminal
    `updated_at` per job. One job-keyed aggregate of the (tiny next to any
    data table) log, then a per-type rollup; no per-job driver loops.

    Output: (type, n_finished, n_failed, n_aborted, avg_secs, max_secs) —
    runtimes over finished jobs only; NULL when nothing finished.

    Retention: ``SparkLogStore.compact()`` keeps the insert row, the first
    ``started`` row, and the last row per id, so start→terminal runtimes
    survive compaction; intermediate retry/reset transitions do not, so
    outcome counts after compaction reflect final outcomes only. Run the
    stats before compacting (or on an ``as_of_seq`` snapshot) when the full
    retry history matters.
    """
    from overseer_spark.core import (
        STATUS_ABORTED,
        STATUS_FAILED,
        STATUS_FINISHED,
        STATUS_STARTED,
    )

    per_job = (
        log_df.groupBy("id", "type")
        .agg(
            F.min(
                F.when(F.col("status") == STATUS_STARTED, F.col("updated_at"))
            ).alias("started_at"),
            F.max(
                F.when(
                    F.col("status").isin(
                        STATUS_FINISHED, STATUS_FAILED, STATUS_ABORTED
                    ),
                    F.col("updated_at"),
                )
            ).alias("ended_at"),
            F.max(
                F.when(F.col("status") == STATUS_FINISHED, 1).otherwise(0)
            ).alias("finished"),
            F.max(F.when(F.col("status") == STATUS_FAILED, 1).otherwise(0)).alias(
                "failed"
            ),
            F.max(F.when(F.col("status") == STATUS_ABORTED, 1).otherwise(0)).alias(
                "aborted"
            ),
        )
        .withColumn(
            "secs",
            F.when(
                (F.col("finished") == 1) & F.col("started_at").isNotNull(),
                F.unix_timestamp("ended_at") - F.unix_timestamp("started_at"),
            ),
        )
    )
    return (
        per_job.groupBy("type")
        .agg(
            F.sum("finished").cast("long").alias("n_finished"),
            F.sum("failed").cast("long").alias("n_failed"),
            F.sum("aborted").cast("long").alias("n_aborted"),
            F.round(F.avg("secs"), 3).alias("avg_secs"),
            F.max("secs").cast("long").alias("max_secs"),
        )
        .orderBy("type")
    )


def critical_path(
    jobs: DataFrame,
    deps: DataFrame,
    weight_col: str = "weight",
    checkpoint_every: int = 4,
    max_iterations: int = 1000,
    skew_mitigation: str = "auto",
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Weighted critical path to every job: ``cp(j) = w(j) +
    max(cp(dep))`` over incoming dependencies (roots: ``cp = w``) — the
    schedule-length analysis `topo_levels` can't give when job runtimes
    differ (the wave count says how parallel the DAG is; the critical
    path says how FAST it can possibly finish, and which predecessor is
    the bottleneck). ``jobs`` must carry ``weight_col`` (estimated or
    historical runtime, e.g. from job_runtime_stats).

    Same adaptive strategy switch as :func:`pagerank`: ``auto`` probes
    the edge count and runs the identical max-plus recurrence
    driver-side under ``local_edge_cap`` (a wave loop on a
    fixture-sized DAG is pure job-scheduling overhead). Distributed
    path: same level-synchronous relaxation as :func:`topo_levels` —
    one distributed join per wave keeping the MAX accumulated weight
    per job, ``localCheckpoint`` lineage cuts — so iterations = DAG
    depth. A job may be relaxed in several waves (diamonds); the final
    groupBy keeps the longest path, which is exactly the estimator's
    max-plus semiring."""
    spark = jobs.sparkSession
    probe = (
        _try_local_graph(
            jobs.select("id", F.col(weight_col).cast("long").alias("_w")),
            deps,
            local_edge_cap,
        )
        if strategy == "auto"
        else None
    )
    if probe is not None:
        job_rows, edge_rows = probe
        wt = {r["id"]: int(r["_w"]) for r in job_rows}
        edges = [(r["job_id"], r["dep_id"]) for r in edge_rows]
        indeg: dict[str, int] = {i: 0 for i in wt}
        out_adj: dict[str, list[str]] = {}
        for j, d in edges:
            if j in indeg:
                indeg[j] += 1
                out_adj.setdefault(d, []).append(j)
        # Kahn order; cp(j) = w(j) + max(cp(dep)) exactly as distributed
        cp = {i: wt[i] for i, n in indeg.items() if n == 0}
        queue = list(cp)
        while queue:
            d = queue.pop()
            for j in out_adj.get(d, ()):
                cand = wt[j] + cp[d]
                if j not in cp or cand > cp[j]:
                    cp[j] = cand
                indeg[j] -= 1
                if indeg[j] == 0:
                    queue.append(j)
        return spark.createDataFrame(
            [(i, cp[i]) for i in sorted(cp)], schema="id string, cp long"
        )
    raw_deps = deps
    deps = prepare_edges(deps, skew_mitigation)
    try:
        w = jobs.select("id", F.col(weight_col).cast("long").alias("_w"))
        roots = w.join(
            deps.select(F.col("job_id").alias("id")), "id", "left_anti"
        ).select("id", F.col("_w").alias("cp"))
        frontier = roots
        acc = frontier
        pinned: list[DataFrame] = []  # persisted frontiers awaiting release
        for it in range(max_iterations):
            nxt = (
                deps.join(frontier, deps.dep_id == frontier.id)
                .select(F.col("job_id").alias("id"), F.col("cp").alias("_base"))
                .groupBy("id")
                .agg(F.max("_base").alias("_base"))
                .join(w, "id")
                .select("id", (F.col("_base") + F.col("_w")).alias("cp"))
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
                n = nxt.count()
                acc = acc.union(nxt).localCheckpoint(eager=True)
                # acc's lineage is now cut, so the interim persisted
                # frontiers can be dropped without forcing recompute —
                # cached blocks stay O(checkpoint_every), not O(depth)
                for p in pinned:
                    p.unpersist()
                pinned.clear()
            else:
                nxt = nxt.persist()
                n = nxt.count()
                if n:
                    pinned.append(nxt)
                    acc = acc.union(nxt)
            if n == 0:
                nxt.unpersist()
                break
            frontier = nxt
        out = acc.groupBy("id").agg(F.max("cp").cast("long").alias("cp"))
        if pinned:
            out = out.localCheckpoint(eager=True)
            for p in pinned:
                p.unpersist()
        return out
    finally:
        _release_edges(deps, raw_deps)
