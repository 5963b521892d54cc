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
from overseer_spark.session import local_frame


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

# waves between lineage cuts in the distributed graph loops (and rounds
# between cuts in pagerank's fixed-round loop)
_CHECKPOINT_EVERY = 4

# wave bound of the fixpoint loops: a cyclic graph never empties the
# longest-path frontier (see detect_cycles)
_MAX_WAVES = 1000


def prepare_edges(deps: DataFrame) -> DataFrame:
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
    graphs skip the shuffle entirely."""
    from overseer_spark.operators.skew import key_skew_factor

    if key_skew_factor(deps, "dep_id") <= _SKEW_FACTOR_THRESHOLD:
        return deps
    n = int(deps.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return deps.repartition(n).persist()


def _with_prepared_edges(deps: DataFrame, body) -> DataFrame:
    """``body(prepare_edges(deps))``, then drop the edge cache
    :func:`prepare_edges` may have pinned: the loop that amortized it is
    over, and a long-lived driver must not accumulate one pinned edge copy
    per skewed-DAG call. Unpersist only drops cached blocks — any
    still-lazy result recomputes from lineage."""
    prepared = prepare_edges(deps)
    try:
        return body(prepared)
    finally:
        if prepared is not deps:
            prepared.unpersist()


def _try_local_graph(
    nodes: DataFrame, deps: DataFrame, cap: int
) -> tuple[list, list] | None:
    """Bounded probe-and-fetch for the driver-side fast paths: collect at
    most cap+1 rows from EACH of the edge and node tables; None when
    either exceeds the cap. Probing edges alone is a scale hazard — an
    edge-sparse 100 TB jobs table (millions of independent jobs, <100k
    edges: a normal ingest shape) passes an edge probe and an unbounded
    ``jobs.collect()`` then OOMs the driver, so BOTH tables are bounded.
    Each fetch is one LocalLimit-bounded scan (cap+1 rows max per task),
    cheap over an arbitrarily large table.

    A passing probe IS the data the local leg needs, so the fast path
    pays two Spark jobs total, the same as an unprobed collect. ``nodes``
    (the jobs, or the closure's seed set) must be pre-projected to the
    columns the caller wants back (``id`` [+ weight]); edge rows are
    (job_id, dep_id)."""
    edge_rows = deps.select("job_id", "dep_id").limit(cap + 1).collect()
    if len(edge_rows) > cap:
        return None
    node_rows = nodes.limit(cap + 1).collect()
    if len(node_rows) > cap:
        return None
    return node_rows, edge_rows


def _kahn_order(ids, edges) -> list:
    """Kahn's peel, driver-side: the ``ids`` in an order where every job
    follows all of its deps. An edge ``(job_id, dep_id)`` counts only when
    its job is in ``ids``. A job on a cycle, behind one, or with a dep
    that is not in ``ids`` is never peeled and is missing from the order
    — matching the distributed leg of :func:`detect_cycles`, where such a
    dep is never done and keeps its dependents blocked."""
    indeg = dict.fromkeys(ids, 0)
    out_adj: dict[str, list[str]] = {}
    for j, d in edges:
        if j in indeg:
            indeg[j] += 1
            out_adj.setdefault(d, []).append(j)
    order = [i for i, n in indeg.items() if n == 0]
    for d in order:  # peeled jobs are appended while iterating
        for j in out_adj.get(d, ()):
            indeg[j] -= 1
            if indeg[j] == 0:
                order.append(j)
    return order


def _longest_paths(w: dict[str, int], edges) -> dict[str, int]:
    """Driver-side max-plus recurrence ``cp(j) = w(j) + max(cp(dep))``
    (roots: ``cp = w``), in Kahn order. Same relaxation as the distributed
    wave loops: only edges from job rows count, a job with one is no root,
    and the recurrence runs over the jobs reachable from the roots. A dep
    that is no job row, or that sits on or behind an unreached cycle, is
    never reached and never holds back a job that a reached dep relaxes."""
    known = [(j, d) for j, d in edges if j in w]
    out_adj: dict[str, list[str]] = {}
    for j, d in known:
        out_adj.setdefault(d, []).append(j)
    has_edge = {j for j, _ in known}
    reached = [i for i in w if i not in has_edge]
    seen = set(reached)
    for d in reached:  # reached jobs are appended while iterating
        for j in out_adj.get(d, ()):
            if j not in seen:
                seen.add(j)
                reached.append(j)
    inner = [(j, d) for j, d in known if d in seen]
    deps_of: dict[str, list[str]] = {}
    for j, d in inner:
        deps_of.setdefault(j, []).append(d)
    cp: dict[str, int] = {}
    for j in _kahn_order(reached, inner):
        cp[j] = w[j] + max((cp[d] for d in deps_of.get(j, ())), default=0)
    return cp


def _waves(start: DataFrame, step, finish) -> DataFrame:
    """The level-synchronous fixpoint of every distributed graph leg:
    ``nxt = step(frontier, acc)`` from ``frontier = acc = start`` until a
    wave is empty, ``acc ∪= nxt`` each wave; the result is
    ``finish(acc)``. Iterations = DAG depth, not row count.

    One action per wave: the wave is persisted and counted. Every
    ``_CHECKPOINT_EVERY`` waves the wave and ``acc`` are
    local-checkpointed instead, which truncates lineage so plans don't
    grow with graph depth, and the frames persisted since the last cut
    are released — cached blocks stay O(_CHECKPOINT_EVERY), not
    O(depth). ``start`` is persisted with the first waves, so the steps
    before the first cut read it from cache instead of recomputing it. A
    result whose lineage still reads persisted waves is cut once before
    they are released, so nothing stays cached; when the first wave is
    already empty the result is ``finish(start)``, left lazy."""
    frontier = acc = start.persist()
    pinned = [start]  # persisted frames awaiting release
    for wave in range(1, _MAX_WAVES + 1):
        nxt = step(frontier, acc)
        cut = wave % _CHECKPOINT_EVERY == 0
        nxt = nxt.localCheckpoint(eager=True) if cut else nxt.persist()
        n = nxt.count()
        if n == 0:
            nxt.unpersist()
            break
        acc = acc.union(nxt)
        if cut:
            acc = acc.localCheckpoint(eager=True)
            for p in pinned:
                p.unpersist()
            pinned.clear()
        else:
            pinned.append(nxt)
        frontier = nxt
    out = finish(acc)
    if acc is not start and pinned:
        out = out.localCheckpoint(eager=True)
    for p in pinned:
        p.unpersist()
    return out


def transitive_dependents(
    deps: DataFrame,
    seed_ids: Iterable[str] | DataFrame,
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """All direct + transitive dependents of the seed jobs (R5/Q33).

    Three physical strategies, same semantics (cross-checked in
    tests/test_closure_strategies.py):

    - ``local``: collect the edge list to the driver and run the BFS in
      Python. Job graphs are usually tiny relative to the data they move
      (thousands of edges), and a distributed fixed-point on a small graph
      pays one full job-scheduling round trip *per level* — driver compute
      is orders of magnitude cheaper. Bounded by ``local_edge_cap`` edges
      and seeds.
    - ``recursive_cte`` (Spark ≥ 4): a single ``WITH RECURSIVE`` plan —
      one job, no Python-driven loop.
    - ``bfs``: iterative semi-join BFS with frontier/visited sets,
      mirroring the reference's loop (overseer/store/jdbc.clj:101-113) but
      distributed (:func:`_waves`: periodic ``localCheckpoint`` so plans
      don't grow with graph depth). The driver only ever materializes
      per-iteration *counts* — id sets stay on executors. Use for very
      deep graphs or engines without recursive CTEs.

    ``auto`` fetches at most ``local_edge_cap + 1`` edges and seeds
    (:func:`_try_local_graph` — a few MB even over a huge table) and
    picks local when both fit, else the CTE, else BFS — the same
    stats-driven strategy switch Spark itself applies for broadcast joins.
    """
    spark = deps.sparkSession
    if isinstance(seed_ids, DataFrame):
        seeds = seed_ids.select(F.col(seed_ids.columns[0]).alias("id")).distinct()
    else:
        seeds = local_frame(spark, [(i,) for i in seed_ids], schema="id string")
    if strategy in ("auto", "local"):
        probe = _try_local_graph(seeds, deps, local_edge_cap)
        if probe is not None:
            seed_rows, edge_rows = probe
            adj: dict[str, list[str]] = {}
            for j, d in edge_rows:
                adj.setdefault(d, []).append(j)
            seed_set = {i for (i,) in seed_rows}
            out: set[str] = set()
            fr = seed_set
            while fr:
                fr = {j for d in fr for j in adj.get(d, ())} - out - seed_set
                out |= fr
            return local_frame(spark, [(i,) for i in sorted(out)], schema="id string")
        if strategy == "local":
            raise ValueError(
                f"edge table or seed set exceeds local_edge_cap={local_edge_cap}; "
                "use strategy='recursive_cte' or 'bfs'"
            )

    # beyond the local cap the graph is big enough for hub skew to
    # matter — measure once, decluster if needed (see prepare_edges)
    def closure(edges: DataFrame) -> DataFrame:
        if strategy in ("auto", "recursive_cte"):
            try:
                return _dependents_recursive_cte(edges, seeds)
            except Exception:
                if strategy == "recursive_cte":
                    raise
        # acc is the visited set, seeds included; they leave at the end
        return _waves(
            seeds,
            lambda frontier, seen: direct_dependents(edges, frontier).join(
                seen, "id", "left_anti"
            ),
            lambda seen: seen.join(seeds, "id", "left_anti"),
        )

    return _with_prepared_edges(deps, closure)


def _dependents_recursive_cte(deps: DataFrame, seeds: DataFrame) -> DataFrame:
    """Single-plan reachability via Spark 4 ``WITH RECURSIVE`` (UNION ALL
    recursion + outer DISTINCT — safe on validated acyclic graphs). A
    seed that another seed reaches is left out, as in the other legs."""
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
            SELECT DISTINCT r.id FROM reach r
            LEFT ANTI JOIN {sview} s ON r.id = s.id"""
    )
    # spark.sql analyzes eagerly — the plan no longer needs the views
    spark.catalog.dropTempView(dview)
    spark.catalog.dropTempView(sview)
    return out


def topo_levels(
    jobs: DataFrame,
    deps: DataFrame,
    strategy: str = "auto",
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Execution waves over the job DAG: ``level 0`` = jobs with no
    dependencies; ``level(j) = 1 + max(level(dep))`` — the longest path
    from any root. Every job in wave *k* can run concurrently once wave
    *k−1* finishes, so this is the scheduler's parallelism profile (the
    reference computes nothing like it — workers discover readiness
    incrementally via R3 — but operators want it for capacity planning).

    Iterative level-synchronous propagation (:func:`_waves`), one
    distributed join per wave: frontier_k = jobs one edge past
    frontier_{k-1}, keeping the MAX level per job (a diamond's sink must
    wait for its *longest* incoming path). Iteration count = DAG depth,
    not row count — a 100 TB job table with a shallow DAG converges in a
    handful of passes. Edges whose ``job_id`` is no job row are dropped
    once, before the loop. Same adaptive switch as :func:`pagerank`:
    under ``local_edge_cap`` edges and jobs the same longest-path
    recurrence runs driver-side (:func:`critical_path`'s with unit
    weights, minus 1) — the wave loop is pure scheduling overhead there.
    """
    ids = jobs.select("id")
    probe = _try_local_graph(ids, deps, local_edge_cap) if strategy == "auto" else None
    if probe is not None:
        job_rows, edge_rows = probe
        cp = _longest_paths({i: 1 for (i,) in job_rows}, edge_rows)
        return local_frame(
            jobs.sparkSession,
            [(i, c - 1) for i, c in sorted(cp.items())],
            schema="id string, level long",
        )

    def levels(edges: DataFrame) -> DataFrame:
        roots = ids.join(edges.select(F.col("job_id").alias("id")), "id", "left_anti")
        return _waves(
            roots.withColumn("level", F.lit(0).cast("long")),
            lambda frontier, _: (
                edges.join(frontier, edges.dep_id == frontier.id)
                .select(F.col("job_id").alias("id"), (F.col("level") + 1).alias("level"))
                .groupBy("id")
                .agg(F.max("level").alias("level"))
            ),
            lambda acc: acc.groupBy("id").agg(F.max("level").cast("long").alias("level")),
        )

    # the waves and the skew probe all read the restricted edges: join once
    known = deps.join(ids.select(F.col("id").alias("job_id")), "job_id", "left_semi").persist()
    try:
        return _with_prepared_edges(known, levels)
    finally:
        known.unpersist()


def pagerank(
    jobs: DataFrame,
    deps: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
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
    of pure scheduling overhead — ``auto`` fetches at most
    ``local_edge_cap + 1`` edges and jobs and runs the identical float
    recurrence driver-side when both fit. Beyond the cap
    (``distributed`` forces it): each iteration is ONE join (edges ×
    current ranks on the out-node) + one aggregation keyed by the
    in-node — both shuffles land on the same id-hash partitioning, and
    AQE broadcasts the rank side while it is dimension-sized. Iteration
    count is fixed, independent of graph size; ``localCheckpoint`` every
    ``_CHECKPOINT_EVERY`` rounds truncates lineage.
    """
    spark = jobs.sparkSession
    nodes = jobs.select("id")
    probe = _try_local_graph(nodes, deps, local_edge_cap) if strategy == "auto" else None
    if probe is not None:
        job_rows, edges = probe
        ids = [i for (i,) in job_rows]
        if not ids:
            return nodes.withColumn("rank", F.lit(0.0))
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
        return local_frame(
            spark, [(i, rank[i]) for i in sorted(ids)], schema="id string, rank double"
        )

    def power_iteration(edges: DataFrame) -> DataFrame:
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = edges.groupBy("job_id").agg(F.count(F.lit(1)).alias("_outd"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        base = (1.0 - damping) / n_nodes
        for it in range(iterations):
            contribs = (
                edges.join(ranks, edges.job_id == ranks.id)
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
            if (it + 1) % _CHECKPOINT_EVERY == 0:
                ranks = ranks.localCheckpoint(eager=True)
        if edges is not deps:
            # prepare_edges pinned a declustered edge cache that is about
            # to be released: cut the result loose so later actions don't
            # replay the iteration chain. This one path returns an eagerly
            # materialized result; the uncached path stays lazy.
            ranks = ranks.localCheckpoint(eager=True)
        return ranks

    return _with_prepared_edges(deps, power_iteration)


def detect_cycles(
    jobs: DataFrame,
    deps: DataFrame,
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
    un-done dep), until fixpoint (:func:`_waves`); whatever remains can
    never start = the set of jobs on or downstream-locked by a cycle. An
    unknown ``dep_id`` is never done and keeps its dependents blocked.
    Iterations = DAG depth, not row count. Same adaptive switch as
    :func:`pagerank` — under ``local_edge_cap`` edges and jobs the same
    Kahn peel runs driver-side (:func:`_kahn_order`). NOTE vs
    topo_levels: that op's longest-path frontier never terminates on a
    cyclic graph — this one always does (the fixpoint is monotone and
    bounded by |jobs|).
    """
    ids = jobs.select("id")
    probe = _try_local_graph(ids, deps, local_edge_cap) if strategy == "auto" else None
    if probe is not None:
        job_rows, edge_rows = probe
        id_list = [i for (i,) in job_rows]
        stuck = sorted(set(id_list) - set(_kahn_order(id_list, edge_rows)))
        return local_frame(jobs.sparkSession, [(i,) for i in stuck], schema="id string")

    def newly_done(_frontier: DataFrame, done: DataFrame) -> DataFrame:
        blocked = (
            deps.join(done.select(F.col("id").alias("dep_id")), "dep_id", "left_anti")
            .select(F.col("job_id").alias("id"))
            .distinct()
        )
        return ids.join(done, "id", "left_anti").join(blocked, "id", "left_anti")

    roots = ids.join(deps.select(F.col("job_id").alias("id")), "id", "left_anti")
    return _waves(roots, newly_done, lambda done: ids.join(done, "id", "left_anti"))


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

    Same adaptive strategy switch as :func:`pagerank`: ``auto`` fetches
    at most ``local_edge_cap + 1`` edges and jobs and runs the identical
    max-plus recurrence driver-side when both fit
    (:func:`_longest_paths` — a wave loop on a fixture-sized DAG is pure
    job-scheduling overhead). Distributed path: same level-synchronous
    relaxation as :func:`topo_levels` — one distributed join per wave
    keeping the MAX accumulated weight per job, then a join to the
    weights, which also drops jobs that are no job row — so iterations =
    DAG depth. A job may be relaxed in several waves (diamonds); the
    final groupBy keeps the longest path, which is exactly the
    estimator's max-plus semiring."""
    w = jobs.select("id", F.col(weight_col).cast("long").alias("_w"))
    probe = _try_local_graph(w, deps, local_edge_cap) if strategy == "auto" else None
    if probe is not None:
        job_rows, edge_rows = probe
        cp = _longest_paths({i: int(x) for i, x in job_rows}, edge_rows)
        return local_frame(jobs.sparkSession, sorted(cp.items()), schema="id string, cp long")

    def relax(edges: DataFrame) -> DataFrame:
        roots = w.join(edges.select(F.col("job_id").alias("id")), "id", "left_anti")
        return _waves(
            roots.select("id", F.col("_w").alias("cp")),
            lambda frontier, _: (
                edges.join(frontier, edges.dep_id == frontier.id)
                .select(F.col("job_id").alias("id"), F.col("cp").alias("_base"))
                .groupBy("id")
                .agg(F.max("_base").alias("_base"))
                .join(w, "id")
                .select("id", (F.col("_base") + F.col("_w")).alias("cp"))
            ),
            lambda acc: acc.groupBy("id").agg(F.max("cp").cast("long").alias("cp")),
        )

    return _with_prepared_edges(deps, relax)
