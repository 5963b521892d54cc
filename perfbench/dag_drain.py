"""dag_drain: the scheduler itself, no Spark.

A layered DAG of no-op jobs is transacted into a fresh store and
drained by ``nproc // 2`` worker OS processes, each running an
``Executor`` tick loop on its own store handle; the seed picks the order
in which the workers take ready jobs. One pool of workers drains each
DAG on every cross-process backend in turn. Wide layers put 100+ jobs in
the ready set at once (ready-set hydration, lost reservation races);
chains bypass both.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
from collections import Counter

from common import Span, Tracer, dir_bytes, geomean, median, now, percentile, self_times, tail, vm_hwm_mb
from gen import layered_dag

BACKENDS = ("sqlite_store", "filecas_store", "manifest_store")
# The end-to-end metrics combine the cross-process CAS stores. sqlite_store
# commits with fsync: on a shared disk its jobs/s moved threefold from one
# phase of drains to the next, phases that often outlast a run, so a run's
# figure followed the disk, not the code. Its figures are per-layer only.
END_TO_END = ("filecas_store", "manifest_store")
# (jobs per DAG, wide-layer width, chain length): a wide layer of roots,
# a chain, then the rest as a second wide layer. Small enough that a cycle
# of one drain per backend takes about two seconds with two workers. The
# sizes are fixed: a job's ready-to-start latency is its place in the
# queue of its layer, so a median over jobs moved by a tenth with the
# layer sizes. The seed picks the order in which the workers take jobs.
SHAPE = (130, 104, 6)
SMOKE_SHAPE = (50, 15, 5)
MIN_CYCLES = 4
# worker pool starts per run; set-up counts the median one
POOL_STARTS = 5
DRAIN_TIMEOUT_S = 120.0
STORE_OPS = ("reserve_job", "finish_job", "jobs_ready", "job_info")
# per-layer metrics this workload has no numbers for
NOT_TOUCHED = ("session.", "warmup_s", "entry_s.", "spark.", "sources.", "ann_index.", "streaming.")

# Forked, not spawned: a spawned process makes multiprocessing start a
# resource-tracker process that ends only after the benchmark has exited,
# and registers named semaphores under /dev/shm with it. Forked workers
# need no tracker, and their semaphores are unlinked as they are made.
# The parent has opened no store when it forks, and Pool.close ends the
# only thread it starts.
_CTX = mp.get_context("fork")


def workers(nproc: int) -> int:
    """Drain workers: half the cores. Each worker busy-polls the store, so
    nproc of them leave no core for the host and their figures follow its
    load: on a shared 4-vCPU VM, interleaved 10 s runs spread 0.29 of the
    median in jobs/s with 4 workers and 0.09 with 2."""
    return max(1, nproc // 2)


def open_store(backend: str, path: str):
    from overseer_spark import api

    if backend == "sqlite_store":
        return api.sqlite_store(os.path.join(path, "jobs.db"))
    if backend == "filecas_store":
        return api.filecas_store(None, path)
    return api.manifest_store(None, path)


class StoreProbe:
    """Wraps a worker's store handle from outside: records when each
    ``finish_job`` was called and returned (the ready-to-start clock),
    counts completed jobs, and in traced runs puts a span around every
    store operation the executor makes."""

    def __init__(self, store, tracer: Tracer, done) -> None:
        self._store = store
        self._tracer = tracer
        self._done = done
        self.finished: list[tuple[str, float, float]] = []
        self.reserve_calls = 0
        self.reserve_lost = 0

    def __getattr__(self, name):
        attr = getattr(self._store, name)
        if name not in STORE_OPS or not self._tracer.enabled:
            return attr

        def traced(*args, **kwargs):
            sid = self._tracer.begin(f"store.{name}")
            try:
                return attr(*args, **kwargs)
            finally:
                self._tracer.end(sid)

        return traced

    def reserve_job(self, job_id):
        self.reserve_calls += 1
        sid = self._tracer.begin("store.reserve_job")
        try:
            job = self._store.reserve_job(job_id)
        finally:
            self._tracer.end(sid)
        if job is None:
            self.reserve_lost += 1
        return job

    def finish_job(self, job_id):
        sid = self._tracer.begin("store.finish_job")
        t_call = now()
        try:
            self._store.finish_job(job_id)
        finally:
            self._tracer.end(sid)
        self.finished.append((job_id, t_call, now()))
        with self._done.get_lock():
            self._done.value += 1


def _worker(wid, tasks, results, barrier, done, trace):
    import overseer_spark.store.filecas  # noqa: F401  (every backend's module,
    import overseer_spark.store.manifest  # noqa: F401  so no drain pays an import)
    import overseer_spark.store.sqlite  # noqa: F401
    from overseer_spark.config import Config
    from overseer_spark.executor import Executor

    results.put(wid)  # imported and ready for work
    while True:
        task = tasks.get()
        if task is None:
            return
        backend, path, n_jobs, trace_id, id_base, exec_seed = task
        tracer = Tracer(trace, trace_id, id_base=id_base + wid * 1_000_000)
        probe = StoreProbe(open_store(backend, path), tracer, done)
        starts: list[tuple[str, float]] = []

        def handler(job):
            starts.append((job.id, now()))
            sid = tracer.begin("handler")
            tracer.end(sid)

        ex = Executor(probe, {"noop": handler}, Config().sleep_time, rand_seed=exec_seed * 100 + wid)
        barrier.wait()
        t0 = now()
        deadline = t0 + DRAIN_TIMEOUT_S
        while done.value < n_jobs and now() < deadline:
            sid = tracer.begin("executor.tick")
            status = ex.tick()
            tracer.end(sid, ran=status is not None)
        results.put({
            "wid": wid,
            "t0": t0,
            "starts": starts,
            "finished": probe.finished,
            "reserve_calls": probe.reserve_calls,
            "reserve_lost": probe.reserve_lost,
            "spans": tracer.spans,
            "trace_cost": tracer.cost,
            "hwm_mb": vm_hwm_mb(os.getpid()),
        })


class Pool:
    """``n`` forked worker processes reused across drains. The
    constructor returns once every worker has imported the package."""

    def __init__(self, n: int, trace: bool) -> None:
        self.n = n
        self.tasks = _CTX.Queue()
        self.results = _CTX.Queue()
        self.barrier = _CTX.Barrier(n + 1)
        self.done = _CTX.Value("i", 0)
        self.procs = [
            _CTX.Process(
                target=_worker,
                args=(i, self.tasks, self.results, self.barrier, self.done, trace),
                daemon=True,
            )
            for i in range(n)
        ]
        for p in self.procs:
            p.start()
        for _ in self.procs:
            self.results.get(timeout=DRAIN_TIMEOUT_S)

    def drain(self, backend, path, n_jobs, trace_id, id_base, exec_seed) -> list[dict]:
        self.done.value = 0
        for _ in self.procs:
            self.tasks.put((backend, path, n_jobs, trace_id, id_base, exec_seed))
        self.barrier.wait(timeout=DRAIN_TIMEOUT_S)
        return [self.results.get(timeout=DRAIN_TIMEOUT_S + 30) for _ in self.procs]

    def close(self) -> None:
        for _ in self.procs:
            self.tasks.put(None)
        self.tasks.close()
        self.tasks.join_thread()  # the queue's feeder thread
        deadline = now() + 10.0
        for p in self.procs:
            p.join(timeout=max(0.0, deadline - now()))
        for p in self.procs:
            if p.is_alive():
                p.kill()
                p.join()


def check_drain(store, ids, edges, outs) -> list[str]:
    """Problems with one drain: handlers that did not run exactly once,
    jobs not finished, jobs started before a dependency finished."""
    from overseer_spark.core import STATUS_FINISHED

    problems = []
    runs = Counter(j for o in outs for j, _ in o["starts"])
    if set(runs) != set(ids) or any(c != 1 for c in runs.values()):
        problems.append("handler did not run exactly once per job")
    if store.jobs_with_status(STATUS_FINISHED) != sorted(ids):
        problems.append("not every job ended finished")
    start = {j: t for o in outs for j, t in o["starts"]}
    fin_call = {j: tc for o in outs for j, tc, _ in o["finished"]}
    if any(j in start and d in fin_call and start[j] < fin_call[d] for j, d in edges):
        problems.append("a job started before its dependency finished")
    return problems


def ready_to_start(ids, edges, outs) -> list[float]:
    """Per job: its handler start minus the return of its last
    dependency's finish_job (drain start for roots), in ms."""
    t0 = min(o["t0"] for o in outs)
    start = {j: t for o in outs for j, t in o["starts"]}
    fin = {j: tr for o in outs for j, _, tr in o["finished"]}
    deps: dict[str, list[str]] = {}
    for j, d in edges:
        deps.setdefault(j, []).append(d)
    return [
        (start[j] - max((fin[d] for d in deps.get(j, ())), default=t0)) * 1000.0
        for j in ids
        if j in start
    ]


def _drain(ctx, pool, backend, ids, edges, id_base, exec_seed, stats) -> list[str]:
    """Transact one DAG into a fresh store, drain it with the pool, fold
    the drain's numbers into ``stats``; returns the problems found."""
    from overseer_spark import api
    from overseer_spark.core import Job, JobGraph

    graph = JobGraph(jobs=[Job(id=j, type="noop") for j in ids], edges=edges)
    path = os.path.join(ctx.work, f"store-{backend}")
    os.makedirs(path)
    # write back what earlier drains left dirty, so no store's fsyncs wait
    # on another's data
    os.sync()
    t_setup = now()
    store = open_store(backend, path)
    t_tx = now()
    api.transact_graph(store, graph)
    t_end = now()
    stats["setup"].append(t_end - t_setup)
    stats["transact"].append(t_end - t_tx)
    os.sync()

    drain_span = ctx.tracer.begin(f"drain.{backend}")
    outs = pool.drain(backend, path, len(ids), ctx.tracer.trace_id, id_base, exec_seed)
    ctx.tracer.end(drain_span, jobs=len(ids))
    problems = check_drain(store, ids, edges, outs)
    wall = max(tr for o in outs for _, _, tr in o["finished"]) - min(o["t0"] for o in outs)
    stats["rates"].append(len(ids) / wall)
    stats["jobs"] += len(ids)
    lat = ready_to_start(ids, edges, outs)
    stats["p50"].append(percentile(lat, 50))
    stats["tail"].append(tail(lat, len(ids)))
    stats["bytes"].append(dir_bytes(path) / len(ids))
    for o in outs:
        stats["reserve_calls"] += o["reserve_calls"]
        stats["reserve_lost"] += o["reserve_lost"]
        stats["trace_cost"] += o["trace_cost"]
        stats["worker_s"] += wall
        for s in o["spans"]:
            if s.parent is None:
                s.parent = drain_span
        stats["spans"] += o["spans"]
        ctx.worker_hwm_mb[o["wid"]] = max(ctx.worker_hwm_mb.get(o["wid"], 0.0), o["hwm_mb"])
    if hasattr(store, "close"):
        store.close()
    shutil.rmtree(path, ignore_errors=True)
    return problems


def _new_stats() -> dict:
    return {b: {"setup": [], "transact": [], "rates": [], "jobs": 0, "p50": [], "tail": [],
                "reserve_calls": 0, "reserve_lost": 0, "bytes": [], "spans": [], "trace_cost": 0.0,
                "worker_s": 0.0}
            for b in BACKENDS}


def run(ctx) -> dict:
    """One warm-up cycle, then whole cycles, at least MIN_CYCLES, until
    ``ctx.seconds`` is used: each cycle generates one DAG and drains it on
    every backend in turn, so a slow phase of the host falls on all
    backends alike. Every figure is a median over the measured drains of
    a backend. Returns the result record (see run.py)."""
    n_jobs, width, chain = SMOKE_SHAPE if ctx.smoke else SHAPE
    per_backend = _new_stats()
    attempted = failed = drains = cycles = 0
    problems: list[str] = []
    pool_starts = []
    pool = None
    try:
        for _ in range(POOL_STARTS):
            if pool is not None:
                pool.close()
                pool = None
            t_pool = now()
            pool = Pool(workers(ctx.nproc), ctx.tracer.enabled)
            pool_starts.append(now() - t_pool)

        def cycle(dag_seed: int, stats: dict) -> None:
            nonlocal attempted, failed, drains
            ids, edges = layered_dag(dag_seed, n_jobs, wide=(width, width), chain=(chain, chain))
            for backend in BACKENDS:
                drains += 1
                bad = _drain(ctx, pool, backend, ids, edges, drains * 10_000_000, dag_seed, stats[backend])
                attempted += len(ids)
                if bad:
                    failed += len(ids)
                    problems.extend(f"{backend}: {p}" for p in bad)

        cycle(ctx.seed * 1000 - 1, _new_stats())  # warm-up: checked, not measured
        m0 = now()
        while cycles < MIN_CYCLES or now() - m0 < ctx.seconds:
            cycle(ctx.seed * 1000 + cycles, per_backend)
            cycles += 1
    finally:
        if pool is not None:
            pool.close()

    rate = {b: median(st["rates"]) for b, st in per_backend.items()}
    p50 = {b: median(st["p50"]) for b, st in per_backend.items()}
    # per drain, the tail percentile is the one a drain's jobs support
    tails = {b: (median(t for t, _ in st["tail"]), st["tail"][0][1]) for b, st in per_backend.items()}
    end_to_end = {
        # worker pool start (imports included), then store install and
        # graph transact, median per backend, summed over backends
        "setup_s": median(pool_starts) + sum(median(st["setup"]) for st in per_backend.values()),
        "ops_per_s": geomean(rate[b] for b in END_TO_END),
        "op_p50_ms": geomean(max(p50[b], 1e-3) for b in END_TO_END),
        "op_tail_ms": geomean(max(tails[b][0], 1e-3) for b in END_TO_END),
        "peak_rss_mb": ctx.peak_rss(),
    }
    worker_s = sum(st["worker_s"] for st in per_backend.values())
    layers = {"trace.overhead_frac": sum(st["trace_cost"] for st in per_backend.values()) / worker_s}
    for b, st in per_backend.items():
        ctx.tracer.extend(st["spans"])
        layers[f"dag.{b}.jobs_per_s"] = rate[b]
        layers[f"dag.{b}.ready_to_start_ms.p50"] = p50[b]
        layers[f"dag.{b}.ready_to_start_ms.tail"] = tails[b][0]
        layers[f"store.{b}.transact_graph_s"] = median(st["transact"])
        layers[f"store.{b}.bytes_per_job"] = median(st["bytes"])
        layers[f"store.{b}.reserve_lost_frac"] = st["reserve_lost"] / max(1, st["reserve_calls"])
        layers.update(_span_layers(b, st["spans"], st["jobs"]))
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "end_to_end": end_to_end,
        "layers": layers,
        "detail": {
            "tail_percentile": {b: t[1] for b, t in tails.items()},
            "jobs_per_s": rate,
            "pool_start_s": pool_starts,
            "setup_s": {b: median(st["setup"]) for b, st in per_backend.items()},
            "drain_jobs_per_s": {b: st["rates"] for b, st in per_backend.items()},
            "drain_p50_ms": {b: st["p50"] for b, st in per_backend.items()},
            "cycles": cycles,
            "jobs_per_drain": n_jobs,
        },
    }


def _span_layers(backend: str, spans: list[Span], jobs: int) -> dict:
    """Store op latency, executor self time and call counts per job."""
    if not spans:
        return {}
    selfs = self_times(spans)
    out = {}
    for op in STORE_OPS:
        durs = [s.end - s.start for s in spans if s.name == f"store.{op}"]
        out[f"store.{backend}.{op}.ms"] = 1000.0 * sum(durs) / max(1, len(durs))
        if op in ("job_info", "jobs_ready"):
            out[f"executor.{backend}.{op}_calls_per_job"] = len(durs) / jobs
    ticks = [selfs[s.id] for s in spans if s.name == "executor.tick" and s.attrs.get("ran")]
    out[f"executor.{backend}.overhead_ms_per_job"] = 1000.0 * sum(ticks) / jobs
    return out
