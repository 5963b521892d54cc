"""Multi-worker contention at the engine level — the reference's
executor liveness test (test/overseer/executor_test.clj:56-76) scaled to a
1,000-job diamond DAG drained concurrently by (a) four full Worker
instances (detector/executor/heartbeat/monitor threads) on one store and
(b) four OS processes running real Executors against the cross-process
FileCASStore. Every job's handler must run EXACTLY once and every job must
end finished; aborts must cascade correctly while workers race."""

from __future__ import annotations

import multiprocessing as mp
import threading
import time

from overseer_spark import api
from overseer_spark.config import Config, HeartbeatConfig
from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.executor import Executor
from overseer_spark.store.filecas import FileCASStore
from overseer_spark.store.memory import MemoryStore

_CTX = mp.get_context("spawn")


def _diamond(n_mid: int) -> JobGraph:
    """root -> n_mid middles -> sink: the widest contention surface (all
    middles become ready at the same instant) plus a full barrier."""
    jobs = [Job(id="root", type="t")]
    jobs += [Job(id=f"m{i:04d}", type="t") for i in range(n_mid)]
    jobs += [Job(id="sink", type="t")]
    edges = [(f"m{i:04d}", "root") for i in range(n_mid)]
    edges += [("sink", f"m{i:04d}") for i in range(n_mid)]
    return JobGraph(jobs=jobs, edges=edges)


def test_four_workers_drain_1k_diamond_exactly_once():
    store = MemoryStore()
    store.install()
    graph = _diamond(998)  # 1,000 jobs total
    store.transact_graph(graph)

    counts: dict[str, int] = {}
    lock = threading.Lock()

    def handler(job):
        with lock:
            counts[job.id] = counts.get(job.id, 0) + 1

    cfg = Config(
        detector_sleep_time=0.02,
        sleep_time=0.01,
        heartbeat=HeartbeatConfig(sleep_time=0.5),
    )
    workers = [api.start(store, {"t": handler}, cfg) for _ in range(4)]
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if len(store.jobs_with_status(STATUS_FINISHED)) == 1000:
                break
            time.sleep(0.05)
    finally:
        for w in workers:
            w.stop()

    assert store.jobs_with_status(STATUS_FINISHED) == sorted(j.id for j in graph.jobs)
    assert set(counts) == {j.id for j in graph.jobs}
    multi = {k: v for k, v in counts.items() if v != 1}
    assert multi == {}, f"handlers ran more than once: {multi}"


def test_abort_cascades_under_worker_contention():
    store = MemoryStore()
    store.install()
    store.transact_graph(_diamond(200))

    ran: dict[str, int] = {}
    lock = threading.Lock()

    def handler(job):
        with lock:
            ran[job.id] = ran.get(job.id, 0) + 1
        if job.id == "root":
            api.abort("root says no")

    cfg = Config(
        detector_sleep_time=0.02,
        sleep_time=0.01,
        heartbeat=HeartbeatConfig(sleep_time=0.5),
    )
    workers = [api.start(store, {"t": handler}, cfg) for _ in range(4)]
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if len(store.jobs_with_status(STATUS_ABORTED)) == 202:
                break
            time.sleep(0.05)
    finally:
        for w in workers:
            w.stop()

    # the whole diamond is aborted and no dependent's handler ever ran
    assert len(store.jobs_with_status(STATUS_ABORTED)) == 202
    assert ran == {"root": 1}


# -- OS-process version over the cross-process CAS store ---------------------


def _count_handler(job):
    pass  # the exactly-once evidence is the claimed-ids list per process


def _drain_with_executor(path: str, barrier, out):
    """Run a real Executor loop in a child process (no SparkSession):
    claim ready jobs through CAS, run the handler, finish; report which
    jobs this process won."""
    store = FileCASStore(None, path)
    won: list[str] = []

    def handler(job):
        won.append(job.id)

    ex = Executor(store, {"t": handler}, sleep_time=0.005)
    barrier.wait()
    idle_rounds = 0
    while idle_rounds < 3:
        if not ex.has_ready():
            # another process may still be mid-job; only stop once no job
            # is unstarted or started
            if not store.jobs_with_status(
                STATUS_UNSTARTED
            ) and not store.jobs_with_status(STATUS_STARTED):
                idle_rounds += 1
            time.sleep(0.02)
            continue
        idle_rounds = 0
        ex.tick()
    out.put(won)


def test_four_processes_drain_diamond_exactly_once():
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        store = FileCASStore(None, tmp)
        store.install()
        graph = _diamond(248)  # 250 jobs across 4 OS processes
        store.transact_graph(graph)

        n = 4
        barrier = _CTX.Barrier(n)
        out = _CTX.Queue()
        procs = [
            _CTX.Process(target=_drain_with_executor, args=(tmp, barrier, out))
            for _ in range(n)
        ]
        for p in procs:
            p.start()
        results = [out.get(timeout=300) for _ in procs]
        for p in procs:
            p.join(timeout=120)

        all_won = [jid for won in results for jid in won]
        assert sorted(all_won) == sorted(j.id for j in graph.jobs)  # exactly once
        assert store.jobs_with_status(STATUS_FINISHED) == sorted(
            j.id for j in graph.jobs
        )
        # work actually spread across the pool
        assert sum(1 for won in results if won) >= 2
