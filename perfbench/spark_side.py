"""Session lifecycle and Spark status-store readings for the Spark
workloads. Everything here touches the engine from outside: the session
comes from ``overseer_spark.session.get_spark`` and per-call Spark
numbers come from the driver's live ``AppStatusStore`` after the call."""

from __future__ import annotations

import os
import subprocess
import time

from common import Tracer, now, union_length


def start_session(ctx):
    """Start the engine's SparkSession on local[nproc]. Spark's Python
    workers get the package root on their path, so the command works
    from any working directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.nproc)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={ctx.tmp}"
    paths = [ctx.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    from overseer_spark.session import configure_for_oracle, get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    configure_for_oracle(spark)
    spark.range(1).count()  # the first job starts the executor threads
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class SparkStatus:
    """Reads the jobs each call ran from the live status store and turns
    them into child spans plus per-call totals. Used only in traced runs."""

    FIELDS = (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "shuffle_read",
        "shuffle_write", "spill", "input_bytes", "input_rows",
        "skew_max_ms", "skew_med_ms", "gap_s", "wall_s",
    )

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.epoch_offset = time.time() - now()
        self.next_job = self._first_unseen_job()

    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Exception:  # NoSuchElementException through py4j
            return None

    def _first_unseen_job(self) -> int:
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)
        top = -1
        for i in range(jobs.size()):
            top = max(top, jobs.apply(i).jobId())
        return top + 1

    def collect(self, parent_span: int | None, wall_s: float) -> dict:
        """Totals over the jobs started since the last call; also records
        one ``spark.job`` span per job under ``parent_span``."""
        t0 = now()
        self.bus.waitUntilEmpty()
        tot = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        while True:
            job = self._job(self.next_job)
            if job is None:
                break
            self.next_job += 1
            tot["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                s = sub.get().getTime() / 1000.0 - self.epoch_offset
                e = comp.get().getTime() / 1000.0 - self.epoch_offset
                intervals.append((s, e))
                self.tracer.add("spark.job", s, e, parent_span, job_id=job.jobId())
            sids = job.stageIds()
            for i in range(sids.size()):
                self._add_stage(sids.apply(i), tot)
        tot["wall_s"] = wall_s
        tot["gap_s"] = max(0.0, wall_s - union_length(intervals))
        self.tracer.cost += now() - t0
        return tot

    def _add_stage(self, stage_id: int, tot: dict) -> None:
        try:
            attempts = self.store.stageData(stage_id, False, None, False, self._no_quantiles)
        except Exception:  # stage evicted or never submitted
            return
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["run_ms"] += st.executorRunTime()
            tot["cpu_ns"] += st.executorCpuTime()
            tot["shuffle_read"] += st.shuffleReadBytes()
            tot["shuffle_write"] += st.shuffleWriteBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["input_bytes"] += st.inputBytes()
            tot["input_rows"] += st.inputRecords()
            summary = self.store.taskSummary(stage_id, st.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                tot["skew_med_ms"] += run.apply(0)
                tot["skew_max_ms"] += run.apply(1)


def spark_layers(calls: list[dict]) -> dict:
    """Per-call means of the status-store totals, plus task skew."""
    n = max(1, len(calls))

    def total(k):
        return sum(c[k] for c in calls)

    return {
        "spark.jobs_per_op": total("jobs") / n,
        "spark.stages_per_op": total("stages") / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.driver_gap_s": total("gap_s") / n,
        "spark.executor_run_s": total("run_ms") / 1000.0 / n,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9 / n,
        "spark.shuffle_read_bytes": total("shuffle_read") / n,
        "spark.shuffle_write_bytes": total("shuffle_write") / n,
        "spark.spill_bytes": total("spill") / n,
        "spark.task_skew": total("skew_max_ms") / max(1.0, total("skew_med_ms")),
        "sources.input_bytes": total("input_bytes") / n,
        "sources.input_rows": total("input_rows") / n,
    }


class OpRunner:
    """Times one call into the engine; in traced runs wraps it in a span
    and reads the call's Spark jobs afterwards."""

    def __init__(self, ctx, spark) -> None:
        self.tracer = ctx.tracer
        self.status = SparkStatus(spark, ctx.tracer) if ctx.tracer.enabled else None
        self.calls: list[dict] = []

    def __call__(self, name: str, fn):
        sid = self.tracer.begin(name)
        t0 = now()
        try:
            result = fn()
        finally:
            dt = now() - t0
            self.tracer.end(sid)
        stats = None
        if self.status is not None:
            stats = self.status.collect(sid, dt)
            stats["name"] = name
            self.calls.append(stats)
        return result, dt, stats
