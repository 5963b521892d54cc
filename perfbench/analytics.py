"""analytics: catalog entries over the sf0.01 test tables, closed loop.

Every entry writes to a noop sink after ``clearCache()``; the seed only
orders each pass. At this size every entry is
fixed-cost bound (planning, per-job scheduling, Python workers), and the
workload never touches the ANN index or the job store, so it is the
control for changes there.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

from common import geomean, median, now, tail
from gen import TABLES, data_dir
from spark_side import OpRunner, spark_layers, start_session, stop_session

ENTRIES = (
    "q01_scan_count q07_inner_join q14_grouped_agg tpch_q3_shape sessionize "  # relational
    "q31_ready_set dag_topo_levels "  # scheduling
    "text_quality"  # text
).split()
# a run measures at least this many whole passes, whatever --seconds says
MIN_PASSES = 3
# per-layer metrics this workload has no numbers for
NOT_TOUCHED = ("ann_index.", "streaming.", "dag.", "store.", "executor.")


def vhash(pdf) -> str:
    """docs/VERIFY.md section 1 value hash: columns sorted by name, rows
    sorted, floats printed at 6 significant digits."""
    pdf = pdf.rename(columns=str.lower)
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False, float_format="%.6g").encode()).hexdigest()


def has_independent_oracle(spec) -> bool:
    """SQL oracles, not measured ``VALUES`` pins of the entry's own output."""
    return bool(spec.oracle) and not spec.oracle.lstrip().startswith("SELECT * FROM (VALUES")


def oracle_hashes(data: str, names, cache: str) -> dict[str, str]:
    """Expected value hash per entry from DuckDB on the tables in
    ``data``, computed once and cached in the file ``cache``."""
    from overseer_spark.queries.catalog import CATALOG

    checked = [n for n in names if has_independent_oracle(CATALOG[n])]
    if os.path.exists(cache):
        with open(cache) as f:
            out = json.load(f)
        if set(checked) <= set(out):
            return {n: out[n] for n in checked}
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {n: vhash(con.sql(CATALOG[n].oracle).df()) for n in checked}
    finally:
        con.close()
    with open(cache, "w") as f:
        json.dump(out, f)
    return out


def run(ctx) -> dict:
    from overseer_spark.queries.catalog import CATALOG

    data = data_dir(ctx.smoke)
    cache = os.path.join(ctx.cache, f"oracle-{os.path.basename(data)}.json")
    expected = oracle_hashes(data, ENTRIES, cache)
    rng = random.Random(ctx.seed)

    t0 = now()
    spark = start_session(ctx)
    session_s = now() - t0
    problems: list[str] = []
    try:
        op = OpRunner(ctx, spark)
        # warm-up: every entry once, collected and hash-checked (the
        # DuckDB side is cached, so only the Spark call is billed)
        warm_s = 0.0
        wrong = 0
        for name in rng.sample(ENTRIES, len(ENTRIES)):
            spark.catalog.clearCache()
            pdf, dt, _ = op(f"warmup.{name}", lambda: CATALOG[name].fn(spark, data).toPandas())
            warm_s += dt
            if name in expected and vhash(pdf) != expected[name]:
                wrong += 1
                problems.append(f"{name}: value hash differs from the DuckDB oracle")
        op.calls = []
        ctx.tracer.cost = 0.0

        lat: dict[str, list[float]] = {n: [] for n in ENTRIES}
        attempted = failed = 0
        passes = 0
        m0 = now()
        while passes < MIN_PASSES or now() - m0 < ctx.seconds:
            passes += 1
            for name in rng.sample(ENTRIES, len(ENTRIES)):
                spark.catalog.clearCache()
                attempted += 1
                try:
                    _, dt, _ = op(
                        f"entry.{name}",
                        lambda: CATALOG[name].fn(spark, data)
                        .write.format("noop").mode("overwrite").save(),
                    )
                    lat[name].append(dt)
                except Exception as e:  # a failed call is counted, not fatal
                    failed += 1
                    problems.append(f"{name}: {type(e).__name__}")
        wall = now() - m0
        trace_cost = ctx.tracer.cost
        rss = ctx.peak_rss()
    finally:
        stop_session(spark)

    all_ms = [1000.0 * v for vs in lat.values() for v in vs]
    tail_ms, tail_p = tail(all_ms, MIN_PASSES * len(ENTRIES))
    layers = {"session.start_s": session_s, "warmup_s": warm_s}
    layers.update({f"entry_s.{n}": median(v) for n, v in lat.items() if v})
    layers.update(spark_layers(op.calls))
    layers["trace.overhead_frac"] = trace_cost / wall
    return {
        "attempted": attempted,
        "failed": failed + wrong,
        "problems": problems,
        "end_to_end": {
            "setup_s": session_s + warm_s,
            "ops_per_s": (attempted - failed) / wall,
            # each entry's median, entries weighted alike
            "op_p50_ms": geomean(1000.0 * median(v) for v in lat.values() if v),
            "op_tail_ms": tail_ms,
            "peak_rss_mb": rss,
        },
        "layers": layers,
        "detail": {"tail_percentile": tail_p, "calls": len(all_ms), "data": os.path.basename(data),
                   "oracle_checked": sorted(expected)},
    }
