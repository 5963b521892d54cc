"""Persisted IVF index: exact result parity with the in-memory ivf_topk,
and the scale property that queries physically read only the probed cell
partitions (asserted from the scan's own file listing)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from overseer_spark.operators import ann_index as AI
from overseer_spark.operators.similarity import ivf_topk
from overseer_spark.sources import tables
from tests.conftest import SF_CORRECTNESS

N_CELLS = 16
N_PROBE = 4


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_CORRECTNESS}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index_path(spark, emb):
    d = tempfile.mkdtemp(prefix="ivf_index_")
    AI.build_ivf_index(emb, d, n_cells=N_CELLS)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["sim"], r["rank"]) for r in df.collect()
    )


def test_index_topk_matches_in_memory_ivf(spark, emb, index_path):
    queries = emb.filter(F.col("vec_id") < 10)
    got = _rows(
        AI.ivf_index_topk(spark, index_path, queries, k=3, n_probe=N_PROBE)
    )
    expected = _rows(
        ivf_topk(emb, queries, k=3, n_cells=N_CELLS, n_probe=N_PROBE)
    )
    assert got == expected
    assert len(got) > 0


def test_index_scan_prunes_to_probed_cells(spark, emb, index_path):
    one_query = emb.filter(F.col("vec_id") == 3)
    qcells = AI.probed_cells(spark, index_path, one_query, n_probe=N_PROBE)
    cells = [r["cell"] for r in qcells.select("cell").distinct().collect()]
    assert len(cells) == N_PROBE

    import contextlib
    import io

    pruned = spark.read.parquet(f"{index_path}/vectors").filter(
        F.col("cell").isin(cells)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    # the cell predicate must reach the scan as a PARTITION filter — i.e.
    # directory-level pruning before any bytes are read, not a row filter
    assert "PartitionFilters" in plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf and "IN" in pf.upper()

    # and the pruned read really returns only the probed cells' rows
    full = spark.read.parquet(f"{index_path}/vectors")
    expected = full.filter(F.col("cell").isin(cells)).count()
    assert 0 < pruned.count() == expected < full.count()


def test_index_round_trip_preserves_vectors(spark, emb, index_path):
    back = spark.read.parquet(f"{index_path}/vectors")
    assert back.count() == emb.count()
    assert back.select(F.count_distinct("vec_id")).collect()[0][0] == emb.count()


@pytest.fixture(scope="module")
def lsh_index_path(spark, emb):
    d = tempfile.mkdtemp(prefix="lsh_index_")
    AI.build_lsh_index(emb, d, n_tables=8, n_planes=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lsh_index_topk_matches_in_memory_lsh(spark, emb, lsh_index_path):
    from overseer_spark.operators.similarity import rp_lsh_topk

    queries = emb.filter(F.col("vec_id") < 10)
    got = _rows(AI.lsh_index_topk(spark, lsh_index_path, queries, k=3))
    expected = _rows(rp_lsh_topk(emb, queries, k=3, n_tables=8, n_planes=4))
    assert got == expected
    assert len(got) > 0


def test_lsh_index_scan_prunes_to_query_buckets(spark, emb, lsh_index_path):
    """The query batch's (table, sig) pairs must reach the vector scan as
    PARTITION filters — directory pruning before any bytes are read —
    and the pruned read must return exactly those buckets' rows."""
    import contextlib
    import io

    from overseer_spark.operators.similarity import rp_signatures

    one_query = emb.filter(F.col("vec_id") == 3)
    planes_df = spark.read.parquet(f"{lsh_index_path}/planes")
    qsig = rp_signatures(one_query, F.broadcast(planes_df), out_id="query_id")
    buckets = [
        (r["table"], r["sig"])
        for r in qsig.select("table", "sig").distinct().collect()
    ]
    assert len(buckets) == 8  # one bucket per table

    pred = AI.bucket_predicate(buckets)
    pruned = spark.read.parquet(f"{lsh_index_path}/vectors").filter(pred)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "table" in pf and "sig" in pf

    full = spark.read.parquet(f"{lsh_index_path}/vectors")
    expected = full.filter(pred).count()
    assert 0 < pruned.count() == expected < full.count()


def test_lsh_index_topk_empty_query_batch(spark, emb, lsh_index_path):
    """An empty query batch must return an empty frame with the normal
    schema (the pre-fix OR-chain left pred=None and filter(None) raised)."""
    queries = emb.filter(F.col("vec_id") < 0)
    out = AI.lsh_index_topk(spark, lsh_index_path, queries, k=3)
    assert out.columns == ["query_id", "vec_id", "sim", "rank"]
    assert out.count() == 0


def test_bucket_predicate_stays_flat_for_large_batches(spark):
    """A 1000-query × 8-table probe set must compile to ONE InSet node,
    not a 8000-disjunct OR-chain — expression tree depth is O(1) in the
    batch size, so Catalyst analysis survives production batches."""
    buckets = [(t, s) for t in range(8) for s in range(1000)]
    pred = AI.bucket_predicate(buckets)
    df = spark.createDataFrame(
        [(0, 0), (3, 500), (7, 2000)], "table int, sig int"
    ).filter(pred)
    # flat IN/INSET, not nested ORs
    expr = df._jdf.queryExecution().optimizedPlan().toString()
    assert " OR " not in expr and "||" not in expr
    assert df.count() == 2  # (7, 2000) is outside the probed set

    # and the empty probe set is a constant-false filter, not a crash
    empty = spark.range(3).withColumn("table", F.lit(1)).withColumn(
        "sig", F.lit(1)
    ).filter(AI.bucket_predicate([]))
    assert empty.count() == 0


@pytest.fixture(scope="module")
def ivfpq_index_path(spark, emb):
    d = tempfile.mkdtemp(prefix="ivfpq_index_")
    AI.build_ivfpq_index(emb, d, n_cells=16, m=8, ks=16)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_ivfpq_index_matches_in_memory_composite(spark, emb, ivfpq_index_path):
    """The persisted IVF-PQ index must be bit-identical to the in-memory
    composite: seeded codebooks survive the exact-double parquet round
    trip and the ADC ranking reproduces."""
    from overseer_spark.operators.similarity import ivfpq_topk, pq_codebooks

    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r)
        for r in AI.ivfpq_index_topk(
            spark, ivfpq_index_path, queries, k=10, n_probe=4
        ).collect()
    )
    books = pq_codebooks(emb, m=8, ks=16)
    want = sorted(
        tuple(r)
        for r in ivfpq_topk(
            emb, queries, books, k=10, n_cells=16, n_probe=4
        ).collect()
    )
    assert got == want and len(got) == 50


def test_ivfpq_index_scan_prunes_to_probed_cells(spark, emb, ivfpq_index_path):
    """The probed cell set must reach the code scan as a PARTITION filter
    (directory pruning before any bytes are read)."""
    import contextlib
    import io

    one_query = emb.filter(F.col("vec_id") == 3)
    qcells = AI.probed_cells(spark, ivfpq_index_path, one_query, n_probe=4)
    cells = [r["cell"] for r in qcells.select("cell").distinct().collect()]
    assert len(cells) == 4
    pruned = spark.read.parquet(f"{ivfpq_index_path}/codes").filter(
        F.col("cell").isin(cells)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf and "IN" in pf.upper()
    full = spark.read.parquet(f"{ivfpq_index_path}/codes")
    assert 0 < pruned.count() < full.count()


def test_ivfpq_index_empty_query_batch(spark, emb, ivfpq_index_path):
    out = AI.ivfpq_index_topk(
        spark, ivfpq_index_path, emb.filter(F.col("vec_id") < 0), k=3
    )
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Persisted graph-ANN index (round 10, VERDICT r9 ask #1) + hub-tree
# degree cap (ask #2)
# ---------------------------------------------------------------------------

GRAPH_PROBE = 3
GRAPH_EDGE_K = 12
GRAPH_HUB_CAP = 64


@pytest.fixture(scope="module")
def graph_build(spark, emb):
    import math

    from overseer_spark.operators.graph import serving_knn_graph
    from overseer_spark.operators.util import eager_cache

    n_cells = max(16, math.isqrt(emb.count()))
    qv, edges, cells = serving_knn_graph(
        emb, n_cells=n_cells, n_probe=GRAPH_PROBE,
        edge_k=GRAPH_EDGE_K, salt_buckets=4, hub_cap=GRAPH_HUB_CAP,
    )
    qv, edges, cells = eager_cache(qv), eager_cache(edges), eager_cache(cells)
    yield qv, edges, cells
    for df in (qv, edges, cells):
        df.unpersist()


@pytest.fixture(scope="module")
def graph_index_path(spark, emb, graph_build):
    from overseer_spark.operators.graph import hub_reach_depth

    qv, edges, cells = graph_build
    entries = cells.groupBy("cell").agg(F.min("vec_id").alias("node"))
    d = tempfile.mkdtemp(prefix="graph_index_")
    AI.build_graph_index(
        emb, d, prebuilt=(qv, edges, entries),
        tree_depth=hub_reach_depth(cells, GRAPH_HUB_CAP),
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_graph_index_matches_in_memory_beam(spark, graph_build, graph_index_path):
    """Beam output served from the persisted index is BIT-IDENTICAL to
    serving the in-memory build: integer-quantized vectors and long edge
    ids survive the parquet round trip exactly (the property that lets
    ann_graph_index_topk share ann_graph_topk's VALUES pin)."""
    from overseer_spark.operators.graph import graph_beam_topk

    qv, edges, cells = graph_build
    entries = cells.groupBy("cell").agg(F.min("vec_id").alias("node"))
    queries = qv.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    mem = graph_beam_topk(qv, edges, queries, entries,
                          entry_top=6, hops=4, beam=24, k=10)
    idx = AI.graph_index_topk(spark, graph_index_path, query_ids=range(5),
                              entry_top=6, hops=4, beam=24, k=10)
    key = lambda df: sorted(
        (r["query_id"], r["vec_id"], r["sim_q"], r["rank"]) for r in df.collect()
    )
    assert key(mem) == key(idx)
    # hops=None derives tree_depth + fine_hops from the persisted meta
    # row; at this fixture's cell sizes that is 2 + 2 = the explicit 4,
    # so the derived budget serves the identical result
    meta = spark.read.parquet(f"{graph_index_path}/meta").first()
    assert (meta["hub_cap"], meta["tree_depth"]) == (GRAPH_HUB_CAP, 2)
    derived = AI.graph_index_topk(spark, graph_index_path, query_ids=range(5),
                                  entry_top=6, beam=24, k=10)
    assert key(derived) == key(idx)


def test_hub_tree_out_degree_is_capped(graph_build):
    """The serving edge set's max out-degree obeys the documented bound
    edge_k + n_probe*(hub_cap+1) — the round-10 fix for the single-hub
    star whose spoke count grew as sqrt(n)*n_probe (VERDICT r9 "what's
    wrong" #2). Measured flat across the scale ladder: 178 (sf0.01) /
    195 (sf0.1) / 207 (10x fixture) — per-hop beam candidates are
    therefore bounded by beam*207 at ANY corpus size."""
    _, edges, _ = graph_build
    max_deg = (
        edges.groupBy("src").count().agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert max_deg <= GRAPH_EDGE_K + GRAPH_PROBE * (GRAPH_HUB_CAP + 1), max_deg


def test_hub_tree_structure_tiny_fixture(spark):
    """hub_tree_edges on a hand-built cell: cap-ary tree in id order —
    root is the min id, no node exceeds hub_cap children, every member
    is reachable from the root, and both directions of each link exist."""
    from overseer_spark.operators.graph import hub_tree_edges

    cells = spark.createDataFrame(
        [(0, i) for i in range(10, 21)], "cell int, vec_id long"
    )
    edges = hub_tree_edges(cells, hub_cap=3).collect()
    fwd = {(r["src"], r["dst"]) for r in edges}
    assert all((b, a) in fwd for a, b in fwd)  # symmetric
    # parent of position r (1-based ids 10..20, pos 0..10) is (r-1)//3
    members = list(range(10, 21))
    want = set()
    for pos in range(1, 11):
        parent = members[(pos - 1) // 3]
        want |= {(parent, members[pos]), (members[pos], parent)}
    assert fwd == want
    # no node has more than hub_cap children
    from collections import Counter

    kids = Counter(a for a, b in fwd if a < b)  # parent side of each link
    assert max(kids.values()) <= 3
    # BFS from the root reaches everyone
    seen, frontier = {10}, {10}
    while frontier:
        nxt = {b for a, b in fwd if a in frontier} - seen
        seen |= nxt
        frontier = nxt
    assert seen == set(members)


# ---------------------------------------------------------------------------
# IVF index maintenance: compaction after sustained appends (round 10,
# VERDICT r9 ask #5)
# ---------------------------------------------------------------------------

def _files_per_cell(path):
    import collections
    import os

    counts = collections.Counter()
    for d in os.listdir(f"{path}/vectors"):
        if d.startswith("cell="):
            counts[d] = sum(
                1
                for f in os.listdir(f"{path}/vectors/{d}")
                if f.endswith(".parquet")
            )
    return counts


@pytest.mark.slow
def test_compact_after_appends_restores_one_file_per_cell(spark, emb):
    """K appends -> files-per-cell > 1; compact -> exactly 1 file per
    cell directory and a bit-identical probe result (the done-criteria
    of VERDICT r9 ask #5)."""
    d = tempfile.mkdtemp(prefix="ivf_compact_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 300), d, n_cells=N_CELLS)
        for lo, hi in ((200, 300), (100, 200), (10, 100)):
            AI.append_to_ivf_index(
                emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), d
            )
        before = _files_per_cell(d)
        assert max(before.values()) > 1, before  # appends fragmented the cells
        queries = emb.filter(F.col("vec_id") < 10)
        probe_before = _rows(
            AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
            .localCheckpoint()
        )
        plan = AI.compact_ivf_index(spark, d)
        assert plan["n_files"] == sum(before.values())
        after = _files_per_cell(d)
        assert set(after) == set(before)
        assert all(v == 1 for v in after.values()), after
        probe_after = _rows(
            AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
        )
        assert probe_before == probe_after
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_delete_then_compact_lifecycle(spark, emb):
    """Full index lifecycle: build -> append -> DELETE -> probe excludes
    tombstoned ids -> compact folds the deletions in (merge-on-compact)
    and clears the tombstones -> probe identical to the pre-compact
    post-delete probe, files back to 1 per cell."""
    import os

    d = tempfile.mkdtemp(prefix="ivf_delete_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 100), d, n_cells=N_CELLS)
        AI.append_to_ivf_index(
            emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 100)), d
        )
        queries = emb.filter(F.col("vec_id") < 10)
        base = AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
        victims = sorted({r["vec_id"] for r in base.filter(
            F.col("rank") == 1).collect()})
        assert victims
        AI.delete_from_ivf_index(spark, d, victims)
        after_del = _rows(
            AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
            .localCheckpoint()
        )
        got_ids = {v for (_, v, _, _) in after_del}
        assert not (got_ids & set(victims))  # tombstoned ids never surface
        # deleting ABSENT ids is a no-op append, not an error
        AI.delete_from_ivf_index(spark, d, [10**9])
        plan = AI.compact_ivf_index(spark, d)
        assert plan["n_files"] > 0
        assert not os.path.isdir(f"{d}/tombstones")  # cleared by the fold
        after_compact = _rows(
            AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
        )
        assert after_compact == after_del
        assert all(v == 1 for v in _files_per_cell(d).values())
        # the deleted rows are physically gone, not just filtered
        remaining = {
            r["vec_id"]
            for r in spark.read.parquet(f"{d}/vectors").select("vec_id").collect()
        }
        assert not (remaining & set(victims))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_delete_during_compact_survives(spark, emb, monkeypatch):
    """ADVICE r10 (medium): a delete appended WHILE a compaction is
    rewriting must keep masking afterwards — compact clears exactly the
    tombstone files it snapshotted before the rewrite, never the whole
    directory."""
    from overseer_spark.sources import maintenance as M

    d = tempfile.mkdtemp(prefix="ivf_race_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 10), d, n_cells=N_CELLS)
        queries = emb.filter(F.col("vec_id") < 10)
        base = AI.ivf_index_topk(spark, d, queries, k=3, n_probe=N_PROBE)
        pre, late = sorted({
            r["vec_id"] for r in base.filter(F.col("rank") <= 2).collect()
        })[:2]
        AI.delete_from_ivf_index(spark, d, [pre])  # folded by the compact

        real = M.compact_partitioned

        def racing(spark_, src, dst, cols, df=None):
            # a concurrent delete lands mid-rewrite, AFTER the snapshot
            AI.delete_from_ivf_index(spark_, d, [late])
            return real(spark_, src, dst, cols, df=df)

        monkeypatch.setattr(M, "compact_partitioned", racing)
        AI.compact_ivf_index(spark, d)
        monkeypatch.undo()
        got = {
            r["vec_id"]
            for r in AI.ivf_index_topk(
                spark, d, queries, k=3, n_probe=N_PROBE
            ).collect()
        }
        assert pre not in got  # folded physically
        assert late not in got  # still tombstone-masked, NOT resurrected
        # the late tombstone file survived the cleanup
        assert AI._tombstones(spark, d, "vec_id").count() == 1
        # a second compact (no race) folds it and clears the directory
        AI.compact_ivf_index(spark, d)
        assert AI._tombstones(spark, d, "vec_id") is None
        remaining = {
            r["vec_id"]
            for r in spark.read.parquet(f"{d}/vectors").select("vec_id").collect()
        }
        assert late not in remaining
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_delete_accepts_any_single_column_name(spark, emb):
    """ADVICE r10: a 1-column ids DataFrame is renamed to id_col on the
    way in, whatever its column is called."""
    d = tempfile.mkdtemp(prefix="ivf_dfids_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 10), d, n_cells=N_CELLS)
        ids = spark.createDataFrame([(17,), (23,)], "some_other_name long")
        AI.delete_from_ivf_index(spark, d, ids)
        tomb = AI._tombstones(spark, d, "vec_id")
        assert tomb.columns == ["vec_id"]
        assert {r["vec_id"] for r in tomb.collect()} == {17, 23}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_graph_index_insert_delete_compact(spark, emb):
    """Graph-index lifecycle parity with IVF (VERDICT r10 ask #3):
    build -> DiskANN-style insert (beam-search placement + bidirectional
    links) -> tombstone delete (masked at serve, still a waypoint) ->
    compact (physical removal + neighborhood bridging + entry
    replacement). Fresh-build equivalence is recall-pinned, not
    bit-pinned: insert/bridge edge sets legitimately differ from a
    from-scratch kNN build."""
    from overseer_spark.operators.graph import quantized_vectors
    from overseer_spark.operators.similarity import cosine_topk

    base = emb.filter(F.col("vec_id") >= 10)
    new = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    queries_raw = emb.filter(F.col("vec_id") < 5)
    d = tempfile.mkdtemp(prefix="graph_lifecycle_")
    try:
        AI.build_graph_index(base, d, n_cells=21, n_probe=3, edge_k=12)
        AI.insert_into_graph_index(spark, d, new)

        # each inserted vector is immediately discoverable: querying
        # with its own embedding (as an ooc query id) returns the
        # inserted node at rank 1 (self-dot is the max integer sim)
        self_q = quantized_vectors(new).select(
            (F.col("vec_id") + 1000).alias("query_id"), F.col("q").alias("qv")
        )
        r1 = {
            r["query_id"] - 1000: r["vec_id"]
            for r in AI.graph_index_topk(
                spark, d, queries=self_q, entry_top=12, beam=48, k=3,
                fine_hops=4,
            ).filter(F.col("rank") == 1).collect()
        }
        assert r1 == {i: i for i in range(5, 10)}, r1

        # recall floor for ooc queries over the grown corpus
        def serve(k=10):
            q = quantized_vectors(queries_raw).select(
                F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
            )
            return AI.graph_index_topk(
                spark, d, queries=q, entry_top=12, beam=48, k=k, fine_hops=3
            )

        truth = cosine_topk(base.unionByName(new), queries_raw, k=10)
        t = {(r["query_id"], r["vec_id"]) for r in truth.collect()}
        a = {(r["query_id"], r["vec_id"]) for r in serve().collect()}
        assert len(a & t) / len(t) >= 0.9, len(a & t) / len(t)

        # delete two served ids plus one ENTRY node (forces replacement)
        served = serve(k=3).filter(F.col("rank") == 1).collect()
        victims = sorted({r["vec_id"] for r in served})[:2]
        entry0 = spark.read.parquet(f"{d}/entries").agg(
            F.min("node")
        ).first()[0]
        victims = sorted(set(victims) | {int(entry0)})
        AI.delete_from_graph_index(spark, d, victims)
        post_del = serve().collect()
        assert not ({r["vec_id"] for r in post_del} & set(victims))
        # top-k stays dense: exclusion happens before the final rank
        from collections import Counter

        per_q = Counter(r["query_id"] for r in post_del)
        assert all(v == 10 for v in per_q.values()), per_q

        stats = AI.compact_graph_index(spark, d)
        assert stats["n_deleted"] == len(victims)
        assert stats["n_bridge_edges"] > 0
        assert AI._tombstones(spark, d, "vec_id") is None
        kept_ids = {
            r["vec_id"]
            for r in spark.read.parquet(f"{d}/qv").select("vec_id").collect()
        }
        assert not (kept_ids & set(victims))  # physically gone
        e = spark.read.parquet(f"{d}/edges")
        assert e.filter(
            F.col("src").isin(victims) | F.col("dst").isin(victims)
        ).count() == 0
        ents = {
            r["node"]
            for r in spark.read.parquet(f"{d}/entries").collect()
        }
        assert entry0 not in ents and ents  # replaced, not just dropped
        assert ents <= kept_ids
        # recall floor survives the consolidation
        t2 = {
            (r["query_id"], r["vec_id"])
            for r in cosine_topk(
                base.unionByName(new).filter(~F.col("vec_id").isin(victims)),
                queries_raw, k=10,
            ).collect()
        }
        a2 = {(r["query_id"], r["vec_id"]) for r in serve().collect()}
        assert len(a2 & t2) / len(t2) >= 0.9, len(a2 & t2) / len(t2)
        # compacting with no tombstones is a cheap no-op
        assert AI.compact_graph_index(spark, d) == {
            "n_deleted": 0, "n_bridge_edges": 0,
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_upsert_last_writer_wins(spark, emb):
    """Upsert completes the IVF lifecycle: re-writing an existing id with
    a NEW embedding moves it to its new cell, probes see exactly the new
    vector (never the old), absent ids degrade to plain appends, and
    only the affected cell directories were rewritten."""
    d = tempfile.mkdtemp(prefix="ivf_upsert_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 10), d, n_cells=N_CELLS)
        files_before = _files_per_cell(d)
        # upsert ids 100-102 with the embeddings of vectors 5-7, plus a
        # brand-new id 9001 (absent -> plain append)
        donor = emb.filter(
            (F.col("vec_id") >= 5) & (F.col("vec_id") < 8)
        ).select((F.col("vec_id") + 95).alias("vec_id"), "embedding")
        new = emb.filter(F.col("vec_id") == 8).select(
            F.lit(9001).cast("long").alias("vec_id"), "embedding"
        )
        stats = AI.upsert_into_ivf_index(spark, d, donor.unionByName(new))
        assert stats["n_rewritten_cells"] >= 1
        back = spark.read.parquet(f"{d}/vectors")
        # last-writer-wins: exactly one row per upserted id, carrying the
        # donor embedding (compare via the exact float list)
        got = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in back.filter(F.col("vec_id").isin([100, 101, 102, 9001]))
            .collect()
        }
        want = {
            r["vec_id"] + 95: [float(x) for x in r["embedding"]]
            for r in emb.filter(
                (F.col("vec_id") >= 5) & (F.col("vec_id") < 8)
            ).collect()
        }
        want[9001] = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 8).first()["embedding"]
        ]
        assert got == want
        assert back.count() == emb.filter(F.col("vec_id") >= 10).count() + 1
        # probing with the donor vector of id 100 now finds id 100 at
        # rank 1 (it IS that vector)
        q = emb.filter(F.col("vec_id") == 5).select(
            F.lit(77777).cast("long").alias("vec_id"), "embedding"
        )
        top = AI.ivf_index_topk(spark, d, q, k=1).first()
        assert top["vec_id"] == 100
        # untouched cells kept their original single file
        files_after = _files_per_cell(d)
        unchanged = [
            c for c in files_before
            if files_before[c] == files_after.get(c)
        ]
        assert unchanged  # most cells were not rewritten
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_upsert_crash_before_tombstone_drop_keeps_ids_masked(
    spark, emb, monkeypatch
):
    """ADVICE r11 (medium): upsert's tombstone drop (resurrection) runs
    LAST. A flow that dies after the cell rewrite but before the append
    must leave the batch's ids still tombstone-masked — the old ordering
    cleared tombstones FIRST, opening a crash window where a probe
    served the stale, supposedly-deleted vector. Re-running the upsert
    then completes it."""
    d = tempfile.mkdtemp(prefix="ivf_upsert_crash_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 10), d, n_cells=N_CELLS)
        AI.delete_from_ivf_index(spark, d, [17])
        new_vec = emb.filter(F.col("vec_id") == 5).select(
            F.lit(17).cast("long").alias("vec_id"), "embedding"
        )

        def boom(*a, **kw):
            raise RuntimeError("injected crash before append")

        monkeypatch.setattr(AI, "append_to_ivf_index", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            AI.upsert_into_ivf_index(spark, d, new_vec)
        monkeypatch.undo()
        # the id is STILL masked: tombstone intact, probes never serve it
        tomb = AI._tombstones(spark, d, "vec_id")
        assert tomb is not None and {r[0] for r in tomb.collect()} == {17}
        q = emb.filter(F.col("vec_id") < 5)
        served = {
            r["vec_id"]
            for r in AI.ivf_index_topk(spark, d, q, k=10, n_probe=N_PROBE)
            .collect()
        }
        assert 17 not in served
        # re-running the upsert completes: new row visible, tombstone gone
        AI.upsert_into_ivf_index(spark, d, new_vec)
        assert AI._tombstones(spark, d, "vec_id") is None
        back = spark.read.parquet(f"{d}/vectors").filter(F.col("vec_id") == 17)
        assert back.count() == 1
        want = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 5).first()["embedding"]
        ]
        assert [float(x) for x in back.first()["embedding"]] == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_graph_insert_normalizes_caller_id_column(spark, emb):
    """ADVICE r11: insert_into_graph_index with a non-default id_col must
    append under the index's FIXED (vec_id, q) schema — not the caller's
    column name, which would accumulate a divergent schema in {path}/qv
    and blind the physical-clash check."""
    d = tempfile.mkdtemp(prefix="graph_idcol_")
    try:
        AI.build_graph_index(
            emb.filter(F.col("vec_id") >= 400), d, n_cells=4, n_probe=2,
            edge_k=6,
        )
        batch = emb.filter(
            (F.col("vec_id") >= 5) & (F.col("vec_id") < 8)
        ).select(F.col("vec_id").alias("item_id"), "embedding")
        AI.insert_into_graph_index(spark, d, batch, id_col="item_id")
        qv = spark.read.parquet(f"{d}/qv")
        assert sorted(qv.columns) == ["q", "vec_id"]  # one schema, no nulls
        assert qv.filter(F.col("vec_id").isNull()).count() == 0
        assert qv.filter(F.col("vec_id").isin([5, 6, 7])).count() == 3
        # the clash check sees the normalized ids on a re-insert
        with pytest.raises(ValueError, match="already have"):
            AI.insert_into_graph_index(spark, d, batch, id_col="item_id")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hard_negatives_topk_recall_floor(spark, emb, index_path):
    """hard_negatives_topk (VERDICT r11 ask #3): the ANN-shortlist
    hard-negative pass must (a) never emit a positive or the anchor
    itself, (b) keep per-anchor output dense at k, and (c) overlap the
    exact top-5 negative set at >= 0.9 on this fixture (measured 0.928;
    the ladder rows live in SCALING.md — 0.960 at sf0.1, 0.896 at 10x,
    flat across 2.5 decades)."""
    from pyspark.sql import Window

    from overseer_spark.functions.vectors import cosine_similarity

    qa = emb.filter(F.col("vec_id") < 25)
    positives = (
        qa.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        )
        .join(
            emb.select(F.col("vec_id").alias("pos_id"), "label"),
            F.col("qlabel") == F.col("label"),
        )
        .select("query_id", "pos_id")
    )
    got = AI.hard_negatives_topk(
        spark, index_path, qa.select("vec_id", "embedding"), positives,
        k=5, overfetch=50, n_probe=8,
    ).collect()
    # dense at k, no anchor, no positive
    from collections import Counter

    per_q = Counter(r["query_id"] for r in got)
    assert all(v == 5 for v in per_q.values()) and len(per_q) == 25, per_q
    pos_set = {(r["query_id"], r["pos_id"]) for r in positives.collect()}
    for r in got:
        assert r["vec_id"] != r["query_id"]
        assert (r["query_id"], r["vec_id"]) not in pos_set
    # exact truth overlap
    q = qa.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    s = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("qlabel"))
        )
        .select(
            "query_id", "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qv")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "vec_id")
    truth = {
        (r["query_id"], r["vec_id"])
        for r in s.withColumn("r", F.row_number().over(w))
        .filter("r <= 5")
        .collect()
    }
    hits = {(r["query_id"], r["vec_id"]) for r in got} & truth
    assert len(hits) / len(truth) >= 0.9, len(hits) / len(truth)


def test_compact_graph_entry_fallback_and_total_delete_refusal(spark):
    """ADVICE r11: a compaction that would leave ZERO entry nodes (every
    entry tombstoned with no surviving out-neighbor) falls back to the
    minimum surviving qv id — an empty entries frame writes no parquet
    part files and leaves the index unservable. Deleting EVERY vector is
    refused with a clear error instead of producing that state."""
    d = tempfile.mkdtemp(prefix="graph_empty_entries_")
    try:
        qv = spark.createDataFrame(
            [(1, [10, 0]), (2, [0, 10]), (3, [7, 7])],
            "vec_id long, q array<long>",
        )
        qv.write.parquet(f"{d}/qv")
        spark.createDataFrame(
            [(1, 2), (2, 1)], "src long, dst long"
        ).write.parquet(f"{d}/edges")
        spark.createDataFrame([(1,)], "node long").write.parquet(f"{d}/entries")
        spark.createDataFrame(
            [(64, 1)], "hub_cap int, tree_depth int"
        ).write.parquet(f"{d}/meta")
        # entry node 1 and its only neighbor 2 both die -> no bridge
        # partner survives; node 3 (isolated) must become the entry
        AI.delete_from_graph_index(spark, d, [1, 2])
        AI.compact_graph_index(spark, d)
        ents = [r["node"] for r in spark.read.parquet(f"{d}/entries").collect()]
        assert ents == [3]
        got = AI.graph_index_topk(
            spark, d,
            queries=spark.createDataFrame(
                [(999, [5, 5])], "query_id long, qv array<long>"
            ),
            entry_top=2, beam=4, k=2,
        ).collect()
        assert [r["vec_id"] for r in got] == [3]  # index still servable
        # deleting the last survivor: refuse, don't write an empty index
        AI.delete_from_graph_index(spark, d, [3])
        with pytest.raises(ValueError, match="every vector"):
            AI.compact_graph_index(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_ivf_lifecycle_random_sequence_content_parity(spark, emb):
    """Seeded random interleaving of append / delete / upsert / compact
    against a pure-Python content model: after every sequence the index's
    VISIBLE content (surviving rows minus tombstones) equals the model
    exactly — ids and embeddings. Catches cross-op interactions the
    single-op tests can't: delete→upsert must RESURRECT the id (a stale
    tombstone would mask the new row), compact must fold exactly the
    snapshot, upsert must not disturb unrelated cells."""
    import random

    rng = random.Random(7)
    base = emb.filter(F.col("vec_id") >= 100)
    spares = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 100).collect()
    ]
    model = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in base.collect()
    }
    d = tempfile.mkdtemp(prefix="ivf_seq_")

    def mkdf(rows):
        return spark.createDataFrame(
            [(i, v) for i, v in rows], "vec_id long, embedding array<float>"
        )

    try:
        AI.build_ivf_index(base, d, n_cells=N_CELLS)
        next_id = 10_000
        for _ in range(12):
            op = rng.choice(["append", "delete", "upsert", "compact"])
            if op == "append":
                rows = []
                for _ in range(2):
                    _, v = rng.choice(spares)
                    rows.append((next_id, v))
                    model[next_id] = v
                    next_id += 1
                AI.append_to_ivf_index(mkdf(rows), d)
            elif op == "delete" and model:
                victims = rng.sample(sorted(model), k=min(2, len(model)))
                AI.delete_from_ivf_index(spark, d, victims)
                for i in victims:
                    del model[i]
            elif op == "upsert":
                rows = []
                # one existing id re-pointed, one previously-DELETED id
                # resurrected when available, one brand-new id
                if model:
                    tgt = rng.choice(sorted(model))
                    _, v = rng.choice(spares)
                    rows.append((tgt, v))
                    model[tgt] = v
                tomb = AI._tombstones(spark, d, "vec_id")
                if tomb is not None:
                    dead = sorted(r["vec_id"] for r in tomb.collect())
                    if dead:
                        back = rng.choice(dead)
                        _, v = rng.choice(spares)
                        rows.append((back, v))
                        model[back] = v
                rows.append((next_id, rng.choice(spares)[1]))
                model[next_id] = rows[-1][1]
                next_id += 1
                AI.upsert_into_ivf_index(spark, d, mkdf(rows))
            else:
                AI.compact_ivf_index(spark, d)
            # visible content == model (ids AND embeddings, exact floats)
            vis = spark.read.parquet(f"{d}/vectors")
            tomb = AI._tombstones(spark, d, "vec_id")
            if tomb is not None:
                vis = vis.join(tomb, "vec_id", "left_anti")
            got = {
                int(r["vec_id"]): [float(x) for x in r["embedding"]]
                for r in vis.collect()
            }
            assert got == model, f"content diverged after {op}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_graph_lifecycle_random_sequence_content_parity(spark, emb):
    """Seeded random interleaving of insert / delete / compact on the
    GRAPH index vs a pure-Python id-set model: the servable node set
    (qv minus tombstones) tracks the model after every step; a
    physically-present id is refused by insert; delete → compact →
    re-insert of the SAME id resurrects it (stale no-op tombstones
    cleared); post-compact, no edge touches a deleted node."""
    import random

    from overseer_spark.operators.graph import quantized_vectors

    rng = random.Random(11)
    base = emb.filter(F.col("vec_id") >= 100)
    spare_vecs = {
        int(r["vec_id"]): r
        for r in emb.filter(F.col("vec_id") < 100).collect()
    }
    live = {int(r["vec_id"]) for r in base.select("vec_id").collect()}
    physically_present = set(live)
    deleted_ever = []
    d = tempfile.mkdtemp(prefix="graph_seq_")

    def mkbatch(ids):
        rows = [
            (i, list(spare_vecs[rng.randrange(0, 100) % len(spare_vecs)]
                     ["embedding"]))
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    try:
        AI.build_graph_index(base, d, n_cells=21, n_probe=3, edge_k=12)
        next_id = 20_000
        for step in range(8):
            op = rng.choice(["insert", "delete", "compact", "reinsert"])
            if op == "insert":
                ids = [next_id, next_id + 1]
                next_id += 2
                AI.insert_into_graph_index(spark, d, mkbatch(ids))
                live.update(ids)
                physically_present.update(ids)
            elif op == "delete" and live:
                victims = rng.sample(sorted(live), k=min(2, len(live)))
                AI.delete_from_graph_index(spark, d, victims)
                live.difference_update(victims)
                deleted_ever.extend(victims)
            elif op == "reinsert":
                # physically-present id (live or tombstoned) must be refused
                tgt = rng.choice(sorted(physically_present))
                with pytest.raises(ValueError, match="physical rows"):
                    AI.insert_into_graph_index(spark, d, mkbatch([tgt]))
                # a compacted-away id CAN come back (resurrection path)
                gone = [i for i in deleted_ever if i not in physically_present]
                if gone:
                    back = gone[0]
                    AI.delete_from_graph_index(spark, d, [back])  # stale no-op
                    AI.insert_into_graph_index(spark, d, mkbatch([back]))
                    live.add(back)
                    physically_present.add(back)
                    deleted_ever.remove(back)
            else:
                AI.compact_graph_index(spark, d)
                physically_present = set(live)
            qv_ids = {
                int(r["vec_id"])
                for r in spark.read.parquet(f"{d}/qv").select("vec_id").collect()
            }
            assert qv_ids == physically_present, f"qv diverged after {op}"
            tomb = AI._tombstones(spark, d, "vec_id")
            masked = (
                set()
                if tomb is None
                else {int(r["vec_id"]) for r in tomb.collect()}
            )
            assert qv_ids - masked == live, f"servable set diverged after {op}"
            if op == "compact":
                e = spark.read.parquet(f"{d}/edges")
                deadset = sorted(set(deleted_ever) - physically_present)
                if deadset:
                    assert e.filter(
                        F.col("src").isin(deadset) | F.col("dst").isin(deadset)
                    ).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- index-part memo freshness: the memo is keyed by the files on disk,
# so a rewrite by any writer is served fresh with no eviction call


def _empty_index_parts():
    with tables._DIR_MEMO_LOCK:
        tables._DIR_MEMO.clear()


def _probe(spark, emb, path):
    return _rows(
        AI.ivf_index_topk(
            spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probe=N_PROBE
        )
    )


def _copy(src, prefix):
    d = tempfile.mkdtemp(prefix=prefix)
    shutil.rmtree(d)
    shutil.copytree(src, d)
    return d


def test_centroids_rewritten_by_another_writer_are_served_fresh(
    spark, emb, index_path
):
    """{path}/centroids rewritten by a plain DataFrame write that calls no
    package hook is what the next probe serves. The files are written
    elsewhere and moved in, as another process's write looks to this
    session (a write through this session would also refresh Spark's
    cached plans that read the path)."""
    d = _copy(index_path, "ivf_fresh_centroids_")
    side = tempfile.mkdtemp(prefix="ivf_rotated_centroids_")
    try:
        before = _probe(spark, emb, d)  # memoizes the centroids
        cents = spark.read.parquet(f"{d}/centroids")
        rows = sorted(cents.collect(), key=lambda r: r["cell"])
        rotated = [
            (r["cell"], rows[(i + 1) % len(rows)]["embedding"])
            for i, r in enumerate(rows)
        ]
        spark.createDataFrame(rotated, cents.schema).write.mode(
            "overwrite"
        ).parquet(side)
        shutil.rmtree(f"{d}/centroids")
        shutil.copytree(side, f"{d}/centroids")
        got = _probe(spark, emb, d)
        assert got != before  # the rotation changed the probed cells
        _empty_index_parts()
        assert got == _probe(spark, emb, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(side, ignore_errors=True)


def test_graph_meta_rewritten_by_another_writer_is_served_fresh(
    spark, emb, graph_index_path
):
    """Rewriting a default-layout graph index's meta row with
    edges_buckets set makes the index a bucketed serving replica: the
    maintenance calls must refuse it at once, not act on a stale row."""
    d = _copy(graph_index_path, "graph_fresh_meta_")
    try:
        # no tombstones: a no-op compaction that memoizes the meta row
        assert AI.compact_graph_index(spark, d) == {
            "n_deleted": 0, "n_bridge_edges": 0,
        }
        meta = spark.read.parquet(f"{d}/meta").first()
        spark.createDataFrame(
            [(meta["hub_cap"], meta["tree_depth"], 32)],
            "hub_cap int, tree_depth int, edges_buckets int",
        ).write.mode("overwrite").parquet(f"{d}/meta")
        batch = emb.filter(F.col("vec_id") == 0).select(
            F.lit(100000).cast("long").alias("vec_id"), "embedding"
        )
        with pytest.raises(ValueError, match="bucketed serving layout"):
            AI.insert_into_graph_index(spark, d, batch)
        with pytest.raises(ValueError, match="bucketed serving layout"):
            AI.compact_graph_index(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_index_replaced_at_same_path_is_served_fresh(spark, emb):
    """rmtree an index, then put an index over a different corpus at the
    same path (built elsewhere and copied in, as another process would):
    probes serve the new index."""
    d = tempfile.mkdtemp(prefix="ivf_replaced_")
    other = tempfile.mkdtemp(prefix="ivf_replacement_")
    try:
        AI.build_ivf_index(emb.filter(F.col("vec_id") >= 250), d, n_cells=N_CELLS)
        first = _probe(spark, emb, d)
        shutil.rmtree(d)
        AI.build_ivf_index(emb.filter(F.col("vec_id") < 250), other, n_cells=N_CELLS)
        shutil.copytree(other, d)
        got = _probe(spark, emb, d)
        assert got == _probe(spark, emb, other)
        assert got != first
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)


@pytest.fixture(scope="module")
def ivf_base100(spark, emb):
    d = tempfile.mkdtemp(prefix="ivf_base100_")
    AI.build_ivf_index(emb.filter(F.col("vec_id") >= 100), d, n_cells=N_CELLS)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _append(spark, emb, d):
    AI.append_to_ivf_index(
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 100)), d
    )


def _upsert(spark, emb, d):
    donor = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select((F.col("vec_id") + 95).alias("vec_id"), "embedding")
    AI.upsert_into_ivf_index(spark, d, donor)


def _delete(spark, emb, d):
    AI.delete_from_ivf_index(spark, d, range(100, 200))


def _delete_compact(spark, emb, d):
    _delete(spark, emb, d)
    AI.compact_ivf_index(spark, d)


@pytest.mark.parametrize(
    "op", [_append, _upsert, _delete, _delete_compact],
    ids=["append", "upsert", "delete", "compact"],
)
def test_maintenance_probe_matches_probe_with_memo_emptied(
    spark, emb, ivf_base100, op
):
    """After each in-place writer, a probe through the warm memo equals a
    probe with the memo emptied."""
    d = _copy(ivf_base100, "ivf_fresh_op_")
    try:
        before = _probe(spark, emb, d)  # warm memo
        op(spark, emb, d)
        got = _probe(spark, emb, d)
        _empty_index_parts()
        assert got == _probe(spark, emb, d)
        assert got != before  # the writer changed what the probe serves
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_index_part_memo_is_thread_safe_and_bounded(monkeypatch):
    """Concurrent lookups (foreachBatch ingest runs on the stream's own
    thread) over more keys than the bound: every lookup returns its own
    key's value and the memo never exceeds its bound."""
    import sys
    import threading
    from collections import OrderedDict
    from types import SimpleNamespace

    class _File:
        def __init__(self, name):
            self.name = name

        def getPath(self):
            return self

        def getName(self):
            return self.name

        def getLen(self):
            return 1

        def getModificationTime(self):
            return 0

    monkeypatch.setattr(tables, "_DIR_MEMO", OrderedDict())
    monkeypatch.setattr(
        tables, "data_files", lambda spark, d: (None, [_File(f"part-{d}")])
    )
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    n_keys = tables._DIR_MEMO_MAX + 88
    errors = []

    def worker(seed):
        try:
            for i in range(3000):
                d = f"dir{(seed * 7919 + i * 31) % n_keys}"
                assert tables.dir_memo(spark, d, lambda p: ("v", p)) == ("v", d)
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[0]
    assert len(tables._DIR_MEMO) == tables._DIR_MEMO_MAX


# --- serves leave nothing in the CacheManager: a cached frame outlives
# the call, and Spark matches a cached file-scan plan by its root path,
# so a later call at the same path could reuse it after a rewrite


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _all_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_graph_index_replaced_at_same_path_serves_new_query_vectors(
    spark, emb, graph_index_path
):
    """A graph index replaced at the same path (built elsewhere over the
    same ids with different vectors and copied in, as another process
    would) serves the new index's query vectors to a ``query_ids``
    probe."""
    d = _copy(graph_index_path, "graph_replaced_")
    other = tempfile.mkdtemp(prefix="graph_replacement_")
    ids = list(range(8))

    def probe(path):
        return _all_rows(AI.graph_index_topk(spark, path, query_ids=ids, k=5))

    try:
        shifted = F.transform("embedding", lambda x: (x + 0.5).cast("float"))
        AI.build_graph_index(emb.withColumn("embedding", shifted), other)
        spark.catalog.clearCache()  # what the builds left cached
        first = probe(d)
        assert _cache_manager(spark).isEmpty()
        shutil.rmtree(d)
        shutil.copytree(other, d)
        got = probe(d)
        assert _cache_manager(spark).isEmpty()
        assert got == probe(other)
        assert got != first
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)


def _replace_part(df, part, partition_by=()):
    """Write ``df`` to a side directory and move it in over ``part``, as
    another process's rewrite of the part looks to this session."""
    side = tempfile.mkdtemp(prefix="index_part_side_")
    shutil.rmtree(side)
    df.write.partitionBy(*partition_by).parquet(side)
    shutil.rmtree(part)
    shutil.move(side, part)


def test_index_parts_rewritten_with_a_new_schema_are_read_fresh(
    spark, emb, graph_index_path, index_path
):
    """Each index part read with a memoized schema (the graph index's
    qv, edges, entries and tombstones; the IVF index's partitioned
    vectors) is rewritten at the same path with a changed schema: one
    column more and the columns reordered. The warm read then carries
    the new schema, and the warm serve equals the serve before."""
    g = _copy(graph_index_path, "graph_fresh_parts_")
    v = _copy(index_path, "ivf_fresh_vectors_")

    def graph_serve():
        return _all_rows(AI.graph_index_topk(spark, g, query_ids=range(5), k=5))

    try:
        AI.delete_from_graph_index(spark, g, [7])
        before = graph_serve()  # memoizes every part's schema
        for part in ("qv", "edges", "entries", "tombstones"):
            old = spark.read.parquet(f"{g}/{part}")
            new = old.select(F.lit(1).alias("_v"), *reversed(old.columns))
            _replace_part(new, f"{g}/{part}")
            assert tables.read_parquet(spark, f"{g}/{part}").columns == new.columns
            assert graph_serve() == before, part

        before = _probe(spark, emb, v)
        old = spark.read.parquet(f"{v}/vectors")
        _replace_part(
            old.select(F.lit(1).alias("_v"), "embedding", "vec_id", "cell"),
            f"{v}/vectors", ["cell"],
        )
        assert tables.read_parquet(spark, f"{v}/vectors").columns == [
            "_v", "embedding", "vec_id", "cell",
        ]
        assert _probe(spark, emb, v) == before
    finally:
        shutil.rmtree(g, ignore_errors=True)
        shutil.rmtree(v, ignore_errors=True)


def test_ivf_lsh_ivfpq_serves_and_compaction_leave_nothing_cached(
    spark, emb, index_path, lsh_index_path, ivfpq_index_path, ivf_base100
):
    queries = emb.filter(F.col("vec_id") < 10)
    d = _copy(ivf_base100, "ivf_uncached_compact_")
    try:
        AI.delete_from_ivf_index(spark, d, range(100, 120))
        spark.catalog.clearCache()
        for serve in (
            lambda: _rows(AI.ivf_index_topk(spark, index_path, queries, k=5)),
            lambda: _all_rows(AI.lsh_index_topk(spark, lsh_index_path, queries, k=5)),
            lambda: _all_rows(AI.ivfpq_index_topk(spark, ivfpq_index_path, queries, k=5)),
            lambda: AI.compact_ivf_index(spark, d),
        ):
            serve()
            assert _cache_manager(spark).isEmpty()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivf_build_and_in_memory_ivf_topk_leave_nothing_cached(spark, emb):
    """The trained centroids are a driver-built local relation: neither an
    IVF index build nor an in-memory ivf_topk caches them."""
    d = tempfile.mkdtemp(prefix="ivf_uncached_build_")
    try:
        spark.catalog.clearCache()
        AI.build_ivf_index(emb, d, n_cells=N_CELLS)
        assert _cache_manager(spark).isEmpty()
        queries = emb.filter(F.col("vec_id") < 10)
        _rows(ivf_topk(emb, queries, k=3, n_cells=N_CELLS, n_probe=N_PROBE))
        assert _cache_manager(spark).isEmpty()
    finally:
        shutil.rmtree(d, ignore_errors=True)
