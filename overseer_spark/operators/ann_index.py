"""Persisted IVF index for approximate-nearest-neighbor search.

The ANN twin of the incremental-dedup index (operators/incremental.py):
build the expensive part ONCE — centroid selection + cell assignment over
the whole corpus — persist it partitioned by ``cell``, and serve every
later query batch from the index with static partition pruning: a query
probing ``n_probe`` of ``n_cells`` cells reads only those cell partitions,
i.e. O(n_probe/n_cells) of the corpus bytes per query batch, verified here
from Spark's own scanned-file listing.

Layout on disk::

    {path}/centroids/   (cell, embedding)           — tiny, broadcastable
    {path}/vectors/     partitionBy(cell): (vec_id, embedding)

Search semantics are identical to :func:`overseer_spark.operators.
similarity.ivf_topk` (same TRAINED k-means centroids — seeded, sample-
bounded, per-iteration-rounded, see similarity.trained_centroids — same
rounded cosine ranking) — pytest asserts result equality; only the
physical access path changes.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from overseer_spark.functions.vectors import cosine_similarity
from overseer_spark.operators.similarity import assign_cells, trained_centroids
from overseer_spark.operators.util import eager_cache


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign every corpus vector to its nearest centroid and persist,
    partitioned by cell. Training is sample-bounded (trained_centroids);
    the full corpus pays one broadcast O(n·c) E-step + one write."""
    centroids = eager_cache(trained_centroids(corpus, n_cells, id_col, vec_col))
    centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col)
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = assign_cells(corpus, n_cells, id_col, vec_col, centroids)
    # co-locate per cell: ONE file per cell directory from day one (the
    # probe cost model is "list only the probed cell dirs"), instead of
    # one per (task, cell) pair
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/vectors")


def _ivf_centroids(spark: SparkSession, path: str):
    """(centroids frame, centroid count) of the index at ``path``, through
    the index-part memo (see _index_part). Only the builders write
    ``{path}/centroids``; append/upsert/delete/compact never touch it
    (centroid drift is a rebuild decision). Memoizing saves every append
    a schema-inference read plus the 2-job count that assign_cells'
    estep="auto" sizing would run, and every probe another inference
    read.

    The frame is a local checkpoint of the rows, not a file scan: Spark
    matches cached plans by a scan's root path, not its files, so a
    probe set cached by an earlier probe would otherwise be reused for
    centroids rewritten at the same path. A checkpointed frame is new
    for each load, and each load is a new fingerprint."""

    def load(part_dir):
        df = spark.read.parquet(part_dir).localCheckpoint(eager=False)
        return df, df.count()

    return _index_part(spark, f"{path}/centroids", load)


def probed_cells(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, _qvec, cell) for each query's ``n_probe`` nearest cells."""
    cents = _ivf_centroids(spark, path)[0].select(
        "cell", F.col(vec_col).alias("_cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    return (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "_qvec", "cell",
            cosine_similarity("_qvec", F.col("_cvec")).alias("_csim"),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.col("cell"))
            ),
        )
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "_qvec", "cell")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via Spark's Hadoop conf — works for
    any URI scheme the session can write (file://, hdfs://, s3a://), unlike
    a driver-local ``os.path`` probe, which would silently report "no
    tombstones" for a remote index and resurrect deleted vectors
    (ADVICE r10)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _data_files(spark: SparkSession, dir_path: str):
    """(fs, [FileStatus]) of the DATA files directly under ``dir_path``
    (hidden and marker files excluded); a missing directory lists as
    empty."""
    fs, d = _hadoop_fs(spark, dir_path)
    if not fs.exists(d):
        return fs, []
    return fs, [
        st
        for st in fs.listStatus(d)
        if not st.getPath().getName().startswith(("_", "."))
    ]


# Index-part memo: key -> loaded value, least recently used first. The
# lock makes the get/insert/evict sequence safe for foreachBatch ingest,
# which runs on the streaming query's own thread.
_INDEX_PARTS: OrderedDict = OrderedDict()
_INDEX_PARTS_MAX = 512
_INDEX_PARTS_LOCK = threading.Lock()


def _index_part(spark: SparkSession, part_dir: str, load):
    """``load(part_dir)``, memoized per (applicationId, part_dir,
    fingerprint), where the fingerprint is the sorted (name, length) of
    the data files in ``part_dir``, listed through the path's own Hadoop
    FileSystem (no Spark job). Spark part-file names carry the writing
    job's UUID, so any rewrite of the directory, by a package builder or
    by any other writer or process, changes the key, and a copied index
    has a new path: nothing needs to evict an entry for correctness.
    Stale keys age out of the bounded LRU."""
    _, files = _data_files(spark, part_dir)
    key = (
        spark.sparkContext.applicationId,
        part_dir,
        tuple(sorted((st.getPath().getName(), st.getLen()) for st in files)),
    )
    with _INDEX_PARTS_LOCK:
        if key in _INDEX_PARTS:
            _INDEX_PARTS.move_to_end(key)
            return _INDEX_PARTS[key]
    value = load(part_dir)  # outside the lock: loads run Spark jobs
    with _INDEX_PARTS_LOCK:
        _INDEX_PARTS[key] = value
        while len(_INDEX_PARTS) > _INDEX_PARTS_MAX:
            _INDEX_PARTS.popitem(last=False)
    return value


def _tombstone_files(spark: SparkSession, path: str):
    """(fs, [Path]) of the index's current tombstone DATA files. The file
    list — not just the directory — is the unit compact_ivf_index
    snapshots, so deletes appended while a compaction is rewriting are
    never swept away with the folded ones."""
    fs, files = _data_files(spark, f"{path}/tombstones")
    return fs, [st.getPath() for st in files]


def _read_tombstones(spark: SparkSession, tomb_files, id_col: str):
    """The distinct ``id_col`` values of the given tombstone files."""
    return (
        spark.read.parquet(*[p.toString() for p in tomb_files])
        .select(id_col)
        .distinct()
    )


def _drop_from_tombstones(spark: SparkSession, path: str, id_col: str, ids):
    """Remove ``ids`` from the index's tombstone set, so a re-written id
    is not masked by a tombstone of its old row. Snapshot discipline:
    the replacement set is written BEFORE the snapshotted files are
    removed, so a crash in between leaves only already-superseded
    duplicate tombstones. An all-ids-dropped set writes nothing (a 0-row
    part file would make _tombstones return a pointless empty set
    instead of None). repartition(1), not coalesce(1): see
    delete_from_ivf_index."""
    fs, tomb_files = _tombstone_files(spark, path)
    if not tomb_files:
        return
    tomb = spark.read.parquet(*[p.toString() for p in tomb_files])
    if tomb.filter(F.col(id_col).isin(ids)).count() == 0:
        return
    remaining = eager_cache(tomb.filter(~F.col(id_col).isin(ids)).distinct())
    if remaining.limit(1).count() > 0:
        remaining.repartition(1).write.mode("append").parquet(
            f"{path}/tombstones"
        )
    for p in tomb_files:
        fs.delete(p, False)
    remaining.unpersist()


def _tombstones(spark: SparkSession, path: str, id_col: str):
    """The index's tombstone set (vec ids deleted since the last compact),
    or None when nothing was ever deleted. Probed through the Hadoop
    FileSystem of ``path`` itself, matching how delete_from_ivf_index
    writes."""
    _, files = _tombstone_files(spark, path)
    return _read_tombstones(spark, files, id_col) if files else None


def _swap_in(spark: SparkSession, current: str, tmp_out: str, old: str) -> None:
    """Two-rename swap of a rewritten directory into place, with
    in-process rollback: NOT atomic (a crash between the renames leaves
    ``old`` + ``tmp_out`` for manual restore), but a failed second
    rename restores the original layout before re-raising. Shared by the
    IVF and graph compactors."""
    fs, cur_path = _hadoop_fs(spark, current)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(jpath(old), True)
    if not fs.rename(cur_path, jpath(old)):
        raise IOError(f"compact: could not move {current} aside")
    try:
        if not fs.rename(jpath(tmp_out), cur_path):
            raise IOError(f"compact: could not swap {tmp_out} into place")
    except BaseException:
        fs.rename(jpath(old), cur_path)  # restore the original layout
        raise
    fs.delete(jpath(old), True)


def _clear_tombstone_files(spark: SparkSession, path: str, tomb_files) -> None:
    """Remove exactly the snapshotted tombstone files (newer, post-
    snapshot tombstones stay in place and keep masking at probe time —
    ADVICE r10), then drop the directory only when nothing but write
    markers remains; the final delete is NON-recursive, so it refuses a
    dir a concurrent delete repopulated."""
    fs, tomb_dir = _hadoop_fs(spark, f"{path}/tombstones")
    for p in tomb_files:
        fs.delete(p, False)
    if fs.exists(tomb_dir):
        rest = fs.listStatus(tomb_dir)
        if all(st.getPath().getName().startswith(("_", ".")) for st in rest):
            for st in rest:
                fs.delete(st.getPath(), False)
            fs.delete(tomb_dir, False)


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Top-k from the persisted index, reading only the probed cells.

    The union of probed cells across the query batch is collected
    driver-side (≤ |queries|·n_probe ints) and pushed into the vector scan
    as a partition filter — the parquet reader then lists only those cell
    directories. Output matches ``similarity.ivf_topk`` exactly.
    Tombstoned ids (delete_from_ivf_index) are anti-joined out of the
    candidate set before scoring — logical deletion at probe time, the
    same read path FAISS's IDSelector and every LSM store use between
    compactions."""
    # lazy cache + collect (r13, guide §1.2): the collect below is the
    # first consumer and materializes the cache in its own job; the only
    # other consumer (the broadcast into the scored join) runs later in
    # the final action and hits the populated cache — eager_cache's
    # separate count() was one extra fixed-cost job per probe
    qcells = probed_cells(spark, path, queries, n_probe, id_col, vec_col).cache()
    cells = [r["cell"] for r in qcells.select("cell").distinct().collect()]
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cell").isin(cells)  # static partition pruning at the scan
    )
    tomb = _tombstones(spark, path, id_col)
    if tomb is not None:
        vectors = vectors.join(tomb, id_col, "left_anti")
    scored = (
        vectors.join(F.broadcast(qcells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), round_to
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def hard_negatives_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    overfetch: int = 50,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining through a persisted ANN index (VERDICT r11
    ask #3 — the production path of hard_negative_mining's exact pass):
    the FAISS-negatives pattern from DPR/ANCE (Karpukhin et al. 2020;
    Xiong et al. 2021). Probe the IVF index with OVER-FETCH
    (``overfetch`` > k candidates per anchor, ``n_probe`` cells), drop
    each anchor's positives with one rank-list-sized anti-join, keep
    the top-``k`` survivors under the exact ordering. The index scores
    candidates with the exact rounded cosine (IVF approximates only
    WHICH vectors are scored, never their similarity), so the re-rank
    is a window over the shortlist — no second corpus scan.

    Cost at scale: anchors × (n_probe/n_cells) of the corpus bytes for
    the probe (static partition pruning via ivf_index_topk) + two
    shortlist-sized joins — per-anchor work independent of corpus size,
    vs the exact pass's full corpus × anchors crossJoin. Over-fetch
    covers two loss modes: positives inside the shortlist (dropped by
    the anti-join — choose overfetch ≥ k + expected positives in the
    top-overfetch) and IVF cell misses (raise n_probe; measure with
    the recall evals before trusting a config at a new scale —
    SCALING.md ladder discipline).

    ``queries``: (id_col, vec_col) anchor batch. ``positives``:
    (query_id, pos_id) pairs banned per anchor (the anchor itself is
    excluded by the probe already). Returns
    (query_id, vec_id, sim, hn_rank ≤ k)."""
    short = ivf_index_topk(
        spark, path, queries, k=overfetch, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", id_col, "sim")
    neg = short.join(
        positives.select(
            "query_id", F.col("pos_id").alias(id_col)
        ),
        ["query_id", id_col],
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return neg.withColumn(
        "hn_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("hn_rank") <= k)


def bucket_predicate(buckets) -> "F.Column":
    """Partition predicate selecting exactly the (table, sig) buckets.

    A flat composite-key ``isin`` — NOT an OR-chain of per-bucket
    clauses: Catalyst folds the literal list into a single ``InSet``
    node, so the expression tree stays O(1) deep no matter how many
    buckets a production query batch probes (10k queries × 8 tables
    would otherwise emit tens of thousands of OR disjuncts and blow up
    analysis/codegen). ``concat_ws`` references only the two partition
    columns, so it still qualifies as a partition filter and the parquet
    reader lists only the probed bucket directories (asserted in
    tests/test_ann_index.py). Empty bucket set → ``lit(False)``: the
    scan lists nothing and the query returns an empty frame with the
    normal schema instead of ``filter(None)`` raising.

    Key encoding assumes INT partition values (they are: ``table`` is a
    hash-table index, ``sig`` a bit-signature integer — both produced
    by build_lsh_index). If either ever became a free string, a ``#``
    inside a value would make ('a#b','c') and ('a','b#c') collide and
    the probe would read extra buckets — wrong cost, never wrong
    results (candidates are exactly re-scored). Keep the columns
    integral or switch to a separator-free encoding before widening
    the type (ADVICE r8).
    """
    if not buckets:
        return F.lit(False)
    keys = [f"{t}#{s}" for t, s in buckets]
    return F.concat_ws(
        "#", F.col("table").cast("string"), F.col("sig").cast("string")
    ).isin(keys)


def append_to_ivf_index(
    new_batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest into a persisted IVF index — the maintenance
    path every production vector store needs (FAISS ``add`` semantics):
    assign the new batch to the EXISTING trained centroids (read from
    the index, never retrained — so every previously-written vector's
    cell is untouched and previously-pinned probe results stay valid for
    the old ids) and append the assignments into the same
    ``partitionBy(cell)`` layout. Cost is one broadcast E-step over the
    batch plus a cell-partitioned append write — O(batch), independent
    of the index size; the probe path (ivf_index_topk) is unchanged and
    sees old + new vectors through the same static partition pruning.

    Centroid drift under sustained ingest is a REBUILD decision, not an
    append decision — monitor with embedding_centroid_drift and rebuild
    when assignments degrade (the documented contract; same posture as
    FAISS, which never moves centroids on add)."""
    from overseer_spark.operators.util import dimension_loop_conf  # noqa: PLC0415

    spark = new_batch.sparkSession
    cents_df, n_cents = _ivf_centroids(spark, path)
    centroids = cents_df.select(F.col("cell").alias(id_col), F.col(vec_col))
    assigned = assign_cells(
        new_batch.select(id_col, vec_col),
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        n_centroids=n_cents,  # skip estep-auto's per-call count job (r13)
    )
    # co-locate the batch per cell before the write: exactly ONE file per
    # touched cell per append (an O(batch) exchange) instead of one per
    # (task, cell) pair — fragmentation then grows with the number of
    # batches, not batches x parallelism, and the compaction trigger
    # (max_files_per_cell) measures ingest cycles, not task layout.
    # r12: the whole append is BATCH-bounded (broadcast E-step + batch
    # exchange), so it runs under dimension_loop_conf — AQE's per-stage
    # replan was fixed cost on a job whose every shuffle is batch-sized;
    # the hash-on-cell partitioning (one file per touched cell) is
    # unchanged, and assign_cells broadcasts the centroid side
    # explicitly, so no plan choice depended on AQE
    with dimension_loop_conf(spark):
        assigned.repartition("cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/vectors")


def max_files_per_cell(spark: SparkSession, path: str) -> int:
    """Largest per-cell data-file count in the index's vector layout —
    the fragmentation gauge that triggers compaction under sustained
    ingest (streaming/ingest.py vector_ingest_stream). Probed through
    the path's own Hadoop FileSystem (works on any URI scheme); one
    directory listing per cell, no data read."""
    fs, root = _hadoop_fs(spark, f"{path}/vectors")
    mx = 0
    for st in fs.listStatus(root):
        if st.isDirectory():
            n = sum(
                1
                for f in fs.listStatus(st.getPath())
                if not f.getPath().getName().startswith(("_", "."))
            )
            mx = max(mx, n)
    return mx


def graph_index_file_counts(spark: SparkSession, path: str) -> dict:
    """Data-file counts of the graph index's append-fragmented
    directories — {"qv": n, "edges": n}: the fragmentation gauge that
    triggers force-compaction under sustained insert ingest
    (streaming/ingest.py graph mode; the graph twin of
    max_files_per_cell). One directory listing each, no data read."""
    return {
        name: len(_data_files(spark, f"{path}/{name}")[1])
        for name in ("qv", "edges")
    }


def upsert_into_ivf_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """UPSERT vectors into a persisted IVF index — last-writer-wins by
    id, completing the lifecycle (build → append → delete → compact →
    upsert). Tombstone-then-append is NOT correct here: the probe-time
    anti-join is keyed on id alone, so it would mask the NEW row along
    with the old one. Instead this is merge-on-write at partition
    granularity (the Hudi/Delta copy-on-write discipline):

    1. find the cells currently holding the batch's ids — ONE scan of
       (id, cell) with the id set pushed into the reader (column-pruned
       to two 8-byte columns; row-group min/max stats skip most files);
    2. rewrite ONLY those cell directories minus the old rows (the scan
       is partition-pruned to the affected cells), swapping each
       directory in with the same rename discipline as compact;
    3. append the new batch through the normal path (assignment to the
       EXISTING trained centroids).

    An upsert also RESURRECTS: the batch's ids are dropped from any
    outstanding tombstones (delete → upsert must yield the new row, but
    the probe's anti-join is id-keyed, so a stale tombstone would mask
    it). The tombstone drop runs LAST — after the cell rewrite and the
    append (ADVICE r11): clearing first would open a crash window where
    a tombstoned id's OLD physical row is unmasked before the rewrite
    removes it (a probe would serve the stale vector), and a crash
    between the cell swaps and the append would lose the upserted ids
    outright. With the drop last, every interrupted prefix leaves the
    batch's ids still masked — probes see the pre-upsert "deleted"
    state, never a stale or half-written row — and re-running the
    upsert completes it. The drop itself follows the snapshot
    discipline (replacement set written before the snapshotted files
    are removed), so a crash inside it leaves only already-superseded
    duplicate tombstones. Remaining non-atomic window, like compact: a
    crash BETWEEN the per-cell directory swaps leaves swapped and
    unswapped cells side by side (each individual swap rolls back
    in-process; a hard kill between them needs the ``__old`` dirs for
    manual restore).

    Cost is O(affected cells) rewrite + O(batch) append — never a full
    index rewrite, never a corpus shuffle. Ids absent from the index
    degrade to a plain append. Returns {"n_rewritten_cells": ...}."""
    ids_df = batch.select(id_col).distinct()
    id_list = [r[0] for r in ids_df.collect()]  # batch-sized, driver-safe
    vectors = f"{path}/vectors"
    hit = (
        spark.read.parquet(vectors)
        .filter(F.col(id_col).isin(id_list))
        .select("cell")
        .distinct()
    )
    cells = [r["cell"] for r in hit.collect()]
    if cells:
        # rewrite the affected cell dirs minus the upserted ids; the
        # source scan lists only those cell directories
        keep = (
            spark.read.parquet(vectors)
            .filter(F.col("cell").isin(cells))
            .filter(~F.col(id_col).isin(id_list))
        )
        keep.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{path}/vectors__upserting")
        fs, _ = _hadoop_fs(spark, vectors)
        jpath = spark._jvm.org.apache.hadoop.fs.Path
        for c in cells:
            sub = f"cell={c}"
            if fs.exists(jpath(f"{path}/vectors__upserting/{sub}")):
                _swap_in(
                    spark,
                    f"{vectors}/{sub}",
                    f"{path}/vectors__upserting/{sub}",
                    f"{path}/vectors__old_{c}",
                )
            else:  # every row of this cell was an upserted id
                fs.delete(jpath(f"{vectors}/{sub}"), True)
        fs.delete(jpath(f"{path}/vectors__upserting"), True)
    append_to_ivf_index(
        batch.select(id_col, vec_col), path, id_col=id_col, vec_col=vec_col
    )
    # LAST: unmask the batch's ids (resurrection) — see the docstring's
    # crash-ordering argument (ADVICE r11)
    _drop_from_tombstones(spark, path, id_col, id_list)
    return {"n_rewritten_cells": len(cells)}


def delete_from_ivf_index(
    spark: SparkSession, path: str, ids, id_col: str = "vec_id"
) -> None:
    """Logically delete vectors from a persisted IVF index (the FAISS
    ``remove_ids`` / LSM-tombstone semantics, completing the index
    lifecycle: build → append → delete → compact): the id set is
    APPENDED to ``{path}/tombstones`` — O(delete batch), no data-file
    rewrite, previously-written files untouched. Probes anti-join the
    tombstone set out before scoring; compact_ivf_index folds the
    deletions into the rewrite and clears the tombstones, after which
    the probe-time anti-join disappears entirely. ``ids`` is a list of
    ids or a 1-column DataFrame (any column name — renamed to
    ``id_col`` on the way in)."""
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    elif len(ids.columns) == 1:
        ids = ids.toDF(id_col)
    # one file per delete batch (r13): a delete-batch-sized relation
    # would otherwise write one file per input slice — more tombstone
    # files for every later probe/compact to list and read. repartition,
    # NOT coalesce: coalesce(1) folds every upstream slice into ONE task
    # that pays the per-partition Python-runner roundtrip SERIALLY
    # (measured 5.8 s for a 100-row 32-slice createDataFrame at
    # local[32] vs 0.6 s with the 100-row shuffle)
    ids.select(id_col).repartition(1).write.mode("append").parquet(
        f"{path}/tombstones"
    )


def compact_ivf_index(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> dict:
    """Fold the appended IVF vector partitions back to ONE file per cell
    (VERDICT r9 ask #5): append_to_ivf_index adds one parquet file per
    touched cell per batch, so after N ingest cycles the probe path —
    whose cost model is "list and read only the probed cell directories"
    — degrades into a small-file scan inside each directory. Runs
    sources/maintenance.compact_partitioned over the ``partitionBy(cell)``
    layout (one repartition(cell) exchange → exactly one file per cell
    directory), writes to a sibling temp dir, and swaps it in only after
    the write succeeds. The swap is a rename PAIR, not an atomic commit:
    a crash before the first rename leaves the original intact, a crash
    between the two leaves the index at ``vectors__old`` +
    ``vectors__compacting`` for manual restore (and an in-process failure
    of the second rename is rolled back here by renaming
    ``vectors__old`` back). Probe results are bit-identical before/after
    (asserted in tests/test_ann_index.py); centroids are untouched.
    Tombstoned ids (delete_from_ivf_index) are FOLDED INTO the rewrite —
    merge-on-compact, the LSM discipline — and exactly the tombstone
    FILES snapshotted before the rewrite are removed afterwards, so a
    delete appended while the compaction runs keeps masking at probe
    time instead of being silently resurrected (ADVICE r10). Returns the
    pre-compaction file-profile dict for monitoring."""
    from overseer_spark.sources.maintenance import (  # noqa: PLC0415
        compact_partitioned,
    )

    vectors = f"{path}/vectors"
    tmp_out = f"{path}/vectors__compacting"
    # snapshot the tombstone file list BEFORE reading: only these files
    # are folded into the rewrite, so only these files are cleared after
    _, tomb_files = _tombstone_files(spark, path)
    df = spark.read.parquet(vectors)
    if tomb_files:
        tomb = _read_tombstones(spark, tomb_files, id_col)
        df = df.join(eager_cache(tomb), id_col, "left_anti")
    plan = compact_partitioned(spark, vectors, tmp_out, ["cell"], df=df)
    _swap_in(spark, vectors, tmp_out, f"{path}/vectors__old")
    _clear_tombstone_files(spark, path, tomb_files)
    return plan


def _edges_table_name(path: str) -> str:
    """Deterministic catalog name for a bucketed edge table at ``path``
    (the metastore needs a name; the index abstraction is a path)."""
    import hashlib  # noqa: PLC0415

    return "graph_edges_" + hashlib.md5(path.encode()).hexdigest()[:12]


def _register_bucketed_edges(
    spark: SparkSession, path: str, n_buckets: int
) -> str:
    """Ensure the bucketed edge files at ``{path}/edges`` are reachable
    as a catalog table in THIS session (bucket metadata lives in the
    catalog, not the parquet files — a fresh session must re-register
    the external table to get exchange-free joins back)."""
    tbl = _edges_table_name(path)
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT) USING parquet "
            f"CLUSTERED BY (src) SORTED BY (src) INTO {n_buckets} BUCKETS "
            f"LOCATION '{path}/edges'"
        )
    return tbl


def _graph_index_meta(spark: SparkSession, path: str) -> dict:
    """The index's meta row as a dict — tolerant of pre-r12 indexes
    whose meta lacks the bucketed-edge columns — through the index-part
    memo (see _index_part). Only build_graph_index writes
    ``{path}/meta``; without the memo every serve/insert/compact paid
    its own 1-row Spark read."""

    def load(part_dir):
        row = spark.read.parquet(part_dir).first().asDict()
        row.setdefault("edges_buckets", None)
        return row

    return _index_part(spark, f"{path}/meta", load)


def build_graph_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    n_probe: int = 3,
    edge_k: int = 12,
    salt_buckets: int = 4,
    hub_cap: int = 64,
    prebuilt=None,
    tree_depth: int | None = None,
    bucket_edges: int | None = None,
) -> None:
    """Persist the graph-ANN SERVING structure (operators/graph.py:
    serving_knn_graph) — the graph twin of build_ivf_index, and the
    VERDICT-r9 fix for the catalog's single biggest bench line item: the
    kNN-graph build (trained-centroid assignment, salted block-pair
    scoring, hub-tree overlay) runs ONCE and every later query batch
    pays only the beam search.

    Layout on disk::

        {path}/qv        (vec_id, q)   — quantized corpus vectors
        {path}/edges     (src, dst)    — kNN ∪ hub-tree edge set,
                                         repartitioned by src (at
                                         production scale: bucketBy(src)
                                         so each hop's frontier probe is
                                         a co-located index join)
        {path}/entries   (node)        — per-cell entry nodes (tree roots)
        {path}/meta      (hub_cap, tree_depth) — 1 row: the largest
                                         cell's hub-tree depth at build
                                         time, so serve-time hop budgets
                                         derive from the STRUCTURE
                                         (graph.hub_reach_depth) instead
                                         of a constant that starves the
                                         beam when cells outgrow one
                                         tree layer (VERDICT r10 ask #1)

    ``prebuilt`` short-circuits the build with an existing
    ``(qv, edges, entries)`` triple (qv/edges from serving_knn_graph,
    entries = per-cell MIN(vec_id) nodes) — the amortization path when
    the structure is already cached in-session; pass ``tree_depth``
    alongside it (it derives from the cells frame, which the triple
    doesn't carry). Beam output from the persisted index is
    bit-identical to serving the in-memory build (integer-quantized
    sims survive the parquet round trip exactly; asserted in
    tests/test_ann_index.py).

    ``bucket_edges`` (VERDICT r11 ask #4) writes the edge set as a
    BUCKETED external table — ``bucketBy(src).sortBy(src)`` into
    ``{path}/edges`` — instead of plain repartition(src) parquet: the
    bucket spec is recorded in the catalog, so each serve hop's
    frontier ⋈ edges probe needs NO edge-side exchange (only the
    beam-sized frontier shuffles to the bucket layout; pinned in
    tests/test_plans.py). At 10⁹-edge indexes the per-hop edge shuffle
    is the dominant serve cost — this is the production serving layout.
    The trade: a bucketed index is IMMUTABLE serving state —
    insert/compact refuse it (plain parquet appends would violate the
    bucket-file contract); ingest happens on the default layout (or a
    rebuild), exactly the DiskANN builder/serving-replica split. The
    bucket count is persisted in the meta row; a fresh session
    re-registers the external table from it (bucket metadata lives in
    the catalog, not the files)."""
    from overseer_spark.operators.graph import (  # noqa: PLC0415
        hub_reach_depth,
        serving_knn_graph,
    )

    if prebuilt is not None:
        qv, edges, entries = prebuilt
        if tree_depth is None:
            raise ValueError("pass tree_depth with prebuilt")
    else:
        qv, edges, cells = serving_knn_graph(
            corpus,
            n_cells=n_cells,
            n_probe=n_probe,
            edge_k=edge_k,
            salt_buckets=salt_buckets,
            hub_cap=hub_cap,
        )
        entries = cells.groupBy("cell").agg(F.min("vec_id").alias("node"))
        if tree_depth is None:
            tree_depth = hub_reach_depth(cells, hub_cap)
    spark = qv.sparkSession
    qv.write.mode("overwrite").parquet(f"{path}/qv")
    if bucket_edges is None:
        edges.repartition(F.col("src")).write.mode("overwrite").parquet(
            f"{path}/edges"
        )
    else:
        tbl = _edges_table_name(path)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            edges.select(
                F.col("src").cast("long"), F.col("dst").cast("long")
            )
            .repartition(bucket_edges, "src")
            .write.mode("overwrite")
            .bucketBy(bucket_edges, "src")
            .sortBy("src")
            .option("path", f"{path}/edges")
            .saveAsTable(tbl)
        )
    entries.select("node").write.mode("overwrite").parquet(f"{path}/entries")
    spark.createDataFrame(
        [(hub_cap, int(tree_depth), bucket_edges)],
        "hub_cap int, tree_depth int, edges_buckets int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def graph_index_topk(
    spark: SparkSession,
    path: str,
    query_ids=None,
    queries: DataFrame | None = None,
    entry_top: int = 6,
    hops: int | None = None,
    beam: int = 24,
    k: int = 10,
    fine_hops: int = 2,
) -> DataFrame:
    """Serve a query batch from the persisted graph index (graph_beam_topk
    over the on-disk structure). ``query_ids`` selects in-corpus queries
    by id from the persisted qv table; alternatively pass ``queries`` as
    (query_id, qv) quantized vectors for out-of-corpus queries. Per-batch
    cost is the beam search only — entry scoring + hops × (frontier ⋈
    edges + rescore); the build is never re-run.

    ``hops=None`` (the default) derives the budget from the index's own
    meta row: tree_depth + ``fine_hops`` — the structural depth the hub
    tree needs to reach any cell member, plus the fine-kNN navigation
    allowance (VERDICT r10 ask #1: a constant budget starves the beam
    once cells outgrow one tree layer). Pass an explicit ``hops`` to
    override.

    Tombstoned ids (delete_from_graph_index) are excluded from RESULTS
    but remain legal traversal waypoints — DiskANN's pre-consolidation
    delete semantics; compact_graph_index physically removes them."""
    from overseer_spark.operators.graph import graph_beam_topk  # noqa: PLC0415

    qv = spark.read.parquet(f"{path}/qv")
    meta = _graph_index_meta(spark, path)
    if meta["edges_buckets"]:
        # bucketed serving layout: read through the catalog table so the
        # hop joins inherit the bucket spec (no edge-side exchange)
        tbl = _register_bucketed_edges(spark, path, int(meta["edges_buckets"]))
        edges = spark.table(tbl)
    else:
        edges = spark.read.parquet(f"{path}/edges")
    entries = spark.read.parquet(f"{path}/entries")
    if hops is None:
        hops = int(meta["tree_depth"]) + fine_hops
    if queries is None:
        if query_ids is None:
            raise ValueError("pass query_ids or queries")
        queries = qv.filter(F.col("vec_id").isin(list(query_ids))).select(
            F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
        )
    queries = eager_cache(queries)
    tomb = _tombstones(spark, path, "vec_id")
    return graph_beam_topk(
        qv, edges, queries, entries,
        entry_top=entry_top, hops=hops, beam=beam, k=k,
        exclude=None if tomb is None else tomb.toDF("node"),
    )


def insert_into_graph_index(
    spark: SparkSession,
    path: str,
    new_batch: DataFrame,
    edge_k: int = 12,
    entry_top: int = 12,
    beam: int = 48,
    fine_hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """DiskANN-style incremental insert (VERDICT r10 ask #3 — lifecycle
    parity with the IVF index): beam-search each new vector as an
    out-of-corpus query over the EXISTING index (the same search a
    serve pays, budget derived from the meta row), then connect it to
    its ``edge_k`` nearest visited nodes in BOTH directions and append
    (qv rows + edge rows) — O(batch · beam-search), no rewrite of
    existing files, previously-pinned probe results for old queries
    unaffected except where a new vector legitimately outranks an old
    neighbor.

    Degree discipline: an insert gives the NEW node out-degree edge_k
    and adds ONE backlink per selected neighbor, so an existing node's
    degree grows only by the number of inserts that chose it — the same
    slow-overflow DiskANN accepts between RobustPrune passes. Sustained
    heavy ingest is a REBUILD trigger (monitor max out-degree; the
    documented contract, matching centroid drift for the IVF index).

    Id semantics: a batch id must not have a PHYSICAL row in the index
    (raises ValueError — the graph layout has no in-place rewrite; a
    changed vector is delete → compact → insert, and a merely-
    tombstoned id still owns its old row until the compaction). A
    STALE tombstone for a physically-absent id (deleted, compacted,
    tombstoned again as a no-op) is cleared so the new node is not
    silently masked — the serve-time exclusion is id-keyed; the
    rewrite follows the snapshot discipline (replacement set written
    before the snapshotted files are removed)."""
    from overseer_spark.operators.graph import quantized_vectors  # noqa: PLC0415

    if _graph_index_meta(spark, path)["edges_buckets"]:
        raise ValueError(
            "insert_into_graph_index: bucketed serving layout is immutable "
            "(a plain append would violate the bucket-file contract) — "
            "ingest on a default-layout index, or rebuild"
        )

    # normalize to the persisted index's FIXED schema immediately: qv
    # rows are (vec_id, q) whatever the caller's id column is named —
    # appending under a divergent name would silently accumulate a
    # second schema in {path}/qv (later reads null the id out) and the
    # clash/tombstone filters below would miss (ADVICE r11)
    from overseer_spark.operators.util import dimension_loop_conf  # noqa: PLC0415

    # r12: the pre-beam guards are 3-5 actions over BATCH-BOUNDED data
    # (the new batch's ids, a filter-pushed count, the tombstone scrub)
    # — AQE's per-action replan is pure fixed cost here; the beam
    # search below keeps AQE (measured better for the hop loop, wave-1
    # A/B) and the appends are batch-sized writes
    with dimension_loop_conf(spark):
        # lazy cache + collect (r13, guide §1.2 count-the-actions): the
        # collect is the FIRST consumer, so it materializes the cache in
        # the same job — eager_cache's separate count() action was pure
        # fixed cost here (later consumers — the beam's broadcasts, the
        # qv append — run sequentially and hit the populated cache;
        # the eager_cache concurrent-miss trap needs concurrent FIRST
        # consumers, which this path never has)
        nq = quantized_vectors(
            new_batch, id_col=id_col, vec_col=vec_col, cluster_col=None
        ).select(F.col(id_col).alias("vec_id"), "q").cache()
        id_list = [r[0] for r in nq.select("vec_id").collect()]
        clash = (
            spark.read.parquet(f"{path}/qv")
            .filter(F.col("vec_id").isin(id_list))
            .count()
        )
        if clash:
            raise ValueError(
                f"insert_into_graph_index: {clash} batch id(s) already have "
                "physical rows — delete + compact before re-inserting an id"
            )
        _drop_from_tombstones(spark, path, "vec_id", id_list)
    nearest = graph_index_topk(
        spark, path,
        queries=nq.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qv")),
        entry_top=entry_top, beam=beam, k=edge_k, fine_hops=fine_hops,
    )
    new_edges = nearest.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("query_id").alias("src"), F.col("vec_id").alias("dst")
                ),
                F.struct(
                    F.col("vec_id").alias("src"), F.col("query_id").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    new_edges.write.mode("append").parquet(f"{path}/edges")
    nq.write.mode("append").parquet(f"{path}/qv")


def delete_from_graph_index(
    spark: SparkSession, path: str, ids, id_col: str = "vec_id"
) -> None:
    """Logically delete vectors from a persisted graph index: tombstone
    append, identical discipline to delete_from_ivf_index (O(batch), no
    data-file rewrite). Probes keep ROUTING through tombstoned nodes but
    never return them (graph_index_topk's exclude — DiskANN's
    pre-consolidation semantics); compact_graph_index physically removes
    them and bridges their neighborhoods."""
    delete_from_ivf_index(spark, path, ids, id_col=id_col)


def compact_graph_index(
    spark: SparkSession, path: str, force: bool = False
) -> dict:
    """Fold tombstones into the graph index (the consolidate_deletes
    pass of DiskANN, as dataflow) and compact the append-fragmented
    qv/edges files. ``force=True`` runs the file fold even with an
    EMPTY delete set — the streaming-ingest trigger
    (streaming/ingest.py graph mode): sustained insert batches
    fragment qv/edges one file per batch, and without tombstones the
    default fast-path would never fold them:

    - qv: tombstoned rows dropped.
    - edges: edges touching a deleted node dropped; each deleted node's
      surviving in-neighbors are BRIDGED to its surviving out-neighbors
      (one self-join of the deleted node's edge rows), so routes that
      passed through it stay connected. Chains of deleted nodes bridge
      only one hop per compaction — the same single-pass rule DiskANN's
      consolidation applies; a mass-delete wants a rebuild.
    - entries: a deleted entry node is replaced by its minimum surviving
      bridge partner (the next node a descent would have reached).
    - meta: tree_depth kept (a conservative upper bound — deletes only
      shrink cells).

    Rewrites ride the same snapshot-then-swap discipline as
    compact_ivf_index: the tombstone FILE list is snapshotted first and
    only those files are cleared, so deletes landing mid-compaction
    keep masking; each directory swap rolls back in-process on failure.
    Returns {"n_deleted": ..., "n_bridge_edges": ...} for monitoring."""
    from overseer_spark.operators.util import eager_cache  # noqa: PLC0415

    if _graph_index_meta(spark, path)["edges_buckets"]:
        raise ValueError(
            "compact_graph_index: bucketed serving layout is immutable — "
            "rebuild instead of compacting"
        )
    _, tomb_files = _tombstone_files(spark, path)
    if not tomb_files and not force:
        return {"n_deleted": 0, "n_bridge_edges": 0}
    qv = spark.read.parquet(f"{path}/qv")
    edges = spark.read.parquet(f"{path}/edges")
    if not tomb_files:
        # Force-fold with an EMPTY delete set — the streaming-ingest
        # trigger's common case (r12 measurement: the general path spent
        # ~4 Spark actions of bridge-join/count/entries machinery per
        # fold, all provably vacuous with no tombstones). No node
        # leaves, so: kept_qv == qv (anti-join against the empty set),
        # kept_edges == edges.distinct() (the general path's trailing
        # distinct is kept for bit-identical file content), entries are
        # untouched (their general-path rewrite is entries.distinct(),
        # and build/compaction never write duplicate entry rows). Only
        # the two append-fragmented directories are rewritten, with the
        # same layout (coalesce(4) / repartition(src)) as the general
        # path so the file-count gauge behaves identically.
        rewrites = (
            ("qv", qv.coalesce(4)),
            # ONE exchange, not two (r13, guide §2.4): hash-partitioning
            # by src co-locates every (src, dst) duplicate, so the dedup
            # aggregate rides the repartition exchange instead of adding
            # its own full (src, dst) shuffle — same row set (A/B'd:
            # 0 diffs over the session index), same hash(src) layout
            ("edges", edges.repartition(F.col("src")).dropDuplicates()),
        )
        for name, df in rewrites:
            df.write.mode("overwrite").parquet(f"{path}/{name}__compacting")
        for name, _ in rewrites:
            _swap_in(
                spark, f"{path}/{name}", f"{path}/{name}__compacting",
                f"{path}/{name}__old",
            )
        return {"n_deleted": 0, "n_bridge_edges": 0}
    from overseer_spark.operators.util import dimension_loop_conf  # noqa: PLC0415

    # r12: every action between here and the directory rewrites operates
    # on DELETE-BOUNDED relations (the tombstone batch, its surviving
    # in/out neighborhoods, the entry list) — 6 cache/count actions whose
    # shuffles are neighborhood-sized, where AQE's per-stage replan is
    # pure fixed cost (~0.5 s/action measured on this box; see
    # dimension_loop_conf). The index-sized rewrites below run OUTSIDE
    # the scope and keep AQE's coalescing. Results are exact set algebra,
    # identical under any partitioning.
    with dimension_loop_conf(spark):
        # lazy cache + captured count (r13, guide §1.2): the count is the
        # first consumer and doubles as the stats value — eager_cache plus
        # the stats' re-count was two extra jobs per compact
        tomb = _read_tombstones(spark, tomb_files, "vec_id").cache()
        n_deleted = tomb.count()
        dead = tomb.withColumnRenamed("vec_id", "_dead")
        entries = spark.read.parquet(f"{path}/entries")

        kept_qv = qv.join(tomb, "vec_id", "left_anti")
    # surviving neighborhoods of each deleted node — out_of_dead CACHED
    # (r12): delete-neighborhood-sized (≤ |tombstones| × max out-degree)
    # and fed by 2 downstream consumers (bridges, entry replacements),
    # which re-scanned the full edge relation per consumer when left
    # lazy. into_dead stays lazy: its only consumer is bridges.
        into_dead = (
            edges.join(F.broadcast(dead), edges["dst"] == dead["_dead"])
            .join(tomb.withColumnRenamed("vec_id", "src"), "src", "left_anti")
            .select("src", "_dead")
        )
        # lazy: its single appearance inside the bridges count below
        # materializes the cache in that job; replacements then reads it
        # warm (eager_cache's own count was one more fixed-cost job)
        out_of_dead = (
            edges.join(F.broadcast(dead), edges["src"] == dead["_dead"])
            .join(tomb.withColumnRenamed("vec_id", "dst"), "dst", "left_anti")
            .select("_dead", "dst")
        ).cache()
        bridges = (
            into_dead.join(out_of_dead, "_dead")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        ).cache()
        n_bridge_edges = bridges.count()
        # dedup is deferred into the rewrite loop below, where it rides
        # the repartition(src) exchange (r13, guide §2.4 — one exchange
        # for the edge fold instead of a full (src, dst) shuffle plus a
        # repartition; identical row set)
        kept_edges = (
            edges.join(tomb.withColumnRenamed("vec_id", "src"), "src", "left_anti")
            .join(tomb.withColumnRenamed("vec_id", "dst"), "dst", "left_anti")
            .unionByName(bridges)
        )
        # a deleted entry node hands its role to its min surviving partner
        dead_entries = entries.join(
            tomb.withColumnRenamed("vec_id", "node"), "node", "left_semi"
        )
        replacements = (
            dead_entries.join(
                out_of_dead.withColumnRenamed("_dead", "node"), "node"
            )
            .groupBy("node")
            .agg(F.min("dst").alias("new_node"))
            .select(F.col("new_node").alias("node"))
        )
        kept_entries = (
            entries.join(tomb.withColumnRenamed("vec_id", "node"), "node", "left_anti")
            .unionByName(replacements)
            .distinct()
        ).cache()
        n_kept_entries = kept_entries.count()
        # Guard (ADVICE r11): a delete set covering every entry node with no
        # surviving out-neighbor leaves kept_entries EMPTY — Spark writes no
        # part files for an empty frame, so after the swap the entries read
        # fails schema inference and the whole index is unservable. Fall back
        # to the minimum surviving qv id (the same deterministic choice the
        # builder makes per cell); if nothing survives at all, refuse — a
        # total delete wants the index directory removed, not compacted.
        if n_kept_entries == 0:
            fallback = kept_qv.agg(F.min("vec_id").alias("node")).first()["node"]
            if fallback is None:
                raise ValueError(
                    "compact_graph_index: compaction would delete every vector "
                    "— remove the index directory instead of compacting it"
                )
            # ADVICE r12: release the cached (empty) frame before rebinding,
            # or the unpersist loop below releases the fallback instead
            kept_entries.unpersist()
            kept_entries = spark.createDataFrame([(int(fallback),)], "node long")
        stats = {
            "n_deleted": n_deleted,
            "n_bridge_edges": n_bridge_edges,
        }
    rewrites = (
        ("qv", kept_qv, None),
        ("edges", kept_edges, "src"),
        ("entries", kept_entries, None),
    )
    # ALL tmp dirs are written before ANY swap: every kept_* plan reads
    # the original directories lazily (kept_entries' replacement leg
    # re-scans {path}/edges), so swapping one directory early would feed
    # the later writes post-compact data
    for name, df, part in rewrites:
        # keyed legs (edges): hash-partitioning by the key co-locates
        # duplicates, so dropDuplicates rides the same exchange
        w = (
            df.repartition(F.col(part)).dropDuplicates()
            if part
            else df.coalesce(4)
        )
        w.write.mode("overwrite").parquet(f"{path}/{name}__compacting")
    for name, _, _ in rewrites:
        _swap_in(
            spark, f"{path}/{name}", f"{path}/{name}__compacting",
            f"{path}/{name}__old",
        )
    _clear_tombstone_files(spark, path, tomb_files)
    for df in (kept_entries, bridges, out_of_dead, tomb):
        df.unpersist()
    return stats


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the random-hyperplane LSH index the rp_lsh_topk docstring
    promises for 100 TB: corpus signatures are computed once and the
    vectors written partitioned by (table, sig) — n_tables× the corpus
    rows (the documented LSH storage cost), bought back on every query
    batch by static partition pruning. The plane set is persisted too so
    probes hash with byte-identical hyperplanes."""
    from overseer_spark.operators.similarity import _rp_planes, rp_signatures

    spark = corpus.sparkSession
    dim = len(corpus.select(vec_col).first()[0])
    planes_df = spark.createDataFrame(
        _rp_planes(n_tables, n_planes, dim, seed),
        "table int, bit int, pvec array<double>",
    )
    planes_df.write.mode("overwrite").parquet(f"{path}/planes")
    sig = rp_signatures(corpus, F.broadcast(planes_df), id_col, vec_col)
    (
        sig.join(corpus.select(id_col, vec_col), id_col)
        # co-locate each bucket before the write: ONE file per (table,
        # sig) directory instead of one per (task, bucket) pair — at
        # n_tables=8, n_planes=4 that is ~128 files vs ~4k tiny ones
        .repartition("table", "sig")
        .write.mode("overwrite")
        .partitionBy("table", "sig")
        .parquet(f"{path}/vectors")
    )


def lsh_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Top-k from the persisted LSH index, reading ONLY the buckets the
    query batch hashes into.

    The query signatures (≤ |queries|·n_tables (table, sig) pairs —
    dimension-sized, like the IVF probe set) are collected driver-side
    and pushed into the vector scan as a two-column partition filter, so
    the parquet reader lists only the probed bucket directories. The
    index rows carry the embeddings, so candidate re-scoring never
    re-reads the corpus — unlike the non-indexed rp_lsh_topk, which
    pays a second corpus scan per batch. Results are bit-identical to
    rp_lsh_topk (same persisted planes, same rounded ranking; asserted
    in tests/test_ann_index.py)."""
    from overseer_spark.operators.similarity import rp_signatures

    planes_df = spark.read.parquet(f"{path}/planes")
    qsig = eager_cache(
        rp_signatures(queries, F.broadcast(planes_df), id_col, vec_col,
                      out_id="query_id")
    )
    buckets = [
        (r["table"], r["sig"])
        for r in qsig.select("table", "sig").distinct().collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        bucket_predicate(buckets)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        vectors.join(F.broadcast(qsig), ["table", "sig"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, vec_col)
        .dropDuplicates(["query_id", id_col])
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qvec")), round_to
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF-PQ composite (the FAISS IndexIVFPQ on-disk shape):
    seeded PQ codebooks (exact-double parquet rows, so the ADC replay is
    bit-identical after the round trip), the IVF centroid table, and the
    8-byte PQ codes partitioned by cell. Train + encode + assign happen
    ONCE; every later query batch reads only its probed cells' code
    partitions. Storage per vector: m bytes of codes + the cell key —
    the 32x compression that serves billions of vectors per node."""
    from overseer_spark.operators.similarity import (  # noqa: PLC0415
        assign_cells,
        pq_codebooks,
        pq_encode,
    )

    spark = corpus.sparkSession
    books = pq_codebooks(corpus, m=m, ks=ks, id_col=id_col, vec_col=vec_col)
    rows = [
        (j, c, [float(x) for x in books[j][c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(
        rows, "j int, c int, cvec array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    centroids = eager_cache(trained_centroids(corpus, n_cells, id_col, vec_col))
    centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col)
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = assign_cells(corpus, n_cells, id_col, vec_col, centroids)
    codes = pq_encode(corpus, books, id_col, vec_col).join(
        assigned.select(id_col, "cell"), id_col
    )
    # co-locate each cell before the write: one file per cell directory
    codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")


def _load_codebooks(spark: SparkSession, path: str):
    import numpy as np  # noqa: PLC0415

    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["j"] for r in rows) + 1
    ks = max(r["c"] for r in rows) + 1
    sub = len(rows[0]["cvec"])
    books = np.empty((m, ks, sub), dtype=np.float64)
    for r in rows:
        books[r["j"]][r["c"]] = r["cvec"]
    return books


def ivfpq_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Top-k from the persisted IVF-PQ index, reading ONLY the probed
    cells' code partitions (static partition pruning — the probed cell
    set is ≤ |queries|·n_probe ints, collected driver-side and pushed as
    a partition filter) and scanning 8-byte codes with the ADC
    table-gather. Bit-identical to the in-memory
    similarity.ivfpq_topk (same seeded codebooks through an exact-double
    parquet round trip, same rounded ranking; asserted in
    tests/test_ann_index.py)."""
    from overseer_spark.operators.similarity import _adc_lut_udf  # noqa: PLC0415

    books = _load_codebooks(spark, path)
    qcells = eager_cache(
        probed_cells(spark, path, queries, n_probe, id_col, vec_col)
        .select("query_id", "cell")
    )
    cells = [r["cell"] for r in qcells.select("cell").distinct().collect()]
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(cells) if cells else F.lit(False)
    )
    _, _adc = _adc_lut_udf(spark, queries, books, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(qcells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(_adc(F.col("query_id"), F.col("code")), round_to).alias(
                "sim_pq"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_pq"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
