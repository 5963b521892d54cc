"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query
  set against the corpus, score with JVM-side float64 arithmetic, rank with
  a window. Correctness baseline; cost O(|queries|·n).
- ``ivf_topk``: IVF-style approximate search — assign corpus vectors to the
  nearest of ``n_cells`` centroids once (an O(n·c) broadcast pass), then
  probe only ``n_probe`` cells per query. This is the 100 TB path: the
  corpus is partitioned (bucketable) by ``cell``, and each query touches a
  few cells instead of the full corpus.
- ``embedding_near_duplicates``: pairs with cosine ≥ threshold via the same
  IVF blocking (both vectors in the same cell), verified exactly.

Centroids are chosen deterministically (lowest ids) — k-means would drift
across engines and is unnecessary for the operator contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from overseer_spark.functions.vectors import cosine_similarity, l2_norm, vec_dot
from overseer_spark.operators.util import eager_cache, spread
from overseer_spark.session import local_frame


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn("_norm", l2_norm(vec_col))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, vec_id, sim, rank). Ranking is by *rounded* score
    with an id tiebreak so results are reproducible across engines.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = spread(corpus, id_col).join(
        F.broadcast(q), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), round_to).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _assign_cells_blas(
    spread_corpus: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Blocked-BLAS E-step (VERDICT r11 ask #5 — the large-k regime):
    one dgemm per Arrow batch against the broadcast centroid matrix,
    per-row (sim DESC, cell ASC) top-``n_probe`` via lexsort — the
    knn_graph_edges block-scorer pattern applied to assignment. At
    k ≈ √n ≈ 3·10⁴ centroids the expression-tree E-step evaluates n·k
    per-pair fold expressions in the JVM; dgemm turns that into
    n/batch BLAS calls with the k×d matrix resident once per worker.

    Float posture: sims here are dgemm-accumulated doubles while the
    aggregate path folds element-by-element, so individual sims can
    differ in the last ulp — the ASSIGNMENT is argmax over
    well-separated trained centroids, which both paths resolve
    identically unless two centroids sit within ~1e-15 relative of a
    vector (interleaved A/B at the sf0.01 fixture and the 100x rung:
    zero assignment diffs — see SCALING.md; re-verify before trusting
    a new corpus whose centroids can collide, e.g. a constant-column
    training set below the FAISS points-per-centroid floor)."""
    rows = cents.collect()  # k×d doubles — the path's precondition
    spark = spread_corpus.sparkSession
    import numpy as np  # noqa: PLC0415

    cell_ids = np.array([r["cell"] for r in rows], dtype=np.int64)
    C = np.array([list(r["_cvec"]) for r in rows], dtype=np.float64)
    Cn = C / np.sqrt((C * C).sum(axis=1))[:, None]
    bc = spark.sparkContext.broadcast((cell_ids, Cn))
    take = min(n_probe, len(rows))

    def score(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        cells_, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nx = np.sqrt((X * X).sum(axis=1))
            sims = (X @ cn.T) / nx[:, None]
            order = np.lexsort(
                (np.broadcast_to(cells_, sims.shape), -sims), axis=-1
            )[:, :take]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), take),
                    "cell": cells_[order].ravel(),
                }
            )

    return spread_corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, cell long"
    )


def assign_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_probe: int = 1,
    estep: str = "auto",
    blas_threshold: int = 1024,
    n_centroids: int | None = None,
) -> DataFrame:
    """IVF cell assignment: nearest centroid(s) by cosine (deterministic
    centroids = lowest-id vectors unless given). Adds a ``cell`` column;
    with ``n_probe > 1`` each vector appears once per probed cell.

    The argmax is an AGGREGATE, not a rank window (round 11): the
    broadcast crossJoin emits n·k candidate rows, and a window must
    SHUFFLE AND SORT all of them on (id, sim) — measured 70-77 s for
    the E-step at 200k vectors × 447 centroids, growing superlinearly
    (the n·k sort is the whole cost). max(struct(sim, -cell)) instead
    partial-combines MAP-SIDE — each id's k candidates collapse to one
    row inside the scanning task, so only n rows ever shuffle — same
    measured assignment with zero diffs (A/B'd at the 100x rung; the
    struct encodes the identical (sim DESC, cell ASC) tie order the
    window used). Multi-probe aggregates the sorted top-``n_probe``
    slice the same way (collect_list of (sim, cell) structs — unique
    pairs, so array_sort is total and layout-independent; fine for the
    sqrt(n)-sized k this family uses; a 1e9-vector build with k ≈ 3e4
    wants the blocked-BLAS E-step instead, see knn_graph_edges'
    applyInPandas pattern). The candidate stream carries ONLY
    (id, sim, cell) — payload columns rejoin by id afterwards (one
    n-row equi-join): routing the embedding arrays through the
    aggregation buffers measured 268 s at the 100x rung (n·k array
    copies) vs ~10 s for score-only aggregate + payload join. Full
    build at 100x: 451 s (window) → 98 s.

    ``estep`` picks the candidate-scoring engine: "aggregate" (the
    expression-tree path above), "blas" (_assign_cells_blas — dgemm
    per Arrow batch, the k ≳ 10³ regime where n·k JVM fold expressions
    dominate the build; VERDICT r11 ask #5), or "auto" (default):
    blas once the centroid count reaches ``blas_threshold``, so every
    existing √n-sized caller keeps the aggregate plan (pins
    unchanged) and a 10⁹-vector build with k ≈ 3·10⁴ gets dgemm
    without a code change."""
    # n_centroids: a caller that KNOWS its provided centroid frame's size
    # (e.g. append_to_ivf_index's per-index memo) passes it so the
    # estep="auto" sizing below costs no count job (r13, guide §1.2)
    k_known = n_cells if centroids is None else n_centroids
    if centroids is None:
        centroids = corpus.orderBy(id_col).limit(n_cells)
    cents = centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("_cvec")
    )
    spread_corpus = spread(corpus, id_col)
    if estep == "auto":
        k = k_known if k_known is not None else cents.count()
        estep = "blas" if k >= blas_threshold else "aggregate"
    if estep == "blas":
        win = _assign_cells_blas(spread_corpus, cents, id_col, vec_col, n_probe)
        return spread_corpus.join(win, id_col).select(*corpus.columns, "cell")
    scored = (
        spread_corpus.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            id_col,
            "cell",
            cosine_similarity(F.col(vec_col), F.col("_cvec")).alias("_csim"),
        )
    )
    if n_probe == 1:
        win = (
            scored.groupBy(id_col)
            .agg(
                F.max(
                    F.struct(F.col("_csim"), (-F.col("cell")).alias("_nc"))
                ).alias("_m")
            )
            .select(id_col, (-F.col("_m._nc")).alias("cell"))
        )
    else:
        # multi-probe: replicate each vector into its n_probe nearest
        # cells — raises blocked-pair recall at n_probe× index size
        win = (
            scored.groupBy(id_col)
            .agg(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_csim"),
                                    (-F.col("cell")).alias("_nc"),
                                )
                            )
                        )
                    ),
                    1,
                    n_probe,
                ).alias("_top")
            )
            .select(id_col, F.explode("_top").alias("_t"))
            .select(id_col, (-F.col("_t._nc")).alias("cell"))
        )
    return spread_corpus.join(win, id_col).select(*corpus.columns, "cell")


def trained_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 2048,
    iterations: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """TRAINED coarse-quantizer centroids for the IVF family (VERDICT r8
    ask #4): seeded Lloyd k-means instead of the first ``n_cells``
    vectors by id. Arbitrary-id centroids give unbalanced Voronoi cells,
    so recall and probe cost both degrade as the corpus outgrows the
    fixture distribution; k-means centroids track the data.

    FAISS-style training economics: k-means runs on a DETERMINISTIC
    hash-ordered sample of ``train_sample`` vectors (xxhash64 of the id —
    layout-independent, unlike F.rand — with the id as tie-break), not
    the full corpus, so training cost is bounded no matter the corpus
    size; the full corpus only pays the one broadcast E-step inside
    assign_cells. The Lloyd loop itself runs DRIVER-SIDE in numpy over
    the collected sample (one Spark job total), mirroring
    kmeans_lloyd's exact semantics — lowest-id init, argmin with
    lowest-cell tie-break, per-iteration 6dp mean rounding, emptied
    clusters keep their centroid — the same driver-side-training
    economics pq_codebooks already uses. The round-9 Spark-side loop
    paid ~15 sequential jobs (~5 s PER ENTRY at any scale, 40 s at
    k=312) to iterate over 2048 rows; sample-bounded training belongs
    on the driver, exactly as FAISS trains on a sampled matrix.
    Deterministic by construction (no partitioning is involved at
    all), so catalog pins replay bit-identically across layouts.

    ``train_sample`` is a FLOOR, not a constant: the effective sample is
    max(train_sample, 8·n_cells) — FAISS's documented points-per-
    centroid rule. A fixed 2048 sample quietly degenerates once
    n_cells outgrows it (found at the 100x rung, round 11: 447
    centroids from 2048 points ≈ 4.6 points each gave collapsed,
    wildly unbalanced Voronoi cells, and the block-pair kNN scorer's
    Σcell² cost concentrated into one straggler task). At every pinned
    scale (k ≤ 256) the floor leaves the sample at 2048, so existing
    pins are byte-identical.

    Returns (``id_col`` = cell index 0..n_cells-1, ``vec_col`` = centroid)
    shaped exactly like the centroid frames assign_cells/ivf_topk expect.
    """
    import numpy as np  # noqa: PLC0415

    spark = corpus.sparkSession
    train_sample = max(train_sample, 8 * n_cells)
    h = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(1 << 31))
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(h, F.col(id_col))
        .limit(train_sample)
        .collect()
    )
    ids = np.array([r[id_col] for r in rows])
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    k = min(n_cells, len(rows))
    init = np.argsort(ids, kind="stable")[:k]
    cent = X[init].copy()
    for _ in range(iterations):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties -> lowest cell index
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cent[c] = np.round(members.mean(axis=0), round_to)
    out = [(i, [float(x) for x in cent[i]]) for i in range(k)]
    return local_frame(spark, out, f"{id_col} long, {vec_col} array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: probe the ``n_probe`` nearest cells per query.

    At scale, ``assigned`` is written bucketed by ``cell`` so the probe join
    prunes buckets; here it's an equi-join on ``cell``. The coarse
    quantizer is TRAINED (trained_centroids — seeded k-means on a
    deterministic sample), not the first-k-by-id shortcut.
    """
    centroids = trained_centroids(corpus, n_cells, id_col, vec_col)
    assigned = assign_cells(corpus, n_cells, id_col, vec_col, centroids)
    cents = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("_cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "_qvec", "cell", cosine_similarity("_qvec", F.col("_cvec")).alias("_csim"))
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.col("cell"))),
        )
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "_qvec", "cell")
    )
    scored = assigned.join(F.broadcast(qcells), "cell").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("_qvec")), round_to).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _rp_planes(n_tables: int, n_planes: int, dim: int, seed: int) -> list:
    """Deterministic random hyperplanes: numpy legacy RandomState is
    bit-reproducible across platforms, so signatures are stable."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        (t, b, [float(x) for x in rng.standard_normal(dim)])
        for t in range(n_tables)
        for b in range(n_planes)
    ]


def rp_signatures(
    vectors: DataFrame,
    planes_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str | None = None,
) -> DataFrame:
    """(id, table, sig): per-table signature = the sign bits of the dot
    products against that table's hyperplanes, packed into a long.

    The plane set is a broadcast dimension (n_tables × n_planes rows); the
    per-(vector, plane) dot products collapse to signatures with one
    partial-agg shuffle of (id, table) longs — no vector data moves."""
    oid = out_id or id_col
    scored = spread(vectors, id_col).crossJoin(F.broadcast(planes_df)).select(
        F.col(id_col).alias(oid),
        "table",
        (
            F.when(vec_dot(F.col(vec_col), F.col("pvec")) > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            * F.expr("shiftleft(1L, bit)")
        ).alias("bitval"),
    )
    return scored.groupBy(oid, "table").agg(F.sum("bitval").alias("sig"))


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (SimHash-family) LSH.

    The cosine-LSH alternative to ``ivf_topk``: two vectors land in the
    same bucket of one table with probability ``(1 - θ/π)^n_planes``, so
    OR-ing ``n_tables`` tables recovers high recall for near neighbors
    while each query probes only its own buckets. At 100 TB the corpus
    signature table is written bucketed by (table, sig) — candidate
    generation is then a bucket-pruned equi-join; no centroids to learn or
    drift (vs IVF), at the cost of n_tables× the index rows. Candidates
    are exactly re-scored; recall vs the brute-force baseline is asserted
    in tests/test_similarity.py.

    ``n_planes`` is the selectivity/recall dial: collision probability per
    table is ``(1 - θ/π)^n_planes``, so corpora whose true neighbors sit at
    moderate cosine (like the synthetic fixtures) need FEW planes (default
    4 → 16 buckets/table); high-similarity dedup workloads can afford 8-12
    planes for much smaller buckets. Tune against a recall probe set —
    exactly what the pytest tripwire does."""
    dim = len(corpus.select(vec_col).first()[0])
    planes_df = F.broadcast(
        local_frame(
            corpus.sparkSession,
            _rp_planes(n_tables, n_planes, dim, seed),
            "table int, bit int, pvec array<double>",
        )
    )
    csig = rp_signatures(corpus, planes_df, id_col, vec_col)
    qsig = rp_signatures(queries, planes_df, id_col, vec_col, out_id="query_id")
    cand = (
        csig.join(F.broadcast(qsig), ["table", "sig"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    scored = (
        cand.join(corpus.select(id_col, vec_col), id_col)
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


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    strategy: str = "ivf",
    n_probe: int = 2,
) -> DataFrame:
    """Vector pairs with cosine ≥ threshold. Output (d1, d2, sim), d1 < d2.

    - ``exact``: score the full upper triangle (one balanced self-join) —
      O(n²) comparisons, the correctness baseline and the right choice for
      corpora that fit a cross join.
    - ``ivf`` (default): block candidates by multi-probe IVF cell — each
      vector lands in its ``n_probe`` nearest cells and only same-cell
      pairs are scored. Approximate: meant for high thresholds (true
      near-duplicates, which share a nearest centroid with overwhelming
      probability — recall asserted in tests/test_similarity.py on
      perturbed copies); at 100 TB this is the only viable shape, cost
      ~ Σ cell² instead of n².
    """
    if strategy == "exact":
        a = corpus.select(F.col(id_col).alias("d1"), F.col(vec_col).alias("v1"))
        b = corpus.select(F.col(id_col).alias("d2"), F.col(vec_col).alias("v2"))
        pairs = spread(a, "d1").join(b, F.col("d1") < F.col("d2"))
    elif strategy == "ivf":
        assigned = assign_cells(
            corpus, n_cells, id_col, vec_col, n_probe=n_probe
        ).select(F.col(id_col), F.col(vec_col), "cell")
        assigned = eager_cache(assigned)
        a = assigned.select(
            F.col("cell"), F.col(id_col).alias("d1"), F.col(vec_col).alias("v1")
        )
        b = assigned.select(
            F.col("cell"), F.col(id_col).alias("d2"), F.col(vec_col).alias("v2")
        )
        pairs = a.join(b, "cell").filter(F.col("d1") < F.col("d2"))
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return (
        pairs.select(
            "d1",
            "d2",
            F.round(cosine_similarity(F.col("v1"), F.col("v2")), round_to).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top principal component of a vector column, one data pass.

    Scale shape (the tree-aggregate pattern): an Arrow-batched
    ``mapInPandas`` computes *partial moments* per batch — count, Σx, and
    the flattened Σxxᵀ (d² doubles) — so each input row is touched exactly
    once and the shuffle carries only ``n_batches × (d² + d + 1)`` doubles,
    independent of corpus size. Partials reduce element-wise (posexplode +
    groupBy(pos)), the d×d covariance is assembled driver-side (cov =
    Σxxᵀ/n − μμᵀ) and eigensolved locally — a d×d problem, so the *data*
    pass is the only distributed stage (power iteration would need O(100s)
    of passes at this spectrum's eigengap; moments need one). This is
    exactly how MLlib's RowMatrix computes its Gramian; re-derived
    per-batch in numpy.

    Output: one row per dimension ``(i, loading, eigval)``, sign-fixed so
    the largest-|loading| entry is positive; verified against a full numpy
    eigendecomposition in tests/test_similarity.py.
    """
    import numpy as np

    width = 1 + dim + dim * dim

    def _partials(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.size == 0:
                continue
            flat = np.concatenate(
                ([float(mat.shape[0])], mat.sum(axis=0), (mat.T @ mat).ravel())
            )
            yield pd.DataFrame({"p": [flat.tolist()]})

    parts = df.select(vec_col).mapInPandas(_partials, schema="p array<double>")
    reduced = (
        parts.select(F.posexplode("p").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    tot = np.zeros(width)
    for r in reduced:
        tot[r["pos"]] = r["v"]
    n, s, o = tot[0], tot[1 : 1 + dim], tot[1 + dim :].reshape(dim, dim)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    w, vecs = np.linalg.eigh(cov)
    v, eigval = vecs[:, -1], float(w[-1])
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    spark = df.sparkSession
    rows = [(i, round(float(v[i]), 6), round(eigval, 4)) for i in range(dim)]
    return local_frame(spark, rows, "i int, loading double, eigval double")


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 10,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = None,
):
    """Full Lloyd k-means over a distributed vector table.

    The iterative-algorithm contract at 100 TB (same shape as
    scheduling.pagerank): per iteration the corpus is scanned ONCE against a
    BROADCAST k×dim centroid table (E-step: crossJoin + argmin window), and
    the M-step's per-(cluster, dim) means collapse map-side before one small
    exchange; only the k×dim centroid matrix ever reaches the driver —
    vector rows are never collected and never shuffled on vector data.
    Init is deterministic: the k lowest-id vectors (the same convention as
    assign_cells); an emptied cluster keeps its previous centroid.

    ``round_to`` rounds every M-step mean to that many decimals INSIDE
    the aggregation. Distributed float summation is order-dependent in
    the last ulp, so unrounded means can differ across partition layouts
    and compound over iterations; rounding each iteration re-pins the
    state so the trained centroids (and everything downstream — cell
    assignments, probe order, layout-swept catalog pins) are bit-stable.
    Callers that replay the numpy oracle leave it None.

    Returns (assignments DataFrame: id, cluster, d2; centroids list).
    Ref analogue: the reference runs arbitrary per-job compute
    (doc/guide/Introduction.md:5) — this is the natively-provided
    equivalent for iterative ML, verified against a numpy oracle in
    tests/test_similarity.py.
    """
    from overseer_spark.operators.util import eager_cache  # noqa: PLC0415

    spark = emb.sparkSession
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # cache the training points ONCE: without this, every iteration's
    # E-step re-runs the whole upstream lineage — for trained_centroids
    # that lineage is a corpus scan + hash-order + limit, so 5
    # iterations paid 5 corpus scans (measured ~5 s per IVF-family
    # entry at sf0.1, round-9 bench diff). Values are unchanged —
    # caching is a pure execution-plan change, so every layout-swept
    # pin downstream of the trained centroids stays bit-identical.
    pts = eager_cache(emb.select(F.col(id_col).alias("_id"), dv.alias("_v")))
    centroids = [
        list(r._v) for r in pts.orderBy("_id").limit(k).collect()
    ]

    def assign(cent):
        cent_df = local_frame(
            spark, [(i, c) for i, c in enumerate(cent)], "c int, cv array<double>"
        )
        d2 = F.aggregate(
            F.zip_with(F.col("_v"), F.col("cv"), lambda x, m: (x - m) * (x - m)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy("_id").orderBy("d2", "c")
        return (
            pts.crossJoin(F.broadcast(cent_df))
            .select("_id", "_v", "c", d2.alias("d2"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    assigned = None
    for _ in range(iterations):
        assigned = assign(centroids)
        mean = F.avg("x") if round_to is None else F.round(F.avg("x"), round_to)
        means = (
            assigned.select("c", F.posexplode("_v").alias("pos", "x"))
            .groupBy("c", "pos")
            .agg(mean.alias("m"))
            .groupBy("c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cv")
            )
            .collect()
        )
        new = list(centroids)  # emptied clusters keep their centroid
        for r in means:
            new[r.c] = list(r.cv)
        centroids = new
    final = assign(centroids).select(
        F.col("_id").alias(id_col), F.col("c").alias("cluster"), "d2"
    )
    return final, centroids


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    sample: int = 256,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
):
    """Train product-quantization codebooks on a bounded driver-side sample.

    The vector dimension is split into ``m`` subspaces; each subspace gets
    its own ``ks``-centroid k-means codebook (seeded Lloyd on the lowest-id
    ``sample`` vectors, so training is deterministic and the collect is
    bounded by ``sample × dim`` — never corpus-sized). Vectors are
    L2-normalized first so subspace dot products sum to cosine.

    Returns a ``(m, ks, dim//m)`` numpy array. At 100 TB the sample stays
    a few hundred rows — codebook quality depends on coverage, not corpus
    size — and the codebooks broadcast to executors as a few KB.
    """
    import numpy as np  # noqa: PLC0415

    rows = corpus.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ks, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(len(Xj), ks, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ks):
                mask = a == c
                if mask.any():
                    C[c] = Xj[mask].mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    corpus: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``m`` small codebook indices (4–8 bits each).

    A 64-dim float vector becomes 8 bytes — a 32× compression of the
    shuffle/storage footprint, which is what makes billion-vector ANN
    serving fit in memory. Vectorized Arrow-batched pandas UDF; the
    codebooks ride along as a broadcast numpy constant.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    spark = corpus.sparkSession
    b_books = spark.sparkContext.broadcast(books)

    # no type hints: module-level `from __future__ import annotations` turns
    # them into strings, which pandas_udf's hint inspection rejects
    def _encode_fn(vecs):
        B = b_books.value
        m, ks, sub = B.shape
        X = np.array([list(v) for v in vecs], dtype=np.float64)
        if len(X) == 0:
            return pd.Series([], dtype=object)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            d2 = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    _encode = pandas_udf(_encode_fn, "array<int>")
    return spread(corpus, id_col).select(
        id_col, _encode(F.col(vec_col)).alias("code")
    )


def _adc_lut_udf(spark, queries, books, id_col, vec_col):
    """Driver-side ADC lookup tables (m x ks doubles per query — tiny)
    plus the Arrow-batched gather UDF that sums LUT[j][code_j]. Shared by
    pq_topk and ivfpq_topk."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    m, ks, sub = books.shape
    qrows = queries.select(id_col, vec_col).collect()
    luts = {}
    for r in qrows:
        qv = np.array(list(r[1]), dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        luts[r[0]] = np.stack(
            [books[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)]
        )  # (m, ks)
    b_luts = spark.sparkContext.broadcast(luts)

    def _adc_fn(qids, code_s):
        L = b_luts.value
        out = np.empty(len(qids))
        rng_m = np.arange(m)
        for i, (qid, code) in enumerate(zip(qids, code_s)):
            out[i] = L[qid][rng_m, np.asarray(code)].sum()
        return pd.Series(out)

    return qrows, pandas_udf(_adc_fn, "double")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k cosine via asymmetric distance computation (ADC).

    Per query, a lookup table LUT[m][ks] of subspace dot products is built
    driver-side (m×ks doubles — tiny) and broadcast; each corpus vector's
    approximate cosine is then ``sum_j LUT[j][code_j]`` — a pure
    table-gather over the 8-byte codes, never touching the original
    floats. This is the serving path that scans compressed codes instead
    of raw vectors; ranking uses rounded scores + id tiebreaks for
    reproducibility.
    """
    spark = corpus.sparkSession
    qrows, _adc = _adc_lut_udf(spark, queries, books, id_col, vec_col)
    codes = pq_encode(corpus, books, id_col, vec_col)
    qdf = local_frame(spark, [(r[0],) for r in qrows], "query_id bigint")
    scored = (
        codes.crossJoin(F.broadcast(qdf))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(_adc(F.col("query_id"), F.col("code")), round_to).alias("sim_pq"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_pq"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Two-stage ANN serving: PQ-ADC scans the compressed codes to build a
    ``shortlist`` of candidates per query, then ONLY those candidates are
    re-scored with exact float cosine and re-ranked. This is how
    production vector search recovers accuracy lost to quantization: the
    expensive exact pass touches ``shortlist``/corpus of the rows, and
    recall is bounded by the shortlist's coverage, not the code budget.
    The rerank join is a broadcast of the (queries × shortlist) candidate
    ids against the corpus — candidate-only verification, same shape as
    the LSH dedup verify stage (operators/dedup.py)."""
    cands = pq_topk(
        corpus, queries, books, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", id_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        spread(corpus, id_col)
        .join(F.broadcast(cands), id_col)
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


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance: diversity-aware top-k over a bounded
    shortlist.

    Stage 1 (distributed): exact cosine top-``shortlist`` per query.
    Stage 2 (driver, bounded): the greedy MMR loop — pick
    argmax λ·sim(q,c) − (1−λ)·max_j sim(c, picked_j) — which is
    inherently sequential in k; the candidate matrix is
    ``shortlist × dim`` floats per query. Ties break on ascending id so
    results are engine-reproducible."""
    import numpy as np  # noqa: PLC0415

    spark = corpus.sparkSession
    cands = cosine_topk(
        corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col,
        round_to=round_to,
    )
    vecs = cands.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec")), id_col
    ).select("query_id", id_col, "sim", "_cvec")
    rows = vecs.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r[id_col], r["sim"], np.array(list(r["_cvec"]), dtype=np.float64))
        )
    out = []
    for qid, items in sorted(by_q.items()):
        items.sort(key=lambda t: (-t[1], t[0]))
        ids = [t[0] for t in items]
        qsims = np.array([t[1] for t in items])
        M = np.stack([t[2] for t in items])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        pair = np.round(M @ M.T, round_to)
        picked: list[int] = []
        avail = list(range(len(ids)))
        while avail and len(picked) < k:
            if picked:
                diversity = pair[np.ix_(avail, picked)].max(axis=1)
            else:
                diversity = np.zeros(len(avail))
            scores = lam * qsims[avail] - (1 - lam) * diversity
            # argmax with id tiebreak
            best = min(
                range(len(avail)), key=lambda i: (-scores[i], ids[avail[i]])
            )
            idx = avail.pop(best)
            picked.append(idx)
            out.append(
                (
                    qid,
                    ids[idx],
                    float(round(float(scores[best]), round_to)),
                    len(picked),
                )
            )
    return local_frame(
        spark, out, f"query_id long, {id_col} long, mmr_score double, rank long"
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """IVF-PQ composite — the FAISS ``IndexIVFPQ`` layout, and the shape
    billion-vector serving actually deploys: the coarse quantizer (IVF
    cells, TRAINED k-means centroids — trained_centroids) routes every
    vector to a
    cell; vectors are stored as 8-byte PQ codes; a query batch probes
    its ``n_probe`` nearest cells and runs the ADC table-gather ONLY
    over the probed cells' codes. Relative to flat PQ the scan shrinks
    to ~n_probe/n_cells of the codes; relative to flat IVF the scanned
    bytes shrink 32×. Results are a pure function of inputs (seeded
    codebooks + rank tie-breaks on id), so the catalog pin replays
    bit-identically across partition layouts. At scale the code table
    is written partitioned by cell (the ann_index.py pattern) so the
    probe is static partition pruning; here it is an equi-join on cell."""
    spark = corpus.sparkSession
    centroids = trained_centroids(corpus, n_cells, id_col, vec_col)
    assigned = assign_cells(corpus, n_cells, id_col, vec_col, centroids)
    codes = pq_encode(corpus, books, id_col, vec_col)
    cellcodes = codes.join(assigned.select(id_col, "cell"), id_col)
    qrows, _adc = _adc_lut_udf(spark, queries, books, id_col, vec_col)
    cents = centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("_cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "cell",
            cosine_similarity("_qvec", F.col("_cvec")).alias("_csim"),
        )
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("_csim"), F.col("cell")
                )
            ),
        )
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "cell")
    )
    scored = (
        cellcodes.join(F.broadcast(qcells), "cell")
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
