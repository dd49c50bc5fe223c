"""Similarity search over embedding columns (SURVEY.md §2C D3).

Baseline: brute-force cosine — array HOFs (``zip_with`` +
``aggregate``), fully JVM-side, no UDF, no collect. Scale paths:

- **blocked pairs**: restrict the pair space with a blocking key
  (label, LSH bucket) before the join — turns O(n²) into Σ O(b²).
- **IVF top-k** (`ivf_topk`): partition vectors into coarse cells
  (here: per-label centroids computed as averages — a k-means
  assignment step at 100 TB), probe only the closest cells.
- **random-hyperplane LSH** (`rh_lsh_buckets`): sign-bit signatures
  from fixed pseudo-random hyperplanes; cosine-similar vectors share
  buckets with high probability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skopje_spark.queries.rounding import dround


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (sequential left-to-right fold —
    same accumulation order as the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with the repo-wide zero-norm convention: a
    zero vector scores ~0 against anything (the denominator is clamped
    at 1e-300, matching the numpy kernels in
    :func:`cosine_topk_batch` / :func:`blocked_neardup_pairs` and the
    driver-side scorer in :func:`ivf_index_topk`), never NaN — so the
    single-query and batch paths rank degenerate inputs identically."""
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-300))


def l2_norm(a: Column) -> Column:
    """Euclidean length in double precision (public alias of the
    internal fold — same accumulation order as the DuckDB oracles)."""
    return _norm(a)


def l2_normalize(a: Column) -> Column:
    """Unit-length rescale: x / ||x||. A pure element-wise HOF map —
    no shuffle, stays in codegen; the standard prep before cosine ANN
    (post-normalization, cosine == dot)."""
    n = _norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def cosine_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k by cosine against a (single-row) query vector.

    The query side is broadcast; scoring is a narrow map over the
    corpus; top-k is TakeOrderedAndProject (per-partition heaps, no
    global sort). This *is* the right 100 TB plan for one query vector.
    """
    q = F.broadcast(query_df.select(F.col(vec_col).alias("__qvec")))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col),
        dround(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def blocked_neardup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    Execution shape (sized for scale): ONE shuffle of the n input rows
    on the block key, then `applyInPandas` computes each block's full
    pairwise cosine matrix with a single BLAS matmul and emits only
    above-threshold pairs. The alternative — self-join on the block key
    then per-pair scoring — shuffles O(Σ|block|²) fat rows (two vectors
    each); this shuffles O(n).

    Constraint: one block must fit in one worker (|block| vectors +
    |block|² scores). That is the standard blocked-ANN contract; at
    100 TB keep blocks ≤ ~50k vectors by refining the blocking key
    (e.g. label × LSH bucket via :func:`rh_lsh_buckets`) — a giant
    block means the blocking key is not doing its job. For unblocked
    corpora derive the key from LSH buckets.
    """
    import numpy as np
    import pandas as pd

    id_t = dict(embeddings.dtypes)[id_col]
    blk_t = dict(embeddings.dtypes)[block_col]
    out_schema = (
        f"{block_col} {blk_t}, id_a {id_t}, id_b {id_t}, cos_sim double"
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        M = np.stack(pdf["__v"].to_numpy()).astype("float64")
        norms = np.maximum(np.sqrt(np.einsum("ij,ij->i", M, M)), 1e-300)
        S = (M @ M.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        from skopje_spark.queries.rounding import dround_np

        c = dround_np(S[iu, ju], 6)  # matches dround / the SQL oracle
        keep = c >= threshold
        return pd.DataFrame(
            {
                block_col: pdf[block_col].iloc[0],
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos_sim": c[keep],
            }
        )

    return (
        embeddings.select(
            F.col(block_col),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
        )
        .groupBy(block_col)
        .applyInPandas(score_block, out_schema)
    )


def rh_lsh_buckets(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (cosine-preserving).

    Hyperplanes are fixed deterministic ±1 patterns (sign of
    sin(p·i+1) — reproducible without RNG state). The bucket id packs
    the n sign bits. Near-identical vectors collide on all bits.
    """
    bucket = None
    for p in range(n_planes):
        # deterministic ±1 pattern per plane, varying with index parity
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array([F.lit(1.0 if ((i * (p + 3) + p) % 5) < 3 else -1.0) for i in range(dim)]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return embeddings.withColumn("lsh_bucket", bucket.cast("int"))


def ivf_centroids(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Coarse-quantizer centroids: element-wise mean per cell.

    posexplode → (cell, pos) mean → re-assemble. At 100 TB this is the
    k-means "update" step; assignment uses `cosine` against the
    (broadcast) centroid table.
    """
    exploded = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    means = exploded.groupBy("cell", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("mean_val")
    )
    return (
        means.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_val"))
            ).alias("__pairs")
        )
        .select(
            "cell",
            F.transform(F.col("__pairs"), lambda s: s.getField("mean_val")).alias(
                "centroid"
            ),
        )
    )


def _centroid_literal(vec: list[float]) -> Column:
    """Double-array literal built through ONE parsed SQL expression
    instead of k·dim py4j `F.lit` round-trips — constructing the 8×64
    literal tree call-by-call measured 0.8 s of pure driver latency
    per kmeans_assign. `repr(float)` is the shortest round-tripping
    decimal, and Java's parseDouble maps it back to the identical
    IEEE-754 double, so the resulting Literal tree is bit-equal to
    the old one. Non-finite components fall back to the call-by-call
    path (no SQL literal spelling)."""
    from skopje_spark.operators._lit import double_array_lit

    return double_array_lit(vec)


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment as a pure narrow map.

    The centroid table is driver-side (k × dim doubles — a few KB) and
    is baked into the plan as literals, so assignment is whole-stage
    codegen over the corpus: no join, no shuffle, no UDF. Ties break to
    the lowest cell id (``array_position`` finds the first maximum).
    At very large k (≥ ~256) switch to a pandas-UDF matmul against a
    broadcast centroid matrix instead of a k-term expression.
    """
    scores = F.array(
        *[cosine(F.col(vec_col), _centroid_literal(c)) for c in centroids]
    )
    return embeddings.withColumn(
        out_col,
        (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
    )


def kmeans_cells(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    train_sample: int = 8192,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd k-means coarse quantizer: ``iters`` assign/update rounds,
    returning (embeddings + ``cell`` assignment column, final centroid
    list). This replaces label-as-cell for IVF: cells follow the
    actual vector geometry, so probing few cells still captures the
    query's true neighbors.

    TRAINING runs on a deterministic driver-side sample: the
    ``train_sample`` vectors with the smallest ``xxhash64(id)`` (a
    TakeOrdered job — no shuffle of the corpus) are collected once,
    and all Lloyd rounds run locally in numpy. One Spark job replaces
    ``iters`` full-corpus passes — the standard sample-trained
    quantizer shape (FAISS trains IVF the same way): at 100 TB the
    corpus is never scanned for training at all, and the sample
    (8192 × dim doubles ≈ a few MB) is bounded driver state.
    Summation order is the hash order of the sample — a pure function
    of the data, where the previous distributed fold's per-partition
    partials made final-ulp centroid bits depend on the partition
    layout (and therefore on the core count). Only the FINAL
    assignment uses :func:`kmeans_assign`'s literal-codegen map over
    the full corpus — the one whose semantics downstream oracles
    bind; training trajectories are explicitly unpinned (verdict-
    tolerant oracles, see q_similarity_ivf_kmeans).

    Seeds are the k vectors with the smallest ``xxhash64(id)`` —
    identical to the previous rule (the sample is a prefix-extension
    of the seed set under the same total order).
    """
    import numpy as np

    m = max(int(train_sample), k)
    rows = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .withColumn("__h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(m)
        .collect()
    )
    if not rows:
        raise ValueError("kmeans_cells: empty input")
    X = np.asarray([[float(x) for x in r[vec_col]] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    centroids = [list(map(float, X[i])) for i in range(min(k, len(rows)))]
    kk = len(centroids)
    for _ in range(iters):
        C = np.asarray(centroids, dtype=np.float64)
        # same zero-norm clamp as cosine(); argmax ties to lowest cell
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        cells = np.argmax(Xn @ Cn.T, axis=1)
        acc_n = np.zeros(kk, dtype=np.int64)
        acc_s = np.zeros((kk, X.shape[1]), dtype=np.float64)
        np.add.at(acc_n, cells, 1)
        np.add.at(acc_s, cells, X)
        # empty cells keep their previous centroid (standard Lloyd fix)
        centroids = [
            (acc_s[i] / acc_n[i]).tolist() if acc_n[i] else c
            for i, c in enumerate(centroids)
        ]
    return kmeans_assign(embeddings, centroids, vec_col=vec_col), centroids


def ivf_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k: score the query against centroids, keep
    the `n_probe` closest cells, then brute-force only those cells.

    Scale: centroid table is tiny (broadcast); the probe filter is a
    broadcast semi join → only ~n_probe/n_cells of the corpus is
    scanned for scoring.
    """
    cents = ivf_centroids(embeddings, vec_col=vec_col, cell_col=cell_col)
    q = F.broadcast(query_df.select(F.col(vec_col).alias("__qvec")))
    probe = (
        cents.crossJoin(q)
        # rank cells on the ROUNDED centroid score with the cell id as
        # tiebreak: probe selection becomes a deterministic function of
        # the data, reproducible across engines (the DuckDB oracle for
        # q_similarity_ivf_topk re-derives the same probe set) and
        # across summation orders (raw doubles differ in the last ulp
        # between a posexplode-mean and a columnar AVG)
        .select("cell", dround(cosine(F.col("centroid"), F.col("__qvec")), 6).alias("c"))
        .orderBy(F.desc("c"), F.asc("cell"))
        .limit(n_probe)
        # distinct name so the semi-join condition can't collide with a
        # corpus column also called "cell" (the k-means path)
        .select(F.col("cell").alias("__probe_cell"))
    )
    candidates = embeddings.join(
        F.broadcast(probe),
        embeddings[cell_col] == F.col("__probe_cell"),
        "left_semi",
    )
    return cosine_topk(candidates, query_df, id_col=id_col, vec_col=vec_col, k=k)


def cosine_topk_batch(
    embeddings: DataFrame,
    queries_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    k: int = 10,
    allowed_cells: dict | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """Top-k by cosine for a BATCH of M query vectors in one pass.

    Scale shape (the reason this exists next to :func:`cosine_topk`):
    the M queries are collected once (M is small by contract — a
    request batch, not a table; for table-sized query sets use
    :func:`blocked_neardup_pairs`) and closed over as a dense M×d
    matrix. Each corpus partition scores all M queries with a single
    BLAS matmul and keeps only its LOCAL top-k per query — correct
    because any global top-k row is necessarily in its partition's
    top-k. The global reduce then ranks M × partitions × k candidate
    rows — independent of corpus size — so the corpus is never
    shuffled and is read exactly once for all M queries, instead of
    M times via repeated single-query calls.

    Scores are rounded (dround 6) with ``id_col`` as tiebreak BEFORE
    ranking, so the selected set is a deterministic function of the
    data and reproducible by the DuckDB oracle. Like
    :func:`blocked_neardup_pairs`, the BLAS matmul's pairwise
    summation can differ from a sequential fold in the last ulp —
    the 6-dp rounding absorbs it (same accepted risk class as every
    float oracle in this repo).

    ``allowed_cells`` (qid → container of cell ids) restricts each
    query's candidates to ITS OWN cells — the per-query probe mask an
    IVF recall sweep needs: the corpus union is still read once for
    all queries (the matmul scores everything), but a row outside a
    query's probed cells can never enter that query's top-k. Requires
    ``cell_col`` on ``embeddings``; queries absent from the dict
    match nothing.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    qrows = (
        queries_df.select(qid_col, vec_col).orderBy(qid_col).collect()
    )  # M rows — bounded by the operator contract, like k-means centroids
    if not qrows:
        raise ValueError("cosine_topk_batch needs at least one query vector")
    qids = [r[0] for r in qrows]
    Q = np.asarray([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    from skopje_spark.queries.rounding import dround_np

    dts = dict(embeddings.dtypes)
    qdts = dict(queries_df.dtypes)
    out_schema = f"{qid_col} {qdts[qid_col]}, {id_col} {dts[id_col]}, cos_sim double"

    masks = (
        {q: np.asarray(sorted(c)) for q, c in allowed_cells.items()}
        if allowed_cells is not None
        else None
    )

    def part(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = dround_np(Xn @ Qn.T, 6)  # n×M, one matmul for all queries
            ids = pdf[id_col].to_numpy()
            cells = pdf[cell_col].to_numpy() if masks is not None else None
            for j, qid in enumerate(qids):
                s = S[:, j]
                ids_j = ids
                if masks is not None:
                    keep = np.isin(cells, masks.get(qid, ()))
                    if not keep.any():
                        continue
                    s, ids_j = s[keep], ids[keep]
                take = np.lexsort((ids_j, -s))[:k]  # (-cos, id) total order
                yield pd.DataFrame(
                    {qid_col: qid, id_col: ids_j[take], "cos_sim": s[take]}
                )

    scan_cols = [id_col, vec_col] + ([cell_col] if masks is not None else [])
    partial = embeddings.select(*scan_cols).mapInPandas(part, out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        partial.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> list[list[float]]:
    """Build a PERSISTED IVF index: k-means-quantize the corpus once,
    write vectors partitioned by cell plus a tiny centroid table.

    Layout: ``path/vectors/cell=<i>/...parquet`` + ``path/centroids``.
    Build-once/query-many — the index costs one quantize + one
    partitioned write; every later :func:`ivf_index_topk` reads ONLY
    the probed cells' directories (parquet partition pruning), i.e.
    ~n_probe/k of the corpus bytes, with no Spark job needed to rank
    cells. This is the data-lake equivalent of an ANN index at 100 TB.
    """
    assigned, _ = kmeans_cells(
        embeddings, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/vectors")
    # persist the per-cell means of the FINAL assignment (ivf_centroids),
    # not kmeans_cells' last-update list: ivf_topk ranks probes against
    # ivf_centroids of the same table, so the persisted index must score
    # cells with the identical centroid values or the two paths could
    # probe different cells near rounded-score ties
    cents = ivf_centroids(assigned, vec_col=vec_col, cell_col="cell")
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    cent_list = [
        [float(x) for x in r["centroid"]]
        for r in cents.orderBy("cell").collect()
    ]
    # build-time fit baseline for ivf_index_append's staleness metric:
    # mean cosine between each vector and its assigned centroid.
    # mode=overwrite: a REBUILD at the same path must reset the stats
    # history too, or the next append would read a stale (possibly
    # ambiguous) pre-rebuild baseline alongside the fresh one
    _write_index_stats(
        assigned, cent_list, f"{path}/stats", phase="build", vec_col=vec_col,
        mode="overwrite",
    )
    return cent_list


def _assigned_cosine(vec_col: str, centroids: list[list[float]]) -> Column:
    """max over centroids of cosine(vec, centroid) — the fit of a
    vector to its (best) cell, as one codegen expression."""
    return F.array_max(
        F.array(*[cosine(F.col(vec_col), _centroid_literal(c)) for c in centroids])
    )


def _write_index_stats(
    df: DataFrame,
    centroids: list[list[float]],
    stats_path: str,
    *,
    phase: str,
    vec_col: str,
    mode: str = "append",
) -> tuple[int, float | None]:
    """Write one (phase, n, mean_assigned_cos) row; returns (n, mean).
    An empty df writes n=0 with a NULL mean (avg over zero rows) and
    returns (0, None) rather than crashing."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(_assigned_cosine(vec_col, centroids)).alias("mean_assigned_cos"),
    ).collect()[0]
    n = int(row["n"])
    mean = float(row["mean_assigned_cos"]) if n else None
    spark = df.sparkSession
    spark.createDataFrame(
        [(phase, n, mean)],
        "phase string, n long, mean_assigned_cos double",
    ).write.mode(mode).parquet(stats_path)
    return n, mean


def ivf_index_append(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append new vectors to a persisted IVF index WITHOUT re-quantizing.

    Real corpora grow; rebuilding the quantizer per ingest would cost a
    full corpus pass. Instead each new vector is assigned to its
    nearest EXISTING centroid (broadcast-literal codegen map — no
    shuffle, no join, exactly :func:`kmeans_assign`) and appended to
    that ``cell=`` partition, so every later :func:`ivf_index_topk`
    sees it with zero read-path changes.

    The cost of never re-quantizing is drift: appended data may fit
    the frozen centroids worse than the build corpus did, degrading
    recall. The returned staleness metric quantifies that — the drop
    between the build-time mean assigned-cosine (persisted in
    ``path/stats``) and the appended batch's mean. Callers trigger a
    rebuild (:func:`ivf_index_write` on the union) when the drop
    crosses their threshold; a batch that fits as well as the original
    corpus scores a drop ≈ 0.

    Returns ``{"n_appended", "build_mean_cos", "append_mean_cos",
    "staleness_drop"}`` (``build_mean_cos``/``staleness_drop`` are
    None for indexes built before stats existed).
    """
    spark = embeddings.sparkSession
    # appends must not fork the stored vector type: a double-typed
    # batch appended into a float-typed index leaves mixed parquet
    # physical types that break every later scan of the directory
    stored_t = dict(spark.read.parquet(f"{path}/vectors").dtypes)[vec_col]
    embeddings = embeddings.withColumn(vec_col, F.col(vec_col).cast(stored_t))
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    if not cent_rows:
        raise ValueError(f"no centroids found under {path}")
    cells = [r["cell"] for r in cent_rows]
    cents = [[float(x) for x in r["centroid"]] for r in cent_rows]

    # assignment position -> the index's actual cell id (cells can be
    # non-contiguous if a quantizer cell ended up empty at build time)
    cell_of_pos = F.array(*[F.lit(int(c)) for c in cells])
    assigned = kmeans_assign(
        embeddings, cents, vec_col=vec_col, out_col="__pos"
    ).withColumn(
        "cell", F.element_at(cell_of_pos, F.col("__pos") + 1)
    ).drop("__pos")
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/vectors")

    n_appended, append_mean = _write_index_stats(
        embeddings, cents, f"{path}/stats", phase="append", vec_col=vec_col
    )
    build_mean = None
    try:
        stats = spark.read.parquet(f"{path}/stats")
        # ivf_index_write overwrites stats on (re)build, so at most one
        # build row exists; filter defensively anyway
        b = [
            r
            for r in stats.filter(F.col("phase") == "build").collect()
            if r["mean_assigned_cos"] is not None
        ]
        if b:
            build_mean = float(b[0]["mean_assigned_cos"])
    except Exception:  # pre-stats index layout
        pass
    drop = (
        build_mean - append_mean
        if build_mean is not None and append_mean is not None
        else None
    )
    return {
        "n_appended": n_appended,
        "build_mean_cos": build_mean,
        "append_mean_cos": append_mean,
        "staleness_drop": drop,
    }


def ivf_index_rebuild(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 3,
) -> list[list[float]]:
    """Retrain and rewrite a persisted IVF index from its OWN indexed
    vectors — the action the append-path staleness metric exists to
    trigger. Reads the current ``vectors/`` partitions (checkpointed
    first, so the overwrite never races its own input), re-runs the
    quantizer at ``k`` cells (default: the current centroid count),
    and rewrites layout + centroids + a FRESH build-stats baseline
    (the append history is intentionally reset — post-rebuild appends
    measure drift against the new quantizer, not the old one's).

    Cost: one full pass over the indexed vectors — exactly the price
    the frozen-quantizer appends deferred; ids and vectors are
    preserved bit-for-bit, only cell assignments change."""
    cur = spark.read.parquet(f"{path}/vectors").drop("cell")
    cur = cur.localCheckpoint(eager=True)  # sever lineage from the path
    if k is None:
        k = spark.read.parquet(f"{path}/centroids").count()
        if not k:
            raise ValueError(f"no centroids found under {path}")
    return ivf_index_write(
        cur, path, id_col=id_col, vec_col=vec_col, k=int(k), iters=iters
    )


def ivf_index_topk(

    spark,
    path: str,
    query_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
    k: int = 10,
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_index_write`).

    Cell ranking happens driver-side on the kilobyte centroid table
    (same deterministic rule as :func:`ivf_topk`: 6-dp-rounded cosine,
    cell id tiebreak), then only the probed ``cell=`` partitions are
    scanned — the plan's PartitionFilters prune the rest of the corpus
    before any I/O.
    """
    import math

    from skopje_spark.queries.rounding import dround_scalar

    cents = spark.read.parquet(f"{path}/centroids").collect()
    qv = [float(x) for x in query_df.select(vec_col).collect()[0][0]]
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-300

    def score(c):
        dot = sum(a * b for a, b in zip(c, qv))
        n = math.sqrt(sum(a * a for a in c)) or 1e-300
        return dround_scalar(dot / (n * qn), 6)

    ranked = sorted(
        ((score([float(x) for x in r["centroid"]]), r["cell"]) for r in cents),
        key=lambda t: (-t[0], t[1]),
    )
    probe = [cell for _, cell in ranked[:n_probe]]
    # dropDuplicates restores exactly-once read semantics after an
    # at-least-once append replay (ivf_apply_stream_batch crashing in
    # the append→ledger window re-appends the batch): assignment
    # against frozen centroids is deterministic, so replayed rows are
    # IDENTICAL — without the dedup they would occupy two top-k slots.
    # Cost: one id-shuffle over the probed cells only (~n_probe/k of
    # the corpus), the same read-side idempotence contract the LSH
    # index probe uses (operators/dedup.py:lsh_index_probe).
    vecs = (
        spark.read.parquet(f"{path}/vectors")
        .where(F.col("cell").isin(probe))
        .dropDuplicates([id_col])
    )
    return cosine_topk(vecs, query_df, id_col=id_col, vec_col=vec_col, k=k)


def ann_probe_report(
    spark,
    path: str,
    query_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobes: list[int] | tuple[int, ...] = (1, 2, 4, 8),
    k: int = 10,
) -> DataFrame:
    """Recall-vs-cost sweep over a persisted IVF index
    (:func:`ivf_index_write`): for each ``n_probe`` in ``nprobes``,
    the mean recall@k of the probed search against the exact
    whole-corpus top-k, alongside what the probe actually COSTS —
    files opened and rows scanned in the probed ``cell=`` partitions.
    Index tuning becomes a queryable DataFrame: pick the knee of the
    recall/files-read curve instead of guessing n_probe.

    ``query_df`` is a TUNING SAMPLE (one row per query vector; keep
    it tens-to-hundreds — each query costs one exact scan plus one
    job per n_probe). Cell ranking and recall bookkeeping are
    driver-side on kilobyte artifacts (centroid table, top-k id
    lists); the corpus is only touched by the scans being measured.

    Output: ``(n_probe, n_queries, mean_recall_at_k, mean_files_read,
    mean_rows_scanned, frac_rows_scanned)``, one row per n_probe,
    recall monotonically non-decreasing in n_probe (unit-pinned).

    Caveat: ``mean_files_read`` counts files via a LOCAL directory
    listing of the index path; for a remote object-store index it
    reports 0 (``mean_rows_scanned``/``frac_rows_scanned``, derived
    from the vectors table itself, stay correct everywhere)."""
    import math
    import os as _os

    from skopje_spark.queries.rounding import dround_scalar

    cents = [
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cell_meta = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(f"{path}/vectors")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total_rows = sum(cell_meta.values()) or 1

    def files_in(cell: int) -> int:
        d = _os.path.join(path, "vectors", f"cell={cell}")
        try:
            return sum(
                1
                for f in _os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        except FileNotFoundError:
            return 0

    def ranked_cells(qv: list[float]) -> list[int]:
        qn = math.sqrt(sum(x * x for x in qv)) or 1e-300

        def score(c):
            dot = sum(a * b for a, b in zip(c, qv))
            n = math.sqrt(sum(a * a for a in c)) or 1e-300
            return dround_scalar(dot / (n * qn), 6)

        return [
            cell
            for _, cell in sorted(
                ((score(c), cell) for cell, c in cents),
                key=lambda t: (-t[0], t[1]),
            )
        ]

    # same read-side dedup as ivf_index_topk: recall arithmetic must
    # not double-count rows re-appended by a torn stream batch (the
    # rows/files COST columns keep the raw per-cell counts — physical
    # duplicates genuinely cost scan time until a rebuild)
    all_vecs = spark.read.parquet(f"{path}/vectors").dropDuplicates([id_col])
    queries = query_df.select(id_col, vec_col).collect()
    sweep = sorted(set(int(p) for p in nprobes))
    acc = {p: {"recall": 0.0, "files": 0, "rows": 0} for p in sweep}

    # BATCHED measurement: one exact whole-corpus pass scores ALL M
    # queries (cosine_topk_batch's per-partition matmul), then one
    # probed pass per n_probe with a per-query cell mask — 1 + |sweep|
    # corpus-shaped jobs total, against 1 + |sweep| PER QUERY for the
    # naive loop (M× fewer scans; report values identical because both
    # paths rank the same dround-6 scores with the same id tiebreak).
    q_batch = query_df.select(F.col(id_col).alias("__qid"), vec_col)
    exact: dict[object, set] = {}
    for r in cosine_topk_batch(
        all_vecs, q_batch, id_col=id_col, vec_col=vec_col,
        qid_col="__qid", k=k,
    ).collect():
        exact.setdefault(r["__qid"], set()).add(r[id_col])
    orders = {
        qrow[id_col]: ranked_cells([float(x) for x in qrow[vec_col]])
        for qrow in queries
    }
    for p in sweep:
        allowed = {qid: set(order[:p]) for qid, order in orders.items()}
        union_cells = sorted(set().union(*allowed.values(), set()))
        probed = all_vecs.where(F.col("cell").isin(union_cells))
        approx: dict[object, set] = {}
        for r in cosine_topk_batch(
            probed, q_batch, id_col=id_col, vec_col=vec_col,
            qid_col="__qid", k=k, allowed_cells=allowed,
        ).collect():
            approx.setdefault(r["__qid"], set()).add(r[id_col])
        for qid, order_cells in allowed.items():
            ex = exact.get(qid, set())
            acc[p]["recall"] += len(approx.get(qid, set()) & ex) / max(
                len(ex), 1
            )
            acc[p]["files"] += sum(files_in(c) for c in order_cells)
            acc[p]["rows"] += sum(cell_meta.get(c, 0) for c in order_cells)

    nq = max(len(queries), 1)
    report = [
        (
            p,
            len(queries),
            round(acc[p]["recall"] / nq, 6),
            acc[p]["files"] / nq,
            acc[p]["rows"] / nq,
            round(acc[p]["rows"] / nq / total_rows, 6),
        )
        for p in sweep
    ]
    return spark.createDataFrame(
        report,
        "n_probe int, n_queries int, mean_recall_at_k double, "
        "mean_files_read double, mean_rows_scanned double, "
        "frac_rows_scanned double",
    )


def ivf_index_stream_sink(
    stream_df,
    path: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    on_batch=None,
):
    """Continuous ANN-index ingestion: every micro-batch of new
    vectors is appended to a persisted IVF index
    (:func:`ivf_index_append` — frozen centroids, no re-quantize), so
    :func:`ivf_index_topk` always searches everything ingested so far.
    The vector-space twin of the LSH crawl gate
    (operators/dedup.py:lsh_index_stream_sink).

    Exactly-once is BELT AND BRACES: a ``path/_batch_ledger`` entry
    per applied batch id, scoped by the checkpoint's incarnation id
    (same (appId, version) idea as the versioned store's stream
    MERGE), skips fully-applied replays without re-reading vectors —
    AND the read path dedups on the id column
    (:func:`ivf_index_topk` dropDuplicates), which closes the torn
    window the ledger alone cannot: a crash BETWEEN the data append
    and the ledger write replays the batch and re-appends its rows.
    Assignment against frozen centroids is deterministic, so those
    re-appends are row-identical and the read-side dedup restores
    exactly-once query semantics; the duplicate files linger as scan
    cost only, until the next :func:`ivf_index_write` rebuild.
    Readers between crash and retry may see a partial batch (ANN
    results are approximate by contract; the retry completes it).

    Scope caveat (same as the sketch sinks' ledgers): protection is
    per-incarnation — restarting the job with a FRESH checkpoint
    renumbers batches and re-appends everything. Keep the checkpoint
    with the index; a deliberate reprocess needs a rebuild
    (:func:`ivf_index_write`) first.

    ``on_batch(summary_dict)`` receives each applied batch's
    :func:`ivf_index_append` summary — wire it to alerting on
    ``staleness_drop`` to know when to rebuild."""
    from skopje_spark.sinks.versioned import stream_incarnation_id
    from skopje_spark.streaming.streams import foreach_batch_sink

    stream_id = stream_incarnation_id(checkpoint)

    def write_batch(batch_df, batch_id: int) -> None:
        ivf_apply_stream_batch(
            path, batch_df, batch_id, stream_id,
            id_col=id_col, vec_col=vec_col, on_batch=on_batch,
        )

    return foreach_batch_sink(
        stream_df, checkpoint, write_batch, available_now=available_now
    )


def ivf_apply_stream_batch(
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_batch=None,
) -> bool:
    """One ledgered index append (the foreachBatch body of
    :func:`ivf_index_stream_sink`, exposed so replay semantics are
    directly unit-testable): append the batch unless
    ``(stream_id, batch_id)`` is already in the ledger. Returns
    whether the batch was freshly applied."""
    from skopje_spark.streaming.streams import (
        batch_ledger_has,
        batch_ledger_record,
    )

    spark = batch_df.sparkSession
    ledger = f"{path}/_batch_ledger"
    if batch_ledger_has(spark, ledger, stream_id, batch_id):
        return False
    batch = batch_df.select(id_col, vec_col)
    if batch.isEmpty():
        return False
    summary = ivf_index_append(batch, path, id_col=id_col, vec_col=vec_col)
    batch_ledger_record(spark, ledger, stream_id, batch_id)
    if on_batch is not None:
        on_batch(dict(summary, batch_id=batch_id))
    return True
