"""Approximate nearest neighbor — the scale path for similarity search.

Exact kNN (knn.py) costs one full corpus pass per query batch. At
100 TB that pass is the bottleneck, so we trade recall for pruning:

- ``add_lsh_buckets`` / ``lsh_knn_query`` — random-hyperplane LSH.
  The bucket id is a pure Catalyst expression (sign bits of dot
  products with ``n_bits`` fixed hyperplanes), so bucketing is free
  at write time and the bucketed table can be *partitioned* by
  bucket: a query then prunes to matching partitions (multi-probe:
  Hamming-adjacent buckets) and reranks exactly. Partition pruning
  means the 100 TB scan becomes a (100 TB / 2^n_bits * probes) scan.

- ``ivf_build`` / ``ivf_search`` — inverted-file index: KMeans
  centroids (MLlib, trained on a sample), corpus assigned to nearest
  centroid, stored partitioned by centroid id. Queries scan only the
  ``nprobe`` nearest centroids' partitions and rerank exactly.
  Better recall/selectivity trade-off than LSH for clustered data.

Both return exact distances on the candidate set — approximation is
only in candidate selection (standard IVF/LSH semantics, same as the
reference's backing store would do with its HNSW index).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
    rows_matrix as _rows_matrix,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import knn_query
from vector_databases___hydrate_chroma_db_collection_spark.operators import idguard
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _atomic_sidecar_write,
    _cells_cols,
    _check_expected_etag,
    _commit_cells_build,
    _extend_guard,
    _fresh_versioned_dir,
    _gc,
    _guard_append,
    _id_frame,
    _local_sidecar_path,
    _mask_tombstones,
    _parquet_files,
    _probe_ids,
    _read_cells,
    _read_unchecked,
    _record_tombstones,
    _restamp,
    _serialized_writer,
    _source_stamp,
    _swap,
    _tombstone_ids,
    _tombstones_df,
    _upsert_rows,
    read_parquet,
    read_sidecar,
)


def np_round_half_up(a, decimals: int):
    """numpy.round is round-half-to-EVEN; Spark and DuckDB round() are
    half-UP (away from zero). Any numpy-computed value that must
    hash-match an expression-form twin or a SQL oracle rounds through
    this, or exact binary ties (e.g. power-of-two cosine components)
    diverge in the last digit."""
    import numpy as np

    s = 10.0 ** decimals
    return np.sign(a) * np.floor(np.abs(a) * s + 0.5) / s


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim)).astype(np.float64)


def _bucket_expr(embedding_col: str, planes: np.ndarray):
    """Bucket id = sum_j [dot(e, plane_j) > 0] << j, as a codegen
    expression (dot products against literal arrays)."""
    out = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(
                F.col(embedding_col), lit_plane, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(dot > 0, F.lit(1 << j)).otherwise(0).cast("bigint")
    return out


def add_lsh_buckets(
    corpus: DataFrame,
    *,
    embedding_col: str = "embedding",
    dim: int,
    n_bits: int = 8,
    seed: int = 42,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Attach the LSH bucket id. Write the result partitioned by
    ``bucket_col`` (``df.write.partitionBy(bucket_col)``) to get
    partition pruning on queries."""
    planes = _hyperplanes(dim, n_bits, seed)
    return corpus.withColumn(bucket_col, _bucket_expr(embedding_col, planes))


def lsh_knn_query(
    corpus_with_buckets: DataFrame,
    query_vector: list[float],
    k: int = 5,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    n_bits: int = 8,
    seed: int = 42,
    bucket_col: str = "lsh_bucket",
    hamming_probe: int = 1,
    metric: str = "cosine",
    score_decimals: int | None = None,
) -> DataFrame:
    """Probe the query's bucket plus all buckets within Hamming
    distance ``hamming_probe``, then exact-rerank the candidates.
    The bucket filter is a literal IN-list -> partition pruning when
    the corpus is partitioned by bucket."""
    q = np.asarray(query_vector, dtype=np.float64)
    planes = _hyperplanes(len(query_vector), n_bits, seed)
    qbucket = 0
    for j, plane in enumerate(planes):
        if float(plane @ q) > 0:
            qbucket |= 1 << j

    if hamming_probe > 2:
        raise ValueError(
            "hamming_probe supports 0, 1 or 2 (wider multi-probe is "
            "not implemented — silently capping would overstate recall)"
        )
    probes = {qbucket}
    if hamming_probe >= 1:
        probes |= {qbucket ^ (1 << j) for j in range(n_bits)}
    if hamming_probe >= 2:
        probes |= {
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        }

    candidates = corpus_with_buckets.filter(F.col(bucket_col).isin(list(probes)))
    return knn_query(
        candidates,
        query_vector,
        k,
        id_col=id_col,
        embedding_col=embedding_col,
        metric=metric,
        score_decimals=score_decimals,
    )


#: Auto-sizing target: rows per cell the serving math wants to hold
#: CONSTANT as the corpus grows. nprobe cells of ~40k rows keep the
#: probed volume (the serve cost) flat across corpus decades — the
#: r14 100M probe paid 2.5x probed volume because a fixed cell count
#: let occupancy grow 10x per decade.
TARGET_CELL_ROWS = 40_000


def auto_n_centroids(
    n_rows: int, *, target_cell_rows: int | None = None
) -> int:
    """Constant-occupancy cell count for a corpus of ``n_rows``:
    ``ceil(rows / TARGET_CELL_ROWS)`` clamped to [16, 65536]. 1M rows
    -> 25 cells; 100M -> 2500; 1B -> 25k — the probed volume at fixed
    nprobe stays ~nprobe * TARGET_CELL_ROWS at every decade instead
    of growing with the corpus. The k-means train cost scales with
    n_centroids (distance matrix columns), which is why the cap: past
    65k cells train hierarchically (coarse-quantize twice) rather
    than flat."""
    target = int(target_cell_rows or TARGET_CELL_ROWS)
    return max(16, min(65_536, -(-int(n_rows) // max(target, 1))))


def ivf_build(
    corpus: DataFrame,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    n_centroids: int | str = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    metric: str = "l2",
    n_rows: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Train k-means centroids (driver-side numpy Lloyd on a bounded
    sample — see ``_train_kmeans`` for why not MLlib) and assign every
    row its nearest centroid in one Arrow-batched scan (the centroid
    matrix ships in the task closure; it is tiny). Returns
    (assigned_df, centroids).

    ``n_rows``: pass the corpus row count when the caller already has
    it and the sizing count inside ``_train_kmeans`` is skipped — at
    scale that is one full scan saved per build. With
    ``sample_fraction`` set the expected post-sample count is used;
    binomial overshoot past the training cap is trimmed by the seeded
    choice in ``_train_kmeans``, so the slight expectation error only
    nudges the sample size, never the memory bound.

    Persist ``assigned_df`` partitioned by ``ivf_cell`` for pruning
    (``ivf_write``). ``metric="l2"`` reproduces classic Euclidean
    cells; ``"cosine"`` trains spherical cells (better for normalized
    embedding spaces).
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(
            f"ivf_build metric must be 'cosine' or 'l2', got {metric!r}"
        )
    if n_centroids == "auto":
        # constant-occupancy sizing: one column-pruned count (skipped
        # when the caller already has it) -> rows/TARGET_CELL_ROWS
        if n_rows is None:
            n_rows = corpus.select(id_col).count()
        n_centroids = auto_n_centroids(n_rows)
    n_centroids = int(n_centroids)
    base = corpus.select(F.col(id_col).alias("_id"), F.col(embedding_col).alias("_e"))
    train = (
        base
        if sample_fraction is None
        # layout-independent membership (value hash, not per-partition
        # RNG) so the trained centroids do not depend on core count
        else _det_sample(
            base, sample_fraction, seed, F.col("_id"), F.col("_e")
        )
    )
    eff_rows = None
    if n_rows is not None:
        eff_rows = (
            int(n_rows)
            if sample_fraction is None
            else max(1, int(n_rows * sample_fraction))
        )
    C = _train_kmeans(
        train, "_e", n_centroids, seed=seed, metric=metric, n_rows=eff_rows
    )
    return _assign_to_centroids(
        corpus, C, id_col=id_col, embedding_col=embedding_col, metric=metric
    ), C


def _assign_to_centroids(
    rows: DataFrame,
    C: np.ndarray,
    *,
    id_col: str,
    embedding_col: str,
    metric: str,
) -> DataFrame:
    """Nearest-centroid assignment as one Arrow-batched scan (the
    centroid matrix ships in the task closure; it is tiny). Shared by
    ``ivf_build`` (initial layout) and ``ivf_append`` (incremental
    ingest with the PERSISTED centroids — identical math, so appended
    rows land in exactly the cell a rebuild would give them).

    r15: ``mapInArrow`` with the flat-buffer matrix path — the id and
    embedding columns pass through untouched as Arrow arrays (no
    per-row Python objects in either direction); the per-row
    ``np.stack`` idiom it replaces measured 4x the wall time on 1M
    rows (operators/_arrow.py module doc). Identical assignments."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
        list_matrix,
        rows_matrix,
    )

    spherical = metric == "cosine"
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    c_sq = (C * C).sum(axis=1)
    base = rows.select(F.col(id_col).alias("_id"), F.col(embedding_col).alias("_e"))
    id_type = rows.schema[id_col].dataType.simpleString()
    emb_type = rows.schema[embedding_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{embedding_col}` {emb_type}, ivf_cell int"

    def assign(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            E = list_matrix(rb.column(1))
            if E is None:  # ragged/null rows — per-row fallback
                E = rows_matrix(rb.column(1).to_pandas())
            if spherical:
                E_unit = E / np.maximum(
                    np.linalg.norm(E, axis=1, keepdims=True), 1e-300
                )
                cell = np.argmax(E_unit @ Cn.T, axis=1)
            else:
                cell = np.argmin(c_sq[None, :] - 2.0 * (E @ C.T), axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    rb.column(1),
                    pa.array(cell.astype("int32")),
                ],
                names=[id_col, embedding_col, "ivf_cell"],
            )

    return base.mapInArrow(assign, schema=out_schema)


def _cell_order(centroids, queries, metric: str) -> np.ndarray:
    """Cells nearest-first for each query row, ``(n_queries, n_cells)``
    — the one probe-order rule of every IVF-shaped index: l2 ranks by
    squared centroid distance, cosine by normalized similarity, dot by
    raw inner product. The sort is stable, so a tie goes to the lower
    cell and the probed set is a pure function of (query, centroids)
    that a SQL oracle can replay."""
    C = np.asarray(centroids, dtype=np.float64)
    Q = np.atleast_2d(np.asarray(queries, dtype=np.float64))
    if metric == "l2":
        key = (C * C).sum(axis=1)[None, :] - 2.0 * (Q @ C.T)
    else:
        if metric == "cosine":
            Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        key = -(Q @ C.T)
    return np.argsort(key, axis=1, kind="stable")


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vector: list[float],
    k: int = 5,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    nprobe: int = 3,
    metric: str = "cosine",
    score_decimals: int | None = None,
) -> DataFrame:
    """Scan only the ``nprobe`` cells whose centroids are nearest the
    query, exact-rerank inside them."""
    cells = [int(c) for c in _cell_order(centroids, query_vector, metric)[0, :nprobe]]
    candidates = assigned.filter(F.col("ivf_cell").isin(cells))
    return knn_query(
        candidates,
        query_vector,
        k,
        id_col=id_col,
        embedding_col=embedding_col,
        metric=metric,
        score_decimals=score_decimals,
    )


def ivf_knn_join(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    *,
    query_id_col: str = "qid",
    query_embedding_col: str = "q_embedding",
    id_col: str = "id",
    embedding_col: str = "embedding",
    metric: str = "cosine",
    nprobe: int = 3,
    score_decimals: int | None = None,
    slack: int = 32,
    multi_assigned: bool = False,
) -> DataFrame:
    """Batch kNN join through an IVF index — the scale path when BOTH
    sides are large. ``knn_join_gemm`` streams the whole corpus once
    per query block; here each query only meets the ``nprobe`` cells
    whose centroids are nearest it, so the scored volume drops to
    ~(nprobe / n_centroids) of the corpus — and on an ``ivf_write``
    layout the cell grouping is already the storage partitioning.

    Plan (all distributed, no driver materialization of either side):
    1. one Arrow pass over the queries assigns each to its ``nprobe``
       nearest cells (centroid matrix rides the closure);
    2. ``groupby(cell).cogroup(queries_by_cell).applyInPandas``: one
       float64 GEMM per cell scores that cell's corpus rows against
       that cell's queries, keeping k+slack candidates per query;
    3. ``rank_merge`` (shared with the GEMM join) produces the final
       deterministic (rounded score, neighbor_id) top-k.

    Standard IVF recall semantics: a true neighbor is found iff it
    lives in one of the query's probed cells; scores of emitted rows
    are exact. ``nprobe >= n_centroids`` degrades gracefully to the
    exhaustive join (every cell probed — results identical to
    ``knn_join``), which is what makes the operator oracle-checkable.

    Output: (qid, neighbor_id, score, rank) — same contract as
    ``knn_join`` / ``knn_join_gemm``.
    """
    import pandas as pd

    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        METRICS,
    )

    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    C = np.asarray(centroids, dtype=np.float64)
    npb = int(min(nprobe, C.shape[0]))

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    qemb_type = queries.schema[query_embedding_col].dataType.simpleString()
    qcell_schema = f"_qid {qid_type}, _qe {qemb_type}, ivf_cell int"

    def assign_queries(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            top = _cell_order(C, _rows_matrix(pdf["_qe"]), metric)[:, :npb]
            yield pd.DataFrame(
                {
                    "_qid": pdf["_qid"].to_numpy().repeat(npb),
                    "_qe": pdf["_qe"].to_numpy().repeat(npb),
                    "ivf_cell": top.reshape(-1).astype("int32"),
                }
            )

    qcells = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(query_embedding_col).alias("_qe")
    ).mapInPandas(assign_queries, schema=qcell_schema)
    return _ivf_cells_join(
        qcells, assigned, k, id_col=id_col, embedding_col=embedding_col,
        metric=metric, score_decimals=score_decimals, slack=slack,
        multi_assigned=multi_assigned,
    )


def _ivf_cells_join(
    qcells: DataFrame,
    assigned: DataFrame,
    k: int,
    *,
    id_col: str,
    embedding_col: str,
    metric: str,
    score_decimals: int | None,
    slack: int = 32,
    multi_assigned: bool = False,
) -> DataFrame:
    """Steps 2-3 of ``ivf_knn_join`` for a given query-to-cell
    assignment: ``qcells`` holds one ``(_qid, _qe, ivf_cell int)`` row
    per (query, cell) pair to score, so a caller that has already
    picked each query's cells (the batch IVF door's k-fill rounds)
    scores exactly those pairs. Output ``(qid, neighbor_id, score,
    rank)``."""
    import pandas as pd

    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        rank_merge,
    )

    qid_type = qcells.schema["_qid"].dataType.simpleString()
    nid_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"qid {qid_type}, neighbor_id {nid_type}, score double"
    m = k + slack

    def cell_scores(corp_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(corp_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"qid": [], "neighbor_id": [], "score": []})
        M = _rows_matrix(corp_pdf[embedding_col])
        Q = _rows_matrix(q_pdf["_qe"])
        ids = corp_pdf[id_col].to_numpy()
        qids = q_pdf["_qid"].to_numpy()
        if metric == "l2":
            scores = np.sqrt(
                np.maximum(
                    (Q * Q).sum(axis=1)[:, None]
                    + (M * M).sum(axis=1)[None, :]
                    - 2.0 * (Q @ M.T),
                    0.0,
                )
            )
            order_scores = scores  # lower is better
        else:
            Qs = Q
            if metric == "cosine":
                Qs = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
                Ms = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            else:
                Ms = M
            scores = Qs @ Ms.T
            order_scores = -scores  # higher is better
        keep = min(m, scores.shape[1])
        # tie-aware per-query top-m (see knn._gemm_block_scorer): keep
        # the lowest-id candidates among boundary ties, matching the
        # deterministic (score, neighbor_id) final rank
        top = np.empty((order_scores.shape[0], keep), dtype=np.int64)
        for r in range(order_scores.shape[0]):
            top[r] = np.lexsort((ids, order_scores[r]))[:keep]
        return pd.DataFrame(
            {
                "qid": qids.repeat(keep),
                "neighbor_id": ids[top.reshape(-1)],
                "score": np.take_along_axis(scores, top, axis=1).reshape(-1),
            }
        )

    candidates = (
        assigned.select(id_col, embedding_col, "ivf_cell")
        .groupby("ivf_cell")
        .cogroup(qcells.groupby("ivf_cell"))
        .applyInPandas(cell_scores, schema=out_schema)
    )
    # ivf_build assigns each corpus row to exactly ONE cell, so a
    # (query, corpus) pair meets in at most one probed cell and no
    # dedup shuffle is needed. Only an explicitly multi-assigned
    # corpus (e.g. an ivf_neardup_pairs-style n_assign>1 layout) can
    # produce duplicates — and then the kept copy must be made
    # deterministic, because different cell shapes can round-trip the
    # GEMM differently in the last bits.
    if multi_assigned:
        candidates = candidates.groupBy("qid", "neighbor_id").agg(
            F.max("score").alias("score") if metric != "l2" else F.min("score").alias("score")
        )
    return rank_merge(candidates, k, metric=metric, score_decimals=score_decimals)


def _det_sample(df: DataFrame, fraction: float, seed: int, *cols):
    """LAYOUT-INDEPENDENT seeded sample: keep rows whose seeded 64-bit
    hash of ``cols`` lands in the first ``fraction`` of the 2^31 hash
    space. Membership is a pure function of row VALUES, so the sampled
    set is identical at any core count, partition count or row order —
    unlike ``df.sample()``, whose per-partition RNG draws depend on the
    row-to-partition layout (the r15 8-core bench crash: the k-means
    training sample shifted under ``local[8]``, the 1M graph index came
    out with different cells, and the beam missed the planted
    self-neighbor). Same expected count and one cheap filter, exactly
    like Bernoulli sampling."""
    h = F.xxhash64(*cols, F.lit(int(seed)))
    return df.filter(
        F.pmod(h, F.lit(1 << 31)) < F.lit(int(min(fraction, 1.0) * (1 << 31)))
    )


def collect_bounded_sample(
    df: DataFrame,
    vec_col: str,
    *,
    max_rows: int,
    seed: int,
    n_rows: int | None = None,
    as_rows: bool = False,
):
    """Driver-side float64 matrix (or raw value list with
    ``as_rows=True``) of ≤ ``max_rows`` sampled rows, drawn WITHOUT a
    partition-prefix bias and INDEPENDENT of the input's physical
    layout. Shared by every k-means-style trainer (``_train_kmeans``,
    ``pq.pq_train``, ``pq.ivf_pq_build``) so the sampling contract has
    exactly one implementation.

    limit() alone would take the first partitions' rows, which on an
    ordered or clustered corpus (time-ordered ingest, per-tenant
    files) trains on the head of the distribution only. r15 used
    ``df.sample()`` + collect, which fixed the prefix bias but left
    TWO layout dependencies: Bernoulli draws are seeded per partition
    (a different core count keeps different rows), and the collected
    row ORDER follows partition order (k-means init indexes into the
    collected matrix). Both made index builds differ across core
    counts — the r16 scaling-bench fix. Now membership is a seeded
    VALUE hash (``_det_sample``) with a small slack above the cap, and
    the collected rows are sorted by that hash before the cap trim, so
    the returned sample is a pure function of (values, seed): build an
    index on 8 cores or 32 and the centroids are identical. Callers
    that already know the row count pass ``n_rows`` so sizing adds no
    extra scan. The collect is bounded (``max_rows`` × dim float64 — a
    few MB at typical dims): the same memory contract as a broadcast
    join side.
    """
    vecs = df.select(F.col(vec_col).alias("_v"))
    n = vecs.count() if n_rows is None else int(n_rows)
    sel = vecs.select(
        F.xxhash64(F.col("_v"), F.lit(int(seed))).alias("_h"), "_v"
    )
    if n > max_rows:
        # slack of ~6 binomial sigmas over the cap: the hash-rank trim
        # below cuts back to exactly max_rows, so the slight oversample
        # only costs a few hundred extra collected rows, never bias
        target = max_rows + 6 * int(max_rows**0.5) + 16
        sel = sel.filter(
            F.pmod(F.col("_h"), F.lit(1 << 31))
            < F.lit(int(min(1.0, target / n) * (1 << 31)))
        )
    pdf = sel.toPandas()
    order = np.argsort(pdf["_h"].to_numpy(), kind="stable")
    vals = pdf["_v"].iloc[order]
    if len(vals) > max_rows:
        vals = vals.iloc[:max_rows]
    if as_rows:
        # structured samples (e.g. (embedding, cell) pairs) — return
        # the raw values; the caller shapes them
        return list(vals)
    return _rows_matrix(vals)


def _train_kmeans(
    sample: DataFrame,
    vec_col: str,
    n_centroids: int,
    *,
    seed: int,
    metric: str = "cosine",
    max_train_rows: int = 262_144,
    n_iter: int = 15,
    n_rows: int | None = None,
) -> np.ndarray:
    """Seeded k-means on a driver-side sample — spherical (cosine:
    rows normalized, centroids renormalized each step) or plain Lloyd
    (l2/dot). The sample is bounded (``max_train_rows`` × dim float64
    — a few MB for typical dims), so collecting it to the driver is
    the same contract as broadcasting a small join side; all per-row
    corpus work stays distributed.

    Why not MLlib KMeans: at the hundreds-of-centroids IVF operators
    auto-size to, ``pyspark.ml.clustering.KMeans.fit`` spends minutes
    in k-means|| init + per-iteration job scheduling for a training
    problem numpy's dense Lloyd loop solves in well under a second
    (measured: >120 s vs 0.65 s at 10k × 64, k=195). Centroid quality
    only gates *pruning recall*, never correctness — candidate
    distances are recomputed exactly either way — so cheap Lloyd
    iterations are plenty.
    """
    spherical = metric == "cosine"
    X = collect_bounded_sample(
        sample, vec_col, max_rows=max_train_rows, seed=seed, n_rows=n_rows
    )
    if spherical:
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    rng = np.random.RandomState(seed)
    k = int(min(n_centroids, len(X)))
    C = X[rng.choice(len(X), k, replace=False)].copy()
    for _ in range(n_iter):
        if spherical:
            owner = np.argmax(X @ C.T, axis=1)  # cosine on unit rows
        else:
            # argmin ||x-c||^2 = argmin (c^2 - 2 x.c); x^2 constant
            owner = np.argmin((C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T), axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, owner, X)
        counts = np.bincount(owner, minlength=k)
        live = counts > 0
        C[live] = sums[live] / counts[live, None]
        if spherical:
            C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    embedding_col: str,
    threshold: float = 0.9,
    decimals: int = 4,
    n_centroids: int | None = None,
    n_assign: int = 4,
    seed: int = 42,
    sample_fraction: float | None = None,
    block_size: int = 4096,
) -> DataFrame:
    """Semantic near-dup pairs at corpus scale: IVF-cell-bucketed GEMM.

    The scale path ``embedding_neardup_pairs_gemm`` delegates to for
    corpora too large to broadcast (operators/dedup.py). Same output
    contract as ``embedding_neardup_pairs``: (id_a, id_b, cosine)
    with id_a < id_b and cosine rounded to ``decimals``.

    Plan:
    1. L2-normalize, train spherical-KMeans centroids on a bounded
       driver-side sample (seeded numpy Lloyd iterations — the sample
       is capped at ``max_train_rows`` × dim doubles, a few MB, and
       training there is ~100× faster than an MLlib fit at the
       hundreds-of-centroids this operator sizes to; the distributed
       work stays in steps 2–3). Cosine on normalized vectors is
       monotone in Euclidean distance, so Euclidean cells are cosine
       cells.
    2. MULTI-ASSIGN each vector to its ``n_assign`` nearest cells
       (one Arrow-batched pass; centroid matrix ships in the closure,
       it is tiny). Boundary points live in several cells, which is
       what keeps cross-cell recall high without any all-pairs step.
    3. ``applyInPandas`` per cell: blocked GEMM within the cell.
       The score pass runs in float32 against a slightly LOWERED
       threshold (dim-aware margin = 0.5·10^-decimals + dim·2^-23,
       covering rounding slack plus worst-case float32 cast+GEMM
       error for unit vectors at any dim), then only
       the surviving candidate pairs are recomputed in float64 and
       rounded — so emitted cosines are bit-identical to the exact
       expression form while the quadratic pass never pays float64
       bandwidth or a full-matrix ``np.round`` (measured 5× the GEMM
       itself at 16k-row cells). The shuffle moves each vector
       ``n_assign`` times — O(n·d) — and per-task memory is bounded
       by (cell rows × dim) + one (block_size × cell rows) float32
       score block.
    4. ``dropDuplicates`` over the pair key (a pair co-located in
       more than one shared cell is emitted once).

    Recall contract (standard IVF semantics): a pair is found iff the
    two vectors share at least one assigned cell. At high thresholds
    near-dup vectors are nearly coincident, so their top-``n_assign``
    cell sets intersect in all but adversarial geometries; raise
    ``n_assign`` (or ``n_centroids``-to-corpus ratio) to trade cost
    for recall. Exactness is never approximated — every emitted
    cosine is the true value, identical to the exact-form output.
    When ``n_assign >= n_centroids`` (auto-sizing picks 4 cells for
    corpora under ~5k rows) every vector lands in every cell and the
    operator degrades gracefully to the exhaustive GEMM — small
    inputs are exact by construction, pruning kicks in exactly when
    the corpus is big enough to need it. Measured at sf0.1 (5k
    vectors, genuine 2-of-4 pruning via n_assign=2): 866/920 pairs at
    threshold 0.4, 14/14 at 0.5; defaults recover 920/920.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(id_col, embedding_col)
    n = None
    if n_centroids is None:
        # one metadata-cheap count to size the index: ~1k rows/cell.
        # Quadratic work is sum(cell²) ≈ (n_assign·rows_per_cell)·n·d,
        # so halving the cell size halves the whole GEMM bill; 1k rows
        # keeps per-cell work ~20 ms while KMeans (k ≈ n/1024, trained
        # on a sample) stays a rounding error next to the pair pass.
        # The same count feeds _train_kmeans' sample sizing, so
        # training adds no second scan.
        n = base.count()
        n_centroids = int(min(4096, max(4, n // 1024)))

    # Normalization happens in numpy inside the Arrow passes (driver
    # sample + assign), NOT as a higher-order-function expression: a
    # per-element transform lambda that references an outer aggregate
    # re-evaluates the aggregate for every element — interpreted
    # O(dim²) per row, measured seconds per 100k rows — while the
    # vectorized divide is effectively free next to the GEMM.
    raw = base.select(F.col(id_col).alias("_id"), F.col(embedding_col).alias("_e"))
    train = (
        raw
        if sample_fraction is None
        else _det_sample(raw, sample_fraction, seed, F.col("_id"), F.col("_e"))
    )
    C = _train_kmeans(
        train,
        "_e",
        n_centroids,
        seed=seed,
        metric="cosine",
        # reuse the sizing count when train IS the full corpus
        n_rows=n if sample_fraction is None else None,
    )  # (c, d)
    k_assign = min(n_assign, C.shape[0])

    id_type = df.schema[id_col].dataType.simpleString()
    assign_schema = f"_id {id_type}, _e array<double>, ivf_cell int"

    def assign(batches):
        import pyarrow as pa

        from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
            list_matrix,
            matrix_to_list_array,
            rows_matrix,
        )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            E = list_matrix(rb.column(1))
            if E is None:
                E = rows_matrix(rb.column(1).to_pandas())
            E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-300)
            sims = E @ C.T  # (n, c); rows are unit, centroids near-unit
            top = np.argpartition(-sims, k_assign - 1, axis=1)[:, :k_assign]
            # normalized rows repeated k_assign times, as ONE flat
            # buffer (r15 — the object-column repeat this replaces
            # shipped every row back through per-row Python objects)
            rep = np.repeat(E, k_assign, axis=0)
            idx = pa.array(
                np.repeat(np.arange(rb.num_rows, dtype=np.int64), k_assign)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).take(idx),
                    matrix_to_list_array(rep),
                    pa.array(top.reshape(-1).astype(np.int32)),
                ],
                names=["_id", "_e", "ivf_cell"],
            )

    assigned = raw.mapInArrow(assign, schema=assign_schema)

    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n_rows = len(pdf)
        if n_rows < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"cosine": "float64"}
            )
        ids = pdf["_id"].to_numpy()
        M = _rows_matrix(pdf["_e"])
        M32 = M.astype(np.float32)
        # Dim-aware prescreen margin: anything whose ROUNDED float64
        # value could reach `threshold` sits above threshold −
        # 0.5·10^-decimals, and the float32 pass (cast + GEMM over
        # unit vectors) may under-read a true cosine by up to
        # ~dim·2^-23 — at dim=1024 that alone is ~1.2e-4, more than a
        # fixed 10^-4 margin, so the margin must scale with dim or
        # boundary pairs get silently dropped.
        prescreen = threshold - (0.5 * 10.0 ** (-decimals) + M.shape[1] * 2.0 ** (-23))
        outs = []
        for s in range(0, n_rows, block_size):
            blk = slice(s, min(s + block_size, n_rows))
            sims32 = M32[blk] @ M32.T
            mask = (sims32 >= prescreen) & (
                ids[blk.start : blk.stop, None] < ids[None, :]
            )
            ii, jj = np.nonzero(mask)
            if len(ii):
                # exact float64 value + round for the rare survivors
                exact = np_round_half_up(
                    np.einsum("ij,ij->i", M[blk.start + ii], M[jj]), decimals
                )
                keep = exact >= threshold
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "id_a": ids[blk.start + ii[keep]],
                                "id_b": ids[jj[keep]],
                                "cosine": exact[keep],
                            }
                        )
                    )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"cosine": "float64"}
            )
        return pd.concat(outs, ignore_index=True)

    # groupBy().applyInPandas shuffles by key on its own — an explicit
    # repartition first would be a second full pass over n_assign
    # copies of the corpus.
    return (
        assigned.groupBy("ivf_cell")
        .applyInPandas(cell_pairs, schema=out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def mllib_lsh_similarity_join(
    a: DataFrame,
    b: DataFrame,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    distance_threshold: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Public-API alternative: MLlib BucketedRandomProjectionLSH
    approxSimilarityJoin (Euclidean). Kept alongside the native
    expression-level LSH because MLlib's implementation ships with
    Spark and is battle-tested; the native one gives partition
    pruning on a persisted bucket column. Output: (id_a, id_b,
    l2_dist) with id_a < id_b."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    fa = a.select(
        F.col(id_col).alias("_id"),
        array_to_vector(F.col(embedding_col).cast("array<double>")).alias("features"),
    )
    fb = b.select(
        F.col(id_col).alias("_id"),
        array_to_vector(F.col(embedding_col).cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(fa)
    joined = lsh.approxSimilarityJoin(fa, fb, distance_threshold, distCol="l2_dist")
    return (
        joined.select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            F.round("l2_dist", 4).alias("l2_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def mllib_minhash_dedup_join(
    df: DataFrame,
    *,
    id_col: str = "id",
    text_col: str = "document",
    n: int = 3,
    jaccard_distance_threshold: float = 0.5,
    num_hash_tables: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Public-API alternative for near-dup: MLlib MinHashLSH over a
    hashed shingle vocabulary (HashingTF), approxSimilarityJoin on
    Jaccard distance. The native operators/dedup.py path remains the
    oracle-checkable default."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        word_shingles,
    )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_shingles(text_col, n)).alias("sh"),
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(base)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    ).fit(feats)
    joined = lsh.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def ivf_write(
    assigned: DataFrame,
    centroids: np.ndarray,
    path: str,
    *,
    metric: str = "cosine",
    source: tuple[str, str] | None = None,
    build: dict | None = None,
) -> None:
    """Persist an IVF index: the assigned corpus partitioned by
    ``ivf_cell`` (so queries get partition pruning) plus a JSON
    sidecar with centroids + metric. The index is just a dataset — it
    scans, joins, and replicates like any other table.

    ``source=(root, name)`` stamps the sidecar with the source
    collection's ``collection_etag`` so ``ivf_read`` can detect (and
    refuse) a stale index after the collection is updated, deleted
    from, or appended to.

    ``build`` records the TRAINING parameters (the kwargs passed to
    ``ivf_build``: metric, seed, sample_fraction, ...) so
    ``ivf_refresh`` can reproduce the same clustering. The ``metric``
    kwarg here is the SEARCH metric and may legitimately differ from
    the build metric (e.g. l2-trained cells served with cosine
    scoring) — without the explicit ``build`` record a refresh would
    have to guess, and guessing the wrong training metric silently
    swaps the cell layout.

    The write is the shared build commit (``store`` module doc):
    versioned cells dir, id-guard Bloom rebuilt from the written ids,
    build-time per-cell training stats (the baseline
    ``ivf_balance_audit`` compares drift against, with the ASSIGNMENT
    metric's math), one sidecar swap under the writer lock."""
    C = np.asarray(centroids)
    spark = assigned.sparkSession
    _commit_cells_build(
        _local_sidecar_path(path),
        "ivf_index.json",
        # one task per cell -> exactly one data file per cell dir
        assigned.repartition(int(C.shape[0]), F.col("ivf_cell")),
        {
            "metric": metric,
            "n_centroids": int(C.shape[0]),
            "dim": int(C.shape[1]),
            "centroids": C.tolist(),
            "source": _source_stamp(source),
            "build": build,
        },
        stats=lambda cells: _cell_stats(
            spark, cells, C, (build or {}).get("metric", metric)
        ),
    )


def ivf_read(
    spark, path: str, *, verify_source: bool = True, include_tombstoned: bool = False
) -> tuple[DataFrame, np.ndarray, str]:
    """Load a persisted IVF index -> (assigned_df, centroids, metric).

    If the sidecar carries a source-collection stamp (``ivf_write``'s
    ``source=``), the collection's CURRENT etag is re-derived and a
    mismatch raises ``StaleIndexError`` — a reader can never silently
    serve ids the collection has since deleted or replaced. Indexes
    built from arbitrary DataFrames carry no stamp and load as-is.

    Rows ``ivf_delete`` tombstoned are MASKED out (a broadcast
    anti-join against the small recording — the reader sees the
    LOGICAL index, so every consumer built on this — serving, audits,
    the semantic gate — is delete-correct for free); pass
    ``include_tombstoned=True`` for the physical rows (compaction and
    append internals read the raw parquet directly instead)."""
    assigned, meta = _read_cells(
        spark, path, "ivf_index.json", verify_source=verify_source,
        include_tombstoned=include_tombstoned,
    )
    return assigned, np.asarray(meta["centroids"]), meta["metric"]


@_serialized_writer()
def ivf_append(
    spark,
    path: str,
    new_rows: DataFrame,
    *,
    id_col: str | None = None,
    embedding_col: str | None = None,
    on_existing: str = "skip",
    expected_prev_etag: str | None = None,
    tag: str | None = None,
) -> int:
    """Incremental vector ingest: extend a persisted IVF index with
    ``new_rows`` ONLY — assign them to their nearest EXISTING
    centroid (no retraining, the standard IVF add path: FAISS
    ``index.add`` semantics) and append the assigned rows into the
    current cells dataset. The vector-side twin of
    ``band_index_append``: a hydration loop that appends documents to
    the collection appends their embeddings here, and the index
    transitions stale -> fresh without the full ``ivf_refresh``
    k-means rebuild. Cell balance degrades only as far as the data
    drifts from the trained centroids — refresh when recall or
    balance audits say so.

    ``new_rows`` defaults to the cells dataset's own column names
    (first two columns: id, embedding); pass ``id_col``/
    ``embedding_col`` when the batch differs — values are cast to the
    existing schema's types so appended files carry the identical
    parquet schema.

    Double-ingest is guarded, not caller-trusted — and
    CORPUS-INDEPENDENTLY in the steady state: incoming ids are
    prescreened against the id-guard Bloom sidecar
    (``operators/idguard.py``; a committed filter is a superset of
    the indexed ids, so filter-negative = definitely new, zero
    corpus IO) and only filter-positive ids (true replays + ~0.8%
    false positives) are anti-joined against the indexed id column.
    The filter is re-merged with the whole batch and committed
    BEFORE the data append (superset invariant survives any crash);
    an index without a usable filter pays one full id scan on its
    next append and carries a filter thereafter.
    ``on_existing='skip'`` (default) makes replays idempotent,
    ``'error'`` raises naming the count. The guarded
    batch is eagerly materialized (localCheckpoint) BEFORE the append
    so the write never re-lists the directory it writes into. A
    single-dataset append needs no torn-write protocol — but NOT
    because the job commit is atomic (a Spark append commit is not
    atomic across task files; a concurrent reader, or a crash
    mid-commit, can observe a PREFIX of the batch). It converges
    because every id holds exactly one row, each row lives whole
    inside one task file, and the replay guard is id-granular: a
    replay re-appends precisely the ids whose rows did not land and
    skips the ones that did, so the cells dataset reaches
    exactly-once row counts without part-level healing.

    ``expected_prev_etag``: same foreign-mutation fence as
    ``band_index_append`` — pass the etag observed before your own
    collection append; mismatch raises ``StaleIndexError`` instead of
    silently stamping someone else's update/delete fresh. Appends
    only: updates/deletes need ``ivf_refresh``.

    ``tag`` (optional): an idempotence token for streaming callers —
    the batch's deterministic identity. A tagged append records its
    POST-GUARD contributed id set (a tiny versioned parquet, written
    and referenced from the sidecar BEFORE the data append, so a
    replay can read it across any crash window) and promotes the tag
    to ``last_append_tag`` on commit; ``ivf_appended_ids`` serves the
    set back. This is what lets a replayed semantic-gate micro-batch
    exclude exactly its own contribution from the gate's reference
    (``streaming.neardup_stream.stream_semantic_ingest``) — excluding
    the whole batch would flip same-id redeliveries contributed by
    EARLIER batches from duplicate to novel.

    Returns the number of new vectors indexed (after the guard)."""
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_index.json")
    _check_expected_etag(
        meta, path, "ivf_index.json", expected_prev_etag, "append"
    )
    existing = read_parquet(spark, os.path.join(p, meta["location"]))
    exist_id, exist_emb = _cells_cols(existing)[:2]
    types = dict(existing.dtypes)
    # pending crashed-append recordings: a LIST keyed by tag (the
    # band-index design) — a single slot would let a second writer's
    # tagged append overwrite a crashed batch's record, making that
    # batch's replay gate as fresh against an index already holding
    # its partial rows.
    pending = list(meta.get("pending_appends") or [])
    # A REPLAY of a tagged append (completed or crashed) BYPASSES the
    # tombstone refusal: its rows already landed — they may be the
    # very rows a later delete tombstoned — the guard skips them, and
    # the replay contract is republish, not raise.
    replay = tag is not None and (
        tag == meta.get("last_append_tag")
        or any(e.get("tag") == tag for e in pending)
    )
    batch, fresh, n_new, state = _guard_append(
        p,
        meta,
        new_rows.select(
            F.col(id_col or exist_id).cast(types[exist_id]).alias(exist_id),
            F.col(embedding_col or exist_emb)
            .cast(types[exist_emb])
            .alias(exist_emb),
        ),
        existing,
        "ivf_append",
        tombstones=None if replay else _tombstones_df(spark, p, meta),
        purge="run ivf_compact",
        on_existing=on_existing,
    )
    # A true verbatim replay of a COMPLETED append contributes nothing
    # new (every id is guarded away). A reused tag carrying NEW ids is
    # NOT a replay — it is a fresh append that must RE-record its
    # contribution (keeping the stale recording while appending new
    # rows would make a later replay of that tag exclude the wrong id
    # set and flip this batch's own docs novel -> duplicate).
    # Streaming callers also fold a content digest into the tag
    # (idguard.batch_digest), so tag collisions across different
    # content cannot reach here through the stream path at all.
    replay_of_completed = (
        tag is not None
        and tag == meta.get("last_append_tag")
        and n_new == 0
    )
    prev_entry = next((e for e in pending if e.get("tag") == tag), None)
    app_dir = (prev_entry or {}).get("appended_ids")
    if n_new:
        if tag is not None:
            # Record the POST-GUARD contribution BEFORE any data
            # write so a replay can read the FIRST attempt's set
            # whatever the crash window; a crashed attempt's replay
            # REUSES the recorded set (its own recomputed post-guard
            # set can be smaller once rows landed).
            if app_dir is None or not os.path.exists(
                os.path.join(p, app_dir)
            ):
                app_dir = _fresh_versioned_dir(
                    p,
                    "ivf_append_ids",
                    floor_names=[e.get("appended_ids") for e in pending]
                    + [meta.get("last_append_ids")],
                )
                fresh.select(exist_id).write.mode("overwrite").parquet(
                    os.path.join(p, app_dir)
                )
            meta["pending_appends"] = [
                e for e in pending if e.get("tag") != tag
            ] + [{"tag": tag, "appended_ids": app_dir}]
        _extend_guard(p, "ivf_index.json", meta, existing, batch, state)
        build = meta.get("build") or {}
        _assign_to_centroids(
            fresh,
            np.asarray(meta["centroids"]),
            id_col=exist_id,
            embedding_col=exist_emb,
            metric=build.get("metric", meta["metric"]),
        ).write.mode("append").partitionBy("ivf_cell").parquet(
            os.path.join(p, meta["location"])
        )
    # -- final commit: re-stamp, promote the tag, GC recordings --------
    commit = _restamp(meta)
    if tag is not None:
        # clear only THIS tag's pending entry — other writers'
        # crashed-batch recordings must survive until their replays
        remaining = [
            e
            for e in (meta.get("pending_appends") or [])
            if e.get("tag") != tag
        ]
        if remaining:
            meta["pending_appends"] = remaining
        else:
            meta.pop("pending_appends", None)
        meta["last_append_tag"] = tag
        if not replay_of_completed:
            # None = recorded as an all-duplicate (empty) contribution;
            # a pure replay of a COMPLETED append must not overwrite
            # the first attempt's record with its own empty set
            meta["last_append_ids"] = app_dir
        commit = True
    if commit:
        _atomic_sidecar_write(p, "ivf_index.json", meta)
    _gc(p, "ivf_index.json", meta)
    return n_new


def ivf_appended_ids(spark, path: str, tag: str) -> DataFrame:
    """The id set a TAGGED ``ivf_append`` actually contributed (its
    post-guard fresh ids, recorded before the batch's data write) —
    what a replayed semantic-gate micro-batch excludes from the
    index's rows so first-attempt verdicts republish exactly (same
    contract as ``band_index_appended_ids``; see that docstring for
    why whole-batch exclusion is wrong for same-id redeliveries).
    Served from the pending record (crashed append) or
    ``last_append_tag`` (completed). Returns a one-column DataFrame
    (empty when the append was recorded as all-duplicate) and raises
    ``KeyError`` for unknown tags."""
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_index.json")
    entry = next(
        (e for e in meta.get("pending_appends") or [] if e.get("tag") == tag),
        None,
    )
    if entry is not None:
        d = entry["appended_ids"]
    elif meta.get("last_append_tag") == tag:
        d = meta["last_append_ids"]
    else:
        raise KeyError(
            f"IVF index at {path!r} records no append tagged {tag!r}"
        )
    if d is None:
        cells = read_parquet(spark, os.path.join(p, meta["location"]))
        return cells.select(_cells_cols(cells)[0]).limit(0)
    return read_parquet(spark, os.path.join(p, d))


@_serialized_writer()
def ivf_delete(
    spark,
    path: str,
    ids,
    *,
    sidecar: str = "ivf_index.json",
    expected_prev_etag: str | None = None,
) -> int:
    """Incremental vector DELETE: tombstone ``ids`` in a persisted
    IVF (or, via ``sidecar``, IVF-PQ or graph) index — the delete-side
    twin of ``ivf_append``. The reference's collection is mutable
    (``collection.delete`` — the get-or-create surface at sas:132
    implies the full Chroma CRUD), and before this the only honest
    answers to "the collection deleted rows" were a full
    ``ivf_refresh`` k-means rebuild or serving stale. Tombstones are
    the standard third way (Lucene deleted-docs / FAISS
    ``remove_ids`` semantics): record the deleted ids in a tiny
    versioned sidecar recording, MASK them at read time
    (``ivf_read`` anti-joins them out), and physically purge at the
    next ``ivf_compact``. Cost: O(batch + existing tombstones)
    bookkeeping plus ONE id-column scan of the cells dataset — the
    deleted ids are all filter-positive in the id-guard Bloom by
    construction, so the exact intersect (which keeps the recording
    minimal and re-append refusals honest) cannot be prescreened
    away — but never a data rewrite, so the index transitions
    stale -> fresh in id-scan time however wide the embedding rows.

    ``ids``: a list OR a one-column DataFrame (first column is cast
    to string). Ids not physically present in the index are dropped
    via the id-guard Bloom prescreen (filter-negative = definitely
    not indexed, zero corpus IO) + an exact check on the survivors,
    so the recorded set stays minimal and the reported count honest.
    Per-call cost of a list: O(batch) on the driver (dedupe, the
    tombstone anti-join against the recording read with pyarrow, the
    Bloom prescreen) plus one pushed ``IN`` probe of the cells' id
    column and the recording write. A DataFrame keeps the batch in
    Spark: a semi-join of the id column against the positives.

    Crash-safe and replay-idempotent: the merged tombstone recording
    lands in a fresh monotonic versioned dir FIRST, then one atomic
    sidecar swap commits {recording location, count, re-derived
    source etag} together — a crash before the swap leaves the old
    index intact (orphan dir GC'd at the next commit), and a replay
    of a completed delete finds every id already tombstoned and
    returns 0 without touching the sidecar. ``expected_prev_etag``:
    same foreign-mutation fence as ``ivf_append`` — pass the etag
    observed BEFORE your own ``collection_delete``; a mismatch means
    something else mutated the collection since the index was
    stamped, and re-stamping would launder that mutation
    (StaleIndexError prescribes ``ivf_refresh``).

    Re-appending a tombstoned id is REFUSED by ``ivf_append``
    (``TombstonedIdError``) until a compact purges the old row —
    id-granular masking cannot distinguish the old physical row from
    a new one under the same id. Returns the number of NEWLY
    tombstoned ids."""
    import os

    from pyspark.sql import Observation

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, sidecar)
    if isinstance(ids, DataFrame):
        first = ids.columns[0]
        fresh = ids.select(F.col(first).cast("string").alias("_del_id"))
        fresh = fresh.where(F.col("_del_id").isNotNull()).dropDuplicates(
            ["_del_id"]
        )
        ts_prev = _tombstones_df(spark, p, meta)
        if ts_prev is not None:
            fresh = fresh.join(
                ts_prev, F.col("_del_id") == F.col("_ts_id"), "left_anti"
            )
        # counted inside its checkpoint job
        obs = Observation("ivf_delete_batch")
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        n_fresh = int(obs.get["n"])
    else:
        prev = _tombstone_ids(p, meta)
        dead = set(prev)
        fresh = [
            i for i in dict.fromkeys(str(i) for i in ids if i is not None)
            if i not in dead
        ]
        n_fresh = len(fresh)
    if n_fresh == 0:
        # replay of a completed delete (or an all-tombstoned / empty
        # batch): the index already masks every id — no recording
        # write. The stamp is still HEALED when the collection's etag
        # moved on (a predicate delete that matched 0 rows still
        # swaps the data dir; without this the index would stay stale
        # forever) — but ONLY under the same fence as the main path:
        # when the caller pinned expected_prev_etag and the recorded
        # stamp differs, the etag movement belongs to someone else's
        # mutation, and healing over it would launder exactly what
        # the fence exists to catch (the index stays honestly stale).
        fenced = expected_prev_etag is not None and (
            meta.get("source") or {}
        ).get("etag") != expected_prev_etag
        if not fenced and _restamp(meta):
            _atomic_sidecar_write(p, sidecar, meta)
        return 0

    _check_expected_etag(meta, path, sidecar, expected_prev_etag, "delete")

    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    idc = _cells_cols(cells)[0]
    bloom_meta = meta.get("id_bloom")
    if isinstance(fresh, list):
        # the whole tombstone set, on the driver: the previous one plus
        # every Bloom-positive id the probe finds in the cells
        present = list(dict.fromkeys(
            r["_id"]
            for r in _probe_ids(
                cells, idc, idguard._bloom_maybe(spark, p, bloom_meta, fresh)
            )
        ))
        n_new = len(present)
        recording = _id_frame(spark, prev + present, "_ts_id")
    else:
        have = cells.select(F.col(idc).cast("string").alias("_have_id"))
        indexed = F.col("_del_id") == F.col("_have_id")
        if idguard.filter_usable(bloom_meta):
            # corpus-independent prescreen: filter-negative ids are
            # DEFINITELY not indexed -> nothing to tombstone for them
            _neg, maybe, _ig_state = idguard.bloom_split(
                fresh, p, bloom_meta, "_del_id"
            )
            found = (
                maybe.join(have, indexed, "left_semi")
                if maybe is not None
                else fresh.limit(0)
            )
        else:
            found = fresh.join(have, indexed, "left_semi")
        # counted inside its one checkpoint job
        obs = Observation("ivf_delete_present")
        found = (
            found.select(F.col("_del_id").alias("_ts_id"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_new = int(obs.get["n"])
        recording = (
            found if ts_prev is None else ts_prev.unionByName(found)
        ).dropDuplicates(["_ts_id"])
    if n_new:
        _record_tombstones(p, sidecar, meta, recording)
    # re-stamp even when the batch tombstoned nothing NEW in the
    # index (the caller's collection delete may have removed rows the
    # index never held — e.g. hydration-gated docs): the index is
    # consistent with the post-delete collection either way, and the
    # stamp is what lets the etag fence pass again
    if _restamp(meta) or n_new:
        _swap(p, sidecar, meta)
    return n_new


@_serialized_writer()
def ivf_upsert(
    spark,
    path: str,
    rows: DataFrame,
    *,
    id_col: str | None = None,
    embedding_col: str | None = None,
    expected_prev_etag: str | None = None,
) -> tuple[int, int]:
    """Incremental vector UPDATE-or-ADD: replace the indexed vectors
    for ``rows``' ids (and add the ids the index has never held) by
    SURGICAL CELL REWRITE — the missing middle of the index CRUD.
    ``ivf_append`` cannot update (it refuses known ids), ``ivf_delete``
    + re-append is blocked until a full-compact purge, and
    ``ivf_refresh`` re-trains k-means over the whole corpus; this
    rewrites ONLY the cell partitions holding the updated ids' old
    rows (found with one id-column scan), hardlink-clones every other
    cell forward (O(files) metadata ops — the
    ``plans.collection.clone_untouched_buckets`` recipe applied to the
    cells layout), assigns the new vectors to their nearest EXISTING
    centroid (no retrain — update quality degrades only with drift,
    which the balance/recall audits already watch), and commits
    delete+add together in ONE atomic sidecar swap: readers see the
    whole upsert or none of it, never an index missing the updated
    ids. Cost: O(touched cells' data + batch) — at 4096 cells a
    2k-row upsert touches <= 2k cells ~ half the corpus worst-case,
    but real batches cluster (drifted re-encodes land near their old
    cells) and small batches touch few cells; the floor is the
    id-column scan, never a full data rewrite, never a k-means.

    Upserting a TOMBSTONED id resurrects it: the old physical row is
    purged by this very rewrite, so the id leaves the tombstone set
    and the new row serves — the one mutation ``TombstonedIdError``
    blocks elsewhere, legal here precisely because the ambiguity
    (two physical rows under one masked id) cannot arise.

    ``expected_prev_etag``: the same foreign-mutation fence as
    append/delete — pass the etag observed before your own
    ``collection_update``/upsert; the commit re-stamps to the current
    etag so the index transitions stale -> fresh. Crash-safe: all
    writes land in the fresh versioned dir before the swap; a crash
    leaves the old index intact (orphan dir GC'd by later lifecycle
    points) and the replay redoes the whole upsert idempotently
    (replacing a row with itself converges).

    Returns ``(n_updated, n_added)``."""
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_index.json")
    _check_expected_etag(
        meta, path, "ivf_index.json", expected_prev_etag, "upsert"
    )
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    exist_id, exist_emb = _cells_cols(cells)[:2]
    ic = id_col or exist_id
    ec = embedding_col or exist_emb
    types = dict(cells.dtypes)
    batch = rows.select(
        F.col(ic).cast(types[exist_id]).alias(exist_id),
        F.col(ec).cast(types[exist_emb]).alias(exist_emb),
    )
    metric = (meta.get("build") or {}).get("metric", meta["metric"])
    return _upsert_rows(
        spark, p, "ivf_index.json", meta, cells, batch,
        lambda b: _assign_to_centroids(
            b, np.asarray(meta["centroids"]), id_col=exist_id,
            embedding_col=exist_emb, metric=metric,
        ),
    )


def ivf_tombstoned_ids(
    spark, path: str, *, sidecar: str = "ivf_index.json"
) -> DataFrame:
    """The index's current tombstone set as a one-column DataFrame
    (``_ts_id`` string; empty when the index carries none) — the
    observability twin of ``ivf_appended_ids`` for the delete path."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, sidecar)
    ts = _tombstones_df(spark, p, meta)
    if ts is not None:
        return ts
    return spark.createDataFrame([], "_ts_id string")


def _dist_to_centroid(emb, cen, metric: str, dim: int | None = None):
    """Row-to-assigned-centroid distance as a pure expression (no
    UDF): l2 distance, or cosine DISTANCE (1 - cos). Used by the
    build-time training stats and the balance audit, so both sides of
    the drift comparison use identical math.

    With ``dim`` known (every call site holds the centroid matrix) the
    fold is UNROLLED into per-index try_element_at terms that
    whole-stage codegen compiles — the zip_with/aggregate HOF chain is
    CodegenFallback, interpreted per element (the same pathology the
    r15 literal-distance unroll removed from the serve paths; see
    functions/vector.py module comment). The unrolled form keeps the
    HOF's exact left-to-right IEEE fold order AND its per-element
    types (a float32 embedding squares in float32 before the double
    accumulate, exactly like ``transform(emb, x*x)``), so the audit
    oracles cannot move. Same uniform-dim caveat as the literal
    family: rows LONGER than dim would score on the first ``dim``
    elements instead of going NULL — IVF cells are uniform-dim by
    construction."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.vector import (
        _LITERAL_DIM_CAP,
    )

    if dim is not None and 0 < int(dim) <= _LITERAL_DIM_CAP:
        dim = int(dim)
        if metric == "cosine":
            dot, nx2, nc2 = F.lit(0.0), F.lit(0.0), F.lit(0.0)
            for i in range(1, dim + 1):
                e = F.try_element_at(emb, F.lit(i))
                c = F.try_element_at(cen, F.lit(i))
                dot = dot + e * c
                nx2 = nx2 + e * e
                nc2 = nc2 + c * c
            return F.lit(1.0) - dot / F.greatest(
                F.sqrt(nx2) * F.sqrt(nc2), F.lit(1e-300)
            )
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            d = F.try_element_at(emb, F.lit(i)) - F.try_element_at(
                cen, F.lit(i)
            )
            acc = acc + d * d
        return F.sqrt(acc)
    dot = F.aggregate(
        F.zip_with(emb, cen, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if metric == "cosine":
        nx = F.sqrt(
            F.aggregate(
                F.transform(emb, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        nc = F.sqrt(
            F.aggregate(
                F.transform(cen, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        # ANSI mode raises on /0 — floor the denominator
        return F.lit(1.0) - dot / F.greatest(nx * nc, F.lit(1e-300))
    return F.sqrt(
        F.aggregate(
            F.zip_with(emb, cen, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _centroid_df(spark, C: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(C)],
        "ivf_cell int, _centroid array<double>",
    )


def _cell_stats(
    spark, cells: DataFrame, C: np.ndarray, metric: str
) -> DataFrame:
    """Per-cell (n_rows, mean assignment distance) over an assigned
    cells dataset: one broadcast join against the (tiny) centroid
    table + one map-side-combinable aggregate — a single scan however
    large the corpus."""
    emb = _cells_cols(cells)[1]
    return (
        cells.join(F.broadcast(_centroid_df(spark, C)), "ivf_cell")
        .select(
            "ivf_cell",
            _dist_to_centroid(
                F.col(emb), F.col("_centroid"), metric, dim=int(C.shape[1])
            ).alias("_d"),
        )
        .groupBy("ivf_cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg("_d").alias("mean_dist"),
        )
    )


def ivf_balance_audit(
    spark,
    path: str,
    *,
    skew_threshold: float = 4.0,
    drift_threshold: float = 1.5,
    dist_decimals: int = 4,
) -> DataFrame:
    """The audit ``ivf_append`` defers to ("refresh when recall or
    balance audits say so"): per-cell occupancy and assignment-
    distance drift of the CURRENT cells dataset versus the sidecar's
    recorded build-time training stats, as a small (n_centroids-row)
    DataFrame —

    ``(ivf_cell, n_rows, occupancy_ratio, mean_dist, trained_n_rows,
    trained_mean_dist, refresh_recommended)``

    ``occupancy_ratio`` is the cell's share of rows relative to a
    perfectly balanced index (n_rows * n_centroids / total);
    ``refresh_recommended`` flips when a cell is over
    ``skew_threshold``-times overfull (hot cells make nprobe scans
    lopsided and recall/latency unpredictable; note the ratio is
    bounded by ``n_centroids``, so pick a threshold below it — the
    default 4.0 assumes production-sized cell counts) or its mean assignment
    distance exceeds ``drift_threshold``-times its trained mean (the
    appended data has drifted away from the trained centroids —
    nearest-EXISTING-centroid assignment is getting worse, run
    ``ivf_refresh``).

    ``recell_recommended`` (one value, stamped on every row) is the
    CELL-COUNT hint the constant-occupancy sizing implies
    (``auto_n_centroids``): it flips when appends have grown MEAN
    occupancy a decade past the build-time mean (or, for an index
    built empty, past 10x ``TARGET_CELL_ROWS``) — at that
    point every cell is uniformly overfull, ``refresh_recommended``'s
    per-cell skew test stays quiet, but a fixed-nprobe serve scans
    10x the rows the build was sized for; rebuild with
    ``n_centroids="auto"`` rather than re-training at the old count. One scan of the cells dataset (broadcast centroid
    join + map-side-combinable aggregate) — audit cost is corpus-scan
    bound, run it at the cadence appends warrant, not per batch."""
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_index.json")
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    # audit the LOGICAL index (tombstones masked): occupancy and
    # drift verdicts drive refresh decisions about SERVABLE content —
    # rows a delete already masked must not keep a cell looking hot
    cells = _mask_tombstones(spark, p, meta, cells, _cells_cols(cells)[0])
    C = np.asarray(meta["centroids"])
    build = meta.get("build") or {}
    metric = build.get("metric", meta["metric"])
    # the ONE corpus scan: collect the <= n_centroids aggregate rows
    # and derive everything else locally — summing via the DataFrame
    # would execute the scan once for the total and AGAIN for the
    # report (and a report collected after a later append would mix
    # scan generations)
    stat_rows = _cell_stats(spark, cells, C, metric).collect()
    n_cells = int(meta["n_centroids"])
    total = sum(r["n_rows"] for r in stat_rows)
    cur = spark.createDataFrame(
        [
            (int(r["ivf_cell"]), int(r["n_rows"]), float(r["mean_dist"]))
            for r in stat_rows
        ],
        "ivf_cell int, n_rows bigint, mean_dist double",
    )
    trained = meta["train_stats"]
    tdf = spark.createDataFrame(
        [
            (i, int(n), float(d))
            for i, (n, d) in enumerate(
                zip(trained["cell_rows"], trained["cell_mean_dist"])
            )
        ],
        "ivf_cell int, trained_n_rows bigint, trained_mean_dist double",
    )
    built_total = sum(trained["cell_rows"])
    mean_occ = total / max(n_cells, 1)
    if built_total:
        recell = mean_occ >= 10.0 * max(built_total / n_cells, 1.0)
    else:
        recell = mean_occ >= 10.0 * TARGET_CELL_ROWS
    occ = (F.col("n_rows") * n_cells / F.greatest(F.lit(total), F.lit(1))).cast(
        "double"
    )
    drifted = F.coalesce(
        (F.col("trained_mean_dist") > 0)
        & (
            F.col("mean_dist")
            > F.lit(drift_threshold) * F.col("trained_mean_dist")
        ),
        F.lit(False),
    )
    return (
        tdf.join(cur, "ivf_cell", "left")
        .select(
            "ivf_cell",
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
            F.round(
                F.coalesce(occ, F.lit(0.0)), dist_decimals
            ).alias("occupancy_ratio"),
            F.round("mean_dist", dist_decimals).alias("mean_dist"),
            "trained_n_rows",
            F.round("trained_mean_dist", dist_decimals).alias(
                "trained_mean_dist"
            ),
            (
                (F.coalesce(occ, F.lit(0.0)) > skew_threshold) | drifted
            ).alias("refresh_recommended"),
            F.lit(bool(recell)).alias("recell_recommended"),
        )
    )


def _sample_queries(
    df: DataFrame, id_col: str, embedding_col: str, n_queries: int
) -> DataFrame:
    """The deterministic md5-rank query draw both recall audits use
    (and their SQL oracles replay): rank ids by
    ``md5(cast(id as string))``, take the lowest ``n_queries`` (a
    TakeOrderedAndProject — no full sort materialized), return
    ``(qid, q_embedding)`` eagerly checkpointed (two serving joins
    consume the sample; neither may re-execute the draw). ONE
    implementation — the sampling discipline is a cross-audit
    determinism contract, and a tweak applied to only one copy would
    silently desynchronize the audits from each other and from their
    oracles."""
    return (
        df.select(
            F.col(id_col).alias("qid"),
            F.col(embedding_col).alias("q_embedding"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "qid")
        .limit(int(n_queries))
        .drop("_h")
        .localCheckpoint(eager=True)
    )


def _recall_report(
    exact: DataFrame,
    approx: DataFrame,
    *,
    recall_threshold: float,
    decimals: int = 4,
) -> DataFrame:
    """Fold two (qid, neighbor_id) top-k sets into the per-query
    recall report shared by ``ivf_recall_audit`` and
    ``pq.ivf_pq_recall_audit``:

    ``(qid, n_hits, k_eff, recall_at_k, mean_recall,
    refresh_recommended)``

    ``k_eff`` is the number of GROUND-TRUTH neighbors the query
    actually has (< k on corpora smaller than k), so recall is never
    deflated by asking for more neighbors than exist. ``mean_recall``
    and the flag ride a global window — bounded by construction: both
    inputs hold <= n_queries * k rows and the grouped report
    <= n_queries rows, so the single-partition exchange the empty
    window frame implies moves a few KB, never corpus data."""
    from pyspark.sql import Window

    per = (
        exact.select("qid", "neighbor_id")
        .join(
            approx.select("qid", "neighbor_id").withColumn(
                "_hit", F.lit(1)
            ),
            ["qid", "neighbor_id"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    recall = F.col("n_hits") / F.col("k_eff")
    w = Window.partitionBy()
    mean_recall = F.avg(recall).over(w)
    return per.select(
        "qid",
        "n_hits",
        "k_eff",
        F.round(recall, decimals).alias("recall_at_k"),
        F.round(mean_recall, decimals).alias("mean_recall"),
        (mean_recall < F.lit(recall_threshold)).alias(
            "refresh_recommended"
        ),
    )


def ivf_recall_audit(
    spark,
    path: str,
    *,
    k: int = 10,
    n_queries: int = 64,
    nprobe: int = 3,
    recall_threshold: float = 0.9,
    score_decimals: int = 4,
) -> DataFrame:
    """The DIRECT measure the geometry audit cannot give: sampled
    ground-truth recall of the persisted index at production serving
    settings. ``ivf_balance_audit`` sees occupancy skew and assignment-
    distance drift — proxies; this answers the operative question
    ("do nprobe-cell probes still find the true neighbors?") by
    serving ``n_queries`` sampled corpus vectors through the index at
    ``nprobe`` and comparing against exhaustive ground truth.

    Sampling is DETERMINISTIC and corpus-order-free — the
    ``mix_negative_sampling`` discipline: rank ids by
    ``md5(cast(id as string))`` and take the lowest ``n_queries``
    (a TakeOrderedAndProject, no full sort materialized), so reruns
    and SQL oracles draw the identical query set. Both serving paths
    are the SAME operator (``ivf_knn_join``): the audited path at the
    caller's ``nprobe``, ground truth at ``nprobe = n_centroids``
    (exhaustive — per that operator's contract, identical to the
    exact join). Identical per-pair scoring on both sides means the
    sets differ only by cell pruning — recall measures EXACTLY the
    index's candidate-selection loss, never float noise.

    Output: one row per sampled query —
    ``(qid, n_hits, k_eff, recall_at_k, mean_recall,
    refresh_recommended)`` — the flag flips when mean recall falls
    under ``recall_threshold``. Cost: one exhaustive scoring pass of
    the corpus against ``n_queries`` vectors (the ground-truth side)
    plus the pruned probe — run it at audit cadence, not per batch,
    and size ``n_queries`` to the confidence needed. Closes
    ``ivf_append``'s "refresh when recall ... audits say so" loop
    with the recall half; pairs with ``ivf_balance_audit`` (geometry)
    and ``pq.ivf_pq_recall_audit`` (the compressed twin, which this
    design exists for: PQ saturation is hull-bounded and can audit
    near-clean under real drift — recall cannot be fooled that way).
    """
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_index.json")
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    C = np.asarray(meta["centroids"])
    metric = meta["metric"]
    idc, embc = _cells_cols(cells)[:2]
    # logical rows only: a tombstoned vector is neither a valid query
    # draw nor a valid ground-truth neighbor (serving masks it), and
    # leaving it in would deflate measured recall with unservable hits
    cells = _mask_tombstones(spark, p, meta, cells, idc)
    queries = _sample_queries(cells, idc, embc, n_queries)
    approx = ivf_knn_join(
        queries,
        cells,
        C,
        k=k,
        id_col=idc,
        embedding_col=embc,
        metric=metric,
        nprobe=nprobe,
        score_decimals=score_decimals,
    )
    exact = ivf_knn_join(
        queries,
        cells,
        C,
        k=k,
        id_col=idc,
        embedding_col=embc,
        metric=metric,
        nprobe=int(C.shape[0]),
        score_decimals=score_decimals,
    )
    return _recall_report(
        exact, approx, recall_threshold=recall_threshold
    )


def _data_files(loc: str) -> int:
    """Parquet data-file count under a directory (bookkeeping files
    excluded) — the quantity compaction exists to bound."""
    return sum(1 for _ in _parquet_files(loc))


@_serialized_writer()
def ivf_compact(
    spark, path: str, *, sidecar: str = "ivf_index.json"
) -> tuple[int, int]:
    """Compact an append-grown IVF (or, via ``sidecar``, IVF-PQ)
    cells dataset: every ``ivf_append``/``ivf_pq_append`` lands one
    file per touched cell per batch (``mode('append')
    .partitionBy('ivf_cell')``), so a long ingest loop degrades every
    serve-time cell scan with per-file open/footer costs — the classic
    small-files problem, the vector twin of what
    ``band_index_compact`` fixes for the band index. This rewrites
    the CURRENT rows into a fresh versioned directory with each cell
    repartitioned into a single task (one data file per cell) and
    commits by the same atomic sidecar swap as a rebuild — concurrent
    readers see the pre-compact index until the swap, the post-compact
    index after, never a torn mix. LOGICAL content, centroids and
    codebooks are untouched (compaction is not a freshness event: the
    source stamp carries over unchanged) — but rows ``ivf_delete``
    tombstoned are physically PURGED here and the recording cleared
    (the Lucene merge discipline), after which the purged ids are
    re-appendable. The id-guard Bloom filter is RE-SIZED from the
    surviving id count, restoring the designed false-positive rate an
    append-grown index has outgrown.

    Returns ``(files_before, files_after)``. Safe to interleave with
    id-guarded appends: an append replayed across a compaction still
    converges (the guard is id-granular against the compacted rows).
    Cells large enough to need multi-file splits should lower
    ``spark.sql.files.maxRecordsPerFile`` for the session instead.
    """
    import os

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, sidecar)
    old_loc = os.path.join(p, meta["location"])
    before = _data_files(old_loc)
    df = read_parquet(spark, old_loc)
    # compaction is also the tombstone PURGE point (Lucene merge
    # semantics): ivf_delete's masked rows are physically dropped
    # here, the recording cleared, and the id-guard filter rebuilt
    # from the survivors — after which the purged ids are
    # re-appendable. Purging everything would leave an unreadable
    # empty dataset; refuse loudly instead.
    if _tombstones_df(spark, p, meta) is not None:
        df = _mask_tombstones(spark, p, meta, df, _cells_cols(df)[0])
        if df.limit(1).count() == 0:
            from vector_databases___hydrate_chroma_db_collection_spark.errors import (
                EngineError,
            )

            raise EngineError(
                f"ivf_compact: every row of the index at {path!r} is "
                "tombstoned — compacting would leave an empty cells "
                "dataset; drop the index directory and rebuild when "
                "new vectors arrive instead"
            )
    meta.pop("tombstones", None)
    new = _commit_cells_build(
        p,
        sidecar,
        # one task per cell -> exactly one data file per cell dir
        df.repartition(int(meta["n_centroids"]), F.col("ivf_cell")),
        meta,
    )
    return before, _data_files(os.path.join(p, new["location"]))


@_serialized_writer()
def ivf_refresh(
    spark,
    path: str,
    *,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, np.ndarray, str]:
    """The remedy ``StaleIndexError`` prescribes, as one call: re-read
    the source collection the sidecar names, rebuild the index with
    the sidecar's RECORDED build parameters (the ``build`` dict
    ``ivf_write`` stored: training metric, seed, sample_fraction —
    n_centroids comes from the sidecar either way), overwrite the
    persisted cells, re-stamp with the collection's CURRENT etag, and
    return the freshly-loaded (assigned_df, centroids, metric).

    Only works on stamped indexes — an index built from an arbitrary
    DataFrame has no recorded source to rebuild from (ValueError says
    so). An index written with ``build=None`` falls back to the search
    metric plus this function's seed/sample_fraction kwargs — the
    search metric is not necessarily the training metric (l2-trained
    cells are often served with cosine), so pass ``build`` to
    ``ivf_write`` when they differ. The sidecar is read unchecked, so
    this also rebuilds an index whose format predates
    ``store.FORMAT_VERSION``."""
    p = _local_sidecar_path(path)
    meta = _read_unchecked(p, "ivf_index.json")
    src = meta.get("source")
    if src is None:
        raise ValueError(
            f"index at {path!r} carries no source-collection stamp; "
            "rebuild it from the original DataFrame with ivf_build + ivf_write"
        )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    build = meta.get("build") or {}
    build_metric = build.get("metric", meta["metric"])
    build_seed = int(build.get("seed", seed))
    build_sf = build.get("sample_fraction", sample_fraction)
    coll = read_collection(spark, src["root"], src["name"])
    assigned, centroids = ivf_build(
        coll,
        id_col="id",
        embedding_col="embedding",
        n_centroids=int(meta["n_centroids"]),
        metric=build_metric,
        seed=build_seed,
        sample_fraction=build_sf,
    )
    ivf_write(
        assigned,
        centroids,
        path,
        metric=meta["metric"],
        source=(src["root"], src["name"]),
        build={
            "metric": build_metric,
            "seed": build_seed,
            "sample_fraction": build_sf,
        },
    )
    return ivf_read(spark, path)
