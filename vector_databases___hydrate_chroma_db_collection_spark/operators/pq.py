"""Product quantization (PQ) — compressed-vector ANN, the memory-scale path.

The reference hydrates a Chroma collection whose embeddings are
"100s or sometimes 1000s of columns" wide (reference README.md:75) and
leans on a separate Chroma server "for persistence and scale"
(README.md:60). At 100 TB the binding constraint is the byte volume of
the vectors themselves: a 1024-dim float32 corpus is 4 KiB/row, and
every exact or IVF kNN pass must move that. PQ (Jégou et al., "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
FAISS IVF-PQ design) cuts that to ``m`` bytes/row: split each vector
into ``m`` subspaces, k-means each subspace into ≤256 codes, store one
uint8 code per subspace, and score queries against codes via an
asymmetric-distance (ADC) lookup table that never touches the original
floats.

Spark mapping (all corpus-side work distributed):

- **train** — one bounded driver-side sample (same memory contract as
  ``ann._train_kmeans``: ≤ ``max_train_rows`` × dim float64), then ``m``
  independent numpy Lloyd loops over its column slices. One scan total.
- **encode** — Arrow-batched ``mapInPandas``; the (m, n_codes, dsub)
  codebook tensor rides the task closure (≤ 256·dim·8 bytes — tiny).
  Output is ``array<smallint>`` codes: a 4·dim→m byte compression that
  shrinks shuffle, cache, and scan volume by the same factor.
- **query (ADC)** — the per-query lookup table (m × n_codes doubles) is
  built once on the driver and rides the closure; each executor scores
  its partitions with vectorized ``take``s and only ``k`` rows per
  partition survive into the global top-k (TakeOrderedAndProject — no
  shuffle of the corpus).
- **rerank** — optional exact refinement: ADC prescreens to
  ``k·rerank_factor`` candidates, a broadcast-semi-join pulls only those
  rows' full vectors, and exact scores decide the final top-k. This is
  the standard IVF-PQ+refine recipe; recall is tested, not assumed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    _cell_order,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _atomic_sidecar_write,
    _cells_cols,
    _check_expected_etag,
    _commit_cells_build,
    _extend_guard,
    _gc,
    _guard_append,
    _local_sidecar_path,
    _mask_tombstones,
    _read_cells,
    _restamp,
    _serialized_writer,
    _source_stamp,
    _tombstones_df,
    _upsert_rows,
    read_parquet,
    read_sidecar,
)

# ADC LUTs up to this many entries (m * n_codes) are inlined as literal
# arrays into a codegen expression; larger ones fall back to an
# Arrow-batched Pandas scorer. Module-level so tests can exercise both.
ADC_EXPR_MAX_LUT = 4096


def _lloyd(X: np.ndarray, k: int, seed: int, n_iter: int = 15) -> np.ndarray:
    """Plain seeded Lloyd on a driver-side sample slice (see
    ``ann._train_kmeans`` for why not MLlib at this problem size)."""
    rng = np.random.RandomState(seed)
    k = int(min(k, len(X)))
    C = X[rng.choice(len(X), k, replace=False)].copy()
    for _ in range(n_iter):
        owner = np.argmin(
            (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T), axis=1
        )
        counts = np.bincount(owner, minlength=k)
        # per-dimension weighted bincount beats np.add.at (unbuffered)
        # by ~10x at PQ subspace widths
        sums = np.stack(
            [
                np.bincount(owner, weights=X[:, d], minlength=k)
                for d in range(X.shape[1])
            ],
            axis=1,
        )
        live = counts > 0
        C[live] = sums[live] / counts[live, None]
    return C


def pq_train(
    corpus: DataFrame,
    *,
    embedding_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    normalize: bool = False,
    max_train_rows: int = 262_144,
    n_rows: int | None = None,
) -> np.ndarray:
    """Train PQ codebooks -> (m, n_codes, dim//m) float64.

    ONE corpus scan: a seeded uniform sample (no partition-prefix bias
    — same reasoning as ``ann._train_kmeans``) is collected once and
    all ``m`` subspace k-means run on its column slices. ``normalize``
    trains on unit vectors (use for cosine corpora; encode with the
    same flag). ``dim`` must divide evenly by ``m``.
    """
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        collect_bounded_sample,
    )

    X = collect_bounded_sample(
        corpus, embedding_col, max_rows=max_train_rows, seed=seed, n_rows=n_rows
    )
    if normalize:
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    dsub = dim // m
    return _train_subspaces(X, m, dsub, n_codes, seed)


def _train_opq(
    R: np.ndarray,
    m: int,
    dsub: int,
    n_codes: int,
    seed: int,
    iters: int = 8,
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization rotation (Ge et al. 2013,
    non-parametric alternating solver, public): learn an ORTHOGONAL
    ``dim x dim`` rotation of the residual space that minimizes PQ
    reconstruction error at the SAME bytes/row, by alternating

    1. fix the rotation, retrain the subspace codebooks on the
       rotated sample (``_train_subspaces``);
    2. fix the codebooks, encode the rotated sample, and solve the
       orthogonal Procrustes problem ``min ||R @ Rot - Y||_F`` for
       ``Rot`` (SVD of ``R^T Y`` — one dim x dim decomposition).

    Runs entirely on the bounded driver-side residual sample
    (``max_train_rows`` caps it), the same memory contract as the
    k-means trainer. Convention: a residual row ``r`` encodes as
    ``r @ Rot``; the query side rotates identically before its LUTs.
    Plain PQ is the ``Rot = I`` special case, so every downstream
    consumer treats ``rotation=None`` as the identity. Returns
    ``(rotation, codebooks-in-rotated-space)``."""
    dim = R.shape[1]
    rot = np.eye(dim)
    books = _train_subspaces(R, m, dsub, n_codes, seed)
    for _ in range(max(int(iters), 1)):
        Rr = R @ rot
        Y = np.empty_like(Rr)
        for j in range(m):
            sub = Rr[:, j * dsub : (j + 1) * dsub]
            c_sq = (books[j] * books[j]).sum(axis=1)
            idx = np.argmin(c_sq[None, :] - 2.0 * (sub @ books[j].T), axis=1)
            Y[:, j * dsub : (j + 1) * dsub] = books[j][idx]
        U, _s, Vt = np.linalg.svd(R.T @ Y)
        rot = U @ Vt
        books = _train_subspaces(R @ rot, m, dsub, n_codes, seed)
    return rot, books


def _rotate(X: np.ndarray, rotation) -> np.ndarray:
    """Apply the OPQ rotation (rows: ``x' = x @ rot``); ``None`` is
    the identity — the single definition every encode/LUT site
    shares, so build and serve can never rotate differently."""
    if rotation is None:
        return X
    return X @ np.asarray(rotation, dtype=np.float64)


def _train_subspaces(
    X: np.ndarray, m: int, dsub: int, n_codes: int, seed: int
) -> np.ndarray:
    """Run the m independent subspace Lloyd fits on a thread pool —
    the per-iteration GEMM and bincounts release the GIL, so the m
    fits run genuinely in parallel on driver cores. Results are
    seed-determined per subspace, so the pool changes wall-clock
    only, never the codebooks."""
    from concurrent.futures import ThreadPoolExecutor

    def fit(j: int) -> np.ndarray:
        return _lloyd(
            np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub]),
            n_codes,
            seed + j,
        )

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return np.stack(list(pool.map(fit, range(m))))


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Encode every vector to ``m`` subspace codes (array<smallint>).

    Arrow-batched (``mapInArrow`` since r15: flat-buffer matrix in,
    flat-buffer code list out — no per-row Python objects); the
    codebook tensor ships in the closure. Output rows are
    (id, pq_code) — 4·dim bytes → m bytes — so the encoded table
    caches, shuffles, and scans at the compressed size.
    """
    from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
        list_matrix,
        matrix_to_list_array,
        rows_matrix,
    )

    m, n_codes, dsub = codebooks.shape
    # Per-subspace ||c||^2 terms precomputed once; argmin ||x-c||^2 ==
    # argmin (c^2 - 2 x.c) per subspace, vectorized over the batch.
    c_sq = (codebooks * codebooks).sum(axis=2)  # (m, n_codes)
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pq_code array<smallint>"

    def encode(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            E = list_matrix(rb.column(1))
            if E is None:
                E = rows_matrix(rb.column(1).to_pandas())
            if E.shape[1] != m * dsub:
                raise ValueError(
                    f"corpus embedding dim {E.shape[1]} != codebook dim "
                    f"{m * dsub} — wider vectors would be SILENTLY "
                    "truncated into valid-looking but wrong codes"
                )
            if normalize:
                E = E / np.maximum(
                    np.linalg.norm(E, axis=1, keepdims=True), 1e-300
                )
            codes = np.empty((len(E), m), dtype=np.int16)
            for j in range(m):
                sub = E[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmin(
                    c_sq[j][None, :] - 2.0 * (sub @ codebooks[j].T), axis=1
                )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), matrix_to_list_array(codes)],
                names=[id_col, "pq_code"],
            )

    base = corpus.select(
        F.col(id_col).alias("_id"), F.col(embedding_col).alias("_e")
    )
    return base.mapInArrow(encode, schema=out_schema)


def _finish_adc(
    scored: DataFrame,
    order,
    *,
    k: int,
    id_col: str,
    score_decimals: int | None,
    rerank_corpus: DataFrame | None,
    embedding_col: str,
    rerank_factor: int,
    query_vector,
    metric: str,
):
    """Shared tail of every ADC query: either the ADC order IS the
    result, or the top k·rerank_factor candidates join back to full
    vectors (broadcast of the bounded id set) and EXACT scores pick
    the final k. One implementation for flat-PQ and IVF-PQ so the
    rerank contract (tie-breaks on id, rounding order, candidate
    join shape) cannot drift between the two paths."""
    if rerank_corpus is None:
        out = scored.orderBy(order, F.col(id_col)).limit(k)
        if score_decimals is not None:
            out = out.withColumn(
                "adc_score", F.round("adc_score", score_decimals)
            )
        return out

    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        _score_vs_literal as _exact_score_lit,
    )

    candidates = scored.orderBy(order, F.col(id_col)).limit(k * rerank_factor)
    exact = rerank_corpus.join(
        F.broadcast(candidates.select(id_col)), id_col, "inner"
    )
    dist, exact_asc = _exact_score_lit(
        metric, F.col(embedding_col), query_vector
    )
    if score_decimals is not None:
        dist = F.round(dist, score_decimals)
    return (
        exact.withColumn("score", dist)
        .select(id_col, "score")
        .orderBy(
            F.col("score").asc() if exact_asc else F.col("score").desc(),
            F.col(id_col),
        )
        .limit(k)
    )


def pq_knn_query(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vector: list[float],
    k: int = 5,
    *,
    id_col: str = "id",
    metric: str = "l2",
    rerank_corpus: DataFrame | None = None,
    embedding_col: str = "embedding",
    rerank_factor: int = 8,
    score_decimals: int | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes; optionally exact-rerank the prescreen.

    The query's (m × n_codes) distance lookup table is built once on
    the driver and rides the closure; executors score each row as a sum
    of ``m`` table lookups — no float vectors move. ``metric``:

    - ``"l2"``   — ADC approximates squared L2; smaller is nearer.
    - ``"cosine"`` — codebooks/codes must be trained/encoded with
      ``normalize=True``; ADC approximates the inner product of unit
      vectors; larger is nearer.

    Without ``rerank_corpus`` the ADC order IS the result (score =
    approximate distance/similarity). With it, the top ``k·rerank_factor``
    ADC candidates are joined back to their full vectors (broadcast of a
    bounded candidate id set) and exact scores pick the final ``k`` —
    the refine step of FAISS's IVFPQ+refine.
    """
    import pandas as pd

    if metric not in ("l2", "cosine"):
        raise ValueError(f"pq_knn_query metric must be 'l2' or 'cosine', got {metric!r}")
    m, n_codes, dsub = codebooks.shape
    q = np.asarray(query_vector, dtype=np.float64)
    if metric == "cosine":
        q = q / max(np.linalg.norm(q), 1e-300)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != codebook dim {m * dsub}"
        )
    # LUT[j, c] = contribution of code c in subspace j to the total
    # score for THIS query: squared-L2 chunk distance, or unit-vector
    # dot-product chunk. (m × n_codes doubles ≤ 16 KiB — closure-safe.)
    if metric == "l2":
        lut = np.stack(
            [
                ((codebooks[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                for j in range(m)
            ]
        )
        ascending = True
    else:
        lut = np.stack(
            [codebooks[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        ascending = False

    id_type = encoded.schema[id_col].dataType.simpleString()

    if m * n_codes <= ADC_EXPR_MAX_LUT:
        # JVM path: the LUT rows become literal arrays and the score is
        # m element_at lookups summed inside whole-stage codegen — no
        # Python worker, no Arrow transfer, same speed class as the
        # exact distance expression. This is the hot path at FAISS-
        # typical sizes (m<=16, n_codes=256).
        terms = [
            F.element_at(
                F.array(*[F.lit(float(v)) for v in lut[j]]),
                F.col("pq_code").getItem(j).cast("int") + 1,
            )
            for j in range(m)
        ]
        adc = terms[0]
        for t in terms[1:]:
            adc = adc + t
        scored = encoded.select(
            id_col, adc.alias("adc_score")
        )
    else:
        # Arrow-batched fallback for very large LUTs (wide m x big
        # codebooks) where a literal expression tree would bloat
        # codegen.
        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.stack(
                    [np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]]
                )  # (n, m)
                s = np.zeros(len(codes))
                for j in range(m):
                    s += lut[j][codes[:, j]]
                yield pd.DataFrame({id_col: pdf[id_col], "adc_score": s})

        scored = encoded.select(id_col, "pq_code").mapInPandas(
            score, schema=f"{id_col} {id_type}, adc_score double"
        )
    order = (
        F.col("adc_score").asc() if ascending else F.col("adc_score").desc()
    )

    return _finish_adc(
        scored,
        order,
        k=k,
        id_col=id_col,
        score_decimals=score_decimals,
        rerank_corpus=rerank_corpus,
        embedding_col=embedding_col,
        rerank_factor=rerank_factor,
        query_vector=query_vector,
        metric=metric,
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the combined index — coarse cells for pruning, residual PQ codes
# for in-cell scoring. This is the memory-AND-compute scale path (FAISS
# "IVFx,PQy"): a query touches nprobe/n_centroids of the corpus, and what
# it touches is m bytes/row, not 4·dim.
# ---------------------------------------------------------------------------


def ivf_pq_build(
    corpus: DataFrame,
    *,
    id_col: str = "id",
    embedding_col: str = "embedding",
    n_centroids: int | str = 16,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_train_rows: int = 65_536,
    n_rows: int | None = None,
    opq: bool = False,
    opq_iters: int = 8,
):
    """Build an IVF-PQ index -> (encoded_df, centroids, codebooks);
    with ``opq=True`` -> (encoded_df, centroids, codebooks, rotation).

    ``n_centroids="auto"`` sizes the coarse layer for CONSTANT cell
    occupancy (``ann.auto_n_centroids``: rows/TARGET_CELL_ROWS,
    clamped) from the row count this build already takes — at fixed
    nprobe the ADC-scanned volume then stays ~flat across corpus
    decades instead of growing 10x per decade (the r14 100M probe's
    2.5x probed-volume tax).

    ``opq=True`` additionally learns an orthogonal OPQ rotation of
    the residual space on the SAME bounded training sample
    (``_train_opq`` — Ge et al. 2013): identical bytes/row, residual
    variance balanced across the m subspaces before splitting, which
    lifts recall on correlated/anisotropic embedding spaces (real
    encoder outputs; isotropic noise gains ~nothing). Pass the
    returned rotation to ``ivf_pq_write(rotation=...)`` and every
    serve/append path applies it transparently from the sidecar.


    Classic residual design: rows are assigned to their nearest coarse
    centroid (``ann.ivf_build``, one Arrow-batched scan), then PQ
    codebooks are trained on RESIDUALS (x − centroid) — residuals
    concentrate near zero, so the same code budget quantizes them much
    more finely than raw vectors — and every row is encoded to
    (cell, m codes). The corpus is counted ONCE (a column-pruned
    count, or zero times when the caller passes ``n_rows``) and that
    count sizes BOTH training samples — assignment is 1:1 so the
    residual side has the same cardinality — leaving the assignment
    expression computed twice (training-sample collect, encode), each
    a cheap Arrow-batched pass; persist the ENCODED output (or the
    corpus) if upstream recompute is expensive. Driver work is two
    bounded samples (coarse k-means + residual PQ), the same memory
    contract as a broadcast join side.
    ``sample_fraction`` thins BOTH training samples; ``max_train_rows``
    hard-caps the residual sample regardless (Lloyd at k=256 touches
    an (n × n_codes) distance matrix per iteration, so the cap bounds
    driver memory traffic, and 64k rows is plenty for 256 codes).

    ``encoded_df`` columns: (id, ivf_cell, pq_code). Persist it
    partitioned by ``ivf_cell`` (``ann.ivf_write`` layout) and searches
    prune partitions AND scan only m bytes/row.
    """
    import pandas as pd

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        collect_bounded_sample,
        ivf_build,
    )

    n = corpus.count() if n_rows is None else int(n_rows)
    assigned, C = ivf_build(
        corpus,
        id_col=id_col,
        embedding_col=embedding_col,
        n_centroids=n_centroids,
        seed=seed,
        sample_fraction=sample_fraction,
        metric="l2",
        n_rows=n,
    )
    dim = C.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")

    # Residual sample for PQ training — the shared bounded-sample
    # helper (ann.collect_bounded_sample: seeded value-hash sample,
    # no prefix bias, layout-independent membership and order), sized
    # from the single corpus count (assignment is 1:1), NOT a second
    # count over the assignment scan. The (embedding, cell) pair rides
    # as one struct column so residuals can be formed after the
    # bounded collect.
    res_src = assigned.select(
        F.struct(
            F.col(embedding_col).alias("e"), F.col("ivf_cell").alias("c")
        ).alias("_ec")
    )
    res_n = n
    if sample_fraction is not None:
        from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
            _det_sample,
        )

        res_src = _det_sample(res_src, sample_fraction, seed, F.col("_ec"))
        res_n = max(1, int(n * sample_fraction))
    pairs = collect_bounded_sample(
        res_src, "_ec", max_rows=max_train_rows, seed=seed, n_rows=res_n,
        as_rows=True,
    )
    E = np.vstack([p["e"] for p in pairs]).astype(np.float64, copy=False)
    cells = np.asarray([int(p["c"]) for p in pairs])
    R = E - C[cells]
    dsub = dim // m
    if opq:
        rotation, codebooks = _train_opq(
            R, m, dsub, n_codes, seed, iters=opq_iters
        )
        encoded = _encode_assigned(
            assigned, C, codebooks,
            id_col=id_col, embedding_col=embedding_col,
            rotation=rotation,
        )
        return encoded, C, codebooks, rotation
    codebooks = _train_subspaces(R, m, dsub, n_codes, seed)

    encoded = _encode_assigned(
        assigned, C, codebooks, id_col=id_col, embedding_col=embedding_col
    )
    return encoded, C, codebooks


def _encode_assigned(
    assigned: DataFrame,
    C: np.ndarray,
    codebooks: np.ndarray,
    *,
    id_col: str,
    embedding_col: str,
    rotation=None,
) -> DataFrame:
    """Residual-PQ encode of cell-assigned rows with EXISTING
    codebooks, one Arrow-batched pass. Shared by ``ivf_pq_build``
    (initial encode) and ``ivf_pq_append`` (incremental ingest —
    identical math, so appended rows carry exactly the codes a
    rebuild with the same codebooks would give them). r15:
    ``mapInArrow`` over exactly the three columns it needs — ids and
    cells pass through untouched, codes leave as one flat buffer."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
        list_matrix,
        matrix_to_list_array,
        rows_matrix,
    )

    dim = C.shape[1]
    m = codebooks.shape[0]
    dsub = dim // m
    c_sq = (codebooks * codebooks).sum(axis=2)  # (m, n_codes)
    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, ivf_cell int, pq_code array<smallint>"

    def encode(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            Eb = list_matrix(rb.column(1))
            if Eb is None:
                Eb = rows_matrix(rb.column(1).to_pandas())
            if Eb.shape[1] != dim:
                raise ValueError(
                    f"corpus embedding dim {Eb.shape[1]} != index dim {dim}"
                )
            cells = rb.column(2).to_numpy()
            Rb = _rotate(Eb - C[cells], rotation)
            codes = np.empty((len(Rb), m), dtype=np.int16)
            for j in range(m):
                sub = Rb[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmin(
                    c_sq[j][None, :] - 2.0 * (sub @ codebooks[j].T), axis=1
                )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    rb.column(2).cast(pa.int32()),
                    matrix_to_list_array(codes),
                ],
                names=[id_col, "ivf_cell", "pq_code"],
            )

    return assigned.select(id_col, embedding_col, "ivf_cell").mapInArrow(
        encode, schema=out_schema
    )


def _residual_lut(q, centroid, codebooks, rotation) -> np.ndarray:
    """ADC lookup table of one (query, cell) pair: ``LUT[j, c] =
    ||r_j - codebook_j[c]||^2`` for the (rotated) residual
    ``r = q - centroid``."""
    m, _, dsub = codebooks.shape
    r = _rotate((q - centroid)[None, :], rotation)[0]
    return np.stack(
        [
            ((codebooks[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )


def _adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Residual squared-L2 ADC of ``codes`` (n, m) under one table —
    the single definition of the score's bit arithmetic."""
    acc = np.zeros(len(codes))
    for j in range(lut.shape[0]):
        acc += lut[j][codes[:, j]]
    return acc


def _adc_topk(
    codes: DataFrame,
    work,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    id_col: str,
    width: int,
    rotation=None,
) -> DataFrame:
    """ADC scores of IVF-PQ code rows for several ``(qid, query
    vector, cells)`` pairs in ``work``: each query scores only the
    rows of its own cells, in one ``mapInArrow`` pass over ``codes``
    (the caller prunes them to the union of the cells). Executors
    build each pair's residual table (``_residual_lut``) from the
    shipped query vectors, centroids and codebooks, so the closure
    grows with ``|work|·dim``, never with ``|work|·cells·m·n_codes``.
    Each task keeps, per qid, its top ``width`` rows by
    ``(adc_score, id)``: a collect of the output is bounded by
    ``|work| · width · scan tasks`` rows. Output ``(qid int,
    <id_col>, adc_score double)``."""
    import pyarrow as pa

    from vector_databases___hydrate_chroma_db_collection_spark.operators._arrow import (
        list_matrix,
        rows_matrix,
    )

    C = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    queries = {int(q): np.asarray(v, dtype=np.float64) for q, v, _ in work}
    by_cell: dict[int, list[int]] = {}
    for q, _, cells in work:
        for c in cells:
            by_cell.setdefault(int(c), []).append(int(q))
    id_type = codes.schema[id_col].dataType.simpleString()

    def top(ids: np.ndarray, s: np.ndarray):
        keep = np.lexsort((ids, s))[:width]
        return ids[keep], s[keep]

    def score(batches):
        luts: dict = {}
        kept: dict = {}  # qid -> (ids, scores), at most width each
        id_arrow = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            id_arrow = rb.column(0).type
            ids = np.asarray(rb.column(0).to_pylist(), dtype=object)
            cell_arr = rb.column(1).to_numpy()
            M = list_matrix(rb.column(2), np.int64)
            if M is None:
                M = rows_matrix(rb.column(2).to_pandas(), np.int64)
            for cell in np.unique(cell_arr):
                mask = cell_arr == cell
                for q in by_cell.get(int(cell), ()):
                    lut = luts.get((q, int(cell)))
                    if lut is None:
                        lut = luts[(q, int(cell))] = _residual_lut(
                            queries[q], C[int(cell)], books, rot
                        )
                    s = _adc(lut, M[mask])
                    old = kept.get(q)
                    cand = (ids[mask], s) if old is None else (
                        np.concatenate([old[0], ids[mask]]),
                        np.concatenate([old[1], s]),
                    )
                    kept[q] = top(*cand)
        for q, (ids, s) in kept.items():
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(ids), q, dtype=np.int32)),
                    pa.array(ids.tolist(), type=id_arrow),
                    pa.array(s, type=pa.float64()),
                ],
                names=["qid", id_col, "adc_score"],
            )

    return codes.select(id_col, "ivf_cell", "pq_code").mapInArrow(
        score, schema=f"qid int, {id_col} {id_type}, adc_score double"
    )


def ivf_pq_search(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vector: list[float],
    k: int = 5,
    *,
    id_col: str = "id",
    nprobe: int = 3,
    rerank_corpus: DataFrame | None = None,
    embedding_col: str = "embedding",
    rerank_factor: int = 8,
    metric: str = "l2",
    score_decimals: int | None = None,
    rotation=None,
) -> DataFrame:
    """Search an IVF-PQ index: prune to ``nprobe`` cells, ADC-score
    residual codes with a PER-CELL lookup table (the query residual
    q − centroid differs per cell), optionally exact-rerank.

    Scoring is ``_adc_topk`` with this one query: executors build the
    per-cell tables, each task keeps only the prescreen width, and the
    filter on ``ivf_cell`` is a literal IN-list, so a cell-partitioned
    layout statically prunes. ``metric`` controls the RERANK scoring
    ("l2" or "cosine"); the ADC stage is always residual squared-L2,
    which ranks cosine correctly for normalized corpora. With
    ``nprobe = n_centroids`` and a prescreen wide enough to cover the
    corpus the result is exact — the oracle-checkable configuration.
    """
    q = np.asarray(query_vector, dtype=np.float64)
    cells = [int(c) for c in _cell_order(centroids, q, "l2")[0, :nprobe]]
    scored = _adc_topk(
        encoded.filter(F.col("ivf_cell").isin(cells)),
        [(0, q, cells)],
        centroids,
        codebooks,
        id_col=id_col,
        width=k * (rerank_factor if rerank_corpus is not None else 1),
        rotation=rotation,
    ).select(id_col, "adc_score")

    return _finish_adc(
        scored,
        F.col("adc_score").asc(),
        k=k,
        id_col=id_col,
        score_decimals=score_decimals,
        rerank_corpus=rerank_corpus,
        embedding_col=embedding_col,
        rerank_factor=rerank_factor,
        query_vector=query_vector,
        metric=metric,
    )


def ivf_pq_knn_join(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    *,
    query_id_col: str = "qid",
    query_embedding_col: str = "q_embedding",
    id_col: str = "id",
    nprobe: int = 3,
    slack: int = 32,
    score_decimals: int | None = None,
    rotation=None,
) -> DataFrame:
    """Batch ADC search through an IVF-PQ index — the compressed twin
    of ``ann.ivf_knn_join`` for a DataFrame of queries (the recall
    audit's sampled rows; a driver-held query list goes through
    ``_adc_topk``). Scores use the same ``_residual_lut`` / ``_adc``
    arithmetic, built executor-side per (query, probed cell) pair.

    Plan (all distributed, the code table is never collected):
    1. one Arrow pass assigns each query to its ``nprobe``
       l2-nearest coarse centroids (stable argsort — boundary ties
       resolve to the lower cell deterministically, same contract as
       ``ann.ivf_knn_join``); ADC is residual squared-L2 whatever the
       rerank metric, so probing is always l2 — FAISS semantics;
    2. ``groupby(cell).cogroup(queries_by_cell).applyInPandas``: per
       cell, each query's residual LUT (m x n_codes) is built from
       the closure-shipped codebooks and the cell's code rows are
       scored with vectorized takes, keeping k+slack per query;
    3. ``knn.rank_merge`` (ascending — ADC approximates a distance)
       produces the deterministic (rounded score, neighbor_id) top-k.

    Output: (qid, neighbor_id, score, rank) — score is the ADC
    residual squared-L2 approximation (exact rerank is a separate
    concern; join the top-k back to the corpus when needed).
    ``nprobe >= n_centroids`` probes every cell: the result is then
    exhaustive ADC — exact up to quantization, the oracle-checkable
    configuration."""
    import pandas as pd

    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        rank_merge,
    )

    C = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    rot_b = (
        None if rotation is None else np.asarray(rotation, dtype=np.float64)
    )
    npb = int(min(nprobe, C.shape[0]))

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    qemb_type = queries.schema[query_embedding_col].dataType.simpleString()
    qcell_schema = f"_qid {qid_type}, _qe {qemb_type}, ivf_cell int"

    def assign_queries(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.vstack(pdf["_qe"].to_numpy()).astype(np.float64, copy=False)
            top = _cell_order(C, Q, "l2")[:, :npb]
            yield pd.DataFrame(
                {
                    "_qid": pdf["_qid"].to_numpy().repeat(npb),
                    "_qe": pdf["_qe"].to_numpy().repeat(npb),
                    "ivf_cell": top.reshape(-1).astype("int32"),
                }
            )

    qcells = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_embedding_col).alias("_qe"),
    ).mapInPandas(assign_queries, schema=qcell_schema)

    nid_type = encoded.schema[id_col].dataType.simpleString()
    out_schema = f"qid {qid_type}, neighbor_id {nid_type}, score double"
    keep_m = k + slack

    def cell_scores(code_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(code_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"qid": [], "neighbor_id": [], "score": []})
        cell = int(code_pdf["ivf_cell"].iloc[0])
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in code_pdf["pq_code"]]
        )
        ids = code_pdf[id_col].to_numpy()
        keep = min(keep_m, len(ids))
        out_qid, out_nid, out_score = [], [], []
        for qid, qe in zip(q_pdf["_qid"], q_pdf["_qe"]):
            acc = _adc(
                _residual_lut(
                    np.asarray(qe, dtype=np.float64), C[cell], books, rot_b
                ),
                codes,
            )
            # tie-aware top-keep: lowest neighbor_id among boundary
            # ties, matching rank_merge's final (score, id) order
            top = np.lexsort((ids, acc))[:keep]
            out_qid.extend([qid] * keep)
            out_nid.extend(ids[top])
            out_score.extend(acc[top])
        return pd.DataFrame(
            {"qid": out_qid, "neighbor_id": out_nid, "score": out_score}
        )

    candidates = (
        encoded.select(id_col, "pq_code", "ivf_cell")
        .groupby("ivf_cell")
        .cogroup(qcells.groupby("ivf_cell"))
        .applyInPandas(cell_scores, schema=out_schema)
    )
    # each corpus row lives in exactly one cell (ivf_build assigns
    # 1:1), so a (query, row) pair meets in at most one probed cell —
    # no dedup shuffle needed
    return rank_merge(candidates, k, metric="l2", score_decimals=score_decimals)


def ivf_pq_recall_audit(
    spark,
    path: str,
    *,
    corpus: DataFrame | None = None,
    id_col: str = "id",
    embedding_col: str = "embedding",
    k: int = 10,
    n_queries: int = 64,
    nprobe: int = 3,
    recall_threshold: float = 0.9,
    score_decimals: int | None = None,
    slack: int = 32,
) -> DataFrame:
    """Sampled ground-truth recall of a persisted IVF-PQ index — the
    audit the saturation measure CANNOT be: ``ivf_pq_balance_audit``'s
    reconstruction-saturation signal is hull-bounded (codes cannot
    express how far OUT drifted data went, only that it pinned the
    codebook hull — a measured 10x drift lifts it ~1.13x, test-pinned
    there), so a badly drifted compressed index can audit near-clean
    on geometry. Recall cannot be fooled that way: this serves
    ``n_queries`` sampled vectors through the index at production
    ``nprobe`` (``ivf_pq_knn_join`` — executor-side residual LUTs,
    ADC scoring) and compares the top-k id sets against exact
    brute-force l2 over the ORIGINAL vectors (``knn.knn_join``; l2 is
    what ADC approximates). Ground truth needs the uncompressed
    corpus — pass it, or (default) it is re-read from the sidecar's
    source-collection stamp, etag-checked, so an audit can never
    score against vectors the index was not built from.

    Sampling is the same deterministic md5-rank draw as
    ``ann.ivf_recall_audit`` (corpus-order-free, SQL-replayable);
    output shape and flag semantics are identical:
    ``(qid, n_hits, k_eff, recall_at_k, mean_recall,
    refresh_recommended)``. Unlike the uncompressed audit, perfect
    recall is NOT the fresh-index baseline (quantization alone loses
    some) — calibrate ``recall_threshold`` against a fresh build's
    reading and alert on the DROP. Cost: one exact pass of the
    corpus against ``n_queries`` vectors plus the pruned ADC probe —
    audit cadence, not per batch."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _recall_report,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_join,
    )
    meta = read_sidecar(_local_sidecar_path(path), "ivf_pq_index.json")
    if corpus is None:
        src = meta.get("source")
        if src is None:
            raise ValueError(
                f"IVF-PQ index at {path!r} carries no source-collection "
                "stamp and no corpus was passed: ground-truth recall "
                "needs the original vectors (codes alone cannot provide "
                "them) — pass corpus=<DataFrame of (id, embedding)>"
            )
        from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
            read_collection,
        )

        corpus = read_collection(spark, src["root"], src["name"])
        id_col, embedding_col = "id", "embedding"
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _sample_queries,
    )

    encoded, C, books = ivf_pq_read(spark, path)
    queries = _sample_queries(corpus, id_col, embedding_col, n_queries)
    approx = ivf_pq_knn_join(
        queries,
        encoded,
        C,
        books,
        k=k,
        id_col=_cells_cols(encoded)[0],
        nprobe=nprobe,
        score_decimals=score_decimals,
        slack=slack,
        rotation=meta.get("rotation"),
    )
    exact = knn_join(
        queries,
        corpus,
        k=k,
        corpus_id_col=id_col,
        corpus_embedding_col=embedding_col,
        metric="l2",
        score_decimals=score_decimals,
    )
    return _recall_report(
        exact, approx, recall_threshold=recall_threshold
    )


def ivf_pq_write(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
    *,
    source: tuple[str, str] | None = None,
    rotation=None,
) -> None:
    """Persist an IVF-PQ index: codes partitioned by ``ivf_cell`` (so
    searches get static partition pruning on the 8-byte rows) plus a
    JSON sidecar with centroids + codebooks, through the shared build
    commit (``store`` module doc). The index is just a dataset — it
    scans, joins, and replicates like any other table, and the
    sidecar is a few MB at FAISS-typical sizes. ``source=(root,
    name)`` stamps the sidecar with the source collection's etag so
    ``ivf_pq_read`` refuses a stale index after collection mutations.
    ``rotation``: the OPQ rotation from ``ivf_pq_build(opq=True)`` —
    persisted in the sidecar so every serve/append/upsert path
    rotates residuals identically without the caller re-threading
    it. The build-time per-cell stats (occupancy + mean
    reconstructed-residual norm) are the baseline
    ``ivf_pq_balance_audit`` measures saturation drift against."""
    C = np.asarray(centroids)
    books = np.asarray(codebooks)
    fields = {
        "n_centroids": int(C.shape[0]),
        "dim": int(C.shape[1]),
        "m": int(books.shape[0]),
        "n_codes": int(books.shape[1]),
        "centroids": C.tolist(),
        "codebooks": books.tolist(),
        "source": _source_stamp(source),
    }
    if rotation is not None:
        fields["rotation"] = np.asarray(rotation).tolist()
    _commit_cells_build(
        _local_sidecar_path(path),
        "ivf_pq_index.json",
        # one task per cell -> one data file per cell dir
        encoded.repartition(int(C.shape[0]), F.col("ivf_cell")),
        fields,
        stats=lambda cells: _pq_cell_stats(cells, books),
    )


@_serialized_writer("ivf_pq_index.json")
def ivf_pq_append(
    spark,
    path: str,
    new_rows: DataFrame,
    *,
    id_col: str | None = None,
    embedding_col: str = "embedding",
    on_existing: str = "skip",
    expected_prev_etag: str | None = None,
) -> int:
    """Incremental IVF-PQ ingest: assign ``new_rows`` to their nearest
    EXISTING coarse centroid and residual-encode them with the
    EXISTING codebooks (no retraining — FAISS ``index.add``
    semantics), appending only the new 8-byte code rows. Same
    contract as ``ann.ivf_append``, through the shared append guard
    (``store`` module doc): id-guarded (replays idempotent,
    ``on_existing='error'`` to raise), tombstoned ids refused until
    ``ivf_pq_compact``, optional ``expected_prev_etag`` fence, sidecar
    re-stamped so a stale index transitions fresh without the full
    rebuild. Quantization quality degrades only as far as the data
    drifts from the trained centroids/codebooks — refresh on drift
    audits.

    ``new_rows`` must carry the embedding (codes store only its
    quantization); ``id_col`` defaults to the persisted code table's
    id column. Returns the number of new vectors indexed."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
    )

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_pq_index.json")
    _check_expected_etag(
        meta, path, "ivf_pq_index.json", expected_prev_etag, "append"
    )
    existing = read_parquet(spark, os.path.join(p, meta["location"]))
    exist_id = _cells_cols(existing)[0]
    id_type = dict(existing.dtypes)[exist_id]
    batch, fresh, n_new, state = _guard_append(
        p,
        meta,
        new_rows.select(
            F.col(id_col or exist_id).cast(id_type).alias(exist_id),
            F.col(embedding_col),
        ),
        existing,
        "ivf_pq_append",
        tombstones=_tombstones_df(spark, p, meta),
        purge="run ivf_pq_compact",
        on_existing=on_existing,
    )
    if n_new:
        _extend_guard(p, "ivf_pq_index.json", meta, existing, batch, state)
        C = np.asarray(meta["centroids"])
        # IVF-PQ cells are always l2-trained (ivf_pq_build hardcodes
        # metric='l2'); assignment must use the same math.
        assigned = _assign_to_centroids(
            fresh, C, id_col=exist_id, embedding_col=embedding_col, metric="l2"
        )
        _encode_assigned(
            assigned,
            C,
            np.asarray(meta["codebooks"]),
            id_col=exist_id,
            embedding_col=embedding_col,
            rotation=meta.get("rotation"),
        ).write.mode("append").partitionBy("ivf_cell").parquet(
            os.path.join(p, meta["location"])
        )
    if _restamp(meta):
        _atomic_sidecar_write(p, "ivf_pq_index.json", meta)
    _gc(p, "ivf_pq_index.json", meta)
    return n_new


def ivf_pq_read(
    spark,
    path: str,
    *,
    verify_source: bool = True,
    include_tombstoned: bool = False,
    with_rotation: bool = False,
):
    """Load a persisted IVF-PQ index -> (encoded_df, centroids,
    codebooks). Same staleness contract as ``ann.ivf_read``: a
    source-collection stamp whose etag no longer matches raises
    ``StaleIndexError`` instead of silently serving deleted/replaced
    rows — and the same tombstone contract: rows ``ivf_pq_delete``
    masked are anti-joined out unless ``include_tombstoned=True``.
    ``with_rotation=True`` appends the sidecar's OPQ rotation (or
    ``None``) as a fourth element — pass it to the search functions'
    ``rotation=`` so OPQ-encoded codes score correctly."""
    encoded, meta = _read_cells(
        spark, path, "ivf_pq_index.json", verify_source=verify_source,
        include_tombstoned=include_tombstoned,
    )
    if with_rotation:
        rot = meta.get("rotation")
        return (
            encoded,
            np.asarray(meta["centroids"]),
            np.asarray(meta["codebooks"]),
            None if rot is None else np.asarray(rot),
        )
    return (
        encoded,
        np.asarray(meta["centroids"]),
        np.asarray(meta["codebooks"]),
    )


@_serialized_writer("ivf_pq_index.json")
def ivf_pq_upsert(
    spark,
    path: str,
    rows: DataFrame,
    *,
    id_col: str | None = None,
    embedding_col: str = "embedding",
    expected_prev_etag: str | None = None,
) -> tuple[int, int]:
    """IVF-PQ twin of ``ann.ivf_upsert`` (the shared cell replace,
    ``store`` module doc, with its tombstone resurrection): assign
    the new vectors to their nearest EXISTING coarse centroid,
    residual-encode with the EXISTING codebooks (no retraining), and
    replace only the touched cell partitions of the 8-byte code
    table. Returns ``(n_updated, n_added)``."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
    )

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_pq_index.json")
    _check_expected_etag(
        meta, path, "ivf_pq_index.json", expected_prev_etag, "upsert"
    )
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    exist_id = _cells_cols(cells)[0]
    ic = id_col or exist_id
    id_type = dict(cells.dtypes)[exist_id]
    batch = rows.select(
        F.col(ic).cast(id_type).alias(exist_id), F.col(embedding_col)
    )
    C = np.asarray(meta["centroids"])
    books = np.asarray(meta["codebooks"])
    return _upsert_rows(
        spark, p, "ivf_pq_index.json", meta, cells, batch,
        lambda b: _encode_assigned(
            _assign_to_centroids(
                b, C, id_col=exist_id, embedding_col=embedding_col, metric="l2"
            ),
            C, books, id_col=exist_id, embedding_col=embedding_col,
            rotation=meta.get("rotation"),
        ),
    )


def ivf_pq_delete(
    spark, path: str, ids, *, expected_prev_etag: str | None = None
) -> int:
    """IVF-PQ twin of ``ann.ivf_delete`` (``store`` module doc;
    recordings ``ivf_pq_tombstones_v*``): tombstone ids in the
    compressed index, mask at read, purge at ``ivf_pq_compact``.
    Returns the number of newly tombstoned ids."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_delete,
    )

    return ivf_delete(
        spark,
        path,
        ids,
        sidecar="ivf_pq_index.json",
        expected_prev_etag=expected_prev_etag,
    )


def ivf_pq_compact(spark, path: str) -> tuple[int, int]:
    """IVF-PQ twin of ``ann.ivf_compact`` (the shared build commit,
    ``store`` module doc): rewrite the append-grown code table to one
    data file per cell, purge tombstoned rows, re-size the id-guard
    filter, return ``(files_before, files_after)``."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_compact,
    )

    return ivf_compact(spark, path, sidecar="ivf_pq_index.json")


def _code_res_norm(codebooks: np.ndarray):
    """Norm of a row's RECONSTRUCTED residual, as a pure codegen
    expression over its ``pq_code`` array: the decoded residual is the
    concatenation of the chosen codebook entries, so its squared norm
    is a sum of per-(subspace, code) squared-norm LUT lookups — m
    ``element_at`` calls against literal arrays, no decode, no UDF.
    Codes are valid by construction (the encoder emits [0, n_codes));
    a corrupted index raises loudly under ANSI element_at."""
    c_sq = (codebooks * codebooks).sum(axis=2)  # (m, n_codes)
    terms = []
    for j in range(c_sq.shape[0]):
        lut = F.array(*[F.lit(float(v)) for v in c_sq[j]])
        idx = F.element_at(F.col("pq_code"), j + 1).cast("int") + F.lit(1)
        terms.append(F.element_at(lut, idx))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.sqrt(total)


def _pq_cell_stats(cells: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """Per-cell (n_rows, mean reconstructed-residual norm) in one
    map-side-combinable aggregate — a single scan of the 8-byte code
    table, however large the corpus."""
    return (
        cells.select("ivf_cell", _code_res_norm(codebooks).alias("_rn"))
        .groupBy("ivf_cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.avg("_rn").alias("mean_res_norm"),
        )
    )


def ivf_pq_balance_audit(
    spark,
    path: str,
    *,
    skew_threshold: float = 4.0,
    drift_threshold: float = 1.1,
    dist_decimals: int = 4,
) -> DataFrame:
    """The compressed index's drift/balance audit — the IVF-PQ twin of
    ``ann.ivf_balance_audit``, with a PQ-appropriate drift signal: the
    original vectors are gone (that is the point of the codes), so
    drift is measured through RECONSTRUCTION SATURATION — the mean
    norm of each cell's decoded residuals. Appended data that drifted
    away from the trained coarse centroids carries large residuals,
    and residual-encoding them saturates toward the codebook hull's
    extreme entries, lifting the cell's mean reconstructed-residual
    norm above its recorded build-time baseline. IMPORTANT BOUND: the
    signal cannot exceed (max codebook-entry norm / trained mean) —
    typically ~1.2-1.3x — because codes cannot express how far OUT
    the data went, only that it pinned the hull; hence the low
    default ``drift_threshold`` (1.1x), and a measured 10x-scaled
    drift shows up as a uniform ~1.13x lift (test-pinned). For an
    unbounded drift measure audit the uncompressed IVF twin
    (``ann.ivf_balance_audit``), which still has the vectors.
    Returns one row per cell: ``(ivf_cell, n_rows, occupancy_ratio,
    mean_res_norm, trained_n_rows, trained_mean_res_norm,
    refresh_recommended)`` — the flag flips on occupancy skew past
    ``skew_threshold`` (bounded by n_centroids — pick below it) or
    saturation past ``drift_threshold`` x trained. One scan of the
    code table (m element_at LUT lookups per row, codegen); the
    report is assembled driver-side from <= n_centroids aggregate
    rows."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        np_round_half_up,
    )

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, "ivf_pq_index.json")
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    # logical rows only — same rationale as ann.ivf_balance_audit
    cells = _mask_tombstones(spark, p, meta, cells, _cells_cols(cells)[0])
    books = np.asarray(meta["codebooks"])
    stat_rows = _pq_cell_stats(cells, books).collect()
    n_cells = int(meta["n_centroids"])
    total = sum(r["n_rows"] for r in stat_rows)
    by_cell = {
        int(r["ivf_cell"]): (int(r["n_rows"]), float(r["mean_res_norm"]))
        for r in stat_rows
    }
    trained = meta["train_stats"]
    # the constant-occupancy re-cell hint, same contract as
    # ann.ivf_balance_audit: uniform decade growth past the build's
    # mean occupancy (per-cell skew can't see it) -> rebuild with
    # n_centroids="auto"
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        TARGET_CELL_ROWS,
    )

    mean_occ = total / max(n_cells, 1)
    if sum(trained["cell_rows"]):
        recell = mean_occ >= 10.0 * max(
            sum(trained["cell_rows"]) / n_cells, 1.0
        )
    else:
        recell = mean_occ >= 10.0 * TARGET_CELL_ROWS
    out = []
    for i in range(n_cells):
        n, rn = by_cell.get(i, (0, None))
        occ = float(np_round_half_up(n * n_cells / max(total, 1), 4))
        tn = int(trained["cell_rows"][i])
        tr = float(trained["cell_mean_res_norm"][i])
        drifted = bool(rn is not None and tr > 0 and rn > drift_threshold * tr)
        out.append(
            (
                i,
                n,
                occ,
                float(np_round_half_up(rn, dist_decimals))
                if rn is not None
                else None,
                tn,
                float(np_round_half_up(tr, dist_decimals)),
                occ > skew_threshold or drifted,
                bool(recell),
            )
        )
    return spark.createDataFrame(
        out,
        "ivf_cell int, n_rows bigint, occupancy_ratio double, "
        "mean_res_norm double, trained_n_rows bigint, "
        "trained_mean_res_norm double, refresh_recommended boolean, "
        "recell_recommended boolean",
    )
