"""Indexed late-interaction (ColBERT/PLAID-style) MaxSim retrieval.

The brute-force ragged MaxSim (``queries/vector.py::
retrieval_maxsim_ragged_top10``) scores EVERY document's token matrix
against the query — one Catalyst HOF lattice per (doc, query) pair,
linear in the corpus. This module is the corpus-side index that makes
serving sublinear, the same shape PLAID (Santhanam et al. 2022,
public) builds over ColBERTv2: cluster the corpus's TOKEN vectors
with IVF k-means, persist token rows partitioned by cell, and answer
a query in two bounded stages:

1. **Candidate generation** — each query token probes its ``nprobe``
   nearest token centroids; only the probed cells' token rows scan
   (partition-pruned parquet). Per candidate document the scan
   aggregates, map-side-combinably, the max cosine per query token
   over the doc's VISIBLE tokens — a lower bound of the doc's true
   MaxSim (tokens outside probed cells can only raise it). The top
   ``k * candidate_factor`` docs by that bound go to stage 2.
2. **Exact rerank** — the candidates' FULL ragged token matrices come
   from the corpus (broadcast semi-join on the bounded candidate id
   set) and score with ``functions.vector.maxsim_score_presplit`` —
   the same expression the brute-force query uses, so with exhaustive
   probing (``nprobe = n_cells``) the result is bit-identical to
   brute force, and with pruned probing the only error source is a
   true-top-k doc whose every token fell outside the probed cells.

The index IS an IVF index over token space: build/persist/read reuse
``operators/ann.py``'s ``ivf_build`` / ``ivf_write`` / ``ivf_read``
verbatim (etag source stamp, tombstone masking, id-guard Bloom all
ride along). Token rows get a synthetic unique id
``doc \\x1f position`` so the shared machinery's one-id-per-row
contract holds; the unit separator cannot appear in sane doc ids and
the build validates that.

Scale shape (the 100 TB story): the token table is ``sum(doc token
counts)`` rows partitioned by cell — a query scans
``~nprobe/n_centroids`` of it, and growing the corpus at constant
cell occupancy (n_centroids scaled with the corpus) keeps the scanned
volume flat, the same flat-decade curve the IVF-PQ probes measure.
Stage-1 aggregation is one groupBy(doc) with per-column max partials;
stage 2 touches ``k * candidate_factor`` documents. No driver-side
corpus materialization anywhere; the only collects are the bounded
candidate id list (broadcast side) and the centroid matrix.

Reference parity note: the reference delegates retrieval to Chroma
(sas:126-128, hnswlib-backed single-vector ANN); late interaction is
a capability extension for the multi-vector models Chroma cannot
serve natively, grounded in the public PLAID/ColBERTv2 literature.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    EngineError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    read_parquet,
)

_SEP = "\x1f"  # unit separator: token_id = doc_id SEP token_position


def maxsim_index_build(
    corpus: DataFrame,
    *,
    id_col: str = "id",
    tokens_col: str = "tokens",
    n_centroids: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Cluster the corpus's token vectors: explode the ragged
    ``tokens_col`` (``array<array<float>>``) into one row per token,
    mint the unique ``token_id = doc \\x1f pos``, and run the shared
    spherical-k-means IVF build over TOKEN space. Returns
    ``(assigned_tokens, centroids)`` for ``maxsim_index_write``.
    Cosine cells always — MaxSim's inner product is cosine, so the
    cell geometry must match the serve metric."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
    )

    bad = corpus.filter(
        F.col(id_col).cast("string").contains(_SEP)
    ).limit(1)
    if bad.count() > 0:
        raise EngineError(
            "maxsim_index_build: a doc id contains the reserved "
            "token-id separator (U+001F)"
        )
    token_rows = corpus.select(
        F.col(id_col).cast("string").alias("_doc"),
        F.posexplode(F.col(tokens_col)).alias("_pos", "_tv"),
    ).select(
        F.concat_ws(
            _SEP, F.col("_doc"), F.col("_pos").cast("string")
        ).alias("token_id"),
        F.col("_tv").cast("array<float>").alias("embedding"),
    )
    return ivf_build(
        token_rows,
        id_col="token_id",
        embedding_col="embedding",
        n_centroids=n_centroids,
        seed=seed,
        sample_fraction=sample_fraction,
        metric="cosine",
    )


def maxsim_index_write(
    assigned: DataFrame,
    centroids: np.ndarray,
    path: str,
    *,
    source: tuple[str, str] | None = None,
    build: dict | None = None,
) -> None:
    """Persist the token-level index — ``ann.ivf_write`` verbatim
    (versioned cells dir partitioned by ``ivf_cell``, id-guard Bloom,
    atomic sidecar swap, source etag stamp). The sidecar records
    ``late_interaction`` in ``build`` so audits can tell a token
    index from a document index at the same glance."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_write,
    )

    ivf_write(
        assigned,
        centroids,
        path,
        metric="cosine",
        source=source,
        build={**(build or {}), "late_interaction": True},
    )


def maxsim_corpus_write(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    tokens_col: str = "tokens",
    n_buckets: int = 64,
) -> None:
    """Persist the rerank corpus — the ragged ``(id, tokens)`` token
    matrices stage 2 needs — BUCKETED by id hash
    (``pmod(xxhash64(id), n_buckets)`` as a partition column), so the
    candidate rerank is a bucket-pruned POINT READ instead of a scan
    of the whole corpus (the r14 bench's measured linear residual:
    stage 2's semi-join walked every cached token matrix). At serve
    time the bounded candidate id set resolves to its bucket values
    driver-side and only those partition directories are read —
    ``k * candidate_factor`` docs touch at most that many of the
    ``n_buckets`` directories no matter how large the corpus grows.
    Written as a versioned dir + atomic sidecar swap
    (``maxsim_corpus.json``), the module's standard crash discipline."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _atomic_sidecar_write,
        _fresh_versioned_dir,
        _local_sidecar_path,
        _read_unchecked,
    )
    import os
    import shutil

    p = _local_sidecar_path(path)
    os.makedirs(p, exist_ok=True)
    prev = None
    try:
        prev = _read_unchecked(p, "maxsim_corpus.json").get("location")
    except (OSError, ValueError):
        pass
    loc = _fresh_versioned_dir(p, "rerank_corpus", floor_names=[prev])
    nb = max(int(n_buckets), 1)
    (
        corpus.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(tokens_col).alias("tokens"),
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")), F.lit(nb)
            ).alias("_bucket"),
        )
        # one task per bucket -> one data file per bucket dir
        # (ann.ivf_compact idiom; without it the dynamic-partition
        # write fans every map task into every bucket: tasks x
        # n_buckets files, all re-opened by every point read)
        .repartition(nb, F.col("_bucket"))
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(os.path.join(p, loc))
    )
    _atomic_sidecar_write(
        p, "maxsim_corpus.json", {"location": loc, "n_buckets": nb}
    )
    if prev and prev != loc:
        shutil.rmtree(os.path.join(p, prev), ignore_errors=True)


def maxsim_corpus_read(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int]:
    """Load the bucketed rerank corpus -> (df with ``id``/``tokens``/
    ``_bucket``, n_buckets)."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _local_sidecar_path,
        read_sidecar,
    )

    p = _local_sidecar_path(path)
    if not os.path.exists(os.path.join(p, "maxsim_corpus.json")):
        raise EngineError(
            "maxsim_search: no rerank_corpus persisted at this index "
            "(write one with maxsim_corpus_write, or pass "
            "rerank_corpus= explicitly)"
        )
    meta = read_sidecar(p, "maxsim_corpus.json")
    df = read_parquet(spark, os.path.join(p, meta["location"]))
    return df, int(meta["n_buckets"])


def maxsim_search(
    spark: SparkSession,
    index_path: str,
    query_tokens,
    *,
    k: int = 10,
    nprobe: int = 4,
    candidate_factor: int = 4,
    rerank_corpus: DataFrame | None = None,
    id_col: str = "id",
    tokens_col: str = "tokens",
    score_decimals: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Serve ragged MaxSim top-``k`` from the persisted token index:
    PLAID's two stages (module doc). ``query_tokens`` is the query's
    token matrix as a list of equal-width vectors (bounded — a query
    has tens of tokens, and the literal matrix compiles into the
    scan expression). Stage 2's exact rerank reads the PERSISTED
    bucketed corpus (``maxsim_corpus_write``) by default: the bounded
    candidate id set resolves to its hash buckets driver-side, so the
    read prunes to at most ``candidates`` of the corpus's bucket
    directories — a point read, not a corpus scan (the r14 measured
    linear residual). Pass ``rerank_corpus`` explicitly to rerank
    from an in-session frame instead (correctness path; the scan is
    then whatever that frame's lineage costs). With
    ``nprobe >= n_cells`` the output is bit-identical to brute-force
    ``maxsim_score_presplit`` scoring. Returns ``(id, maxsim)``
    ordered by score desc, id asc. ``stats_out`` (optional dict)
    receives ``n_cells`` / ``probed_cells`` / ``candidates`` (and,
    on the persisted path, ``rerank_buckets_scanned`` /
    ``rerank_n_buckets``) for plan-shape assertions."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.vector import (
        _LITERAL_DIM_CAP,
        cosine_similarity,
        cosine_similarity_literal,
        maxsim_score_presplit,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_read,
    )

    Q = np.asarray(query_tokens, dtype=np.float64)
    if Q.ndim != 2 or Q.shape[0] == 0:
        raise EngineError(
            "maxsim_search: query_tokens must be a non-empty list of "
            "equal-width token vectors"
        )
    assigned, C, _metric = ivf_read(spark, index_path)
    if C.shape[1] != Q.shape[1]:
        raise EngineError(
            f"maxsim_search: query token width {Q.shape[1]} != index "
            f"token width {C.shape[1]}"
        )
    n_cells = int(C.shape[0])
    probe = min(max(int(nprobe), 1), n_cells)
    # probed cells: union over query tokens of each token's `probe`
    # nearest centroids (cosine) — tiny driver-side numpy
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    sims = Qn @ Cn.T  # (nq, n_cells)
    order = np.argsort(-sims, axis=1)[:, :probe]
    cells = sorted({int(c) for row in order for c in row})
    if stats_out is not None:
        stats_out["n_cells"] = n_cells
        stats_out["probed_cells"] = len(cells)
    nq = Q.shape[0]
    q_lit = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in Q[j]])
            for j in range(nq)
        ]
    )
    # ---- stage 1: candidate generation over probed cells only ----
    # (isin on the partition column -> static partition pruning).
    # Per-token cosine via the UNROLLED literal form when the token
    # width allows (bit-identical to the HOF by
    # tests/test_vector.py::test_literal_scores_bit_identical; the
    # HOF chain is CodegenFallback — interpreted per element, the r15
    # serve-path pathology) — index rows are uniform-width tokens, so
    # the literal family's uniform-dim caveat holds by construction.
    if Q.shape[1] <= _LITERAL_DIM_CAP:
        def _tok_sim(j):
            return cosine_similarity_literal(
                F.col("embedding"), [float(v) for v in Q[j]]
            )
    else:
        def _tok_sim(j):
            return cosine_similarity(
                F.col("embedding"), F.array(*[F.lit(float(v)) for v in Q[j]])
            )
    scanned = assigned.filter(F.col("ivf_cell").isin(cells)).select(
        F.substring_index(F.col("token_id"), _SEP, 1).alias("_doc"),
        *[_tok_sim(j).alias(f"_c{j}") for j in range(nq)],
    )
    approx = (
        scanned.groupBy("_doc")
        .agg(*[F.max(f"_c{j}").alias(f"_m{j}") for j in range(nq)])
        .select(
            "_doc",
            sum(
                [F.col(f"_m{j}") for j in range(1, nq)],
                F.col("_m0"),
            ).alias("_approx"),
        )
    )
    n_cand = max(int(k) * max(int(candidate_factor), 1), int(k))
    cands = (
        approx.orderBy(F.desc("_approx"), F.asc("_doc"))
        .limit(n_cand)
        .select("_doc")
    )
    # ---- stage 2: exact rerank of the bounded candidate set -------
    if rerank_corpus is not None:
        if stats_out is not None:
            stats_out["candidates"] = cands.count()
        full = rerank_corpus.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(tokens_col).alias("_toks"),
        ).join(
            F.broadcast(cands), F.col("id") == F.col("_doc"), "left_semi"
        )
    else:
        corpus_df, nb = maxsim_corpus_read(spark, index_path)
        # ONE bounded collect settles candidate ids AND their hash
        # buckets; both land as literal IN-lists, so the parquet read
        # prunes partitions (buckets) statically and pushes the id
        # filter — a point read of <= |candidates| bucket dirs.
        cand_rows = cands.select(
            "_doc",
            F.pmod(F.xxhash64("_doc"), F.lit(nb)).alias("_b"),
        ).collect()
        cand_ids = sorted(r["_doc"] for r in cand_rows)
        buckets = sorted({int(r["_b"]) for r in cand_rows})
        if stats_out is not None:
            stats_out["candidates"] = len(cand_ids)
            stats_out["rerank_buckets_scanned"] = len(buckets)
            stats_out["rerank_n_buckets"] = nb
        full = corpus_df.filter(
            F.col("_bucket").isin(buckets) if buckets else F.lit(False)
        ).filter(
            F.col("id").isin(cand_ids) if cand_ids else F.lit(False)
        ).select("id", F.col("tokens").alias("_toks"))
    score = maxsim_score_presplit(F.col("_toks"), q_lit)
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    return (
        full.select("id", score.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("id"))
        .limit(int(k))
    )


__all__ = [
    "maxsim_corpus_read",
    "maxsim_corpus_write",
    "maxsim_index_build",
    "maxsim_index_write",
    "maxsim_search",
]
