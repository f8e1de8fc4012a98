"""ANN operators: LSH bucketing + IVF. Approximation is only in
candidate selection, so the contract tested is (a) determinism,
(b) recall vs exact brute force on the fixture, (c) candidate-set
pruning actually happening."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    add_lsh_buckets,
    ivf_build,
    ivf_search,
    lsh_knn_query,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import knn_query
from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _query_vec(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return list(emb.filter(F.col("vec_id") == 7).first()["embedding"])


def test_lsh_buckets_deterministic_and_bounded(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    b1 = add_lsh_buckets(emb, dim=64, n_bits=6, embedding_col="embedding")
    b2 = add_lsh_buckets(emb, dim=64, n_bits=6, embedding_col="embedding")
    v1 = {r["vec_id"]: r["lsh_bucket"] for r in b1.collect()}
    v2 = {r["vec_id"]: r["lsh_bucket"] for r in b2.collect()}
    assert v1 == v2
    assert all(0 <= v < 64 for v in v1.values())


def test_lsh_query_recall(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = _query_vec(spark)
    exact = [
        r["vec_id"]
        for r in knn_query(
            emb, q, k=10, id_col="vec_id", metric="cosine"
        ).collect()
    ]
    bucketed = add_lsh_buckets(emb, dim=64, n_bits=6)
    approx = [
        r["vec_id"]
        for r in lsh_knn_query(
            bucketed, q, k=10, id_col="vec_id", n_bits=6, hamming_probe=2
        ).collect()
    ]
    # multi-probe Hamming<=2 over 6 bits probes 22/64 buckets; on the
    # fixture this recovers most of the exact top-10.
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (exact, approx)
    # pruning really happened: candidate set is a strict subset
    probed = bucketed.filter(F.col("lsh_bucket").isin(list(range(64)))).count()
    assert probed == emb.count()


def test_ivf_recall_and_pruning(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = _query_vec(spark)
    assigned, centroids = ivf_build(
        emb, id_col="vec_id", n_centroids=8, seed=42
    )
    assert centroids.shape == (8, 64)
    exact = [
        r["vec_id"]
        for r in knn_query(emb, q, k=10, id_col="vec_id", metric="cosine").collect()
    ]
    approx_df = ivf_search(
        assigned, centroids, q, k=10, id_col="vec_id", nprobe=4, metric="cosine"
    )
    approx = [r["vec_id"] for r in approx_df.collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (exact, approx)
    # cells partition the corpus
    assert assigned.count() == emb.count()
    assert assigned.select("ivf_cell").distinct().count() <= 8


def test_mllib_lsh_similarity_join(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        mllib_lsh_similarity_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # threshold chosen above typical pair distance so some pairs emerge
    out = mllib_lsh_similarity_join(
        emb, emb, id_col="vec_id", distance_threshold=1.2, bucket_length=1.0
    )
    rows = out.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["l2_dist"] <= 1.2 for r in rows)


def test_mllib_minhash_dedup_matches_planted_dups(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        mllib_minhash_dedup_join,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (3, "completely different words about catalyst plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = mllib_minhash_dedup_join(
        df, id_col="doc_id", text_col="text", jaccard_distance_threshold=0.3
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_dist"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0.0
    assert all(3 not in p for p in pairs)


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, centroids = ivf_build(emb, id_col="vec_id", n_centroids=8, seed=42)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, centroids, path)

    loaded, c2, metric = ivf_read(spark, path)
    assert metric == "cosine" and c2.shape == centroids.shape
    assert loaded.count() == emb.count()

    q = _query_vec(spark)
    out = ivf_search(loaded, c2, q, k=5, id_col="vec_id", nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the nprobe cell filter must prune partitions of the persisted index
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    assert out.count() == 5


def test_ivf_neardup_pairs_planted_clusters(spark):
    """Planted tight clusters (cosine ~1 within, orthogonal across)
    with FORCED pruning (n_centroids >> n_assign): every planted pair
    is recovered, values match the exact expression form, and no
    cross-cluster pair appears."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_neardup_pairs,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    rng = np.random.RandomState(7)
    rows = []
    dim = 16
    centers = rng.standard_normal((10, dim)) * 5.0
    vid = 0
    for c in centers:
        for _ in range(6):  # 6 near-identical members per cluster
            rows.append((vid, [float(x) for x in (c + rng.standard_normal(dim) * 0.01)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    ivf = ivf_neardup_pairs(
        df,
        id_col="vec_id",
        embedding_col="embedding",
        threshold=0.99,
        n_centroids=10,
        n_assign=2,
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in ivf.collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            df, id_col="vec_id", embedding_col="embedding", threshold=0.99
        ).collect()
    }
    assert exact, "fixture must plant pairs"
    assert got == exact  # full recall under genuine pruning + exact values


def test_gemm_neardup_auto_dispatches_to_ivf(spark):
    """Above max_broadcast_rows the GEMM wrapper must route to the
    IVF scale path (no driver collect) and agree with the exact form."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_gemm,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    routed = embedding_neardup_pairs_gemm(
        emb,
        id_col="vec_id",
        embedding_col="embedding",
        threshold=0.4,
        max_broadcast_rows=10,  # force the IVF path
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in routed.collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            emb, id_col="vec_id", embedding_col="embedding", threshold=0.4
        ).collect()
    }
    assert got == exact


def test_gemm_neardup_byte_budget_dispatches_to_ivf(spark):
    """The broadcast guard is a BYTE budget, not a row count: at the
    fixture dim, a budget smaller than rows*dim*8 must route to the
    IVF scale path even though the row cap alone would admit the
    corpus — and the routed result still agrees with the exact form."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_gemm,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    routed = embedding_neardup_pairs_gemm(
        emb,
        id_col="vec_id",
        embedding_col="embedding",
        threshold=0.4,
        max_broadcast_rows=n + 1,  # row cap alone would NOT dispatch
        max_broadcast_bytes=(n // 2) * dim * 8,  # byte budget must
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in routed.collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            emb, id_col="vec_id", embedding_col="embedding", threshold=0.4
        ).collect()
    }
    assert got == exact


def test_ivf_knn_join_exact_at_full_probe(spark):
    """nprobe == n_centroids probes every cell, so the IVF join must
    reproduce the exact knn_join output bit-for-bit (rounded)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_knn_join,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding")
    )
    assigned, centroids = ivf_build(
        emb, id_col="vec_id", n_centroids=6, seed=42, metric="cosine"
    )
    got = ivf_knn_join(
        q, assigned, centroids, k=3,
        id_col="vec_id", metric="cosine", nprobe=6, score_decimals=4,
    )
    want = knn_join(
        q, emb, k=3, metric="cosine", corpus_id_col="vec_id", score_decimals=4
    )
    gs = sorted(map(tuple, got.collect()))
    ws = sorted(map(tuple, want.collect()))
    assert gs == ws


def test_ivf_knn_join_pruned_recall(spark):
    """nprobe < n_centroids prunes; top-1 self-neighbor recall must
    stay high (each query vector is IN the corpus, and a vector's own
    cell is always its first probe)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_knn_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding")
    )
    assigned, centroids = ivf_build(
        emb, id_col="vec_id", n_centroids=8, seed=42, metric="cosine"
    )
    got = ivf_knn_join(
        q, assigned, centroids, k=1,
        id_col="vec_id", metric="cosine", nprobe=2, score_decimals=4,
    ).collect()
    hits = sum(1 for r in got if r["qid"] == r["neighbor_id"])
    assert hits == len(got) and len(got) > 0


def test_ivf_knn_join_multi_assigned_dedups_pairs(spark):
    """A corpus whose rows are EXPLICITLY assigned to several cells
    (ivf_neardup-style layout) duplicates (query, corpus) meetings
    across probed cells; with multi_assigned=True the join collapses
    them deterministically and must still reproduce the exact
    knn_join output at full probe. Without the flag the contract only
    covers single-assignment ivf_build layouts."""
    from pyspark.sql import functions as FX

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_knn_join,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding")
    )
    assigned, centroids = ivf_build(
        emb, id_col="vec_id", n_centroids=4, seed=42, metric="cosine"
    )
    # multi-assign: every corpus row also lives in the next cell
    doubled = assigned.unionByName(
        assigned.withColumn(
            "ivf_cell", ((FX.col("ivf_cell") + 1) % 4).cast("int")
        )
    )
    got = ivf_knn_join(
        q, doubled, centroids, k=3,
        id_col="vec_id", metric="cosine", nprobe=4, score_decimals=4,
        multi_assigned=True,
    )
    want = knn_join(
        q, emb, k=3, metric="cosine", corpus_id_col="vec_id", score_decimals=4
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_knn_join_l2_metric(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_knn_join,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_embedding")
    )
    assigned, centroids = ivf_build(
        emb, id_col="vec_id", n_centroids=4, seed=42, metric="l2"
    )
    got = ivf_knn_join(
        q, assigned, centroids, k=2,
        id_col="vec_id", metric="l2", nprobe=4, score_decimals=4,
    )
    want = knn_join(
        q, emb, k=2, metric="l2", corpus_id_col="vec_id", score_decimals=4
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ---------------------------------------------------------------------------
# Persisted-index staleness contract: a sidecar stamped with the source
# collection's etag refuses to load after the collection mutates.
# ---------------------------------------------------------------------------


def _make_collection(spark, tmp_path, name):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    e = load_table(spark, SF_SMOKE, "embeddings")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name=name,
            root=str(tmp_path),
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    return str(tmp_path)


def test_collection_etag_changes_on_update_and_append(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    root = _make_collection(spark, tmp_path, "etag_c")
    e0 = collection_etag(root, "etag_c")
    assert e0 == collection_etag(root, "etag_c")  # deterministic

    # update swaps the _current data dir -> etag changes
    coll = read_collection(spark, root, "etag_c")
    upd = (
        coll.filter(F.col("id") == "7")
        .select(F.lit("3").alias("id"), "embedding")
    )
    assert collection_update(spark, root, "etag_c", upd) == 1
    e1 = collection_etag(root, "etag_c")
    assert e1 != e0

    # plain append adds files inside the same dir -> etag changes again
    # (re-read: the update swap retired the data dir `coll` referenced)
    coll = read_collection(spark, root, "etag_c")
    extra = coll.filter(F.col("id") == "7").select(
        F.lit("99991").alias("doc_id"),
        F.col("document").alias("text"),
        "embedding",
    )
    hydrate(
        spark,
        extra,
        HydrationConfig(
            collection_name="etag_c",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    assert collection_etag(root, "etag_c") != e1


def test_ivf_read_raises_stale_after_update(spark, tmp_path):
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_read,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _make_collection(spark, tmp_path, "stale_a")
    coll = read_collection(spark, root, "stale_a")
    n = coll.count()
    assigned, C = ivf_build(coll, n_centroids=4, seed=42)
    path = f"{root}/stale_a/_ivf"
    ivf_write(assigned, C, path, source=(root, "stale_a"))

    # fresh: loads fine
    loaded, C2, metric = ivf_read(spark, path)
    assert loaded.count() == n

    upd = coll.filter(F.col("id") == "7").select(F.lit("3").alias("id"), "embedding")
    collection_update(spark, root, "stale_a", upd)

    with pytest.raises(StaleIndexError, match="STALE"):
        ivf_read(spark, path)
    # explicit opt-out still serves
    loaded2, _, _ = ivf_read(spark, path, verify_source=False)
    assert loaded2.count() == n

    # one-call remedy: rebuild from the CURRENT collection, re-stamp
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_refresh,
    )

    loaded3, C3, metric3 = ivf_refresh(spark, path)
    assert loaded3.count() == n and metric3 == metric
    # the refreshed index serves the UPDATED vector for id '3'
    v3 = loaded3.filter(F.col("id") == "3").first()["embedding"]
    v7 = loaded3.filter(F.col("id") == "7").first()["embedding"]
    assert list(v3) == list(v7)
    # and a plain ivf_read now passes the staleness gate again
    ivf_read(spark, path)


def test_ivf_read_unstamped_index_never_checks(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_read,
        ivf_write,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, C = ivf_build(
        emb.select(F.col("vec_id").alias("id"), "embedding"), n_centroids=4, seed=1
    )
    path = str(tmp_path / "plain_ivf")
    ivf_write(assigned, C, path)  # no source stamp
    loaded, _, _ = ivf_read(spark, path)
    assert loaded.count() == emb.count()


def test_ivf_pq_read_raises_stale_after_delete(spark, tmp_path):
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _make_collection(spark, tmp_path, "stale_pq")
    coll = read_collection(spark, root, "stale_pq")
    n = coll.count()
    enc, C, cb = ivf_pq_build(
        coll, id_col="id", n_centroids=4, m=8, n_codes=16, seed=42
    )
    path = f"{root}/stale_pq/_ivfpq"
    ivf_pq_write(enc, C, cb, path, source=(root, "stale_pq"))

    enc2, _, _ = ivf_pq_read(spark, path)
    assert enc2.count() == n

    collection_delete(spark, root, "stale_pq", ids=["7"])

    with pytest.raises(StaleIndexError, match="STALE"):
        ivf_pq_read(spark, path)
    enc3, _, _ = ivf_pq_read(spark, path, verify_source=False)
    assert enc3.count() == n


def test_ivf_rebuild_is_atomic_for_readers(spark, tmp_path):
    """Rebuilding an IVF index at the same path writes a fresh
    versioned cells directory and swaps the sidecar pointer last —
    the r10 lifecycle (same as band_index_write): the superseded
    directory is removed only after the commit, and reads resolve
    through the sidecar's location."""
    import json
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, centroids = ivf_build(emb, id_col="vec_id", n_centroids=8, seed=42)
    path = str(tmp_path / "ivf_atomic")
    ivf_write(assigned, centroids, path)
    with open(f"{path}/ivf_index.json") as f:
        loc1 = json.load(f)["location"]
    assert loc1 == "cells_v1" and os.path.isdir(f"{path}/{loc1}")

    # rebuild with different params at the SAME path
    assigned2, centroids2 = ivf_build(emb, id_col="vec_id", n_centroids=4, seed=7)
    ivf_write(assigned2, centroids2, path)
    with open(f"{path}/ivf_index.json") as f:
        meta2 = json.load(f)
    assert meta2["location"] != loc1
    assert not os.path.exists(f"{path}/{loc1}"), "superseded dir not cleaned"
    loaded, c2, _ = ivf_read(spark, path)
    assert c2.shape[0] == 4 and loaded.count() == emb.count()
    q = _query_vec(spark)
    assert ivf_search(loaded, c2, q, k=5, id_col="vec_id", nprobe=2).count() == 5


def test_ivf_pq_rebuild_is_atomic_for_readers(spark, tmp_path):
    """Same atomic-rebuild contract for the IVF-PQ sidecar."""
    import json
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_write,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    enc, cents, books = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=4, m=8, n_codes=16, seed=42
    )
    path = str(tmp_path / "ivfpq_atomic")
    ivf_pq_write(enc, cents, books, path)
    with open(f"{path}/ivf_pq_index.json") as f:
        loc1 = json.load(f)["location"]
    assert loc1 == "cells_v1"

    enc2, cents2, books2 = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=2, m=8, n_codes=16, seed=7
    )
    ivf_pq_write(enc2, cents2, books2, path)
    with open(f"{path}/ivf_pq_index.json") as f:
        meta2 = json.load(f)
    assert meta2["location"] != loc1
    assert not os.path.exists(f"{path}/{loc1}")
    loaded, c2, b2 = ivf_pq_read(spark, path)
    assert c2.shape[0] == 2 and loaded.count() == emb.count()


def test_ivf_append_incremental(spark, tmp_path):
    """Incremental IVF ingest: new vectors are assigned to their
    nearest EXISTING centroid (no retrain — FAISS add semantics) and
    appended; placement matches what the shared assignment math would
    give, appended vectors are servable, and replays are guard-
    idempotent. The fence rejects unstamped/foreign etags."""
    import json

    import pytest as _pt

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_append,
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = emb.filter(F.col("vec_id") < 60)
    rest = emb.filter(F.col("vec_id") >= 60).select(
        "vec_id", "embedding"
    )
    n_rest = rest.count()
    assigned, C = ivf_build(first, id_col="vec_id", n_centroids=8, seed=42)
    path = str(tmp_path / "ivf_app")
    # record the BUILD metric so the append assigns with the same math
    ivf_write(assigned, C, path, metric="cosine", build={"metric": "l2", "seed": 42})

    assert ivf_append(spark, path, rest) == n_rest
    loaded, c2, metric = ivf_read(spark, path)
    assert loaded.count() == emb.count()
    # placement parity: appended rows sit exactly where the recorded
    # build metric's assignment puts them
    got_cells = {
        r["vec_id"]: r["ivf_cell"]
        for r in loaded.filter(F.col("vec_id") >= 60).collect()
    }
    want_cells = {
        r["vec_id"]: r["ivf_cell"]
        for r in _assign_to_centroids(
            rest, C, id_col="vec_id", embedding_col="embedding", metric="l2"
        ).collect()
    }
    assert got_cells == want_cells
    # an appended vector is servable (all cells probed -> exact)
    probe = rest.first()
    out = ivf_search(
        loaded, c2, list(probe["embedding"]), k=1,
        id_col="vec_id", nprobe=8, metric="cosine",
    )
    assert out.first()["vec_id"] == probe["vec_id"]
    # replay: guard-idempotent
    assert ivf_append(spark, path, rest) == 0
    assert ivf_read(spark, path)[0].count() == emb.count()
    with _pt.raises(ValueError, match="already indexed"):
        ivf_append(spark, path, rest, on_existing="error")
    # fence: unstamped index can't satisfy an expected etag
    with _pt.raises(StaleIndexError, match="mutated by something other"):
        ivf_append(spark, path, rest, expected_prev_etag="deadbeef0000")


def test_ivf_append_restamps_collection_etag(spark, tmp_path):
    """The stale -> append -> fresh transition on a collection-stamped
    index: appending the same docs' vectors to the index AFTER the
    collection append re-stamps the sidecar, so the staleness gate
    passes again without an ivf_refresh rebuild."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_read,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )
    import pytest

    d = load_table(spark, SF_SMOKE, "documents")
    e = load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="ivf_app_c",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    first = d.filter(F.col("doc_id") < 60)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "ivf_app_c")
    assigned, C = ivf_build(coll, n_centroids=4, seed=42)
    path = f"{root}/ivf_app_c/_ivf"
    ivf_write(
        assigned, C, path, source=(root, "ivf_app_c"),
        build={"metric": "l2", "seed": 42},
    )
    etag0 = collection_etag(root, "ivf_app_c")

    nxt = d.filter(F.col("doc_id") >= 60)
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg)
    with pytest.raises(StaleIndexError, match="STALE"):
        ivf_read(spark, path)
    new_vecs = read_collection(spark, root, "ivf_app_c").filter(
        F.col("id").cast("bigint") >= 60
    ).select("id", "embedding")
    n = ivf_append(spark, path, new_vecs, expected_prev_etag=etag0)
    assert n == new_vecs.count()
    loaded, _, _ = ivf_read(spark, path)  # fresh again, no rebuild
    assert loaded.count() == read_collection(spark, root, "ivf_app_c").count()


def test_ivf_compact_bounds_files_and_preserves_serving(spark, tmp_path):
    """ivf_compact is the small-files remedy for append-grown vector
    indexes: after two appends the cells dataset holds ~3 files per
    touched cell; compact rewrites to ONE data file per cell behind
    the atomic sidecar swap, served results are bit-identical, the
    id-guard filter is re-sized, and id-guarded appends keep working
    afterwards (replays across a compaction still converge)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "cpt_ivf")
    ann.ivf_write(assigned, C, path, metric="cosine",
                  build={"metric": "l2", "seed": 42})
    for lo, hi in ((60, 69), (70, 79)):
        b = e.filter(F.col("vec_id").between(lo, hi)).select(
            "vec_id", "embedding"
        )
        assert ann.ivf_append(spark, path, b) == 10

    qvec = list(e.filter(F.col("vec_id") == 3).first()["embedding"])
    loaded, C2, metric = ann.ivf_read(spark, path)
    pre = ann.ivf_search(
        loaded, C2, qvec, k=5, id_col="vec_id", nprobe=4,
        metric="cosine", score_decimals=4,
    ).collect()

    import json
    import os

    bloom_before = json.load(open(os.path.join(path, "ivf_index.json")))[
        "id_bloom"
    ]["location"]
    before, after = ann.ivf_compact(spark, path)
    assert after < before and after <= 4  # one data file per cell
    meta = json.load(open(os.path.join(path, "ivf_index.json")))
    assert meta["id_bloom"]["location"] != bloom_before
    assert not os.path.exists(os.path.join(path, bloom_before))

    loaded2, C3, _ = ann.ivf_read(spark, path)
    assert loaded2.count() == 80
    post = ann.ivf_search(
        loaded2, C3, qvec, k=5, id_col="vec_id", nprobe=4,
        metric="cosine", score_decimals=4,
    ).collect()
    assert sorted(map(tuple, post)) == sorted(map(tuple, pre))
    # replays across the compaction still converge exactly-once
    b = e.filter(F.col("vec_id").between(70, 79)).select("vec_id", "embedding")
    assert ann.ivf_append(spark, path, b) == 0
    assert ann.ivf_read(spark, path)[0].count() == 80


def test_ivf_pq_compact_bounds_files(spark, tmp_path):
    """The IVF-PQ twin: append-grown code tables compact to one file
    per cell with codes byte-identical."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        pq,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    encoded, C, books = pq.ivf_pq_build(
        corpus, n_centroids=4, m=8, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "cpt_pq")
    pq.ivf_pq_write(encoded, C, books, path)
    for lo, hi in ((60, 69), (70, 79)):
        b = e.filter(F.col("vec_id").between(lo, hi)).select(
            "vec_id", "embedding"
        )
        assert pq.ivf_pq_append(spark, path, b, id_col="vec_id") == 10
    pre = sorted(
        (r["vec_id"], tuple(r["pq_code"]))
        for r in pq.ivf_pq_read(spark, path)[0].collect()
    )
    before, after = pq.ivf_pq_compact(spark, path)
    assert after < before and after <= 4
    post = sorted(
        (r["vec_id"], tuple(r["pq_code"]))
        for r in pq.ivf_pq_read(spark, path)[0].collect()
    )
    assert post == pre


def test_ivf_balance_audit_flags(spark, tmp_path):
    """The audit closes ivf_append's open loop: fresh index -> all
    cells healthy; a DRIFTED append (vectors scaled away from the
    trained centroids) flips refresh_recommended via the distance
    test; a HOT-CELL append (many vectors near one centroid) flips it
    via occupancy skew."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 80).select("vec_id", "embedding")
    dim = len(e.select("embedding").first()[0])
    C = np.eye(4, dim)
    assigned = ann._assign_to_centroids(
        corpus, C, id_col="vec_id", embedding_col="embedding", metric="l2"
    )
    path = str(tmp_path / "audit_ivf")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})

    fresh = {r["ivf_cell"]: r for r in ann.ivf_balance_audit(spark, path).collect()}
    assert len(fresh) == 4
    assert not any(r["refresh_recommended"] for r in fresh.values())
    for r in fresh.values():  # build-time: current == trained
        assert r["n_rows"] == r["trained_n_rows"]
        assert r["mean_dist"] == r["trained_mean_dist"]

    # drifted append: same cells, ~10x the assignment distance. The
    # flag is proportional (a cell dominated by drifted rows flips; a
    # barely-touched one legitimately may not), so assert on cells
    # whose drifted rows at least match their trained count.
    drifted = e.filter(F.col("vec_id").between(80, 199)).select(
        "vec_id", F.transform("embedding", lambda x: x * F.lit(10.0)).alias("embedding")
    )
    assert ann.ivf_append(spark, path, drifted) == 120
    after = {r["ivf_cell"]: r for r in ann.ivf_balance_audit(spark, path).collect()}
    touched = [c for c, r in after.items() if r["n_rows"] > fresh[c]["n_rows"]]
    dominated = [
        c for c in touched
        if after[c]["n_rows"] - fresh[c]["n_rows"] >= fresh[c]["n_rows"]
    ]
    assert dominated
    assert all(after[c]["refresh_recommended"] for c in dominated)
    assert all(
        after[c]["mean_dist"] > after[c]["trained_mean_dist"] for c in touched
    )

    # hot-cell append: 300 vectors all hugging centroid 0 -> skew flag
    # on a FRESH index (no drift in distances, pure occupancy)
    path2 = str(tmp_path / "audit_hot")
    ann.ivf_write(assigned, C, path2, metric="l2",
                  build={"metric": "l2", "seed": 42})
    hot = spark.range(1000, 1300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *([F.lit(1.0)] + [F.lit(0.0)] * (dim - 1))
        ).alias("embedding"),
    )
    ann.ivf_append(spark, path2, hot)
    # occupancy_ratio is bounded by n_cells (4 here), so pass an
    # explicit skew threshold this small index can actually cross
    hot_audit = {
        r["ivf_cell"]: r
        for r in ann.ivf_balance_audit(
            spark, path2, skew_threshold=2.5
        ).collect()
    }
    assert hot_audit[0]["occupancy_ratio"] > 2.5
    assert hot_audit[0]["refresh_recommended"]


def test_auto_n_centroids_constant_occupancy(spark):
    """n_centroids='auto' sizes the coarse layer for constant cell
    occupancy: rows/TARGET_CELL_ROWS clamped to [16, 65536] — the
    probed volume at fixed nprobe then stays flat across corpus
    decades (the r14 100M probe's named residual)."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    assert ann.auto_n_centroids(1) == 16
    assert ann.auto_n_centroids(1_000_000) == 25
    assert ann.auto_n_centroids(100_000_000) == 2500
    assert ann.auto_n_centroids(10_000_000_000) == 65_536  # cap
    assert ann.auto_n_centroids(1_000_000, target_cell_rows=10_000) == 100

    # end-to-end: 'auto' resolves from the corpus count (here the 16
    # floor) and the build behaves exactly like the explicit number
    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 64).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids="auto", id_col="vec_id",
        embedding_col="embedding", seed=3,
    )
    assert C.shape[0] == 16
    assert assigned.select("ivf_cell").distinct().count() <= 16
    # and the n_rows fast path skips the sizing count
    _a2, C2 = ann.ivf_build(
        corpus, n_centroids="auto", id_col="vec_id",
        embedding_col="embedding", seed=3, n_rows=64,
    )
    assert np.array_equal(C, C2)


def test_balance_audit_recell_hint(spark, tmp_path):
    """recell_recommended flips only when appends grow MEAN occupancy
    a decade past the build — uniform growth every per-cell skew test
    is blind to (every cell overfull by the same factor)."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    dim = len(e.select("embedding").first()[0])
    C = np.eye(4, dim)
    assigned = ann._assign_to_centroids(
        corpus, C, id_col="vec_id", embedding_col="embedding", metric="l2"
    )
    path = str(tmp_path / "recell")
    ann.ivf_write(
        assigned, C, path, metric="l2", build={"metric": "l2", "seed": 42}
    )
    fresh = ann.ivf_balance_audit(spark, path).collect()
    assert not any(r["recell_recommended"] for r in fresh)

    # uniform 11x growth: rows spread across all cells in the same
    # proportions, so occupancy_ratio (per-cell share) stays ~1 and
    # refresh_recommended stays quiet — only the decade hint fires
    grown = e.filter(F.col("vec_id").between(40, 500)).select(
        "vec_id", "embedding"
    )
    ann.ivf_append(spark, path, grown)
    after = ann.ivf_balance_audit(spark, path, drift_threshold=1e9).collect()
    assert all(r["recell_recommended"] for r in after)
