"""Product quantization: determinism, compression shape, ADC recall,
and exact-rerank agreement with brute force. Approximation lives only
in the ADC prescreen; the rerank path recomputes exact scores, so its
contract is tested against ``knn_query`` directly."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import knn_query
from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
    pq_encode,
    pq_knn_query,
    pq_train,
)
from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _query_vec(spark):
    emb = _emb(spark)
    return list(emb.filter(F.col("vec_id") == 7).first()["embedding"])


def test_pq_train_shape_and_determinism(spark):
    emb = _emb(spark)
    cb1 = pq_train(emb, embedding_col="embedding", m=8, n_codes=16, seed=7)
    cb2 = pq_train(emb, embedding_col="embedding", m=8, n_codes=16, seed=7)
    assert cb1.shape == (8, 16, 8)  # dim 64 / m 8
    np.testing.assert_array_equal(cb1, cb2)


def test_pq_encode_codes_bounded_and_deterministic(spark):
    emb = _emb(spark)
    cb = pq_train(emb, embedding_col="embedding", m=8, n_codes=16, seed=7)
    enc1 = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, cb, id_col="vec_id").collect()
    }
    enc2 = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq_encode(emb, cb, id_col="vec_id").collect()
    }
    assert enc1 == enc2
    assert len(enc1) == emb.count()
    for codes in enc1.values():
        assert len(codes) == 8
        assert all(0 <= c < 16 for c in codes)


def test_pq_adc_recall_vs_exact(spark):
    emb = _emb(spark)
    q = _query_vec(spark)
    cb = pq_train(
        emb, embedding_col="embedding", m=16, n_codes=32, seed=7, normalize=True
    )
    enc = pq_encode(emb, cb, id_col="vec_id", normalize=True)
    exact = [
        r["vec_id"]
        for r in knn_query(emb, q, k=10, id_col="vec_id", metric="cosine").collect()
    ]
    approx = [
        r["vec_id"]
        for r in pq_knn_query(
            enc, cb, q, k=10, id_col="vec_id", metric="cosine"
        ).collect()
    ]
    # 16 subspaces x 32 codes on a 500-row fixture: ADC alone should
    # recover most of the exact top-10.
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.6, (exact, approx)


def test_pq_rerank_matches_exact_topk(spark):
    emb = _emb(spark)
    q = _query_vec(spark)
    cb = pq_train(
        emb, embedding_col="embedding", m=16, n_codes=32, seed=7, normalize=True
    )
    enc = pq_encode(emb, cb, id_col="vec_id", normalize=True)
    exact = knn_query(
        emb, q, k=5, id_col="vec_id", metric="cosine", score_decimals=4
    ).collect()
    reranked = pq_knn_query(
        enc,
        cb,
        q,
        k=5,
        id_col="vec_id",
        metric="cosine",
        rerank_corpus=emb,
        embedding_col="embedding",
        rerank_factor=40,  # 200 candidates of 500 rows — prescreen wide
        score_decimals=4,
    ).collect()
    # Rerank recomputes exact scores, so overlap rows agree bit-for-bit
    # and at this prescreen width the whole top-5 should survive.
    exact_map = {r["vec_id"]: r["score"] for r in exact}
    rr_map = {r["vec_id"]: r["score"] for r in reranked}
    assert set(rr_map) == set(exact_map), (exact, reranked)
    for vid, s in rr_map.items():
        assert s == exact_map[vid]


def test_pq_l2_metric_orders_ascending(spark):
    emb = _emb(spark)
    q = _query_vec(spark)
    cb = pq_train(emb, embedding_col="embedding", m=8, n_codes=32, seed=7)
    enc = pq_encode(emb, cb, id_col="vec_id")
    rows = pq_knn_query(enc, cb, q, k=10, id_col="vec_id", metric="l2").collect()
    scores = [r["adc_score"] for r in rows]
    assert scores == sorted(scores)
    # the query's own row (vec_id=7) has ADC distance equal to its own
    # quantization error — it should rank first on the fixture
    assert rows[0]["vec_id"] == 7


def test_ivf_pq_full_probe_rerank_is_exact(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_search,
    )

    emb = _emb(spark)
    q = _query_vec(spark)
    enc, C, cb = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    exact = knn_query(
        emb, q, k=5, id_col="vec_id", metric="cosine", score_decimals=4
    ).collect()
    got = ivf_pq_search(
        enc,
        C,
        cb,
        q,
        k=5,
        id_col="vec_id",
        nprobe=8,  # full probe
        rerank_corpus=emb,
        embedding_col="embedding",
        rerank_factor=40,  # 200 candidates of 500
        metric="cosine",
        score_decimals=4,
    ).collect()
    assert {r["vec_id"]: r["score"] for r in got} == {
        r["vec_id"]: r["score"] for r in exact
    }


def test_ivf_pq_pruned_recall_and_pruning(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_search,
    )

    emb = _emb(spark)
    q = _query_vec(spark)
    enc, C, cb = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    enc = enc.cache()
    exact = [
        r["vec_id"]
        for r in knn_query(emb, q, k=10, id_col="vec_id", metric="l2").collect()
    ]
    got = ivf_pq_search(
        enc, C, cb, q, k=10, id_col="vec_id", nprobe=6, metric="l2"
    ).collect()
    approx = [r["vec_id"] for r in got]
    # The fixture is UNIFORM RANDOM 64-dim — neighbors do not cluster,
    # so pruned recall is bounded by the probed fraction (~6/8) times
    # ADC accuracy. Real embedding corpora cluster and do far better;
    # the hard exactness claim is the full-probe test above.
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4, (exact, approx)
    # pruning really happened: candidates came from <= 6 cells, a
    # strict subset of the corpus
    probed = [int(c) for c in np.argsort(((C - np.asarray(q)) ** 2).sum(axis=1))[:6]]
    n_scanned = enc.filter(F.col("ivf_cell").isin(probed)).count()
    assert n_scanned < emb.count()
    enc.unpersist()


def test_ivf_pq_encoded_schema_is_compressed(spark):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
    )

    emb = _emb(spark)
    enc, C, cb = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=4, m=8, n_codes=16, seed=7
    )
    assert set(enc.columns) == {"vec_id", "ivf_cell", "pq_code"}
    rows = enc.limit(5).collect()
    for r in rows:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])
        assert 0 <= r["ivf_cell"] < 4


def test_pq_adc_expression_and_pandas_paths_agree(spark, monkeypatch):
    """The codegen-expression ADC path and the Arrow fallback must
    produce identical scores — the threshold only picks an execution
    strategy, never a result."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import pq as pqmod

    emb = _emb(spark)
    q = _query_vec(spark)
    cb = pq_train(emb, embedding_col="embedding", m=8, n_codes=16, seed=7)
    enc = pq_encode(emb, cb, id_col="vec_id").cache()
    expr_rows = pq_knn_query(
        enc, cb, q, k=20, id_col="vec_id", metric="l2", score_decimals=6
    ).collect()
    monkeypatch.setattr(pqmod, "ADC_EXPR_MAX_LUT", 0)  # force Pandas path
    pandas_rows = pq_knn_query(
        enc, cb, q, k=20, id_col="vec_id", metric="l2", score_decimals=6
    ).collect()
    enc.unpersist()
    assert [(r["vec_id"], r["adc_score"]) for r in expr_rows] == [
        (r["vec_id"], r["adc_score"]) for r in pandas_rows
    ]


def test_ivf_pq_write_read_roundtrip(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_search,
        ivf_pq_write,
    )

    emb = _emb(spark)
    q = _query_vec(spark)
    enc, C, cb = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    path = str(tmp_path / "ivfpq_index")
    ivf_pq_write(enc, C, cb, path)
    enc2, C2, cb2 = ivf_pq_read(spark, path)
    np.testing.assert_array_equal(C, C2)
    np.testing.assert_array_equal(cb, cb2)
    # search through the persisted layout matches search on the live df
    live = ivf_pq_search(
        enc, C, cb, q, k=10, id_col="vec_id", nprobe=8, metric="l2"
    ).collect()
    persisted = ivf_pq_search(
        enc2, C2, cb2, q, k=10, id_col="vec_id", nprobe=8, metric="l2"
    ).collect()
    assert [(r["vec_id"], r["adc_score"]) for r in live] == [
        (r["vec_id"], r["adc_score"]) for r in persisted
    ]


def test_ivf_pq_persisted_index_prunes_partitions(spark, tmp_path):
    """The persisted compressed layout must give STATIC partition
    pruning on the nprobe cell filter — the point of partitioning the
    8-byte code rows by ivf_cell."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_search,
        ivf_pq_write,
    )

    emb = _emb(spark)
    q = _query_vec(spark)
    enc, C, cb = ivf_pq_build(
        emb, id_col="vec_id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    path = str(tmp_path / "ivfpq")
    ivf_pq_write(enc, C, cb, path)
    loaded, C2, cb2 = ivf_pq_read(spark, path)
    assert loaded.count() == emb.count()
    out = ivf_pq_search(loaded, C2, cb2, q, k=5, id_col="vec_id", nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    assert out.count() == 5


def test_ivf_pq_append_incremental(spark, tmp_path):
    """Incremental IVF-PQ ingest: appended vectors carry exactly the
    (cell, code) a rebuild with the SAME centroids/codebooks would
    give, replays are guard-idempotent, and ADC search through the
    extended index can surface an appended vector."""
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        _encode_assigned,
        ivf_pq_append,
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_search,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = emb.filter(F.col("vec_id") % 5 != 0)
    rest = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    n_rest = rest.count()
    enc, C, books = ivf_pq_build(
        first, id_col="vec_id", n_centroids=4, m=8, n_codes=16, seed=42
    )
    path = str(tmp_path / "pq_app")
    ivf_pq_write(enc, C, books, path)

    assert ivf_pq_append(spark, path, rest, embedding_col="embedding") == n_rest
    loaded, C2, books2 = ivf_pq_read(spark, path)
    assert loaded.count() == emb.count()

    # placement + code parity with the shared math
    want = {
        r["vec_id"]: (r["ivf_cell"], tuple(r["pq_code"]))
        for r in _encode_assigned(
            _assign_to_centroids(
                rest, C, id_col="vec_id", embedding_col="embedding", metric="l2"
            ),
            C,
            books,
            id_col="vec_id",
            embedding_col="embedding",
        ).collect()
    }
    got = {
        r["vec_id"]: (r["ivf_cell"], tuple(r["pq_code"]))
        for r in loaded.filter(F.col("vec_id") % 5 == 0).collect()
    }
    assert got == want

    # an appended vector is findable through ADC (all cells probed,
    # exact rerank over the original corpus)
    probe = rest.first()
    out = ivf_pq_search(
        loaded, C2, books2, list(probe["embedding"]), k=1,
        id_col="vec_id", nprobe=4,
        rerank_corpus=emb, embedding_col="embedding", rerank_factor=8,
    )
    assert out.first()["vec_id"] == probe["vec_id"]

    # replays: idempotent under the guard
    assert ivf_pq_append(spark, path, rest) == 0
    with pytest.raises(ValueError, match="already"):
        ivf_pq_append(spark, path, rest, on_existing="error")


def test_ivf_pq_balance_audit_saturation_and_occupancy(spark, tmp_path):
    """The compressed index's audit: fresh build reports current ==
    trained and no flags; a 10x-drifted append lifts every touched
    cell's mean reconstructed-residual norm past the 1.1x saturation
    threshold (the signal is hull-bounded — codes cannot express how
    far out the data went — which is exactly why the threshold is
    low)."""
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        pq,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
        load_table,
    )

    from .conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 80).select("vec_id", "embedding")
    enc, C, books = pq.ivf_pq_build(
        corpus, n_centroids=4, m=8, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "pq_audit")
    pq.ivf_pq_write(enc, C, books, path)

    fresh = {r["ivf_cell"]: r for r in pq.ivf_pq_balance_audit(spark, path).collect()}
    assert len(fresh) == 4
    assert not any(r["refresh_recommended"] for r in fresh.values())
    for r in fresh.values():
        assert r["n_rows"] == r["trained_n_rows"]
        assert r["mean_res_norm"] == r["trained_mean_res_norm"]

    drifted = e.filter(F.col("vec_id").between(80, 199)).select(
        "vec_id", F.transform("embedding", lambda x: x * F.lit(10.0)).alias("embedding")
    )
    assert pq.ivf_pq_append(spark, path, drifted, id_col="vec_id") == 120
    after = {r["ivf_cell"]: r for r in pq.ivf_pq_balance_audit(spark, path).collect()}
    dominated = [
        c for c, r in after.items()
        if r["n_rows"] - fresh[c]["n_rows"] >= fresh[c]["n_rows"]
    ]
    assert dominated
    assert all(after[c]["refresh_recommended"] for c in dominated)
    assert all(
        after[c]["mean_res_norm"] > after[c]["trained_mean_res_norm"]
        for c in dominated
    )
