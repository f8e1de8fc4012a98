"""Batch filtered serving through the compressed index
(plans/chroma_api.py::collection_query_batch_ivf_pq): per-query
k-fill under cell-killing predicates, exactness when rerank_factor
covers the filtered slice, and the exact-batch output contract; plus
the k-fill contract shared by all six filtered ANN doors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
    ivf_pq_build,
    ivf_pq_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
    collection_query_batch,
    collection_query_batch_ivf_pq,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    read_collection,
)


@pytest.fixture(scope="module")
def pq_setup(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bfpq")
    root = str(tmp / "root")
    # two well-separated clusters so cells correlate with the
    # metadata — the classic filtered-ANN failure shape: the 'rare'
    # docs live in cluster B, a query near cluster A with the rare
    # filter must expand its probe to find them
    rows = []
    for i in range(24):
        base = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        rows.append((str(i), f"doc {i}", "common",
                     [base[j] + 0.01 * i * ((j % 3) + 1) for j in range(8)]))
    for i in range(24, 30):
        base = [0.0, 10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        rows.append((str(i), f"doc {i}", "rare",
                     [base[j] + 0.01 * i * ((j % 3) + 1) for j in range(8)]))
    df = spark.createDataFrame(
        rows, "id string, text string, kind string, embedding array<float>"
    )
    hydrate(
        spark, df,
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
            metadata_col="kind",
        ),
    )
    coll = read_collection(spark, root, "c")
    enc, C, books = ivf_pq_build(coll, n_centroids=2, m=4, n_codes=8, seed=1)
    idx = str(tmp / "pq")
    ivf_pq_write(enc, C, books, idx, source=(root, "c"))
    return root, idx


def test_batch_pq_kfill_and_exactness(spark, pq_setup):
    root, idx = pq_setup
    # query vectors near cluster A; the 'rare' filter kills the
    # probed cell at nprobe=1, so the per-query expansion must walk
    # to the other cell — and with rerank_factor covering the whole
    # rare slice the result equals the exact filtered batch path
    qvecs = [[9.5, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
             [10.5, -0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]]
    got = collection_query_batch_ivf_pq(
        spark, root, "c", qvecs, n_results=4, index_path=idx,
        nprobe=1, where={"kind": "rare"}, rerank_factor=8,
        score_decimals=4,
    ).select("qid", "rank", "id", "score").collect()
    want = collection_query_batch(
        spark, root, "c", qvecs, n_results=4,
        where={"kind": "rare"}, score_decimals=4,
    ).select("qid", "rank", "id", "score").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 8  # both queries filled to k=4


def test_batch_pq_exhaustion_floor(spark, pq_setup):
    root, idx = pq_setup
    # over-ask: only 6 'rare' docs exist — every query exhausts the
    # probe and returns exactly the filtered slice, fully ranked
    got = collection_query_batch_ivf_pq(
        spark, root, "c",
        [[9.5, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]],
        n_results=50, index_path=idx, nprobe=1,
        where={"kind": "rare"}, rerank_factor=10, score_decimals=4,
    )
    rows = got.collect()
    assert len(rows) == 6
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert {r["id"] for r in rows} == {str(i) for i in range(24, 30)}


def test_batch_pq_include_distance(spark, pq_setup):
    root, idx = pq_setup
    out = collection_query_batch_ivf_pq(
        spark, root, "c",
        [[9.5, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]],
        n_results=2, index_path=idx, nprobe=2,
        rerank_factor=8, score_decimals=4, include_distance=True,
    )
    r = out.collect()
    assert out.columns == ["qid", "rank", "id", "document", "metadata", "score", "distance"]
    for row in r:
        # cosine: distance = 1 - unrounded similarity (close to score)
        assert row["distance"] == pytest.approx(1.0 - row["score"], abs=1e-3)


def test_batch_scores_equal_single_scores_exactly(spark, pq_setup):
    """Batch doors score the query as doubles, like the single doors:
    with ``score_decimals=None`` a query that float32 cannot hold
    scores identically through both."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query,
        collection_query_ivf_pq,
    )

    root, idx = pq_setup
    qv = [9.5 + 1 / 3, 0.1, 0.7, 1 / 7, 0.0, 0.3, 0.0, 0.9]
    single = collection_query_ivf_pq(
        spark, root, "c", qv, n_results=4, index_path=idx, nprobe=1,
        rerank_factor=8,
    ).select("id", "score").collect()
    batch = collection_query_batch_ivf_pq(
        spark, root, "c", [qv], n_results=4, index_path=idx, nprobe=1,
        rerank_factor=8,
    ).select("id", "score").collect()
    assert len(single) == 4
    assert [tuple(r) for r in batch] == [tuple(r) for r in single]
    exact = collection_query(spark, root, "c", qv, n_results=4).select(
        "id", "score"
    ).collect()
    exact_b = collection_query_batch(
        spark, root, "c", [qv], n_results=4
    ).select("id", "score").collect()
    assert [tuple(r) for r in exact_b] == [tuple(r) for r in exact]


def test_expansion_stats_all_six_serving_paths(spark, pq_setup, tmp_path):
    """The shared k-fill loop on all six filtered ANN doors: the
    'rare' filter kills the query's nearest cell, so every door walks
    the probe from 1 to both cells (2 rounds) and reports the same
    stats as its batch twin, and each single door returns exactly its
    batch twin's rows. Around it: an unfiltered query settles in one round and a
    zero-match predicate exhausts to an empty result."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
        graph_index_build,
        graph_index_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_graph,
        collection_query_batch_ivf,
        collection_query_graph,
        collection_query_ivf,
        collection_query_ivf_pq,
    )

    root, pqidx = pq_setup
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    ividx = str(tmp_path / "ivf")
    ivf_write(assigned, C, ividx, metric="cosine", source=(root, "c"))
    gassigned, GC = graph_index_build(coll, n_centroids=2, M=4, seed=1)
    gidx = str(tmp_path / "graph")
    graph_index_write(
        gassigned, GC, gidx, M=4, source=(root, "c"), build={"seed": 1}
    )
    qv = [9.5, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    doors = {
        "ivf": (collection_query_ivf, collection_query_batch_ivf,
                dict(index_path=ividx)),
        "ivf_pq": (collection_query_ivf_pq, collection_query_batch_ivf_pq,
                   dict(index_path=pqidx, rerank_factor=8)),
        "graph": (collection_query_graph, collection_query_batch_graph,
                  dict(index_path=gidx)),
    }
    exhausted = {"rounds": 2, "final_probe": 2, "n_cells": 2}
    for kind, (single, batch, kw) in doors.items():
        # the graph doors' default ef (4 * n_results) fills at the
        # second round, before ef saturates
        want = {**exhausted, "final_ef": 16} if kind == "graph" else exhausted
        st: dict = {}
        got = single(
            spark, root, "c", qv, n_results=4, nprobe=1,
            where={"kind": "rare"}, stats_out=st, **kw,
        ).select("id", "score").collect()
        stb: dict = {}
        got_b = batch(
            spark, root, "c", [qv], n_results=4, nprobe=1,
            where={"kind": "rare"}, stats_out=stb, **kw,
        ).select("id", "score").collect()
        assert st == stb == want, (kind, st, stb)
        assert len(got) == 4, kind
        assert [tuple(r) for r in got_b] == [tuple(r) for r in got], kind

    # an unfiltered fill settles in ONE round at nprobe=1
    st1: dict = {}
    collection_query_ivf(
        spark, root, "c", qv, n_results=4, index_path=ividx,
        nprobe=1, stats_out=st1,
    ).collect()
    assert st1 == {"rounds": 1, "final_probe": 1, "n_cells": 2}
    # zero-match predicate -> exhaustion, empty, 2 rounds
    st2: dict = {}
    empty = collection_query_batch_ivf(
        spark, root, "c", [qv, qv], n_results=4, index_path=ividx,
        nprobe=1, where={"kind": "no-such"}, stats_out=st2,
    ).collect()
    assert empty == []
    assert st2 == {"rounds": 2, "final_probe": 2, "n_cells": 2}
