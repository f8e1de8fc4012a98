"""The k-fill loop of the six filtered ANN doors
(plans/chroma_api.py::_kfill): each round scores only the cells it
newly probes, single and batch doors return the same rows per query
(cell-killing filters, under-filled exhaustion, tied and null
scores), a stale index served without its etag fence keeps the
collection semi-join, bad ``n_results`` / ``rerank_factor`` raise, and
the driver ranking reproduces Spark's sort order."""

from __future__ import annotations

import math

import pytest

from vector_databases___hydrate_chroma_db_collection_spark.errors import EngineError
from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    _cell_order,
    ivf_build,
    ivf_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
    graph_index_build,
    graph_index_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
    ivf_pq_build,
    ivf_pq_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans import chroma_api as ca
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    read_collection,
)

DIM = 8


def _vec(axis: int, i: int) -> list[float]:
    v = [0.01 * i * ((j % 3) + 1) for j in range(DIM)]
    v[axis] += 10.0
    return v


@pytest.fixture(scope="module")
def kfill_setup(spark, tmp_path_factory):
    """36 rows in three clusters (axes 0, 1, 2). The 'rare' rows sit
    in cluster 1 only, two of them share one vector under different
    ids (a score tie), and one rare row is the zero vector: its
    cosine is 0/0, a null score in a non-ANSI session (the module
    runs with ANSI off). Four cells per index kind."""
    tmp = tmp_path_factory.mktemp("kfill")
    root = str(tmp / "root")
    rows = []
    for i in range(14):
        rows.append((f"a{i:02d}", f"doc a{i}", "common", _vec(0, i)))
    for i in range(12):
        rows.append((f"c{i:02d}", f"doc c{i}", "common", _vec(2, i)))
    for i in range(7):
        rows.append((f"b{i:02d}", f"doc b{i}", "rare", _vec(1, i)))
    rows.append(("t1", "doc t1", "rare", _vec(1, 20)))
    rows.append(("t0", "doc t0", "rare", _vec(1, 20)))
    rows.append(("z0", "doc z0", "rare", [0.0] * DIM))
    hydrate(
        spark,
        spark.createDataFrame(
            rows, "id string, text string, kind string, embedding array<float>"
        ),
        HydrationConfig(
            collection_name="k", root=root, id_col="id", text_col="text",
            embedding_col="embedding", metadata_col="kind",
        ),
    )
    coll = read_collection(spark, root, "k")
    assigned, C = ivf_build(coll, n_centroids=4, seed=1)
    ivf_write(assigned, C, str(tmp / "ivf"), metric="cosine", source=(root, "k"))
    enc, PC, books = ivf_pq_build(coll, n_centroids=4, m=4, n_codes=8, seed=1)
    ivf_pq_write(enc, PC, books, str(tmp / "pq"), source=(root, "k"))
    gassigned, GC = graph_index_build(coll, n_centroids=4, M=4, seed=1)
    graph_index_write(
        gassigned, GC, str(tmp / "graph"), M=4, source=(root, "k"),
        build={"seed": 1},
    )
    doors = {
        "ivf": (ca.collection_query_ivf, ca.collection_query_batch_ivf,
                dict(index_path=str(tmp / "ivf")), C, "cosine"),
        "ivf_pq": (ca.collection_query_ivf_pq, ca.collection_query_batch_ivf_pq,
                   dict(index_path=str(tmp / "pq"), rerank_factor=16), PC, "l2"),
        "graph": (ca.collection_query_graph, ca.collection_query_batch_graph,
                  dict(index_path=str(tmp / "graph")), GC, "cosine"),
    }
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        yield root, doors
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


QA = _vec(0, 3)  # near cluster 0: the 'rare' filter kills its cell
QT = _vec(1, 20)  # on the tied pair


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "graph"])
def test_rounds_score_only_newly_probed_cells(spark, kfill_setup, monkeypatch, kind):
    """A spy on each door's scorer records the (qid, cell) pairs every
    round actually scores: per query, the rounds score consecutive
    disjoint slices of its own cell order, and the probed query's
    slices together are its first ``final_probe`` cells."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
        graph_ann,
        pq,
    )

    root, doors = kfill_setup
    single, batch, kw, C, metric = doors[kind]
    seen: list = []  # one {qid: [cell, ...]} per scorer call (round)

    def record(qids, cells):
        rnd: dict = {}
        for q, c in zip(qids, cells):
            rnd.setdefault(int(q), []).append(int(c))
        seen.append(rnd)

    if kind == "graph":
        real_cells = graph_ann._serve_cells

        def spy_cells(spark_, path, qs, *a, cells=None, **k):
            record(
                [q for (q, _), cs in zip(qs, cells) for _ in cs],
                [c for cs in cells for c in cs],
            )
            return real_cells(spark_, path, qs, *a, cells=cells, **k)

        monkeypatch.setattr(graph_ann, "_serve_cells", spy_cells)
    elif kind == "ivf_pq":
        real_adc = pq._adc_topk

        def spy_adc(codes, work, *a, **k):
            record(
                [q for q, _, cs in work for _ in cs],
                [c for _, _, cs in work for c in cs],
            )
            return real_adc(codes, work, *a, **k)

        monkeypatch.setattr(pq, "_adc_topk", spy_adc)
    else:
        real_in, real_join = ca._in_cells, ann._ivf_cells_join

        def spy_in(rows, work):  # the single door scores its pruned rows
            if door is single:
                record([q for q, cs in work for _ in cs], [c for _, cs in work for c in cs])
            return real_in(rows, work)

        def spy_join(qcells, *a, **k):  # the batch door its qcells pairs
            got = qcells.select("_qid", "ivf_cell").collect()
            record([r["_qid"] for r in got], [r["ivf_cell"] for r in got])
            return real_join(qcells, *a, **k)

        monkeypatch.setattr(ca, "_in_cells", spy_in)
        monkeypatch.setattr(ann, "_ivf_cells_join", spy_join)
    for door, vecs in ((single, [QA]), (batch, [QA, QT])):
        seen.clear()
        st: dict = {}
        door(spark, root, "k", vecs if door is batch else vecs[0], n_results=3,
             nprobe=1, where={"kind": "rare"}, stats_out=st, **kw).collect()
        assert st["rounds"] == len(seen) > 1, (kind, st, seen)
        assert all(0 in rnd for rnd in seen), (kind, seen)  # QA pends throughout
        for q, v in enumerate(vecs):
            order = [int(c) for c in _cell_order(C, v, metric)[0]]
            lo = 0
            for rnd in seen:
                cells = rnd.get(q, [])
                assert sorted(cells) == sorted(order[lo : lo + len(cells)]), (
                    kind, q, seen,
                )
                lo += len(cells)
            if q == 0:
                assert lo == st["final_probe"], (kind, st, seen)


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "graph"])
def test_single_and_batch_rows_agree(spark, kfill_setup, kind):
    root, doors = kfill_setup
    single, batch, kw, _C, _m = doors[kind]
    rare = {"kind": "rare"}

    def rows(df, qid=None):
        if qid is not None:
            df = df.filter(f"qid = {qid}")
        return [(r["id"], r["score"]) for r in df.collect()]

    # cell-killing filter (QA) and a tie at the top (QT), one batch
    b = batch(spark, root, "k", [QA, QT], n_results=4, nprobe=1,
              where=rare, score_decimals=6, **kw)
    for qid, qv in enumerate((QA, QT)):
        s = rows(single(spark, root, "k", qv, n_results=4, nprobe=1,
                        where=rare, score_decimals=6, **kw))
        assert len(s) == 4 and rows(b, qid) == s, (kind, qid)
    tied = rows(b, 1)[:2]
    assert [i for i, _ in tied] == ["t0", "t1"] and tied[0][1] == tied[1][1]
    # under-filled exhaustion: 10 rare rows for k=20, the zero vector's
    # null score ranks last, and the rows equal the exact scan's
    s = rows(single(spark, root, "k", QA, n_results=20, nprobe=1,
                    where=rare, **kw))
    assert rows(batch(spark, root, "k", [QA], n_results=20, nprobe=1,
                      where=rare, **kw)) == s
    assert len(s) == 10 and s[-1] == ("z0", None)
    assert s == rows(ca.collection_query(spark, root, "k", QA, 20, where=rare))


def test_stale_index_served_without_fence_keeps_the_semi_join(spark, tmp_path):
    """With ``verify_source=False`` an unfiltered door must not score
    the cells alone: the index still holds rows the collection
    deleted."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )

    root = str(tmp_path / "root")
    rows = [(f"d{i:02d}", f"doc {i}", "m", _vec(i % 3, i)) for i in range(24)]
    hydrate(
        spark,
        spark.createDataFrame(
            rows, "id string, text string, kind string, embedding array<float>"
        ),
        HydrationConfig(
            collection_name="s", root=root, id_col="id", text_col="text",
            embedding_col="embedding", metadata_col="kind",
        ),
    )
    coll = read_collection(spark, root, "s")
    enc, C, books = ivf_pq_build(coll, n_centroids=2, m=4, n_codes=8, seed=1)
    idx = str(tmp_path / "pq")
    ivf_pq_write(enc, C, books, idx, source=(root, "s"))
    gone = ["d00", "d03", "d06"]
    assert ca.collection_delete(spark, root, "s", ids=gone) == 3
    q = _vec(0, 3)
    with pytest.raises(StaleIndexError):
        ca.collection_query_ivf_pq(spark, root, "s", q, 5, index_path=idx)
    want = [
        (r["id"], r["score"])
        for r in ca.collection_query(spark, root, "s", q, 5).collect()
    ]
    # rerank_factor=1: scoring the cells alone would make the deleted
    # d03 (the query itself) a finalist and under-fill the answer
    kw = dict(index_path=idx, nprobe=2, rerank_factor=1, verify_source=False)
    got = ca.collection_query_ivf_pq(spark, root, "s", q, 5, **kw).collect()
    got_b = ca.collection_query_batch_ivf_pq(spark, root, "s", [q], 5, **kw).collect()
    assert [(r["id"], r["score"]) for r in got] == want
    assert [(r["id"], r["score"]) for r in got_b] == want
    assert not {r["id"] for r in got} & set(gone)


@pytest.mark.parametrize(
    "door",
    [
        ca.collection_query_ivf, ca.collection_query_batch_ivf,
        ca.collection_query_ivf_pq, ca.collection_query_batch_ivf_pq,
        ca.collection_query_graph, ca.collection_query_batch_graph,
    ],
)
def test_ann_doors_reject_non_positive_k(spark, tmp_path, door):
    q = [1.0] * DIM if "batch" not in door.__name__ else [[1.0] * DIM]
    bad = [dict(n_results=0), dict(n_results=-3)]
    if "pq" in door.__name__:
        bad += [dict(n_results=5, rerank_factor=0), dict(n_results=5, rerank_factor=-1)]
    for kw in bad:
        with pytest.raises(EngineError, match="must be >= 1"):
            door(spark, str(tmp_path), "none", q, index_path=str(tmp_path), **kw)


def test_driver_order_matches_spark_order(spark):
    from pyspark.sql import functions as F

    vals = [
        ("a", 1.0), ("b", None), ("c", math.nan), ("d", -0.0), ("e", 0.0),
        ("f", 2.0), ("g", 1.0), ("h", None), ("i", math.nan), ("j", -1.5),
    ]
    df = spark.createDataFrame(vals, "id string, score double")
    for asc in (True, False):
        key = F.col("score").asc() if asc else F.col("score").desc()
        want = [r["id"] for r in df.orderBy(key, F.col("id").asc()).collect()]
        assert [i for i, _ in ca._best_first(vals, asc)] == want, asc
        assert [i for i, _ in ca._best_first(vals, asc, 4)] == want[:4]
