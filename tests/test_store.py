"""The one on-disk index format (operators/store.py): every index
sidecar and the CDC log carry ``format_version``, a sidecar without
it refuses with ``StaleIndexError`` naming the kind's rebuild call,
the rebuild serves again, and every mutating writer re-stamps."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    StaleIndexError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators import (
    ann,
    band_index as bi,
    graph_ann,
    late_interaction,
    pq,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    FORMAT_VERSION,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    export_collection,
    import_collection,
    read_collection,
)
from vector_databases___hydrate_chroma_db_collection_spark.streaming import (
    cdc_stream,
)

N = 16


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store") / "root")
    docs = [
        (str(i), f"doc number {i} about topic {i % 3}",
         [float((i * 5 + j) % 7) + 1.0 for j in range(4)])
        for i in range(N)
    ]
    hydrate(
        spark,
        spark.createDataFrame(
            docs, "id string, text string, embedding array<float>"
        ),
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
        ),
    )
    return root, "c", read_collection(spark, root, "c")


def _strip(p, fname):
    with open(os.path.join(p, fname)) as f:
        meta = json.load(f)
    assert meta.pop("format_version") == FORMAT_VERSION
    with open(os.path.join(p, fname), "w") as f:
        json.dump(meta, f)


def _version(p, fname):
    with open(os.path.join(p, fname)) as f:
        return json.load(f).get("format_version")


def _ivf(spark, c, p):
    root, name, df = c
    assigned, C = ann.ivf_build(df, n_centroids=2, seed=1)
    ann.ivf_write(
        assigned, C, p, metric="cosine", source=(root, name),
        build={"metric": "l2", "seed": 1, "sample_fraction": None},
    )
    return (
        "ivf_index.json",
        lambda: ann.ivf_read(spark, p)[0].count(),
        "ivf_refresh",
        lambda: ann.ivf_refresh(spark, p),
    )


def _ivf_pq(spark, c, p):
    root, name, df = c

    def write():
        enc, C, books = pq.ivf_pq_build(
            df, n_centroids=2, m=2, n_codes=4, seed=1
        )
        pq.ivf_pq_write(enc, C, books, p, source=(root, name))

    write()
    return (
        "ivf_pq_index.json",
        lambda: pq.ivf_pq_read(spark, p)[0].count(),
        "ivf_pq_write",
        write,
    )


def _graph(spark, c, p):
    _root, _name, df = c

    def write():
        assigned, C = graph_ann.graph_index_build(df, n_centroids=2, M=4)
        graph_ann.graph_index_write(assigned, C, p, M=4)

    write()
    return (
        "graph_index.json",
        lambda: graph_ann.graph_index_read(spark, p)[0].count(),
        "graph_index_write",
        write,
    )


def _band(spark, c, p):
    root, name, df = c
    bi.band_index_build(
        df, p, id_col="id", text_col="document", source=(root, name)
    )
    return (
        "band_index.json",
        lambda: bi.band_index_read(spark, p)[0].select("id").distinct().count(),
        "band_index_refresh",
        lambda: bi.band_index_refresh(spark, p),
    )


def _maxsim(spark, c, p):
    _root, _name, df = c
    corpus = df.select("id", F.array("embedding").alias("tokens"))

    def write():
        late_interaction.maxsim_corpus_write(corpus, p, n_buckets=2)

    write()
    return (
        "maxsim_corpus.json",
        lambda: late_interaction.maxsim_corpus_read(spark, p)[0].count(),
        "maxsim_corpus_write",
        write,
    )


def _cdc(spark, c, p):
    os.makedirs(p)
    cdc_stream._log_write(p, {"entries": []})
    return "cdc_log.json", lambda: cdc_stream._log_read(p), "cdc_log.json", None


@pytest.mark.parametrize(
    "kind", [_ivf, _ivf_pq, _graph, _band, _maxsim, _cdc],
    ids=["ivf", "ivf_pq", "graph", "band", "maxsim", "cdc_log"],
)
def test_sidecar_without_format_version_refuses_until_rebuilt(
    spark, coll, tmp_path, kind
):
    p = str(tmp_path / "idx")
    fname, serve, remedy, rebuild = kind(spark, coll, p)
    assert _version(p, fname) == FORMAT_VERSION
    _strip(p, fname)
    with pytest.raises(StaleIndexError, match=remedy) as e:
        serve()
    assert fname in str(e.value) and str(FORMAT_VERSION) in str(e.value)
    if rebuild is None:
        return
    rebuild()
    assert _version(p, fname) == FORMAT_VERSION
    assert serve() == N


def test_every_mutating_writer_stamps_format_version(spark, coll, tmp_path):
    root, name, df = coll
    pq_path = os.path.join(root, name, "_pq")
    enc, C, books = pq.ivf_pq_build(df, n_centroids=2, m=2, n_codes=4, seed=1)
    band_path = str(tmp_path / "band")
    bi.band_index_build(df.filter(F.col("id").cast("int") < 12), band_path,
                        id_col="id", text_col="document")
    new_docs = df.filter(F.col("id").cast("int") >= 12)
    steps = [
        ("ivf_pq_index.json", pq_path,
         lambda: pq.ivf_pq_write(
             enc.filter(F.col("id").cast("int") < 12), C, books, pq_path,
             source=(root, name),
         )),
        ("ivf_pq_index.json", pq_path,
         lambda: pq.ivf_pq_append(spark, pq_path, new_docs)),
        ("ivf_pq_index.json", pq_path,
         lambda: pq.ivf_pq_delete(spark, pq_path, ["3"])),
        ("ivf_pq_index.json", pq_path, lambda: pq.ivf_pq_compact(spark, pq_path)),
        ("band_index.json", band_path,
         lambda: bi.band_index_append(spark, band_path, new_docs,
                                      text_col="document")),
        ("band_index.json", band_path,
         lambda: bi.band_index_delete(spark, band_path, ["3"])),
        ("band_index.json", band_path,
         lambda: bi.band_index_compact(spark, band_path)),
    ]
    for fname, p, step in steps:
        before = os.path.getmtime(os.path.join(p, fname)) if os.path.exists(
            os.path.join(p, fname)
        ) else None
        step()
        assert os.path.getmtime(os.path.join(p, fname)) != before
        assert _version(p, fname) == FORMAT_VERSION

    # import re-stamps the shipped sidecar to the new collection: the
    # rewrite keeps the format stamp
    snap = str(tmp_path / "snap")
    export_collection(spark, root, name, snap, include_indexes=["_pq"])
    root2 = str(tmp_path / "root2")
    import_collection(spark, snap, root2)
    p2 = os.path.join(root2, name, "_pq")
    with open(os.path.join(p2, "ivf_pq_index.json")) as f:
        meta = json.load(f)
    assert meta["source"]["root"] == root2
    assert meta["format_version"] == FORMAT_VERSION
