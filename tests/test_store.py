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
    read_parquet,
    read_sidecar,
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


def _same_schema(spark, loc):
    got = read_parquet(spark, loc)
    assert got.schema == spark.read.parquet(loc).schema
    return got


def test_read_parquet_schema_equals_inferred_read(spark, coll, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        current_data_dir,
    )

    root, name, df = coll
    _same_schema(spark, current_data_dir(root, name))
    hydrate(
        spark, df,
        HydrationConfig(
            collection_name="b", root=root, metadata_col="metadata",
            n_buckets=4,
        ),
    )
    bucketed = _same_schema(spark, current_data_dir(root, "b"))
    assert "id_bucket" in bucketed.columns
    # the partition column still prunes
    plan = (
        bucketed.filter(F.col("id_bucket") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(id_bucket" in plan
    for id_type in ("string", "bigint"):
        p = str(tmp_path / f"ivf_{id_type}")
        assigned, C = ann.ivf_build(
            df.select(F.col("id").cast(id_type).alias("id"), "embedding"),
            n_centroids=2, seed=1,
        )
        ann.ivf_write(assigned, C, p, metric="cosine")
        cells = _same_schema(
            spark, os.path.join(p, read_sidecar(p, "ivf_index.json")["location"])
        )
        assert dict(cells.dtypes)["id"] == id_type
        assert dict(cells.dtypes)["ivf_cell"] == "int"
    p = str(tmp_path / "pq")
    _ivf_pq(spark, coll, p)
    meta = read_sidecar(p, "ivf_pq_index.json")
    _same_schema(spark, os.path.join(p, meta["location"]))
    ann.ivf_delete(spark, p, ["1", "2"], sidecar="ivf_pq_index.json")
    meta = read_sidecar(p, "ivf_pq_index.json")
    ts = _same_schema(spark, os.path.join(p, meta["tombstones"]["location"]))
    assert sorted(r["_ts_id"] for r in ts.collect()) == ["1", "2"]


def test_read_parquet_falls_back_without_spark_footer(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.errors import AnalysisException

    foreign = tmp_path / "foreign"
    foreign.mkdir()
    papq.write_table(
        pa.table({"id": ["a", "b"], "x": [1.5, 2.5]}),
        str(foreign / "part-0.parquet"),
    )
    kv = papq.read_metadata(str(foreign / "part-0.parquet")).metadata or {}
    assert b"org.apache.spark.sql.parquet.row.metadata" not in kv
    got = _same_schema(spark, str(foreign))
    assert sorted(tuple(r) for r in got.collect()) == [("a", 1.5), ("b", 2.5)]

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(empty))
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, str(empty))
    assert ours.value.getCondition() == plain.value.getCondition()


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_collection_count_is_footer_exact(spark, tmp_path, n_buckets):
    """``collection_count`` sums footers; it must equal a Spark count
    after every mutation, with Spark's bookkeeping files (and files
    Spark skips by name) beside the data."""
    import glob
    import shutil

    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
        collection_delete,
        collection_upsert,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_count,
        current_data_dir,
    )

    root, name = str(tmp_path), "fc"

    def items(lo, hi):
        return dict(
            ids=[str(i) for i in range(lo, hi)],
            embeddings=[[float(i), 1.0] for i in range(lo, hi)],
        )

    def check():
        d = current_data_dir(root, name)
        files = glob.glob(os.path.join(d, "**", "part-*.parquet"), recursive=True)
        shutil.copy(files[0], os.path.join(d, "_skipped.parquet"))
        shutil.copy(files[0], os.path.join(d, ".skipped.parquet"))
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        assert glob.glob(os.path.join(d, "**", ".*.crc"), recursive=True)
        n = collection_count(spark, root, name)
        assert n == read_collection(spark, root, name).count()
        return n

    hydrate(
        spark,
        spark.createDataFrame(
            [(str(i), f"doc {i}", [float(i), 1.0]) for i in range(10)],
            "id string, document string, embedding array<float>",
        ),
        HydrationConfig(collection_name=name, root=root, n_buckets=n_buckets),
    )
    assert check() == 10
    collection_add(spark, root, name, **items(10, 14))
    assert check() == 14
    collection_upsert(spark, root, name, **items(12, 16))
    assert check() == 16
    collection_delete(spark, root, name, ids=["1", "13"], retain_previous=True)
    assert check() == 14
    collection_delete(spark, root, name, where={"nope": "x"}, retain_previous=True)
    assert check() == 14


def test_rebuild_waits_for_the_writer_lock(spark, coll, tmp_path):
    """A rebuild is a mutation like any other: ``ivf_pq_write`` blocks
    while another thread holds the IVF-PQ writer lock (a locked
    append or delete that already read the sidecar would otherwise
    commit over the rebuild), and commits once the lock is released."""
    import threading
    import time

    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _writer_lock,
    )

    _root, _name, df = coll
    enc, C, books = pq.ivf_pq_build(df, n_centroids=2, m=2, n_codes=4, seed=1)
    enc = enc.localCheckpoint(eager=True)
    p = str(tmp_path / "pq")
    done, errors = threading.Event(), []

    def rebuild():
        try:
            pq.ivf_pq_write(enc, C, books, p)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            done.set()

    with _writer_lock(p, "ivf_pq_index.json"):
        threading.Thread(target=rebuild, daemon=True).start()
        time.sleep(1.5)
        assert not done.is_set(), "the rebuild ran beside a held lock"
        assert os.listdir(p) == ["ivf_pq_index.json.writer_lock"]
    assert done.wait(120) and not errors, errors
    assert pq.ivf_pq_read(spark, p)[0].count() == N


def _assert_dir_is_referenced(p, fname):
    """The index dir holds exactly what its sidecar references — the
    cells dir, recordings and Bloom files — plus the sidecar and its
    writer-lock file: nothing superseded or orphaned is left behind."""
    meta = read_sidecar(p, fname)
    bloom = meta["id_bloom"]
    want = {
        fname,
        meta["location"],
        bloom["location"],
        (meta.get("tombstones") or {}).get("location"),
        meta.get("last_append_ids"),
    }
    want |= {s["location"] for s in bloom.get("segments") or []}
    want |= {e["appended_ids"] for e in meta.get("pending_appends") or []}
    got = set(os.listdir(p)) - {fname + ".writer_lock"}
    assert got == want - {None}


def _ids(spark, p, fname):
    """Every physical row's id (sorted, duplicates kept) and the ids
    a reader serves (tombstones masked)."""
    meta = read_sidecar(p, fname)
    cells = read_parquet(spark, os.path.join(p, meta["location"]))
    rows = sorted(r[0] for r in cells.select("id").collect())
    dead = {
        r[0] for r in ann.ivf_tombstoned_ids(spark, p, sidecar=fname).collect()
    }
    return rows, [i for i in rows if i not in dead]


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "graph"])
def test_cells_index_lifecycle(spark, coll, tmp_path, kind):
    """One lifecycle for the three cells kinds: write, append and its
    replay, the ``on_existing='error'`` refusal, delete, the refused
    re-append of a deleted id naming the kind's purge call, the
    upsert that resurrects it, then compact (rebuild for the graph).
    After every step the index dir holds only what the sidecar
    references."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        TombstonedIdError,
    )

    _root, _name, df = coll
    p = str(tmp_path / kind)
    rows = df.select("id", "embedding")
    first = rows.filter(F.col("id").cast("int") < 12)
    batch = rows.filter(F.col("id").cast("int") >= 12)
    every = sorted(str(i) for i in range(N))
    before = sorted(str(i) for i in range(12))
    if kind == "ivf":
        fname, purge = "ivf_index.json", "ivf_compact"
        assigned, C = ann.ivf_build(first, n_centroids=2, seed=1)
        ann.ivf_write(assigned, C, p)
        append = lambda b, **kw: ann.ivf_append(spark, p, b, **kw)  # noqa: E731
        upsert = lambda b: ann.ivf_upsert(spark, p, b)  # noqa: E731
        delete = lambda ids: ann.ivf_delete(spark, p, ids)  # noqa: E731
    elif kind == "ivf_pq":
        fname, purge = "ivf_pq_index.json", "ivf_pq_compact"
        enc, C, books = pq.ivf_pq_build(
            first, n_centroids=2, m=2, n_codes=4, seed=1
        )
        pq.ivf_pq_write(enc, C, books, p)
        append = lambda b, **kw: pq.ivf_pq_append(spark, p, b, **kw)  # noqa: E731
        upsert = lambda b: pq.ivf_pq_upsert(spark, p, b)  # noqa: E731
        delete = lambda ids: pq.ivf_pq_delete(spark, p, ids)  # noqa: E731
    else:
        fname, purge = "graph_index.json", "graph_index_write"

        def rebuild(src):
            cells, C = graph_ann.graph_index_build(src, n_centroids=2, M=4)
            graph_ann.graph_index_write(cells, C, p, M=4)

        rebuild(first)
        append = lambda b: graph_ann.graph_append(spark, p, b)  # noqa: E731
        delete = lambda ids: graph_ann.graph_delete(spark, p, ids)  # noqa: E731
    assert _ids(spark, p, fname) == (before, before)
    _assert_dir_is_referenced(p, fname)

    assert append(batch) == 4
    _assert_dir_is_referenced(p, fname)
    assert append(batch) == 0
    assert _ids(spark, p, fname) == (every, every)
    _assert_dir_is_referenced(p, fname)

    if kind != "graph":
        with pytest.raises(ValueError, match="already indexed"):
            append(batch, on_existing="error")
        _assert_dir_is_referenced(p, fname)

    assert delete(["3", "5"]) == 2
    live = sorted(set(every) - {"3", "5"})
    assert _ids(spark, p, fname) == (every, live)
    _assert_dir_is_referenced(p, fname)

    with pytest.raises(TombstonedIdError, match=purge):
        append(rows.filter(F.col("id") == "3"))
    _assert_dir_is_referenced(p, fname)

    if kind != "graph":
        assert upsert(rows.filter(F.col("id") == "3")) == (1, 0)
        live = sorted(set(every) - {"5"})
        assert _ids(spark, p, fname) == (every, live)
        _assert_dir_is_referenced(p, fname)
        (ann.ivf_compact if kind == "ivf" else pq.ivf_pq_compact)(spark, p)
    else:
        rebuild(rows.filter(F.col("id").isin(live)))
    assert _ids(spark, p, fname) == (live, live)
    assert "tombstones" not in read_sidecar(p, fname)
    _assert_dir_is_referenced(p, fname)
