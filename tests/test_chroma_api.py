"""Chroma client-API surface (plans/chroma_api.py): where-clause
compilation, filtered query, paged get with bucket pruning, delete
on both layouts — the retrieval half the reference delegates to
Chroma's client (reference README.md:5, collection writes at
sas:177-190 but no read path)."""

from __future__ import annotations

import pytest

from vector_databases___hydrate_chroma_db_collection_spark.errors import EngineError
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
    collection_delete,
    collection_get,
    collection_query,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    collection_count,
    read_collection,
)

DOCS = [
    (1.0, "alpha red fox", [1.0, 0.0], 5.0),
    (2.0, "bravo red dog", [0.9, 0.1], 3.0),
    (3.0, "charlie blue cat", [0.0, 1.0], 3.0),
    (4.0, "delta blue fox", [0.1, 0.9], 1.0),
    (5.0, "echo green owl", [0.7, 0.7], 4.0),
]


def _hydrated(spark, root, n_buckets=None):
    df = spark.createDataFrame(
        DOCS, "uid double, body string, vec array<float>, stars double"
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="api",
            root=str(root),
            id_col="uid",
            text_col="body",
            embedding_col="vec",
            metadata_col="stars",
            metadata_key="rating",
            n_buckets=n_buckets,
        ),
    )
    return str(root)


def test_query_prefilters_then_ranks(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    # nearest to [1,0] overall is id 1.0, but rating 5.0 fails the
    # filter; survivors {2,3,4} rank by cosine: 2 (.994) > 4 (.110) > 3 (0)
    got = collection_query(
        spark, root, "api", [1.0, 0.0], n_results=2,
        where={"rating": {"$lte": 3}}, score_decimals=4,
    ).collect()
    assert [r["id"] for r in got] == ["2.0", "4.0"]
    assert got[0]["score"] > got[1]["score"]
    assert got[0]["metadata"] == {"rating": "3.0"}


def test_query_where_document_and_metadata_compose(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    got = collection_query(
        spark, root, "api", [0.0, 1.0], n_results=5,
        where={"rating": {"$gte": 1}},
        where_document={"$contains": "blue"},
    ).collect()
    assert [r["id"] for r in got] == ["3.0", "4.0"]


def test_query_wrong_dim_raises(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    with pytest.raises(EngineError):
        collection_query(spark, root, "api", [1.0, 0.0, 0.0])


def test_query_include_distance_is_chroma_convention(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    got = collection_query(
        spark, root, "api", [1.0, 0.0], n_results=5, include_distance=True
    ).collect()
    # cosine metric: distance = 1 - similarity, ascending best-first
    for r in got:
        assert abs(r["distance"] - (1.0 - r["score"])) < 1e-12
    dists = [r["distance"] for r in got]
    assert dists == sorted(dists)


def test_where_operators(spark, tmp_path):
    root = _hydrated(spark, tmp_path)

    def ids(where):
        return sorted(
            r["id"] for r in collection_get(spark, root, "api", where=where).collect()
        )

    assert ids({"rating": 3}) == ["2.0", "3.0"]            # implicit $eq, numeric
    assert ids({"rating": {"$ne": 3}}) == ["1.0", "4.0", "5.0"]
    assert ids({"rating": {"$gt": 3}}) == ["1.0", "5.0"]
    assert ids({"rating": {"$in": [1, 5]}}) == ["1.0", "4.0"]
    assert ids({"rating": {"$nin": [1, 3]}}) == ["1.0", "5.0"]
    assert ids({"$or": [{"rating": 5}, {"rating": 1}]}) == ["1.0", "4.0"]
    assert ids({"$and": [{"rating": {"$gte": 3}}, {"rating": {"$lte": 4}}]}) == [
        "2.0", "3.0", "5.0",
    ]
    # $ne/$nin are set complements (current Chroma semantics): docs
    # lacking the key entirely DO match the negation
    assert ids({"nope": {"$ne": "x"}}) == ["1.0", "2.0", "3.0", "4.0", "5.0"]
    assert ids({"nope": {"$nin": ["x"]}}) == ["1.0", "2.0", "3.0", "4.0", "5.0"]
    # ...while positive operators still require the key to be present
    assert ids({"nope": {"$in": ["x"]}}) == []


def test_get_pagination_is_id_ordered(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    page1 = collection_get(spark, root, "api", limit=2).collect()
    page2 = collection_get(spark, root, "api", limit=2, offset=2).collect()
    page3 = collection_get(spark, root, "api", limit=2, offset=4).collect()
    got = [r["id"] for r in page1 + page2 + page3]
    assert got == ["1.0", "2.0", "3.0", "4.0", "5.0"]
    with pytest.raises(EngineError):
        collection_get(spark, root, "api", offset=3)


def test_get_by_ids_prunes_buckets(spark, tmp_path):
    root = _hydrated(spark, tmp_path, n_buckets=16)
    df = collection_get(spark, root, "api", ids=["1.0"])
    assert [r["id"] for r in df.collect()] == ["1.0"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "id_bucket" in plan


def test_delete_by_ids_bucketed_touches_only_affected_buckets(spark, tmp_path):
    from tests.test_hydrate import _bucket_dirs

    root = _hydrated(spark, tmp_path, n_buckets=16)
    before = _bucket_dirs(tmp_path, "api")
    deleted = collection_delete(spark, root, "api", ids=["2.0", "nope"])
    assert deleted == 1
    assert collection_count(spark, root, "api") == 4
    after = _bucket_dirs(tmp_path, "api")
    changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    assert len(changed) <= 2  # only buckets of "2.0" / "nope" rewrote
    assert sorted(
        r["id"] for r in read_collection(spark, root, "api").collect()
    ) == ["1.0", "3.0", "4.0", "5.0"]


def test_delete_emptying_a_bucket_removes_it(spark, tmp_path):
    # 1 bucket -> deleting every row must leave an empty collection,
    # not resurrect old files (dynamic overwrite writes no partitions)
    root = _hydrated(spark, tmp_path, n_buckets=1)
    deleted = collection_delete(
        spark, root, "api", ids=[f"{i}.0" for i in range(1, 6)]
    )
    assert deleted == 5
    assert collection_count(spark, root, "api") == 0


def test_delete_where_flat_layout_swaps_atomically(spark, tmp_path):
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        current_data_dir,
    )

    root = _hydrated(spark, tmp_path)
    old_dir = current_data_dir(root, "api")
    deleted = collection_delete(
        spark, root, "api",
        where={"rating": {"$lte": 3}}, where_document={"$contains": "red"},
    )
    assert deleted == 1  # only id 2.0 matches both (3.0 is blue)
    assert sorted(
        r["id"] for r in read_collection(spark, root, "api").collect()
    ) == ["1.0", "3.0", "4.0", "5.0"]
    assert current_data_dir(root, "api") != old_dir  # pointer swapped
    assert os.path.basename(current_data_dir(root, "api")).startswith("data-")


def test_delete_requires_a_predicate(spark, tmp_path):
    root = _hydrated(spark, tmp_path)
    with pytest.raises(EngineError):
        collection_delete(spark, root, "api")


def test_peek_includes_embeddings(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_peek,
    )

    root = _hydrated(spark, tmp_path)
    got = collection_peek(spark, root, "api", n=2).collect()
    assert [r["id"] for r in got] == ["1.0", "2.0"]
    assert all(len(r["embedding"]) == 2 for r in got)


def test_update_existing_only(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_get,
        collection_update,
    )

    root = _hydrated(spark, tmp_path)
    updates = spark.createDataFrame(
        [("1.0", "alpha rewritten"), ("99.0", "ghost")],
        "id string, document string",
    )
    n = collection_update(spark, root, "api", updates)
    assert n == 1  # ghost id ignored, not inserted
    rows = {r["id"]: r["document"] for r in collection_get(spark, root, "api").collect()}
    assert rows["1.0"] == "alpha rewritten"
    assert "99.0" not in rows
    assert len(rows) == 5
    # untouched fields survive
    assert rows["2.0"] == "bravo red dog"


def test_update_validates_embedding_dim(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )

    root = _hydrated(spark, tmp_path)
    bad = spark.createDataFrame(
        [("1.0", [1.0, 2.0, 3.0])], "id string, embedding array<float>"
    )
    with pytest.raises(EngineError):
        collection_update(spark, root, "api", bad)


def test_update_bucketed_rewrites_touched_buckets(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_get,
        collection_update,
    )

    root = _hydrated(spark, tmp_path, n_buckets=4)
    updates = spark.createDataFrame(
        [("3.0", "charlie updated")], "id string, document string"
    )
    assert collection_update(spark, root, "api", updates) == 1
    rows = {r["id"]: r["document"] for r in collection_get(spark, root, "api").collect()}
    assert rows["3.0"] == "charlie updated" and len(rows) == 5


def test_bucketed_delete_and_update_are_crash_atomic(spark, tmp_path, monkeypatch):
    """A simulated crash AFTER the staging write but BEFORE the
    pointer swap must leave the collection exactly on its prior state:
    the swap is the single commit point for bucketed delete/update, so
    readers never observe mixed bucket state."""
    import vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api as api
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )

    root = _hydrated(spark, tmp_path, n_buckets=4)
    before = sorted(
        (r["id"], r["document"])
        for r in read_collection(spark, root, "api").collect()
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before pointer swap")

    monkeypatch.setattr(api, "swap_data_dir", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        collection_delete(spark, root, "api", ids=["2.0"])
    with pytest.raises(RuntimeError, match="simulated crash"):
        collection_update(
            spark,
            root,
            "api",
            spark.createDataFrame([("3.0", "mutated")], "id string, document string"),
        )
    after = sorted(
        (r["id"], r["document"])
        for r in read_collection(spark, root, "api").collect()
    )
    assert after == before
    monkeypatch.undo()

    # the real swap then commits the whole rewrite at once: pointer
    # moves to a fresh versioned dir, untouched buckets ride along
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        current_data_dir,
    )

    old_dir = current_data_dir(root, "api")
    assert collection_delete(spark, root, "api", ids=["2.0"]) == 1
    assert current_data_dir(root, "api") != old_dir
    assert sorted(
        r["id"] for r in read_collection(spark, root, "api").collect()
    ) == ["1.0", "3.0", "4.0", "5.0"]


def test_update_bulk_prunes_without_collecting_ids(spark, tmp_path):
    """Bucketed update pruning must be computed distributed: the
    driver sees only the distinct bucket set (<= n_buckets ints),
    never the update id list. Guard: a bulk update against a small
    bucket count still updates correctly and touches all buckets at
    most once."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )

    root = _hydrated(spark, tmp_path, n_buckets=2)
    updates = spark.createDataFrame(
        [(f"{i}.0", f"doc {i} v2") for i in range(1, 6)],
        "id string, document string",
    )
    assert collection_update(spark, root, "api", updates) == 5
    rows = {
        r["id"]: r["document"]
        for r in collection_get(spark, root, "api").collect()
    }
    assert rows == {f"{i}.0": f"doc {i} v2" for i in range(1, 6)}


def test_modify_rename_and_metadata(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_count,
        load_manifest,
        modify_collection,
    )

    root = _hydrated(spark, tmp_path)
    m = modify_collection(root, "api", new_name="api2", metadata={"owner": "t"})
    assert m.name == "api2" and m.metadata == {"owner": "t"}
    assert load_manifest(root, "api2").metadata == {"owner": "t"}
    assert collection_count(spark, root, "api2") == 5
    with pytest.raises(Exception):
        load_manifest(root, "api")


def test_time_travel_read_previous_version(spark, tmp_path):
    """retain_previous=True keeps the pre-update dir readable: the
    previous version still shows old metadata, versions lists both
    dirs, and a zero-horizon vacuum sweeps the retained one."""
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
        read_collection,
        vacuum_collection,
    )

    rows = [(i, f"doc {i}", [float(i), 0.0], "old") for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, embedding array<float>, tag string"
    )
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="tt",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
        metadata_col="tag",
    )
    hydrate(spark, df, cfg)

    updates = spark.createDataFrame(
        [(str(i), {"tag": "new"}) for i in range(0, 10, 2)],
        "id string, metadata map<string,string>",
    )
    n = collection_update(spark, root, "tt", updates, retain_previous=True)
    assert n == 5

    versions = collection_versions(root, "tt")
    assert len(versions) == 2 and versions[-1][1] and not versions[0][1]
    prev_name = versions[0][0]

    cur = read_collection(spark, root, "tt")
    prev = read_collection(spark, root, "tt", version=prev_name)
    assert (
        cur.filter(F.col("metadata")["tag"] == "new").count() == 5
    )
    assert prev.filter(F.col("metadata")["tag"] == "new").count() == 0
    assert prev.count() == cur.count() == 10

    removed = vacuum_collection(root, "tt", older_than_s=0.0)
    assert any(prev_name in r for r in removed)
    assert len(collection_versions(root, "tt")) == 1


def test_vacuum_keep_last_retention(spark, tmp_path):
    """keep_last protects the NEWEST retained versions from the age
    horizon (VACUUM ... RETAIN), while crash orphans — dirs without
    the committed-retained marker — stay sweepable."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
        vacuum_collection,
    )

    rows = [(i, f"doc {i}", [float(i), 0.0], "old") for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, embedding array<float>, tag string"
    )
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="ret",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
        metadata_col="tag",
    )
    hydrate(spark, df, cfg)
    for tag in ("mid", "new"):
        updates = spark.createDataFrame(
            [(str(i), {"tag": tag}) for i in range(0, 10, 2)],
            "id string, metadata map<string,string>",
        )
        collection_update(spark, root, "ret", updates, retain_previous=True)

    versions = collection_versions(root, "ret")
    assert len(versions) == 3  # original + mid retained + active
    oldest, newest_retained = versions[0][0], versions[1][0]

    # a crash orphan: staged dir with no retained marker, never swapped
    orphan = os.path.join(root, "ret", "data-99")
    os.makedirs(orphan)

    removed = vacuum_collection(root, "ret", older_than_s=0.0, keep_last=1)
    assert any(oldest in r for r in removed)
    assert any("data-99" in r for r in removed)  # orphan not protected
    assert not any(newest_retained in r for r in removed)
    remaining = collection_versions(root, "ret")
    assert [v for v, _ in remaining] == [newest_retained, versions[2][0]]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        vacuum_collection(root, "ret", keep_last=-1)


def test_read_collection_unknown_version_raises_typed(spark, tmp_path):
    """Typed EngineError (not a raw Spark path error) for a version
    that does not exist — same error contract as missing tables."""
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    df = spark.createDataFrame(
        [(1, "a", [1.0, 0.0])], "doc_id int, text string, embedding array<float>"
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="nv",
            root=str(tmp_path),
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    with pytest.raises(EngineError, match="unknown collection version"):
        read_collection(spark, str(tmp_path), "nv", version="data-99")


def test_cms_depth_guard(spark):
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.operators.sketch import (
        cms_counters,
    )

    df = spark.range(5).selectExpr("id as k")
    with pytest.raises(ValueError, match="slice budget"):
        cms_counters(df, "k", depth=5, width=16)


def test_collection_diff_classifies_changes(spark, tmp_path):
    """Diff of a version against itself is empty; an embedding-only
    rewrite surfaces as 'changed' (payload compare covers all three
    fields, with maps compared as sorted entries)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_diff,
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
    )

    rows = [(i, f"doc {i}", [float(i), 1.0], "t") for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, embedding array<float>, tag string"
    )
    root = str(tmp_path)
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="cd",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="tag",
        ),
    )
    updates = spark.createDataFrame(
        [("2", [9.0, 9.0])], "id string, embedding array<float>"
    )
    collection_update(spark, root, "cd", updates, retain_previous=True)
    prev = [v for v, active in collection_versions(root, "cd") if not active][0]

    got = {
        r["id"]: r["change"]
        for r in collection_diff(spark, root, "cd", from_version=prev).collect()
    }
    assert got == {"2": "changed"}  # embedding-only change detected

    active = [v for v, a in collection_versions(root, "cd") if a][0]
    same = collection_diff(
        spark, root, "cd", from_version=active, to_version=active
    ).collect()
    assert same == []


# ---------------------------------------------------------------------------
# Client-level surface: create (strict) / list / delete collections.
# ---------------------------------------------------------------------------


def test_create_collection_strict_vs_get_or_create(tmp_path):
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        InvalidPathError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        create_collection,
        get_or_create_collection,
    )

    m = create_collection(str(tmp_path), "c_strict", dim=8)
    assert m.dim == 8
    # strict: same params still an error
    with pytest.raises(InvalidPathError, match="already exists"):
        create_collection(str(tmp_path), "c_strict", dim=8)
    # idempotent path still fine
    assert get_or_create_collection(str(tmp_path), "c_strict", dim=8).dim == 8


def test_list_and_delete_collections(spark, tmp_path):
    import os

    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        CollectionNotFoundError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        create_collection,
        delete_collection,
        list_collections,
    )

    root = str(tmp_path)
    create_collection(root, "alpha", dim=4)
    create_collection(root, "beta", dim=8, n_buckets=4)
    os.makedirs(os.path.join(root, "not_a_collection"))  # skipped, not an error

    got = list_collections(root)
    assert [m.name for m in got] == ["alpha", "beta"]
    assert got[1].n_buckets == 4

    delete_collection(root, "alpha")
    assert [m.name for m in list_collections(root)] == ["beta"]
    assert not os.path.exists(os.path.join(root, "alpha"))
    with pytest.raises(CollectionNotFoundError):
        delete_collection(root, "alpha")
    assert list_collections(str(tmp_path / "missing_root")) == []


def test_collection_name_traversal_rejected(spark, tmp_path):
    """Names are single path components: a traversal ('../x') or
    absolute name must raise BEFORE any filesystem mutation —
    delete_collection rmtree's the joined path, so an unvalidated
    name could irreversibly delete OUTSIDE the collection root."""
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        InvalidPathError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        create_collection,
        delete_collection,
        load_manifest,
        modify_collection,
    )

    root = str(tmp_path / "colls")
    victim = tmp_path / "victim"
    victim.mkdir()
    (victim / "_manifest.json").write_text("{}")  # decoy manifest
    create_collection(root, "ok", dim=4)

    for bad in ("../victim", "/abs/path", "a/b", "..", "", "."):
        with pytest.raises(InvalidPathError):
            delete_collection(root, bad)
        with pytest.raises(InvalidPathError):
            create_collection(root, bad, dim=4)
        with pytest.raises(InvalidPathError):
            load_manifest(root, bad)
    with pytest.raises(InvalidPathError):
        modify_collection(root, "ok", new_name="../victim2")
    assert victim.exists() and (victim / "_manifest.json").exists()


def test_export_import_roundtrip(spark, tmp_path):
    """export_collection writes a self-contained flat snapshot;
    import_collection restores it (optionally re-bucketed) with rows,
    dim/metric, and collection metadata intact — and refuses to
    overwrite an existing collection."""
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        CollectionNotFoundError,
        InvalidPathError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        export_collection,
        import_collection,
        load_manifest,
        modify_collection,
        read_collection,
    )

    root = str(tmp_path / "src_root")
    rows = [(str(i), f"doc {i}", [float(i), 0.5, -1.0], {"k": "v"}) for i in range(40)]
    df = spark.createDataFrame(
        rows,
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>",
    )
    hydrate(
        spark,
        df,
        HydrationConfig(collection_name="src", root=root, n_buckets=4),
    )
    modify_collection(root, "src", metadata={"owner": "team-a"})

    snap = str(tmp_path / "snapshot")
    export_collection(spark, root, "src", snap)
    # snapshot is self-contained flat parquet + manifest
    assert spark.read.parquet(snap + "/data").count() == 40
    assert "id_bucket" not in spark.read.parquet(snap + "/data").columns

    root2 = str(tmp_path / "dst_root")
    m = import_collection(spark, snap, root2, name="restored", n_buckets=2)
    got = read_collection(spark, root2, "restored")
    assert got.count() == 40
    assert sorted(r["id"] for r in got.select("id").collect()) == sorted(
        r[0] for r in rows
    )
    m2 = load_manifest(root2, "restored")
    assert m2.dim == 3 and m2.n_buckets == 2
    assert m2.metadata == {"owner": "team-a"}
    # bucketed layout actually materialized
    bucketed = read_collection(spark, root2, "restored", include_bucket=True)
    assert "id_bucket" in bucketed.columns
    assert bucketed.select("id_bucket").distinct().count() == 2

    # refuses to clobber live data
    with pytest.raises(InvalidPathError):
        import_collection(spark, snap, root2, name="restored")
    # non-snapshot dir is a typed error
    with pytest.raises(CollectionNotFoundError):
        import_collection(spark, str(tmp_path / "nope"), root2, name="x")


def test_query_batch_matches_single_queries(spark, tmp_path):
    """collection_query_batch must reproduce collection_query row-for-
    row per embedding (same filters, same metric conventions), carry
    the positional qid, and honor include_distance."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query,
        collection_query_batch,
    )

    root = _hydrated(spark, tmp_path)
    vecs = [[1.0, 0.0], [0.0, 1.0]]
    batch = collection_query_batch(
        spark, root, "api", vecs, n_results=3,
        where={"rating": {"$lte": 4}}, score_decimals=4,
        include_distance=True,
    ).collect()
    for qid, v in enumerate(vecs):
        single = collection_query(
            spark, root, "api", v, n_results=3,
            where={"rating": {"$lte": 4}}, score_decimals=4,
            include_distance=True,
        ).collect()
        got = [r for r in batch if r["qid"] == qid]
        assert [r["id"] for r in got] == [r["id"] for r in single]
        assert [r["score"] for r in got] == [r["score"] for r in single]
        assert [r["document"] for r in got] == [r["document"] for r in single]
        assert [r["rank"] for r in got] == list(range(1, len(single) + 1))
        # shared precision contract: distance derives from the
        # UNROUNDED score on BOTH entry points, byte-identical
        for r, s in zip(got, single):
            assert abs(r["distance"] - s["distance"]) < 1e-12
            # and within rounding slack of the rounded score
            assert abs(r["distance"] - (1.0 - r["score"])) < 5e-5

    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.errors import EngineError

    with pytest.raises(EngineError):
        collection_query_batch(spark, root, "api", [])
    with pytest.raises(EngineError):
        collection_query_batch(spark, root, "api", [[1.0, 0.0, 0.0]])


def test_collection_query_ivf_kfill_across_killed_cells(spark, tmp_path):
    """The filtered-IVF serving path's k-fill guarantee: the predicate
    matches ONLY rows in the cell FARTHEST from the query (metadata
    correlated with vector position — the classic filtered-ANN
    failure). Starting at nprobe=1 the first probes find zero
    candidates; the probe set must double until the matching cell is
    reached, and the final rows must equal collection_query's exact
    filtered scan byte-for-byte. Also pinned: the exhaustion path on
    a predicate with fewer matches than k, and the unfiltered probe
    short-circuit."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_ivf,
    )

    dim = 8
    rows = []
    for i in range(40):
        c = i % 4
        v = [0.0] * dim
        v[c] = 10.0
        v[4] = i * 0.01  # distinct vectors, stable ranks
        rows.append(
            (float(i), f"doc {i}", v, "rare" if c == 3 else "common")
        )
    df = spark.createDataFrame(
        rows, "uid double, body string, vec array<double>, lang string"
    )
    root = str(tmp_path)
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="fivf",
            root=root,
            id_col="uid",
            text_col="body",
            embedding_col="vec",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "fivf")
    C = np.eye(4, dim) * 10.0
    assigned = _assign_to_centroids(
        coll, C, id_col="id", embedding_col="embedding", metric="l2"
    )
    idx = f"{root}/fivf/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "fivf"),
        build={"metric": "l2", "seed": 42},
    )

    qvec = [0.0] * dim
    qvec[0] = 10.0  # nearest cell 0; every match lives in cell 3
    kw = dict(
        n_results=5,
        index_path=idx,
        where={"lang": "rare"},
        score_decimals=4,
    )
    got = collection_query_ivf(
        spark, root, "fivf", qvec, nprobe=1, **kw
    ).collect()
    want = collection_query(
        spark, root, "fivf", qvec, n_results=5,
        where={"lang": "rare"}, score_decimals=4,
    ).collect()
    assert len(got) == 5  # k filled despite 3 dead cells
    assert got == want

    # exhaustion: fewer matches than k -> every match, exact order
    got_all = collection_query_ivf(
        spark, root, "fivf", qvec, n_results=50, index_path=idx,
        where={"lang": "rare"}, nprobe=1, score_decimals=4,
    ).collect()
    want_all = collection_query(
        spark, root, "fivf", qvec, n_results=50,
        where={"lang": "rare"}, score_decimals=4,
    ).collect()
    assert len(got_all) == 10
    assert got_all == want_all

    # unfiltered: the first probe fills k from the query's own cell —
    # no expansion, and (cell-0 rows dominating the cosine order here)
    # the rows equal the exact scan's
    got_uf = collection_query_ivf(
        spark, root, "fivf", qvec, n_results=5, index_path=idx, nprobe=1,
        score_decimals=4,
    ).collect()
    assert len(got_uf) == 5
    assert all(float(r["id"]) % 4 == 0 for r in got_uf)
    assert got_uf == collection_query(
        spark, root, "fivf", qvec, n_results=5, score_decimals=4
    ).collect()


def test_export_import_with_index_restamps_and_serves(spark, tmp_path):
    """Indexes shipped in a snapshot serve under the IMPORTED
    collection with zero rebuild: the import re-stamps their sidecars
    to the new identity + current etag, so the verified read paths
    accept them — while reading the SAME index dir copied WITHOUT the
    re-stamp raises StaleIndexError (what stranded pre-r12 snapshots
    did). Also pinned: export refuses a missing index name, import
    refuses to overwrite an existing index dir, and unstamped indexes
    ship as-is."""
    import json
    import os
    import shutil

    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        InvalidPathError,
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        export_collection,
        import_collection,
    )

    root = str(tmp_path / "src_root")
    _hydrated(spark, root)
    coll = read_collection(spark, root, "api")
    assigned, C = ivf_build(coll, n_centroids=2, seed=7)
    ivf_write(
        assigned, C, f"{root}/api/_ivf", metric="cosine",
        source=(root, "api"),
        build={"metric": "l2", "seed": 7, "sample_fraction": None},
    )

    snap = str(tmp_path / "snap")
    with pytest.raises(InvalidPathError, match="no index directory"):
        export_collection(
            spark, root, "api", snap, include_indexes=["_missing"]
        )
    export_collection(spark, root, "api", snap, include_indexes=["_ivf"])
    assert os.path.isdir(os.path.join(snap, "indexes", "_ivf"))

    root2 = str(tmp_path / "dst_root")
    import_collection(spark, snap, root2)
    # verified read: passes ONLY because the sidecar was re-stamped
    a2, C2, _m = ivf_read(spark, f"{root2}/api/_ivf")
    assert a2.count() == coll.count()
    meta = json.load(open(f"{root2}/api/_ivf/ivf_index.json"))
    assert meta["source"]["root"] == root2 and meta["source"]["name"] == "api"
    qvec = [1.0, 0.0]
    top = ivf_search(
        a2, C2, qvec, k=1, nprobe=2, metric="cosine", score_decimals=4
    ).first()
    assert top["id"] == "1.0"

    # the counterfactual: WITHOUT a re-stamp the shipped index still
    # points at the SOURCE collection — once the source moves on
    # (exactly the scenario snapshots exist for), the stale stamp is
    # refused, while the re-stamped import keeps serving
    raw = str(tmp_path / "dst_root" / "api" / "_ivf_noredo")
    shutil.copytree(os.path.join(snap, "indexes", "_ivf"), raw)
    collection_delete(spark, root, "api", ids=["5.0"])  # source mutates
    with pytest.raises(StaleIndexError):
        ivf_read(spark, raw)
    a3, _, _ = ivf_read(spark, f"{root2}/api/_ivf")  # import unaffected
    assert a3.count() == 5

    # import refuses to overwrite an existing index dir
    root3 = str(tmp_path / "dst_root3")
    os.makedirs(f"{root3}/api/_ivf")
    with pytest.raises(InvalidPathError, match="refusing to overwrite"):
        import_collection(spark, snap, root3)


def test_export_refuses_stale_or_foreign_index(spark, tmp_path):
    """The export-side gate behind the import's unconditional
    re-stamp: shipping an index whose recorded etag mismatches the
    exported collection would LAUNDER stale rows into a verified
    index on the importing side — export must refuse (and likewise an
    index stamped to a different collection)."""
    import json
    import os

    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _atomic_sidecar_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        export_collection,
    )

    root = str(tmp_path / "src")
    _hydrated(spark, root)
    coll = read_collection(spark, root, "api")
    assigned, C = ivf_build(coll, n_centroids=2, seed=7)
    ivf_write(
        assigned, C, f"{root}/api/_ivf", metric="cosine",
        source=(root, "api"),
        build={"metric": "l2", "seed": 7, "sample_fraction": None},
    )
    # mutate the collection: the index is now stale
    collection_delete(spark, root, "api", ids=["5.0"])
    with pytest.raises(StaleIndexError, match="STALE against"):
        export_collection(
            spark, root, "api", str(tmp_path / "snap1"),
            include_indexes=["_ivf"],
        )
    # foreign stamp: an index stamped to another collection name
    meta = json.load(open(f"{root}/api/_ivf/ivf_index.json"))
    meta["source"]["name"] = "someone_else"
    _atomic_sidecar_write(f"{root}/api/_ivf", "ivf_index.json", meta)
    with pytest.raises(StaleIndexError, match="stamped to collection"):
        export_collection(
            spark, root, "api", str(tmp_path / "snap2"),
            include_indexes=["_ivf"],
        )


def test_collection_query_ivf_pq_kfill_and_exactness(spark, tmp_path):
    """Filtered serving through the COMPRESSED index: the same
    killed-cells k-fill scenario as the IVF test, but the probe scans
    8-byte codes and the floats are touched only for the reranked
    rows. With a rerank budget covering the filtered candidates the
    result equals collection_query's exact filtered scan
    byte-for-byte — through cell expansion, ADC prescreen, and the
    shared rerank tail."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        _encode_assigned,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_ivf_pq,
    )

    dim = 8
    rows = []
    for i in range(40):
        c = i % 4
        v = [0.0] * dim
        v[c] = 10.0
        v[4] = i * 0.01
        rows.append(
            (float(i), f"doc {i}", v, "rare" if c == 3 else "common")
        )
    df = spark.createDataFrame(
        rows, "uid double, body string, vec array<double>, lang string"
    )
    root = str(tmp_path)
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="fpq",
            root=root,
            id_col="uid",
            text_col="body",
            embedding_col="vec",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "fpq")
    C = np.eye(4, dim) * 10.0
    assigned = _assign_to_centroids(
        coll, C, id_col="id", embedding_col="embedding", metric="l2"
    )
    # any deterministic codebooks do: the rerank budget covers every
    # filtered candidate, so ADC only prescreens, never decides
    books = np.stack(
        [
            np.array([[0.05 * a, 0.05 * b] for a in range(-2, 2) for b in range(-2, 2)])
            for _ in range(4)
        ]
    )
    encoded = _encode_assigned(
        assigned, C, books, id_col="id", embedding_col="embedding"
    )
    idx = f"{root}/fpq/_ivfpq"
    ivf_pq_write(encoded, C, books, idx, source=(root, "fpq"))

    qvec = [0.0] * dim
    qvec[0] = 10.0  # nearest cell 0; every 'rare' match lives in cell 3
    got = collection_query_ivf_pq(
        spark, root, "fpq", qvec, n_results=5, index_path=idx, nprobe=1,
        where={"lang": "rare"}, rerank_factor=8, score_decimals=4,
    ).collect()
    want = collection_query(
        spark, root, "fpq", qvec, n_results=5,
        where={"lang": "rare"}, score_decimals=4,
    ).collect()
    assert len(got) == 5  # k filled across 3 dead cells
    assert got == want

    # exhaustion: fewer matches than k
    got_all = collection_query_ivf_pq(
        spark, root, "fpq", qvec, n_results=50, index_path=idx, nprobe=1,
        where={"lang": "rare"}, rerank_factor=8, score_decimals=4,
    ).collect()
    assert len(got_all) == 10
    assert got_all == collection_query(
        spark, root, "fpq", qvec, n_results=50,
        where={"lang": "rare"}, score_decimals=4,
    ).collect()


def test_collection_query_batch_ivf_per_query_fill(spark, tmp_path):
    """Batch filtered-IVF serving expands probe width PER QUERY: a
    query whose filtered matches live in its own nearest cell settles
    in the first round, while one whose matches the filter stranded
    in the farthest cell expands until it fills — and both come back
    identical to the exact single-query path, in one batch result."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_ivf,
    )

    dim = 8
    rows = []
    for i in range(40):
        c = i % 4
        v = [0.0] * dim
        v[c] = 10.0
        v[4] = i * 0.01
        rows.append(
            (float(i), f"doc {i}", v, "rare" if c == 3 else "common")
        )
    df = spark.createDataFrame(
        rows, "uid double, body string, vec array<double>, lang string"
    )
    root = str(tmp_path)
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="bq",
            root=root,
            id_col="uid",
            text_col="body",
            embedding_col="vec",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "bq")
    C = np.eye(4, dim) * 10.0
    assigned = _assign_to_centroids(
        coll, C, id_col="id", embedding_col="embedding", metric="l2"
    )
    idx = f"{root}/bq/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "bq"),
        build={"metric": "l2", "seed": 42},
    )

    qA = [0.0] * dim
    qA[3] = 10.0  # matches live in ITS nearest cell: fills at p=1
    qB = [0.0] * dim
    qB[0] = 10.0  # matches live in the FARTHEST cell: must expand
    got = collection_query_batch_ivf(
        spark, root, "bq", [qA, qB], n_results=5, index_path=idx,
        nprobe=1, where={"lang": "rare"}, score_decimals=4,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(
            (r["rank"], r["id"], r["score"])
        )
    for qid, qvec in ((0, qA), (1, qB)):
        want = [
            (i + 1, r["id"], r["score"])
            for i, r in enumerate(
                collection_query(
                    spark, root, "bq", qvec, n_results=5,
                    where={"lang": "rare"}, score_decimals=4,
                ).collect()
            )
        ]
        assert sorted(by_q[qid]) == want, qid
    assert len(got) == 10


@pytest.fixture(scope="module")
def dot_ivf(spark, tmp_path_factory):
    """A dot collection in two clusters around centroids of unequal
    norm, with two l2-assigned IVF indexes over it: one serving dot,
    one serving cosine."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_write,
    )

    root = str(tmp_path_factory.mktemp("dot_ivf"))
    rows = [(f"a{i}", f"doc a{i}", [1.0 + 0.01 * i, 0.01 * i, 0.0, 0.0])
            for i in range(6)]
    rows += [(f"b{i}", f"doc b{i}", [0.01 * i, 5.0 + 0.01 * i, 0.0, 0.0])
             for i in range(6)]
    hydrate(
        spark,
        spark.createDataFrame(
            rows, "id string, text string, embedding array<float>"
        ),
        HydrationConfig(
            collection_name="dc", root=root, id_col="id",
            text_col="text", embedding_col="embedding", metric="dot",
        ),
    )
    C = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 5.0, 0.0, 0.0]])
    assigned = _assign_to_centroids(
        read_collection(spark, root, "dc"), C, id_col="id",
        embedding_col="embedding", metric="l2",
    )
    for metric in ("dot", "cosine"):
        ivf_write(
            assigned, C, f"{root}/dc/_ivf_{metric}", metric=metric,
            source=(root, "dc"), build={"metric": "l2", "seed": 1},
        )
    return root


def test_ivf_doors_probe_dot_index_by_dot(spark, dot_ivf):
    # q is l2-nearest the short centroid but has the larger inner
    # product with the long one: both IVF doors rank cells by the
    # index's dot metric, so at nprobe=1 they probe the long
    # centroid's cell and return the same rows
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_ivf,
        collection_query_ivf,
    )

    root = dot_ivf
    q = [1.0, 0.5, 0.0, 0.0]
    kw = dict(n_results=3, index_path=f"{root}/dc/_ivf_dot", nprobe=1)
    single = collection_query_ivf(spark, root, "dc", q, **kw).collect()
    batch = collection_query_batch_ivf(spark, root, "dc", [q], **kw).collect()
    assert [r["id"] for r in single] == ["b5", "b4", "b3"]
    assert [(r["id"], r["score"]) for r in batch] == [
        (r["id"], r["score"]) for r in single
    ]


def test_ivf_doors_refuse_index_metric_mismatch(spark, dot_ivf):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_ivf,
        collection_query_ivf,
    )

    root = dot_ivf
    idx = f"{root}/dc/_ivf_cosine"  # serves cosine over a dot collection
    q = [1.0, 0.5, 0.0, 0.0]
    with pytest.raises(EngineError, match="metric"):
        collection_query_ivf(spark, root, "dc", q, index_path=idx)
    with pytest.raises(EngineError, match="metric"):
        collection_query_batch_ivf(spark, root, "dc", [q], index_path=idx)


# ---------------------------------------------------------------------------
# collection_add / collection_upsert: the literal Chroma write front
# doors (parallel-list signature) over the hydrate policies (r14)
# ---------------------------------------------------------------------------


def _add_kwargs(n0=0, n=3, dim=2):
    ids = [f"c{i}" for i in range(n0, n0 + n)]
    return dict(
        ids=ids,
        embeddings=[[float(i % 3), 1.0 - float(i % 3) / 2] for i in range(n0, n0 + n)],
        documents=[f"doc {i} body" for i in range(n0, n0 + n)],
        metadatas=[{"rank": i, "lang": "en"} for i in range(n0, n0 + n)],
    )


def test_collection_add_creates_and_roundtrips_metadata(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
    )

    n = collection_add(spark, str(tmp_path), "capi", **_add_kwargs())
    assert n == 3
    got = {
        r["id"]: (r["document"], dict(r["metadata"]))
        for r in collection_get(spark, str(tmp_path), "capi").collect()
    }
    assert got["c1"] == ("doc 1 body", {"rank": "1", "lang": "en"})
    # typed metadata round-trips through the canonical string map:
    # numeric predicate literals compare numerically (compile_where)
    hits = collection_get(
        spark, str(tmp_path), "capi", where={"rank": {"$gte": 1}}
    ).collect()
    assert sorted(r["id"] for r in hits) == ["c1", "c2"]


_LAYOUTS = [pytest.param(None, id="flat"), pytest.param(4, id="bucketed")]


@pytest.mark.parametrize("n_buckets", _LAYOUTS)
def test_collection_add_duplicate_id_raises(spark, tmp_path, n_buckets):
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        DuplicateIdError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        current_data_dir,
        get_or_create_collection,
    )

    root = str(tmp_path)
    get_or_create_collection(root, "capi", 2, n_buckets=n_buckets)
    collection_add(spark, root, "capi", **_add_kwargs())
    # held id
    with pytest.raises(
        DuplicateIdError, match="id 'c2' already present in collection 'capi'"
    ):
        collection_add(spark, root, "capi", **_add_kwargs(n0=2, n=1))
    # in-batch duplicate
    with pytest.raises(
        DuplicateIdError, match="duplicate id in hydration input: 'x'"
    ):
        collection_add(
            spark, root, "capi",
            ids=["x", "x"],
            embeddings=[[1.0, 0.0], [0.0, 1.0]],
        )
    assert collection_count(spark, root, "capi") == 3
    # an empty add and a delete that matches nothing move no pointer
    current = current_data_dir(root, "capi")
    assert collection_add(spark, root, "capi", ids=[], embeddings=[]) == 0
    assert collection_delete(spark, root, "capi", ids=["nope"]) == 0
    assert current_data_dir(root, "capi") == current
    assert collection_count(spark, root, "capi") == 3


def test_collection_add_validates_before_writing(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
    )

    collection_add(spark, str(tmp_path), "capi", **_add_kwargs())
    # wrong dim vs manifest: whole call refused, nothing written
    with pytest.raises(EngineError, match="dim"):
        collection_add(
            spark, str(tmp_path), "capi",
            ids=["z"], embeddings=[[1.0, 0.0, 0.0]],
        )
    # mixed dims in one batch
    with pytest.raises(EngineError, match="mixed"):
        collection_add(
            spark, str(tmp_path), "capi",
            ids=["z", "y"], embeddings=[[1.0, 0.0], [1.0]],
        )
    # ragged parallel lists
    with pytest.raises(EngineError, match="entries"):
        collection_add(
            spark, str(tmp_path), "capi",
            ids=["z"], embeddings=[[1.0, 0.0]], documents=["a", "b"],
        )
    assert collection_count(spark, str(tmp_path), "capi") == 3


def test_collection_upsert_replaces_and_inserts(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
        collection_upsert,
    )

    collection_add(spark, str(tmp_path), "capi", **_add_kwargs())
    n = collection_upsert(
        spark, str(tmp_path), "capi",
        ids=["c1", "c9"],
        embeddings=[[0.5, 0.5], [0.25, 0.75]],
        documents=["replaced", "fresh"],
        metadatas=[{"rank": 99}, None],
    )
    assert n == 2
    got = {
        r["id"]: (r["document"], dict(r["metadata"]))
        for r in collection_get(spark, str(tmp_path), "capi").collect()
    }
    assert len(got) == 4
    # replace is WHOLE-row (upsert semantics): metadata replaced too
    assert got["c1"] == ("replaced", {"rank": "99"})
    assert got["c9"] == ("fresh", {})


@pytest.mark.parametrize("n_buckets", _LAYOUTS)
def test_collection_add_upsert_keep_ivf_index_servable(spark, tmp_path, n_buckets):
    import json
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
        collection_delete_indexed,
        collection_upsert,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        current_data_dir,
        get_or_create_collection,
    )

    root = str(tmp_path)
    get_or_create_collection(root, "capi", 2, n_buckets=n_buckets)
    collection_add(spark, root, "capi", **_add_kwargs(n=6))
    coll = read_collection(spark, root, "capi")
    assigned, C = ivf_build(coll, n_centroids=2, seed=7)
    idx = f"{root}/capi/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "capi"),
        build={"metric": "l2", "seed": 7, "sample_fraction": None},
    )
    enc, C_pq, books = ivf_pq_build(coll, n_centroids=2, m=2, n_codes=4, seed=7)
    pq_idx = f"{root}/capi/_pq"
    ivf_pq_write(enc, C_pq, books, pq_idx, source=(root, "capi"))
    both = [idx, pq_idx]
    # delete c2 and c3, then ADD c2 back: per Chroma it is not a
    # duplicate, and the index resurrection rides the upsert path
    assert collection_delete_indexed(
        spark, root, "capi", ids=["c2", "c3"], index_paths=both
    ) == 2
    # replaying the completed delete: nothing left to delete, no
    # pointer move, and both indexes stay servable
    current = current_data_dir(root, "capi")
    assert collection_delete_indexed(
        spark, root, "capi", ids=["c2", "c3"], index_paths=both
    ) == 0
    assert current_data_dir(root, "capi") == current
    collection_add(
        spark, root, "capi",
        ids=["c2"], embeddings=[[0.0, 1.0]], documents=["back"],
        index_paths=both,
    )
    # upsert moves c0's vector (the index must serve the NEW one) and
    # resurrects the tombstoned c3
    collection_upsert(
        spark, root, "capi",
        ids=["c0", "c3"], embeddings=[[1.0, 0.0], [0.5, 0.5]],
        documents=["moved", "again"], index_paths=both,
    )
    a, C2, metric = ivf_read(spark, idx)  # fence passes: re-stamped
    assert a.count() == 6  # c0..c5: c2 and c3 deleted, then back
    top = ivf_search(
        a, C2, [1.0, 0.0], k=1, nprobe=2, metric=metric
    ).first()
    assert top["id"] == "c0"
    back = ivf_search(
        a, C2, [0.0, 1.0], k=1, nprobe=2, metric=metric
    ).first()
    assert back["id"] in ("c2", "c1")  # c2 resurrected and scored
    assert a.filter("id = 'c2'").count() == 1
    e, _, _ = ivf_pq_read(spark, pq_idx)
    assert sorted(r["id"] for r in e.collect()) == [f"c{i}" for i in range(6)]
    for path, sc in ((idx, "ivf_index.json"), (pq_idx, "ivf_pq_index.json")):
        meta = json.load(open(os.path.join(path, sc)))
        assert "tombstones" not in meta


def test_graph_doors_refuse_non_cosine_collections(spark, tmp_path):
    # r14 ADVICE: the graph index generates candidates by cosine;
    # serving an l2 collection through it would silently bias
    # non-exhausted top-k. Both graph doors must refuse up front.
    from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
        graph_index_build,
        graph_index_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_graph,
        collection_query_graph,
    )

    root = str(tmp_path)
    df = spark.createDataFrame(
        [(f"i{i}", f"d{i}", [float(i), 1.0]) for i in range(6)],
        "id string, text string, embedding array<float>",
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="l2c", root=root, id_col="id",
            text_col="text", embedding_col="embedding", metric="l2",
        ),
    )
    coll = read_collection(spark, root, "l2c")
    assigned, C = graph_index_build(coll, n_centroids=2, M=2, seed=1)
    idx = f"{root}/l2c/_graph"
    graph_index_write(
        assigned, C, idx, M=2, source=(root, "l2c"), build={"seed": 1}
    )
    with pytest.raises(EngineError, match="cosine"):
        collection_query_graph(
            spark, root, "l2c", [1.0, 1.0], n_results=3, index_path=idx
        )
    with pytest.raises(EngineError, match="cosine"):
        collection_query_batch_graph(
            spark, root, "l2c", [[1.0, 1.0]], n_results=3,
            index_path=idx,
        )


def test_band_index_refuses_documentless_batches(spark, tmp_path):
    # r14 ADVICE: collection_add/upsert with documents=None is legal
    # Chroma, but feeding null text into a cohabiting band index
    # would minhash nulls — refuse with a typed, actionable error.
    from pyspark.sql import functions as F
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
        collection_upsert,
    )

    root = str(tmp_path)
    collection_add(spark, root, "bnull", **_add_kwargs(n=4))
    coll = read_collection(spark, root, "bnull")
    idx = f"{root}/bnull/_band"
    band_index_build(
        coll.select("id", F.col("document").alias("text")),
        idx, id_col="id", text_col="text", source=(root, "bnull"),
    )
    with pytest.raises(EngineError, match="band"):
        collection_add(
            spark, root, "bnull",
            ids=["z1"], embeddings=[[0.5, 0.5]],
            index_paths=[idx],
        )
    with pytest.raises(EngineError, match="band"):
        collection_upsert(
            spark, root, "bnull",
            ids=["c0"], embeddings=[[0.5, 0.5]],
            index_paths=[idx],
        )
    # null ENTRIES are refused too, and the guard fires BEFORE the
    # collection write (validate-before-write: nothing landed)
    with pytest.raises(EngineError, match="band"):
        collection_add(
            spark, root, "bnull",
            ids=["z9"], embeddings=[[0.5, 0.5]], documents=[None],
            index_paths=[idx],
        )
    assert collection_count(spark, root, "bnull") == 4
    # documents present: both doors pass through the band path
    n = collection_add(
        spark, root, "bnull",
        ids=["z1"], embeddings=[[0.5, 0.5]],
        documents=["a fresh z document body"],
        index_paths=[idx],
    )
    assert n == 1



@pytest.fixture(scope="module")
def refusal_paths(spark, tmp_path_factory):
    """A 6-row collection, a graph index over it and an empty dir."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
        graph_index_build,
        graph_index_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
    )

    root = str(tmp_path_factory.mktemp("refuse"))
    collection_add(spark, root, "r", **_add_kwargs(n=6))
    assigned, C = graph_index_build(
        read_collection(spark, root, "r"), n_centroids=2, M=2, seed=1
    )
    graph = f"{root}/r/_graph"
    graph_index_write(
        assigned, C, graph, M=2, source=(root, "r"), build={"seed": 1}
    )
    empty = f"{root}/r/_empty"
    os.makedirs(empty)
    return root, {"no sidecar": empty, "graph sidecar": graph}


def _write_through(door, spark, root, paths):
    from vector_databases___hydrate_chroma_db_collection_spark.plans import (
        chroma_api as api,
    )

    if door == "add":
        return api.collection_add(
            spark, root, "r", ids=["n1"], embeddings=[[0.5, 0.5]],
            documents=["new"], index_paths=paths,
        )
    if door == "upsert":
        return api.collection_upsert(
            spark, root, "r", ids=["c0"], embeddings=[[0.5, 0.5]],
            documents=["moved"], index_paths=paths,
        )
    if door == "update":
        return api.collection_update_indexed(
            spark, root, "r",
            spark.createDataFrame(
                [("c0", [0.5, 0.5])], "id string, embedding array<float>"
            ),
            index_paths=paths,
        )
    return api.collection_delete_indexed(
        spark, root, "r", ids=["c1"], index_paths=paths
    )


@pytest.mark.parametrize("door", ["add", "upsert", "update", "delete"])
def test_write_doors_refuse_bad_index_paths_before_writing(
    spark, refusal_paths, door
):
    """An index path that holds no maintained sidecar, or holds a graph
    index (which no write door maintains), is refused before the
    collection commits."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
    )

    root, paths = refusal_paths
    for what, path in paths.items():
        before = collection_etag(root, "r")
        with pytest.raises(EngineError, match="Nothing was written"):
            _write_through(door, spark, root, [path])
        assert collection_etag(root, "r") == before, what
    assert collection_count(spark, root, "r") == 6


def test_indexed_update_indexes_the_row_the_collection_took(spark, tmp_path):
    """Two update rows for one id: the collection keeps one of them
    (per-id dedupe, then a NULL field keeps the stored value), and the
    index must hold the embedding the collection ended up with."""
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update_indexed,
    )

    root = str(tmp_path / "root")
    hydrate(
        spark,
        spark.createDataFrame(
            [(str(i), f"text {i}", [float(i + j) for j in range(4)])
             for i in range(12)],
            "id string, text string, embedding array<float>",
        ),
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
        ),
    )
    assigned, C = ivf_build(read_collection(spark, root, "c"), n_centroids=2, seed=1)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))
    updates = spark.createDataFrame(
        [("2", "new text", None), ("2", None, [9.0] * 4)],
        "id string, document string, embedding array<float>",
    )
    assert collection_update_indexed(
        spark, root, "c", updates, index_paths=[idx]
    ) == 1
    stored = read_collection(spark, root, "c").filter(F.col("id") == "2").first()
    a, _, _ = ivf_read(spark, idx)  # fence passes
    assert a.count() == 12
    assert a.filter(F.col("id") == "2").first()["embedding"] == stored["embedding"]


def test_include_parameter_parity(spark, tmp_path):
    """Chroma's literal include=[...] on get/peek/query (r15): the
    caller controls the payload columns (ids always return); unknown
    entries raise; distances is query-only; uris/data name the
    unsupported multimodal loaders in a typed error."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_peek,
    )

    root = _hydrated(spark, tmp_path)
    # get default: documents+metadatas
    assert collection_get(spark, root, "api").columns == [
        "id", "document", "metadata",
    ]
    # get with embeddings, canonical order regardless of list order
    got = collection_get(
        spark, root, "api", include=["metadatas", "embeddings"]
    )
    assert got.columns == ["id", "embedding", "metadata"]
    assert len(got.first()["embedding"]) == 2
    # ids-only projection
    assert collection_get(spark, root, "api", include=[]).columns == ["id"]
    # peek default keeps embeddings; narrowed include narrows
    assert collection_peek(spark, root, "api").columns == [
        "id", "document", "embedding", "metadata",
    ]
    assert collection_peek(
        spark, root, "api", include=["documents"]
    ).columns == ["id", "document"]
    # query: include controls payload and ORs distances in
    q = collection_query(
        spark, root, "api", [1.0, 0.0], n_results=2,
        include=["embeddings", "distances"], score_decimals=4,
    )
    assert q.columns == ["id", "embedding", "score", "distance"]
    rows = q.collect()
    assert len(rows) == 2 and len(rows[0]["embedding"]) == 2
    assert abs(rows[0]["distance"]) < 1e-6  # exact self-match
    # errors: distances on get, unknown entry, multimodal loaders
    with pytest.raises(EngineError, match="distances"):
        collection_get(spark, root, "api", include=["distances"])
    with pytest.raises(EngineError, match="unknown include"):
        collection_get(spark, root, "api", include=["documents", "nope"])
    with pytest.raises(EngineError, match="multimodal"):
        collection_query(
            spark, root, "api", [1.0, 0.0], include=["uris"]
        )


def test_delete_every_row_of_one_bucket(spark, tmp_path):
    """A bucketed id delete that empties one touched bucket writes no
    file for it; the other buckets clone forward. Count and rows equal
    the retained parent version minus the deleted ids."""
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
    )

    root = _hydrated(spark, tmp_path, n_buckets=4)
    raw = read_collection(spark, root, "api", include_bucket=True)
    by_bucket = {}
    for r in raw.collect():
        by_bucket.setdefault(r["id_bucket"], []).append(r["id"])
    assert len(by_bucket) > 1
    bucket, doomed = min(by_bucket.items())
    assert collection_delete(
        spark, root, "api", ids=doomed, retain_previous=True
    ) == len(doomed)
    prev = next(d for d, active in collection_versions(root, "api") if not active)
    want = sorted(
        read_collection(spark, root, "api", version=prev)
        .filter(~F.col("id").isin(doomed))
        .collect()
    )
    assert collection_count(spark, root, "api") == len(want)
    assert sorted(read_collection(spark, root, "api").collect()) == want
    assert bucket not in {
        r["id_bucket"]
        for r in read_collection(
            spark, root, "api", include_bucket=True
        ).collect()
    }


# Spark jobs per call of each front door on a 50-row bucketed
# collection with an IVF-PQ index. They do not depend on row count:
# a rise means a new fixed per-call action (a list-backed client frame,
# a schema-inference read, a bookkeeping count). The write doors settle
# their ids on the driver: add = stored-id probe + append + cell write;
# upsert = bucket rewrite + index id probe + cell write (shuffle and
# write); delete = bucket rewrite + index id probe + tombstone
# recording write. The read doors make one collect per k-fill round,
# and the delete's tombstones add the mask's broadcast to that round:
# query = tombstone broadcast + ADC round + finalists' rerank; batch
# query = tombstone broadcast + ADC round + the batch tail's
# broadcast of the candidate rows + its scoring collect. An embedding
# update of two held ids takes the held rows from one checkpoint
# (dim check + bucket set + held-rows checkpoint + bucket rewrite,
# then the index's surgical upsert).
ADD_JOBS = 3
UPSERT_JOBS = 4
DELETE_JOBS = 3
QUERY_JOBS = 3
BATCH_QUERY_JOBS = 4
UPDATE_JOBS = 26


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_indexed_front_doors_job_budget(spark, tmp_path):
    import numpy as np
    from pyspark.sql.types import _parse_datatype_string

    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        _chroma_items_df,
        collection_add,
        collection_delete_indexed,
        collection_query_batch_ivf_pq,
        collection_query_ivf_pq,
        collection_update_indexed,
        collection_upsert,
    )

    dim, root, name, idx = 8, str(tmp_path), "budget", str(tmp_path / "idx")
    X = np.random.default_rng(5).standard_normal((60, dim)).round(3)

    def items(lo, hi):
        return dict(
            ids=[f"d{i}" for i in range(lo, hi)],
            embeddings=X[lo:hi].tolist(),
            documents=[f"doc {i}" for i in range(lo, hi)],
            metadatas=[{"i": i} for i in range(lo, hi)],
        )

    hydrate(
        spark,
        _chroma_items_df(spark, **items(0, 50)),
        HydrationConfig(
            collection_name=name, root=root, metadata_col="metadata",
            n_buckets=4,
        ),
    )
    enc, C, B = ivf_pq_build(
        read_collection(spark, root, name), n_centroids=4, m=4, n_codes=16,
        seed=1,
    )
    ivf_pq_write(enc, C, B, idx, source=(root, name))

    frame = _chroma_items_df(spark, **items(50, 55))
    assert frame.schema == _parse_datatype_string(
        "id string, document string, embedding array<float>, "
        "metadata map<string,string>"
    )
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    updates = spark.createDataFrame(
        [("d3", X[56].tolist()), ("d4", X[57].tolist())],
        "id string, embedding array<float>",
    )

    got = {
        "add": _jobs_in(spark, "budget_add", lambda: collection_add(
            spark, root, name, index_paths=[idx], **items(50, 55))),
        "upsert": _jobs_in(spark, "budget_upsert", lambda: collection_upsert(
            spark, root, name, index_paths=[idx], **items(45, 55))),
        "delete": _jobs_in(spark, "budget_delete", lambda: collection_delete_indexed(
            spark, root, name, ids=["d1", "d2", "d52"], index_paths=[idx])),
        "query": _jobs_in(spark, "budget_query", lambda: collection_query_ivf_pq(
            spark, root, name, X[7].tolist(), 5, index_path=idx, nprobe=4,
        ).collect()),
        "batch_query": _jobs_in(spark, "budget_batch", lambda: collection_query_batch_ivf_pq(
            spark, root, name, [X[7].tolist(), X[9].tolist()], 5,
            index_path=idx, nprobe=4,
        ).collect()),
        "update": _jobs_in(spark, "budget_update", lambda: collection_update_indexed(
            spark, root, name, updates, index_paths=[idx])),
    }
    assert collection_count(spark, root, name) == 52
    assert got == {
        "add": ADD_JOBS, "upsert": UPSERT_JOBS,
        "delete": DELETE_JOBS, "query": QUERY_JOBS,
        "batch_query": BATCH_QUERY_JOBS, "update": UPDATE_JOBS,
    }
