"""Surgical upserts on the persisted IVF / IVF-PQ indexes.

The CRUD middle between ``ivf_append`` (refuses known ids) and
``ivf_delete`` + compact (full purge): ``ivf_upsert`` replaces the
indexed vectors for a batch of ids by rewriting ONLY the cell
partitions holding their old rows — untouched cells hardlink-clone
forward — and commits delete+add in one sidecar swap. These tests pin
value replacement, pure adds, the hardlink claim (inode equality
across versions), tombstone resurrection, replay idempotence, the
etag fence, the PQ twin, and the composed
``collection_update_indexed`` front door.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    EngineError,
    StaleIndexError,
    TombstonedIdError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_append,
    ivf_build,
    ivf_delete,
    ivf_read,
    ivf_search,
    ivf_upsert,
    ivf_write,
)


def _corpus(spark, n=40, dim=4):
    rows = [
        (str(i), [float((i * 7 + j * 3) % 11) + 0.25 * j for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id string, embedding array<float>")


def _mk_index(spark, tmp_path, n=40, n_centroids=4):
    df = _corpus(spark, n)
    assigned, C = ivf_build(df, n_centroids=n_centroids, seed=42)
    idx = str(tmp_path / "idx")
    ivf_write(
        assigned, C, idx, metric="cosine",
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    return idx


def _batch(spark, pairs):
    return spark.createDataFrame(pairs, "id string, embedding array<float>")


def test_upsert_replaces_and_adds(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    n_upd, n_add = ivf_upsert(
        spark, idx, _batch(spark, [("3", [9.0] * 4), ("99", [7.0] * 4)])
    )
    assert (n_upd, n_add) == (1, 1)
    assigned, _, _ = ivf_read(spark, idx)
    assert assigned.count() == 41
    got = {r["id"]: r["embedding"] for r in assigned.filter(
        F.col("id").isin(["3", "99"])
    ).collect()}
    assert got == {"3": [9.0] * 4, "99": [7.0] * 4}
    # the new vector serves: exhaustive probe finds the update
    _a, C, m = (assigned, *ivf_read(spark, idx)[1:])
    top = ivf_search(assigned, C, [9.0] * 4, k=1, nprobe=4, metric=m).first()
    assert top["id"] == "3"


def test_upsert_is_replay_idempotent(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    batch = _batch(spark, [("5", [1.0, 2.0, 3.0, 4.0])])
    assert ivf_upsert(spark, idx, batch) == (1, 0)
    # replay: replacing a row with itself converges — same counts,
    # same content, still exactly one physical row for the id
    assert ivf_upsert(spark, idx, batch) == (1, 0)
    phys, _, _ = ivf_read(spark, idx, include_tombstoned=True)
    assert phys.filter(F.col("id") == "5").count() == 1
    assert phys.count() == 40


def test_upsert_touches_only_affected_cells(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    meta0 = json.load(open(os.path.join(idx, "ivf_index.json")))
    loc0 = os.path.join(idx, meta0["location"])
    inodes_before = {}
    for d in os.listdir(loc0):
        if d.startswith("ivf_cell="):
            for f in os.listdir(os.path.join(loc0, d)):
                if f.endswith(".parquet"):
                    inodes_before[(d, f)] = os.stat(
                        os.path.join(loc0, d, f)
                    ).st_ino
    # replace one id with ITS OWN vector: exactly one cell is touched
    row = (
        spark.read.parquet(loc0)
        .filter(F.col("id") == "3")
        .select("id", "embedding")
        .collect()[0]
    )
    old_cell = int(
        spark.read.parquet(loc0).filter(F.col("id") == "3")
        .select("ivf_cell").first()[0]
    )
    ivf_upsert(spark, idx, _batch(spark, [(row["id"], list(row["embedding"]))]))
    meta1 = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert meta1["location"] != meta0["location"]
    loc1 = os.path.join(idx, meta1["location"])
    same_inode = rewritten = 0
    for d in os.listdir(loc1):
        if not d.startswith("ivf_cell="):
            continue
        cell = int(d.split("=", 1)[1])
        for f in os.listdir(os.path.join(loc1, d)):
            if not f.endswith(".parquet"):
                continue
            ino = os.stat(os.path.join(loc1, d, f)).st_ino
            if inodes_before.get((d, f)) == ino:
                same_inode += 1
                assert cell != old_cell  # touched cell never hardlinked
            else:
                rewritten += 1
    assert same_inode > 0  # untouched cells carried by hardlink
    assert rewritten > 0  # the touched cell was rewritten


def test_upsert_writes_one_file_per_touched_cell(spark, tmp_path):
    """A multi-partition batch still lands as ONE data file per cell it
    touches (the ivf_write / ivf_compact layout rule): without the
    per-cell shuffle every map task writes its own file into every
    cell it reaches."""
    idx = _mk_index(spark, tmp_path)
    loc0 = os.path.join(idx, json.load(open(os.path.join(idx, "ivf_index.json")))["location"])
    before = {
        d: sorted(os.listdir(os.path.join(loc0, d)))
        for d in os.listdir(loc0) if d.startswith("ivf_cell=")
    }
    pairs = [
        (str(i), [float((i * 5 + j) % 9) + 0.5 * j for j in range(4)])
        for i in list(range(0, 40, 3)) + list(range(100, 112))
    ]
    batch = _batch(spark, pairs).repartition(4)
    assert batch.rdd.getNumPartitions() == 4
    ivf_upsert(spark, idx, batch)
    loc1 = os.path.join(idx, json.load(open(os.path.join(idx, "ivf_index.json")))["location"])
    touched = {
        d: [f for f in os.listdir(os.path.join(loc1, d)) if f.endswith(".parquet")]
        for d in os.listdir(loc1)
        if d.startswith("ivf_cell=")
        and sorted(os.listdir(os.path.join(loc1, d))) != before.get(d)
    }
    assert len(touched) >= 2
    assert {d: len(fs) for d, fs in touched.items()} == {d: 1 for d in touched}


def test_upsert_resurrects_tombstoned_id(spark, tmp_path):
    idx = _mk_index(spark, tmp_path)
    ivf_delete(spark, idx, ["7", "8"])
    with pytest.raises(TombstonedIdError):
        ivf_append(spark, idx, _batch(spark, [("7", [6.0] * 4)]))
    # upsert purges the old row in its rewrite, so the ambiguity the
    # append refusal guards against cannot arise
    assert ivf_upsert(spark, idx, _batch(spark, [("7", [6.0] * 4)])) == (1, 0)
    assigned, _, _ = ivf_read(spark, idx)
    row = assigned.filter(F.col("id") == "7").collect()
    assert len(row) == 1 and row[0]["embedding"] == [6.0] * 4
    # id 8 stays tombstoned
    assert assigned.filter(F.col("id") == "8").count() == 0
    meta = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert meta["tombstones"]["n"] == 1


def test_upsert_fence_on_foreign_mutation(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    root = str(tmp_path / "root")
    df = spark.createDataFrame(
        [(str(i), f"d{i}", [float(i + j) for j in range(4)]) for i in range(10)],
        "id string, text string, embedding array<float>",
    )
    hydrate(
        spark, df,
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "sidx")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))
    # same fence contract as append/delete: expected_prev_etag is
    # checked against the RECORDED stamp — a mutation someone else
    # already stamped over (recorded != what this caller observed)
    # refuses; the caller's own collection mutation (which moves the
    # CURRENT etag past the recorded one) passes and re-stamps.
    etag_before = collection_etag(root, "c")
    collection_delete(spark, root, "c", ids=["9"])
    ivf_delete(spark, idx, ["9"], expected_prev_etag=etag_before)
    # index now records the post-delete etag; an upsert still holding
    # the PRE-delete observation must refuse
    with pytest.raises(StaleIndexError, match="mutated"):
        ivf_upsert(
            spark, idx, _batch(spark, [("1", [0.0] * 4)]),
            expected_prev_etag=etag_before,
        )
    # ... and with the honest observation it proceeds
    etag_now = collection_etag(root, "c")
    assert ivf_upsert(
        spark, idx, _batch(spark, [("1", [0.0] * 4)]),
        expected_prev_etag=etag_now,
    ) == (1, 0)


def test_pq_upsert_twin(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_upsert,
        ivf_pq_write,
    )

    df = _corpus(spark, n=40, dim=8)
    enc, C, books = ivf_pq_build(df, n_centroids=2, m=4, n_codes=8, seed=1)
    idx = str(tmp_path / "pq")
    ivf_pq_write(enc, C, books, idx)
    old_code = (
        spark.read.parquet(
            os.path.join(idx, json.load(open(os.path.join(idx, "ivf_pq_index.json")))["location"])
        )
        .filter(F.col("id") == "3")
        .first()["pq_code"]
    )
    assert ivf_pq_upsert(
        spark, idx,
        spark.createDataFrame(
            [("3", [50.0] * 8), ("99", [1.0] * 8)],
            "id string, embedding array<float>",
        ),
    ) == (1, 1)
    encoded, _, _ = ivf_pq_read(spark, idx)
    assert encoded.count() == 41
    new_code = encoded.filter(F.col("id") == "3").first()["pq_code"]
    assert list(new_code) != list(old_code)  # re-encoded for the new vector
    assert encoded.filter(F.col("id") == "3").count() == 1


def test_collection_update_indexed_front_door(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = str(tmp_path / "root")
    df = spark.createDataFrame(
        [(str(i), f"text of document {i}", [float(i + j) for j in range(4)])
         for i in range(12)],
        "id string, text string, embedding array<float>",
    )
    hydrate(
        spark, df,
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))
    bidx = str(tmp_path / "band")
    band_index_build(
        coll, bidx, id_col="id", text_col="document", source=(root, "c")
    )

    # embedding update: IVF upserts surgically; unknown ids ignored
    # (Chroma update semantics) and NOT indexed; band index (text
    # unchanged) just re-stamps
    ups = spark.createDataFrame(
        [("2", [9.0] * 4), ("777", [1.0] * 4)],
        "id string, embedding array<float>",
    )
    n = collection_update_indexed(
        spark, root, "c", ups, index_paths=[idx, bidx]
    )
    assert n == 1
    a, _, _ = ivf_read(spark, idx)  # fence passes
    assert a.count() == 12  # 777 NOT added
    assert a.filter(F.col("id") == "2").first()["embedding"] == [9.0] * 4
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_read,
    )

    band_index_read(spark, bidx)  # fence passes (healed stamp)

    # document update against a band-index path: refused UP FRONT,
    # nothing mutated
    doc_ups = spark.createDataFrame(
        [("2", "rewritten text")], "id string, document string"
    )
    with pytest.raises(EngineError, match="band index"):
        collection_update_indexed(
            spark, root, "c", doc_ups, index_paths=[idx, bidx]
        )
    assert read_collection(spark, root, "c").filter(
        F.col("document") == "rewritten text"
    ).count() == 0
    # ... while the same update with only the vector index listed
    # commits and heals that index's stamp
    n2 = collection_update_indexed(
        spark, root, "c", doc_ups, index_paths=[idx]
    )
    assert n2 == 1
    a2, _, _ = ivf_read(spark, idx)
    assert a2.count() == 12


def test_collection_update_indexed_band_text_modes(spark, tmp_path):
    """r13: text updates on band-indexed paths through the composed
    front door — band_text_mode='apply_now' (one atomic part rewrite,
    gate reflects new text immediately) and 'defer' (queued; the
    honest window serves the OLD text's bands until a compact drains,
    with the audit recommending compaction while pending)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_audit,
        band_index_bucket_keys,
        band_index_build,
        band_index_compact,
        band_index_meta,
        band_index_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        novelty_gate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = str(tmp_path / "root")
    texts = {
        i: f"doc {i} discusses topic{i * 7} and subject{i * 13} plus filler{i * 3}"
        for i in range(8)
    }
    df = spark.createDataFrame(
        [(str(i), texts[i], [float(i + j) for j in range(4)]) for i in range(8)],
        "id string, text string, embedding array<float>",
    )
    hydrate(
        spark, df,
        HydrationConfig(
            collection_name="c", root=root, id_col="id",
            text_col="text", embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))
    bidx = str(tmp_path / "band")
    band_index_build(
        coll, bidx, id_col="id", text_col="document", source=(root, "c")
    )

    def gate(pairs):
        meta = band_index_meta(bidx)
        out = novelty_gate(
            spark.createDataFrame(pairs, "id string, text string"),
            band_index_bucket_keys(spark, bidx),
            id_col="id",
            text_col="text",
            n=meta["n"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
        )
        return {r["id"]: bool(r["novel"]) for r in out.collect()}

    # -- apply_now: served immediately --------------------------------
    new3 = "a completely rewritten essay on oceans tides and currents"
    n = collection_update_indexed(
        spark, root, "c",
        spark.createDataFrame([("3", new3)], "id string, document string"),
        index_paths=[idx, bidx],
        band_text_mode="apply_now",
    )
    assert n == 1
    band_index_read(spark, bidx)  # fence passes
    assert gate([("a", texts[3]), ("b", new3)]) == {"a": True, "b": False}
    assert (
        read_collection(spark, root, "c")
        .filter(F.col("id") == "3")
        .first()["document"]
        == new3
    )
    # -- defer: honest window, audit trigger, compact drain ------------
    new4 = "an unrelated manifesto concerning mountains glaciers and snow"
    n2 = collection_update_indexed(
        spark, root, "c",
        spark.createDataFrame([("4", new4)], "id string, document string"),
        index_paths=[idx, bidx],
        band_text_mode="defer",
    )
    assert n2 == 1
    band_index_read(spark, bidx)  # re-stamped: fence passes
    aud = band_index_audit(spark, bidx).first()
    assert aud["deferred_updates"] == 1 and aud["compact_recommended"]
    # window: OLD text still gates, new text reads novel
    assert gate([("a", texts[4]), ("b", new4)]) == {"a": False, "b": True}
    band_index_compact(spark, bidx)
    assert gate([("a", texts[4]), ("b", new4)]) == {"a": True, "b": False}
    assert (
        read_collection(spark, root, "c")
        .filter(F.col("id") == "4")
        .first()["document"]
        == new4
    )
    # -- all-NULL document column (per-field semantics: keep stored
    # text): no apply rewrite, no empty queue entry — stamp-heal only
    n3 = collection_update_indexed(
        spark, root, "c",
        spark.createDataFrame(
            [("5", None, [9.0] * 4)],
            "id string, document string, embedding array<float>",
        ),
        index_paths=[idx, bidx],
        band_text_mode="defer",
    )
    assert n3 == 1
    band_index_read(spark, bidx)  # fence passes (healed stamp)
    assert band_index_audit(spark, bidx).first()["deferred_updates"] == 0
    assert gate([("a", texts[5])]) == {"a": False}  # text untouched
