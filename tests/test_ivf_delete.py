"""Tombstone-based deletes on the persisted IVF / IVF-PQ indexes.

The CRUD completion of the incremental-ingest story: ``ivf_append``
(r10) made adds O(batch); ``ivf_delete`` (r12) makes deletes O(batch)
via tombstones — masked at read, refused at re-append, physically
purged at compaction (Lucene deleted-docs / FAISS remove_ids
semantics). These tests pin the mask, the etag re-stamp, replay
idempotence, the foreign-mutation fence, the append refusal, the
compaction purge, the maintenance trigger, and the composed
``collection_delete_indexed`` front door.
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
    ivf_balance_audit,
    ivf_build,
    ivf_compact,
    ivf_delete,
    ivf_read,
    ivf_recall_audit,
    ivf_tombstoned_ids,
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
    return idx, df


def test_delete_masks_read_but_keeps_physical_rows(spark, tmp_path):
    idx, df = _mk_index(spark, tmp_path)
    n = ivf_delete(spark, idx, ["3", "11", "29"])
    assert n == 3
    assigned, _C, _m = ivf_read(spark, idx)
    ids = {r["id"] for r in assigned.select("id").collect()}
    assert not ids & {"3", "11", "29"}
    assert len(ids) == 37
    # physical rows untouched until compaction
    phys, _, _ = ivf_read(spark, idx, include_tombstoned=True)
    assert phys.count() == 40
    ts = {r["_ts_id"] for r in ivf_tombstoned_ids(spark, idx).collect()}
    assert ts == {"3", "11", "29"}


@pytest.mark.parametrize("as_frame", [False, True], ids=["list", "frame"])
def test_delete_replay_and_unknown_ids_are_noops(spark, tmp_path, as_frame):
    # a list is settled on the driver, a DataFrame in Spark
    def ids(*xs):
        if not as_frame:
            return list(xs)
        return spark.createDataFrame([(x,) for x in xs], "id string")

    idx, _df = _mk_index(spark, tmp_path)
    assert ivf_delete(spark, idx, ids("5")) == 1
    meta_before = json.load(open(os.path.join(idx, "ivf_index.json")))
    # replay of the same delete: already tombstoned -> 0, sidecar
    # byte-identical (no new recording version)
    assert ivf_delete(spark, idx, ids("5")) == 0
    meta_after = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert meta_after == meta_before
    # ids the index never held: dropped by the Bloom prescreen +
    # exact check, nothing recorded
    assert ivf_delete(spark, idx, ids("no-such-id", "also-missing", "5")) == 0
    meta_after2 = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert meta_after2["tombstones"]["n"] == 1
    # a second delete extends the recording with exactly its new id
    assert ivf_delete(spark, idx, ids("6", "6", "5", "nope")) == 1
    ts = {r["_ts_id"] for r in ivf_tombstoned_ids(spark, idx).collect()}
    assert ts == {"5", "6"}


def test_append_of_tombstoned_id_refused_until_compact(spark, tmp_path):
    idx, _df = _mk_index(spark, tmp_path)
    ivf_delete(spark, idx, ["7"])
    batch = spark.createDataFrame(
        [("7", [9.0, 9.0, 9.0, 9.0])], "id string, embedding array<float>"
    )
    with pytest.raises(TombstonedIdError, match="ivf_compact"):
        ivf_append(spark, idx, batch)
    ivf_compact(spark, idx)
    assert ivf_append(spark, idx, batch) == 1
    assigned, _C, _m = ivf_read(spark, idx)
    row = assigned.filter(F.col("id") == "7").collect()
    assert len(row) == 1  # exactly the NEW row, served (mask cleared)
    assert row[0]["embedding"] == [9.0, 9.0, 9.0, 9.0]


def test_compact_purges_and_clears_recordings(spark, tmp_path):
    idx, _df = _mk_index(spark, tmp_path)
    ivf_delete(spark, idx, [str(i) for i in range(10)])
    phys, _, _ = ivf_read(spark, idx, include_tombstoned=True)
    assert phys.count() == 40
    ivf_compact(spark, idx)
    meta = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert "tombstones" not in meta
    assert not [
        d for d in os.listdir(idx) if d.startswith("ivf_tombstones_v")
    ]
    phys2, _, _ = ivf_read(spark, idx, include_tombstoned=True)
    assert phys2.count() == 30


def test_compact_refuses_to_empty_the_index(spark, tmp_path):
    idx, _df = _mk_index(spark, tmp_path, n=6, n_centroids=2)
    ivf_delete(spark, idx, [str(i) for i in range(6)])
    with pytest.raises(EngineError, match="every row"):
        ivf_compact(spark, idx)
    # the refusal left the index intact: mask still serves nothing,
    # physical rows still present
    assigned, _, _ = ivf_read(spark, idx)
    assert assigned.count() == 0
    phys, _, _ = ivf_read(spark, idx, include_tombstoned=True)
    assert phys.count() == 6


def test_orphan_recording_dir_is_gcd_at_next_commit(spark, tmp_path):
    idx, _df = _mk_index(spark, tmp_path)
    ivf_delete(spark, idx, ["1"])
    # simulate a crash AFTER a later delete wrote its merged
    # recording but BEFORE the sidecar swap: an orphan version dir
    os.makedirs(os.path.join(idx, "ivf_tombstones_v99"))
    assigned, _, _ = ivf_read(spark, idx)
    assert assigned.count() == 39  # orphan invisible to readers
    ivf_delete(spark, idx, ["2"])  # next commit GCs non-kept versions
    dirs = [d for d in os.listdir(idx) if d.startswith("ivf_tombstones_v")]
    meta = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert dirs == [meta["tombstones"]["location"]]
    assert meta["tombstones"]["n"] == 2
    # monotonic versioning: the new recording floored ABOVE the
    # orphan is not required (orphans are unreferenced), but above
    # the previously COMMITTED location it must be
    assert int(meta["tombstones"]["location"].rsplit("_v", 1)[1]) >= 2


def test_recall_audit_sees_only_logical_rows(spark, tmp_path):
    idx, df = _mk_index(spark, tmp_path)
    # tombstone a third of the corpus; neither the query draw nor the
    # ground truth may touch them
    dead = [str(i) for i in range(0, 40, 3)]
    ivf_delete(spark, idx, dead)
    rep = ivf_recall_audit(spark, idx, k=3, n_queries=10, nprobe=4)
    rows = rep.collect()
    assert 0 < len(rows) <= 10
    assert not {str(r["qid"]) for r in rows} & set(dead)
    # exhaustive probe == ground truth -> perfect recall on the
    # logical set (any tombstoned hit would deflate it)
    assert all(r["recall_at_k"] == 1.0 for r in rows)
    # balance audit's logical row count agrees with the mask
    bal = ivf_balance_audit(spark, idx)
    assert sum(r["n_rows"] for r in bal.collect()) == 40 - len(dead)


def _hydrated(spark, root, rows, name="c"):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    df = spark.createDataFrame(
        rows, "id string, text string, lang string, embedding array<float>"
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name=name,
            root=root,
            id_col="id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    return read_collection(spark, root, name)


def test_stamped_delete_restamps_and_fences(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
    )

    root = str(tmp_path / "root")
    coll = _hydrated(
        spark,
        root,
        [
            (str(i), f"doc {i}", "en",
             [float((i * 5 + j) % 7) for j in range(4)])
            for i in range(20)
        ],
    )
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "sidx")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))

    etag_before = collection_etag(root, "c")
    collection_delete(spark, root, "c", ids=["4", "9"])
    # stale until the tombstone re-stamp...
    with pytest.raises(StaleIndexError):
        ivf_read(spark, idx)
    assert ivf_delete(
        spark, idx, ["4", "9"], expected_prev_etag=etag_before
    ) == 2
    assigned2, _, _ = ivf_read(spark, idx)  # fence passes again
    assert assigned2.count() == 18

    # foreign-mutation fence: a SECOND collection mutation the caller
    # did not make -> the stale observation must refuse to re-stamp
    etag_mid = collection_etag(root, "c")
    collection_delete(spark, root, "c", ids=["15"])
    with pytest.raises(StaleIndexError, match="mutated"):
        ivf_delete(spark, idx, ["8"], expected_prev_etag=etag_before)
    # ... while the honest observation (etag_mid) passes
    assert ivf_delete(
        spark, idx, ["15", "8"], expected_prev_etag=etag_mid
    ) == 2


def test_predicate_delete_matching_zero_rows_still_heals_stamp(
    spark, tmp_path
):
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete_indexed,
    )

    root = str(tmp_path / "root")
    coll = _hydrated(
        spark,
        root,
        [
            (str(i), f"doc {i}", "en", [float(i + j) for j in range(4)])
            for i in range(8)
        ],
    )
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "sidx")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"))

    # matches nothing, but the predicate path swaps the data dir —
    # without the heal the index would be stale forever
    n = collection_delete_indexed(
        spark, root, "c", where={"lang": "zz"}, index_paths=[idx]
    )
    assert n == 0
    assigned2, _, _ = ivf_read(spark, idx)
    assert assigned2.count() == 8


def test_collection_delete_indexed_both_index_kinds(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_append,
        ivf_pq_build,
        ivf_pq_compact,
        ivf_pq_read,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete_indexed,
    )

    root = str(tmp_path / "root")
    coll = _hydrated(
        spark,
        root,
        [
            (str(i), f"doc {i}", "fr" if i % 4 == 0 else "en",
             [float((i * 3 + j) % 9) for j in range(8)])
            for i in range(32)
        ],
    )
    assigned, C = ivf_build(coll, n_centroids=2, seed=1, metric="l2")
    ivf_idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, ivf_idx, metric="l2", source=(root, "c"))
    enc, C2, books = ivf_pq_build(
        coll, n_centroids=2, m=4, n_codes=8, seed=1
    )
    pq_idx = str(tmp_path / "pq")
    ivf_pq_write(enc, C2, books, pq_idx, source=(root, "c"))

    n = collection_delete_indexed(
        spark, root, "c", where={"lang": "fr"},
        index_paths=[ivf_idx, pq_idx],
    )
    assert n == 8
    a, _, _ = ivf_read(spark, ivf_idx)  # both fences pass, both mask
    assert a.count() == 24
    e, _, _ = ivf_pq_read(spark, pq_idx)
    assert e.count() == 24

    # PQ twin of the refusal + purge + re-append lifecycle
    batch = spark.createDataFrame(
        [("0", [1.0] * 8)], "id string, embedding array<float>"
    )
    with pytest.raises(TombstonedIdError, match="ivf_pq_compact"):
        ivf_pq_append(spark, pq_idx, batch)
    ivf_pq_compact(spark, pq_idx)
    meta = json.load(open(os.path.join(pq_idx, "ivf_pq_index.json")))
    assert "tombstones" not in meta
    e2, _, _ = ivf_pq_read(spark, pq_idx, verify_source=False,
                           include_tombstoned=True)
    assert e2.count() == 24  # purged physically


def test_maintenance_tick_compacts_on_tombstone_fraction(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
        MaintenancePolicy,
        ivf_maintenance,
    )

    idx, _df = _mk_index(spark, tmp_path)
    policy = MaintenancePolicy(
        every=1, compact=True, tombstone_threshold=0.2,
        files_per_cell_threshold=1e9,  # isolate the tombstone trigger
    )
    # 4/40 = 10% < 20%: surfaced but not compacted
    ivf_delete(spark, idx, [str(i) for i in range(4)])
    tick = ivf_maintenance(spark, idx, policy, audit=False)
    assert tick["tombstone_fraction"] == pytest.approx(0.1)
    assert not tick["compacted"]
    # 12/40 = 30% > 20%: compacts and purges
    ivf_delete(spark, idx, [str(i) for i in range(4, 12)])
    tick2 = ivf_maintenance(spark, idx, policy, audit=False)
    assert tick2["compacted"]
    meta = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert "tombstones" not in meta
    tick3 = ivf_maintenance(spark, idx, policy, audit=False)
    assert tick3["tombstone_fraction"] == 0.0 and not tick3["compacted"]


def test_tagged_replay_bypasses_tombstone_refusal(spark, tmp_path):
    """A Structured Streaming replay of a COMPLETED tagged append
    whose ids were since deleted must republish (no-op via the
    id-guard), not raise TombstonedIdError — the refusal is for fresh
    batches re-adding deleted ids."""
    idx, _df = _mk_index(spark, tmp_path)
    batch = spark.createDataFrame(
        [("777", [9.0] * 4)], "id string, embedding array<float>"
    )
    assert ivf_append(spark, idx, batch, tag="t#1") == 1
    ivf_delete(spark, idx, ["777"])  # deleted after the append
    # replay of the same tagged batch: bypass + guard-skip, 0 new
    assert ivf_append(spark, idx, batch, tag="t#1") == 0
    # a FRESH tag with the same id still refuses
    with pytest.raises(TombstonedIdError):
        ivf_append(spark, idx, batch, tag="t#2")


def test_maintenance_defers_when_all_rows_tombstoned(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
        MaintenancePolicy,
        ivf_maintenance,
    )

    idx, _df = _mk_index(spark, tmp_path, n=6, n_centroids=2)
    ivf_delete(spark, idx, [str(i) for i in range(6)])
    policy = MaintenancePolicy(
        every=1, compact=True, tombstone_threshold=0.2,
        files_per_cell_threshold=1e9,
    )
    tick = ivf_maintenance(spark, idx, policy, audit=False)
    # fraction over threshold but == 1.0: DEFERRED, not crashed
    assert tick["tombstone_fraction"] == pytest.approx(1.0)
    assert not tick["compacted"]
    # fresh rows drop the fraction below 1 -> the next tick compacts
    ivf_upsert(
        spark, idx,
        spark.createDataFrame(
            [(str(100 + i), [float(i)] * 4) for i in range(6)],
            "id string, embedding array<float>",
        ),
    )
    tick2 = ivf_maintenance(spark, idx, policy, audit=False)
    assert tick2["compacted"]
