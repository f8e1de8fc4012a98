"""Tombstone-based deletes on the persisted MinHash band index.

The text-side twin of tests/test_ivf_delete.py: a document removed
from the corpus must stop BLOCKING near-duplicates of itself in the
novelty gate — but only when no SURVIVING document shares its
content. ``band_index_delete`` records doc-id tombstones (masking
``bands``/``shingles``/``sizes`` and refusing re-appends) plus the
RETIRED ``(band, h)`` keys (keys with no surviving contributor,
masked out of ``band_index_bucket_keys``); appends un-retire keys a
new batch re-introduces; ``band_index_compact`` purges physically.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    EngineError,
    StaleIndexError,
    TombstonedIdError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
    band_index_append,
    band_index_bucket_keys,
    band_index_build,
    band_index_compact,
    band_index_delete,
    band_index_meta,
    band_index_read,
    band_index_read_verified,
    band_index_tombstoned_ids,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
    novelty_gate,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river today"),
    (2, "completely different content about spark partitions and shuffles"),
    (3, "a third unique document discussing minhash signatures and bands"),
    # 4 shares doc 3's text VERBATIM: deleting 3 alone must NOT
    # un-gate the content — 4 still owns every one of its keys
    (4, "a third unique document discussing minhash signatures and bands"),
]


def _mk(spark, tmp_path, shingles=True):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    idx = str(tmp_path / "bidx")
    band_index_build(df, idx, include_shingles=shingles)
    return idx


def _gate(spark, idx, pairs):
    meta = band_index_meta(idx)
    inc = spark.createDataFrame(pairs, "doc_id int, text string")
    out = novelty_gate(
        inc,
        band_index_bucket_keys(spark, idx),
        n=meta["n"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
    )
    return {r["doc_id"]: bool(r["novel"]) for r in out.collect()}


def test_delete_ungates_unshared_content_only(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    probes = [(101, DOCS[0][1]), (102, DOCS[1][1]), (103, DOCS[2][1])]
    assert _gate(spark, idx, probes) == {101: False, 102: False, 103: False}
    assert band_index_delete(spark, idx, [1, 3]) == 2
    # doc 1's content had no other owner -> novel again; doc 3's text
    # is also doc 4's, and 4 survives -> still gated duplicate
    assert _gate(spark, idx, probes) == {101: True, 102: False, 103: False}
    ts = {r["_ts_id"] for r in band_index_tombstoned_ids(spark, idx).collect()}
    assert ts == {"1", "3"}
    # deleting 4 as well retires the shared keys too
    assert band_index_delete(spark, idx, [4]) == 1
    assert _gate(spark, idx, probes) == {101: True, 102: False, 103: True}


def test_masked_reads_and_replay_noop(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    assert band_index_delete(spark, idx, [1]) == 1
    bands, meta = band_index_read(spark, idx)
    assert bands.filter(F.col("doc_id") == 1).count() == 0
    b, sh, sz, _m = band_index_read_verified(spark, idx)
    assert sh.filter(F.col("doc_id") == 1).count() == 0
    assert sz.filter(F.col("doc_id") == 1).count() == 0
    # physical rows intact until compaction
    phys, _ = band_index_read(spark, idx, include_tombstoned=True)
    assert phys.filter(F.col("doc_id") == 1).count() > 0
    # replay and never-indexed ids: no-ops, recording unchanged
    assert band_index_delete(spark, idx, [1]) == 0
    assert band_index_delete(spark, idx, [999]) == 0
    assert band_index_meta(idx)["tombstones"]["n"] == 1


def test_append_reintroduction_unretires_keys(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    band_index_delete(spark, idx, [1])
    assert _gate(spark, idx, [(101, DOCS[0][1])]) == {101: True}
    assert band_index_meta(idx)["tombstones"]["n_keys"] > 0
    # a NEW doc re-submits the deleted content: its keys must gate
    # again (the shrink un-retires them), or the gate would admit
    # duplicates of LIVE content forever
    band_index_append(
        spark,
        idx,
        spark.createDataFrame([(50, DOCS[0][1])], "doc_id int, text string"),
    )
    assert _gate(spark, idx, [(101, DOCS[0][1])]) == {101: False}
    assert band_index_meta(idx)["tombstones"]["n_keys"] == 0


def test_refcount_layout_and_decs_recording(spark, tmp_path):
    # r13 layout: bucket_keys carries per-key contributor refcounts,
    # ids carries per-doc key arrays, and deletes retire keys by
    # arithmetic over a cumulative decrements recording — no bands
    # scan. Docs 3 and 4 share identical text, so their keys carry
    # cnt=2; deleting 3 decrements to 1 (key survives), deleting 4
    # decrements to 0 (key retires) — across TWO separate deletes,
    # which only works if the decs recording accumulates.
    import json

    idx = _mk(spark, tmp_path)
    meta = band_index_meta(idx)
    assert "cnt" in meta["ddl"]["bucket_keys"]
    ids_loc = os.path.join(idx, meta["locations"]["ids"])
    ids_df = spark.read.parquet(ids_loc)
    assert "_keys" in ids_df.columns
    assert ids_df.count() == 4
    # shared text => shared keys with cnt=2 (3 and 4 are verbatim)
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        _read_part,
    )

    keys = _read_part(spark, idx, "bucket_keys", meta)
    assert keys.filter(F.col("cnt") == 2).count() > 0
    band_index_delete(spark, idx, [3])
    m1 = band_index_meta(idx)
    assert m1["tombstones"].get("decs_location")
    # 4 still owns the shared content: nothing retired yet for it
    assert _gate(spark, idx, [(103, DOCS[2][1])]) == {103: False}
    band_index_delete(spark, idx, [4])
    assert _gate(spark, idx, [(103, DOCS[2][1])]) == {103: True}
    m2 = band_index_meta(idx)
    decs = spark.read.parquet(
        os.path.join(idx, m2["tombstones"]["decs_location"])
    )
    # cumulative: the shared keys carry dec=2 after both deletes
    assert decs.filter(F.col("dec") == 2).count() > 0
    # compact purges all three recordings and recounts cnt exactly
    band_index_compact(spark, idx)
    m3 = band_index_meta(idx)
    assert "tombstones" not in m3
    assert not [
        d for d in os.listdir(idx) if d.startswith("key_decs_v")
    ]
    keys3 = _read_part(spark, idx, "bucket_keys", m3)
    assert keys3.filter(F.col("cnt") != 1).count() == 0  # survivors 1,2


def test_defer_updates_queue_and_compact_drain(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_audit,
        band_index_defer_updates,
        band_index_deferred_updates,
    )

    idx = _mk(spark, tmp_path)
    new_text = "a wholly rewritten first document about oceans and tides"
    n = band_index_defer_updates(
        spark,
        idx,
        spark.createDataFrame([(1, new_text)], "doc_id int, text string"),
    )
    assert n == 1
    # the honest window: until the drain, the index serves the
    # PRE-update bands — old text still gates duplicate, new is novel
    assert _gate(spark, idx, [(101, DOCS[0][1])]) == {101: False}
    assert _gate(spark, idx, [(102, new_text)]) == {102: True}
    aud = band_index_audit(spark, idx).first()
    assert aud["deferred_updates"] == 1 and aud["compact_recommended"]
    # a later defer of the same id supersedes the earlier entry
    band_index_defer_updates(
        spark,
        idx,
        spark.createDataFrame(
            [(1, new_text + " second revision")], "doc_id int, text string"
        ),
    )
    q = band_index_deferred_updates(spark, idx)
    assert q.count() == 1
    assert q.first()["_text"].endswith("second revision")
    # the audit reports the RESOLVED queue depth (what the drain will
    # apply), not raw queued rows — a re-queued id counts once (r14)
    aud2 = band_index_audit(spark, idx).first()
    assert aud2["deferred_updates"] == 1 and aud2["compact_recommended"]
    # compact drains: new text gates, old text is novel, queue gone
    band_index_compact(spark, idx)
    meta = band_index_meta(idx)
    assert "deferred_updates" not in meta
    assert not [
        d for d in os.listdir(idx) if d.startswith("deferred_updates_v")
    ]
    assert _gate(spark, idx, [(101, DOCS[0][1])]) == {101: True}
    assert _gate(
        spark, idx, [(102, new_text + " second revision")]
    ) == {102: False}


def test_defer_then_delete_drops_queue_entry(spark, tmp_path):
    # a queued text update for a doc DELETED before the drain must not
    # resurrect it
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_defer_updates,
    )

    idx = _mk(spark, tmp_path)
    new_text = "replacement text that must never reach the index"
    band_index_defer_updates(
        spark,
        idx,
        spark.createDataFrame([(1, new_text)], "doc_id int, text string"),
    )
    band_index_delete(spark, idx, [1])
    band_index_compact(spark, idx)
    b, meta = band_index_read(spark, idx)
    assert sorted(
        r[0] for r in b.select("doc_id").distinct().collect()
    ) == [2, 3, 4]
    assert _gate(spark, idx, [(101, DOCS[0][1]), (102, new_text)]) == {
        101: True,
        102: True,
    }


def test_apply_drains_queue_with_caller_precedence(spark, tmp_path):
    # a direct band_index_apply drains the queue too, its own upserts
    # superseding queue entries for the same id
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_apply,
        band_index_defer_updates,
    )

    idx = _mk(spark, tmp_path)
    band_index_defer_updates(
        spark,
        idx,
        spark.createDataFrame(
            [
                (1, "queued text for doc one about meadows"),
                (2, "superseded queue entry mentioning canyons and plateaus"),
            ],
            "doc_id int, text string",
        ),
    )
    rep = band_index_apply(
        spark,
        idx,
        upserts=spark.createDataFrame(
            [(2, "caller text for doc two wins over the queue")],
            "doc_id int, text string",
        ),
    )
    assert rep["drained"] == 1 and rep["updated"] == 1
    assert "deferred_updates" not in band_index_meta(idx)
    g = _gate(
        spark,
        idx,
        [
            (101, "queued text for doc one about meadows"),  # drained
            (102, "caller text for doc two wins over the queue"),
            (103, "superseded queue entry mentioning canyons and plateaus"),  # superseded
            (104, DOCS[0][1]),  # doc 1 old text replaced -> novel
        ],
    )
    assert g == {101: False, 102: False, 103: True, 104: True}


def test_refcount_delete_after_append_exact(spark, tmp_path):
    # delete of an APPENDED doc whose key also has a build-time
    # contributor: cnt rows span two generations (build + append) and
    # the arithmetic must SUM them — retiring only when both are gone
    idx = _mk(spark, tmp_path)
    band_index_append(
        spark,
        idx,
        spark.createDataFrame([(60, DOCS[1][1])], "doc_id int, text string"),
    )
    probes = [(102, DOCS[1][1])]
    assert _gate(spark, idx, probes) == {102: False}
    band_index_delete(spark, idx, [60])
    # build doc 2 still owns the content
    assert _gate(spark, idx, probes) == {102: False}
    band_index_delete(spark, idx, [2])
    assert _gate(spark, idx, probes) == {102: True}


def test_append_of_tombstoned_id_refused_until_compact(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    band_index_delete(spark, idx, [2])
    batch = spark.createDataFrame(
        [(2, "fresh replacement text")], "doc_id int, text string"
    )
    with pytest.raises(TombstonedIdError, match="band_index_compact"):
        band_index_append(spark, idx, batch)
    band_index_compact(spark, idx)
    meta = band_index_meta(idx)
    assert "tombstones" not in meta
    assert not [
        d
        for d in os.listdir(idx)
        if d.startswith("band_tombstones_v") or d.startswith("removed_keys_v")
    ]
    assert band_index_append(spark, idx, batch) == 1
    assert _gate(spark, idx, [(102, "fresh replacement text")]) == {
        102: False
    }


def test_compact_purges_and_rederives_keys(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    band_index_delete(spark, idx, [1, 3])
    keys_before = band_index_bucket_keys(spark, idx).count()
    band_index_compact(spark, idx)
    # post-purge physical state == logical state served before
    bands, meta = band_index_read(spark, idx, include_tombstoned=True)
    assert sorted(
        r["doc_id"] for r in bands.select("doc_id").distinct().collect()
    ) == [2, 4]
    assert band_index_bucket_keys(spark, idx).count() == keys_before
    # verdicts unchanged across the purge
    assert _gate(
        spark, idx, [(101, DOCS[0][1]), (103, DOCS[2][1])]
    ) == {101: True, 103: False}


def test_compact_refuses_to_empty_the_index(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    band_index_delete(spark, idx, [1, 2, 3, 4])
    with pytest.raises(EngineError, match="every document"):
        band_index_compact(spark, idx)
    # refusal left it intact: everything still masked, rows present
    bands, _ = band_index_read(spark, idx)
    assert bands.count() == 0
    phys, _ = band_index_read(spark, idx, include_tombstoned=True)
    assert phys.count() > 0


def test_stamped_delete_restamps_and_fences(spark, tmp_path):
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
        [(i, t, [float(i), 0.5]) for i, t in DOCS],
        "doc_id int, text string, embedding array<float>",
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="c",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "c")
    idx = str(tmp_path / "bidx")
    band_index_build(
        coll, idx, id_col="id", text_col="document", source=(root, "c")
    )
    etag_before = collection_etag(root, "c")
    collection_delete(spark, root, "c", ids=["1"])
    with pytest.raises(StaleIndexError):
        band_index_read(spark, idx)
    assert (
        band_index_delete(spark, idx, ["1"], expected_prev_etag=etag_before)
        == 1
    )
    bands, _ = band_index_read(spark, idx)  # fence passes again
    assert bands.filter(F.col("id") == "1").count() == 0
    # foreign mutation: a second delete this caller did not observe
    etag_mid = collection_etag(root, "c")
    collection_delete(spark, root, "c", ids=["2"])
    with pytest.raises(StaleIndexError, match="mutated"):
        band_index_delete(spark, idx, ["3"], expected_prev_etag=etag_before)
    assert (
        band_index_delete(
            spark, idx, ["2", "3"], expected_prev_etag=etag_mid
        )
        == 2
    )


def test_band_maintenance_tombstone_trigger(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
        MaintenancePolicy,
        band_maintenance,
    )

    idx = _mk(spark, tmp_path)
    policy = MaintenancePolicy(
        every=1,
        compact=True,
        tombstone_threshold=0.3,
        dup_ratio_threshold=1e9,
        capacity_threshold=1e9,
    )
    band_index_delete(spark, idx, [1])  # 1/4 = 25% < 30%
    tick = band_maintenance(spark, idx, policy)
    assert tick["tombstone_fraction"] == pytest.approx(0.25)
    assert not tick["compacted"]
    band_index_delete(spark, idx, [2])  # 2/4 = 50% > 30%
    tick2 = band_maintenance(spark, idx, policy)
    assert tick2["compacted"]
    assert "tombstones" not in band_index_meta(idx)
    tick3 = band_maintenance(spark, idx, policy)
    assert tick3["tombstone_fraction"] == 0.0 and not tick3["compacted"]


def test_part_versions_monotonic_across_compactions(spark, tmp_path):
    """_write_new_part must forward its `prev` floor: after a compact
    GCs bands_v1, a second compact may NOT recycle the freed name —
    a reader holding the older sidecar would open same-named dirs
    with different content."""
    idx = _mk(spark, tmp_path)
    loc0 = band_index_meta(idx)["locations"]["bands"]
    band_index_compact(spark, idx)
    loc1 = band_index_meta(idx)["locations"]["bands"]
    band_index_compact(spark, idx)
    loc2 = band_index_meta(idx)["locations"]["bands"]
    vs = [int(x.rsplit("_v", 1)[1]) for x in (loc0, loc1, loc2)]
    assert vs[0] < vs[1] < vs[2], vs


def test_tagged_replay_bypasses_band_tombstone_refusal(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    batch = spark.createDataFrame(
        [(50, "a brand new appended document about gardens")],
        "doc_id int, text string",
    )
    assert band_index_append(spark, idx, batch, tag="t#1") == 1
    band_index_delete(spark, idx, [50])
    # replay of the completed tagged append: no-op, no refusal
    assert band_index_append(spark, idx, batch, tag="t#1") == 0
    with pytest.raises(TombstonedIdError):
        band_index_append(spark, idx, batch, tag="t#2")


def test_semantic_gate_masks_tombstoned_vectors(spark, tmp_path):
    """A vector ivf_delete removed must not gate a re-submission of
    its content as semantic-duplicate (deleted content blocking its
    own re-ingestion forever)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_delete,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.neardup_stream import (
        _semantic_ingest_batch_fn,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = str(tmp_path / "root")
    rows = [
        (str(i), f"doc {i}", [1.0 if j == i % 4 else 0.1 * i for j in range(4)])
        for i in range(12)
    ]
    cfg = HydrationConfig(
        collection_name="c", root=root, id_col="id",
        text_col="text", embedding_col="embedding",
    )
    hydrate(spark, spark.createDataFrame(
        rows, "id string, text string, embedding array<float>"), cfg)
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "c"),
              build={"metric": "l2", "seed": 1, "sample_fraction": None})
    fn = _semantic_ingest_batch_fn(idx, cfg, "semgate_ts", threshold=0.999, nprobe=2)
    # an exact copy of doc 3's vector under a new id: duplicate now
    probe = spark.createDataFrame(
        [("900", "different words entirely", list(rows[3][2]))],
        "id string, text string, embedding array<float>",
    )
    v = fn(probe, 0).filter(F.col("id") == "900").first()
    assert not v["novel"]
    # delete doc 3 from collection + index; the same content must now
    # gate NOVEL (the only matching vector is masked)
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete_indexed,
    )

    collection_delete_indexed(spark, root, "c", ids=["3", "900"], index_paths=[idx])
    v2 = fn(probe, 1).filter(F.col("id") == "900").first()
    assert v2["novel"], v2


def test_band_index_apply_batch_mutation(spark, tmp_path):
    """band_index_apply: delete + text-update + insert in ONE atomic
    part rewrite; prior tombstones purged; serving reflects exactly
    the final corpus."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_apply,
    )

    idx = _mk(spark, tmp_path)
    band_index_delete(spark, idx, [2])  # prior tombstone, purged below
    rep = band_index_apply(
        spark,
        idx,
        upserts=spark.createDataFrame(
            [
                (3, "a freshly rewritten third document about gardens"),
                (5, "an entirely new fifth document joins the corpus"),
            ],
            "doc_id int, text string",
        ),
        delete_ids=[1],
    )
    assert rep == {"updated": 1, "inserted": 1, "deleted": 1, "drained": 0}
    meta = band_index_meta(idx)
    assert "tombstones" not in meta
    assert not [
        d
        for d in os.listdir(idx)
        if d.startswith("band_tombstones_v") or d.startswith("removed_keys_v")
    ]
    g = _gate(
        spark,
        idx,
        [
            (101, DOCS[0][1]),  # deleted -> novel
            (102, DOCS[1][1]),  # prior tombstone purged -> novel
            (103, DOCS[2][1]),  # doc 3 OLD text: replaced... but doc 4
            # still holds the identical text -> STILL duplicate
            (104, "a freshly rewritten third document about gardens"),
            (105, "an entirely new fifth document joins the corpus"),
        ],
    )
    assert g == {101: True, 102: True, 103: False, 104: False, 105: False}
    # verified parts consistent: exactly docs {3,4,5} remain
    b, sh, sz, _m = band_index_read_verified(spark, idx)
    assert sorted(
        r[0] for r in b.select("doc_id").distinct().collect()
    ) == [3, 4, 5]
    assert sz.count() == 3
    # replay idempotence: same apply converges to the same state
    rep2 = band_index_apply(
        spark,
        idx,
        upserts=spark.createDataFrame(
            [
                (3, "a freshly rewritten third document about gardens"),
                (5, "an entirely new fifth document joins the corpus"),
            ],
            "doc_id int, text string",
        ),
        delete_ids=[1],
    )
    assert rep2 == {"updated": 2, "inserted": 0, "deleted": 0, "drained": 0}
    assert _gate(spark, idx, [(104, "a freshly rewritten third document about gardens")]) == {104: False}


def test_band_index_apply_refusals(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_apply,
    )

    idx = _mk(spark, tmp_path)
    with pytest.raises(EngineError, match="empty the index"):
        band_index_apply(spark, idx, delete_ids=[1, 2, 3, 4])
    # fence: recorded stamp is None (unstamped index) != a passed etag
    with pytest.raises(StaleIndexError):
        band_index_apply(spark, idx, delete_ids=[1], expected_prev_etag="deadbeef0000")
