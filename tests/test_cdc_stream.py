"""Streaming CDC ingest (streaming/cdc_stream.py): insert/update/
delete events applied to collection + persisted IVF index with
replay-stable verdicts, driven at the batch-fn level (first-attempt vs
replay of the same (batch, batch_id)) and as a real file-source
stream."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    EngineError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_build,
    ivf_read,
    ivf_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    read_collection,
)
from vector_databases___hydrate_chroma_db_collection_spark.streaming.cdc_stream import (
    cdc_ingest_batch_fn,
    stream_cdc_ingest,
)

EV_SCHEMA = "op string, seq long, id string, text string, embedding array<float>"


def _setup(spark, tmp_path, n=20):
    root = str(tmp_path / "root")
    docs = [
        (str(i), f"text {i}", [float((i * 3 + j) % 9) for j in range(4)])
        for i in range(n)
    ]
    cfg = HydrationConfig(
        collection_name="c", root=root, id_col="id",
        text_col="text", embedding_col="embedding",
    )
    hydrate(spark, spark.createDataFrame(docs, "id string, text string, embedding array<float>"), cfg)
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "ivf")
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "c"),
        build={"metric": "l2", "seed": 1, "sample_fraction": None},
    )
    return root, cfg, idx


BATCH0 = [
    ("insert", 1, "100", "new doc", [1.0] * 4),
    ("insert", 1, "5", "dup ins", [2.0] * 4),
    ("update", 1, "3", "upd", [3.0] * 4),
    ("update", 1, "200", "upd miss", [3.0] * 4),
    ("delete", 1, "7", None, None),
    ("delete", 1, "300", None, None),
    # in-batch seq collapse: the LATEST event per id wins
    ("update", 1, "9", "upd9", [4.0] * 4),
    ("delete", 2, "9", None, None),
]
WANT0 = {
    "100": "applied_insert",
    "5": "skipped_existing",
    "3": "applied_update",
    "200": "skipped_missing",
    "7": "applied_delete",
    "300": "skipped_missing",
    "9": "applied_delete",
}


def test_cdc_outcomes_and_application(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t1")
    got = {
        r["id"]: r["outcome"]
        for r in fn(spark.createDataFrame(BATCH0, EV_SCHEMA), 0).collect()
    }
    assert got == WANT0
    coll = read_collection(spark, root, "c")
    assert coll.count() == 19  # 20 + 1 insert - 2 deletes
    a, _, _ = ivf_read(spark, idx)  # fence passes after 3 mutations
    assert a.count() == 19
    assert a.filter(F.col("id") == "3").first()["embedding"] == [3.0] * 4
    assert a.filter(F.col("id").isin(["7", "9"])).count() == 0
    # the collection's document payload followed the update too
    assert coll.filter(F.col("id") == "3").first()["document"] == "upd"


def test_cdc_replay_republishes_and_converges(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t2")
    ev = spark.createDataFrame(BATCH0, EV_SCHEMA)
    first = {r["id"]: r["outcome"] for r in fn(ev, 0).collect()}
    # full replay of a COMPLETED batch: verdicts identical (from the
    # recording — recomputing against the post-batch state would flip
    # applied_insert -> skipped_existing), stores unchanged
    again = {r["id"]: r["outcome"] for r in fn(ev, 0).collect()}
    assert again == first == WANT0
    assert read_collection(spark, root, "c").count() == 19
    a, _, _ = ivf_read(spark, idx)
    assert a.count() == 19
    assert a.filter(F.col("id") == "100").count() == 1  # exactly once


def test_cdc_crash_mid_mutations_heals_on_replay(spark, tmp_path, monkeypatch):
    root, cfg, idx = _setup(spark, tmp_path)
    ev = spark.createDataFrame(BATCH0, EV_SCHEMA)
    # crash AFTER the verdict recording + WAL commit but BEFORE any
    # mutation lands: fail the hydrate call. The batch fn binds
    # hydrate at CREATION, so patch the module first and build a
    # crashing fn instance (sys.modules lookup — the operators package
    # re-exports the function under the submodule's name).
    import sys

    hyd = sys.modules[
        "vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate"
    ]
    real = hyd.hydrate

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(hyd, "hydrate", boom)
    fn_crash = cdc_ingest_batch_fn(idx, cfg, "cdc_t3")
    with pytest.raises(RuntimeError, match="injected"):
        fn_crash(ev, 0)
    monkeypatch.setattr(hyd, "hydrate", real)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t3")
    # WAL holds the pending tag with its recording
    log = json.load(open(os.path.join(idx, "cdc_log.json")))
    assert [e["state"] for e in log["entries"]] == ["pending"]
    # replay: recorded verdicts republish, all mutations apply
    got = {r["id"]: r["outcome"] for r in fn(ev, 0).collect()}
    assert got == WANT0
    assert read_collection(spark, root, "c").count() == 19
    log2 = json.load(open(os.path.join(idx, "cdc_log.json")))
    assert [e["state"] for e in log2["entries"]] == ["done"]
    # only the committed recording dir survives
    dirs = [d for d in os.listdir(idx) if d.startswith("cdc_verdicts_v")]
    assert dirs == [log2["entries"][0]["dir"]]


def test_cdc_resurrects_deleted_id_via_upsert(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t4")
    fn(spark.createDataFrame(BATCH0, EV_SCHEMA), 0)
    # id 7 was deleted (tombstoned in the index); a later INSERT of it
    # must resurrect through the upsert path, not raise
    v1 = fn(
        spark.createDataFrame(
            [("insert", 1, "7", "back", [5.0] * 4)], EV_SCHEMA
        ),
        1,
    )
    assert {r["id"]: r["outcome"] for r in v1.collect()} == {
        "7": "applied_insert"
    }
    a, _, _ = ivf_read(spark, idx)
    assert a.filter(F.col("id") == "7").first()["embedding"] == [5.0] * 4
    meta = json.load(open(os.path.join(idx, "ivf_index.json")))
    assert meta["tombstones"]["n"] == 1  # id 9 stays tombstoned
    # completed-entry retention: batch 0's entry was dropped at batch
    # 1's commit, batch 1's is done
    log = json.load(open(os.path.join(idx, "cdc_log.json")))
    assert len(log["entries"]) == 1 and log["entries"][0]["state"] == "done"


def test_cdc_net_state_insert_then_update_of_new_id(spark, tmp_path):
    # insert(seq1)+update(seq2) of a NEW id in one batch: a naive
    # latest-event-vs-pre-batch collapse judges 'update of an unheld
    # id' -> skipped_missing and never writes the row; the net-state
    # replay applies the insert, then the update, and nets to an
    # insert carrying seq2's content
    root, cfg, idx = _setup(spark, tmp_path)
    ev = spark.createDataFrame(
        [
            ("insert", 1, "500", "v1", [1.0] * 4),
            ("update", 2, "500", "v2", [2.0] * 4),
        ],
        EV_SCHEMA,
    )
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_net1")
    got = {(r["id"], r["op"]): r["outcome"] for r in fn(ev, 0).collect()}
    assert got == {("500", "update"): "applied_update"}
    coll = read_collection(spark, root, "c")
    row = coll.filter(F.col("id") == "500").first()
    assert row is not None and row["document"] == "v2"
    a, _, _ = ivf_read(spark, idx)
    assert a.filter(F.col("id") == "500").first()["embedding"] == [2.0] * 4


def test_cdc_net_state_delete_then_insert_of_held_id(spark, tmp_path):
    # delete(seq1)+insert(seq2) of a HELD id: the naive collapse
    # judges 'insert of a held id' -> skipped_existing and loses the
    # delete; the net-state replay applies both and nets to a content
    # replacement
    root, cfg, idx = _setup(spark, tmp_path)
    ev = spark.createDataFrame(
        [
            ("delete", 1, "4", None, None),
            ("insert", 2, "4", "replaced", [9.0] * 4),
        ],
        EV_SCHEMA,
    )
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_net2")
    got = {(r["id"], r["op"]): r["outcome"] for r in fn(ev, 0).collect()}
    assert got == {("4", "insert"): "applied_insert"}
    coll = read_collection(spark, root, "c")
    assert coll.count() == 20  # replaced, not duplicated or lost
    assert coll.filter(F.col("id") == "4").first()["document"] == "replaced"
    a, _, _ = ivf_read(spark, idx)
    assert a.filter(F.col("id") == "4").first()["embedding"] == [9.0] * 4


def test_cdc_crash_between_collection_commit_and_index_heals(
    spark, tmp_path, monkeypatch
):
    # the unrecoverable-by-retry window the r12 ADVICE verified: crash
    # AFTER collection_delete_indexed's collection pointer swap but
    # BEFORE the index tombstone. The replay's composed call re-reads
    # the collection etag — already moved by the first attempt — so a
    # collection-fenced retry would raise StaleIndexError forever; the
    # WAL-recorded replay passes fence="recorded" and heals.
    import sys

    root, cfg, idx = _setup(spark, tmp_path)
    # delete-only batch: no insert re-stamps the index before the
    # composed delete, so the stale fence would actually bite
    ev = spark.createDataFrame(
        [("delete", 1, "7", None, None), ("delete", 1, "8", None, None)],
        EV_SCHEMA,
    )
    ann = sys.modules[
        "vector_databases___hydrate_chroma_db_collection_spark.operators.ann"
    ]
    real = ann.ivf_delete

    def boom(*a, **k):
        raise RuntimeError("injected crash before index tombstone")

    monkeypatch.setattr(ann, "ivf_delete", boom)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t6")
    with pytest.raises(RuntimeError, match="injected"):
        fn(ev, 0)
    monkeypatch.setattr(ann, "ivf_delete", real)
    # collection committed, index did not: honestly stale
    assert read_collection(spark, root, "c").count() == 18
    got = {r["id"]: r["outcome"] for r in fn(ev, 0).collect()}
    assert got == {"7": "applied_delete", "8": "applied_delete"}
    assert read_collection(spark, root, "c").count() == 18
    a, _, _ = ivf_read(spark, idx)  # fence passes: index healed
    assert a.count() == 18
    assert a.filter(F.col("id").isin(["7", "8"])).count() == 0


def test_cdc_wal_retains_other_sinks_done_entries(spark, tmp_path):
    # two streams with distinct sink tables sharing one index path:
    # sink B's commit must not drop sink A's last done entry (A's own
    # replay of its final batch needs the recording)
    root, cfg, idx = _setup(spark, tmp_path)
    fn_a = cdc_ingest_batch_fn(idx, cfg, "cdc_sink_a")
    fn_b = cdc_ingest_batch_fn(idx, cfg, "cdc_sink_b")
    ev_a = spark.createDataFrame(
        [("delete", 1, "3", None, None)], EV_SCHEMA
    )
    ev_b = spark.createDataFrame(
        [("insert", 1, "700", "b doc", [1.0] * 4)], EV_SCHEMA
    )
    first = {r["id"]: r["outcome"] for r in fn_a(ev_a, 0).collect()}
    fn_b(ev_b, 0)
    log = json.load(open(os.path.join(idx, "cdc_log.json")))
    prefixes = sorted(e["tag"].split("#", 1)[0] for e in log["entries"])
    assert prefixes == ["cdc_sink_a", "cdc_sink_b"]
    assert all(e["state"] == "done" for e in log["entries"])
    # A's replay of its committed batch republishes from the recording
    again = {r["id"]: r["outcome"] for r in fn_a(ev_a, 0).collect()}
    assert again == first == {"3": "applied_delete"}


def test_cdc_dual_index_with_band_text_updates(spark, tmp_path):
    # a collection carrying BOTH an IVF index and a near-dup band
    # index at one path, driven through the CDC loop with document
    # updates in the event stream: inserts extend both indexes,
    # deletes tombstone both, and text updates ride the deferred
    # queue (band_text_mode='defer', the streaming default) — served
    # stale until a compact drains, exactly the documented window.
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_audit,
        band_index_build,
        band_index_bucket_keys,
        band_index_compact,
        band_index_meta,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        novelty_gate,
    )

    root = str(tmp_path / "root")
    texts = {
        i: f"document number {i} speaks of topic{i} and subject{i * 7} today"
        for i in range(8)
    }
    docs = [
        (str(i), texts[i], [float((i * 3 + j) % 9) for j in range(4)])
        for i in range(8)
    ]
    cfg = HydrationConfig(
        collection_name="c", root=root, id_col="id",
        text_col="text", embedding_col="embedding",
    )
    hydrate(
        spark,
        spark.createDataFrame(
            docs, "id string, text string, embedding array<float>"
        ),
        cfg,
    )
    coll = read_collection(spark, root, "c")
    assigned, C = ivf_build(coll, n_centroids=2, seed=1)
    idx = str(tmp_path / "dual")
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "c"),
        build={"metric": "l2", "seed": 1, "sample_fraction": None},
    )
    band_index_build(
        coll.select("id", F.col("document").alias("text")),
        idx,
        id_col="id",
        text_col="text",
        source=(root, "c"),
    )
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_dual")

    new_doc = "a brand new ninth document concerning freshly arrived topics"
    upd_text = "document number three was rewritten beyond recognition here"
    ev = spark.createDataFrame(
        [
            ("insert", 1, "300", new_doc, [7.0] * 4),
            ("update", 1, "3", upd_text, [8.0] * 4),
            ("delete", 1, "6", None, None),
        ],
        EV_SCHEMA,
    )
    got = {r["id"]: r["outcome"] for r in fn(ev, 0).collect()}
    assert got == {
        "300": "applied_insert",
        "3": "applied_update",
        "6": "applied_delete",
    }

    def gate(pairs):
        meta = band_index_meta(idx)
        out = novelty_gate(
            spark.createDataFrame(pairs, "id string, text string"),
            band_index_bucket_keys(spark, idx),
            id_col="id",
            text_col="text",
            n=meta["n"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
        )
        return {r["id"]: bool(r["novel"]) for r in out.collect()}

    # insert reached the band index immediately; delete retired doc
    # 6's unshared keys; the text UPDATE is queued (honest window:
    # old text still gates, new text reads novel)
    assert gate(
        [
            ("p1", new_doc),
            ("p2", texts[6]),
            ("p3", texts[3]),
            ("p4", upd_text),
        ]
    ) == {"p1": False, "p2": True, "p3": False, "p4": True}
    aud = band_index_audit(spark, idx).first()
    assert aud["deferred_updates"] == 1 and aud["compact_recommended"]
    # IVF side followed every mutation surgically
    a, _, _ = ivf_read(spark, idx)
    assert a.count() == 8  # 8 - 1 delete + 1 insert
    assert a.filter(F.col("id") == "3").first()["embedding"] == [8.0] * 4
    assert a.filter(F.col("id") == "6").count() == 0
    # a later batch RE-INSERTS the band-tombstoned id 6 (no compact
    # ran yet): the IVF side upserts; the band side has no surgical
    # upsert, so the resurrection rides band_index_apply's atomic
    # part rewrite — which ALSO drains the deferred update queue
    back = "document number six returns with entirely different words"
    got2 = {
        r["id"]: r["outcome"]
        for r in fn(
            spark.createDataFrame(
                [("insert", 1, "6", back, [5.0] * 4)], EV_SCHEMA
            ),
            1,
        ).collect()
    }
    assert got2 == {"6": "applied_insert"}
    assert gate(
        [("p5", back), ("p3", texts[3]), ("p4", upd_text)]
    ) == {"p5": False, "p3": True, "p4": False}
    aud2 = band_index_audit(spark, idx).first()
    assert aud2["deferred_updates"] == 0
    assert "deferred_updates" not in band_index_meta(idx)
    a2, _, _ = ivf_read(spark, idx)
    assert a2.filter(F.col("id") == "6").first()["embedding"] == [5.0] * 4
    # and a compact on the now-clean index is an ordinary compact
    band_index_compact(spark, idx)
    assert gate([("p5", back)]) == {"p5": False}


def test_cdc_rejects_unknown_op(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path, n=4)
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_t5")
    with pytest.raises(EngineError, match="insert/update/delete"):
        fn(
            spark.createDataFrame(
                [("upsert", 1, "1", "x", [1.0] * 4)], EV_SCHEMA
            ),
            0,
        )


def test_cdc_stream_end_to_end(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    d = tmp_path / "stream_in"
    spark.createDataFrame(BATCH0, EV_SCHEMA).coalesce(1).write.parquet(
        str(d / "b0")
    )
    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    q = stream_cdc_ingest(
        stream,
        index_path=idx,
        hydration_cfg=cfg,
        sink_table="cdc_e2e",
        sink_path=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r["id"]: r["outcome"]
        for r in spark.table("cdc_e2e").collect()
    }
    assert got == WANT0
    a, _, _ = ivf_read(spark, idx)
    assert a.count() == 19


def test_cdc_delete_insert_null_field_clears_stored_value(spark, tmp_path):
    # delete(seq1)+insert(seq2) of a HELD id where the insert's text
    # is NULL: insert semantics REPLACE the whole payload, so the
    # stored document must clear — the coalescing update path would
    # silently keep the pre-delete text (r13 advice). The fold's
    # `ins` flag routes this slice through delete + re-insert.
    root, cfg, idx = _setup(spark, tmp_path)
    ev = spark.createDataFrame(
        [
            ("delete", 1, "4", None, None),
            ("insert", 2, "4", None, [9.0] * 4),
        ],
        EV_SCHEMA,
    )
    fn = cdc_ingest_batch_fn(idx, cfg, "cdc_nullins")
    got = {(r["id"], r["op"]): r["outcome"] for r in fn(ev, 0).collect()}
    assert got == {("4", "insert"): "applied_insert"}
    coll = read_collection(spark, root, "c")
    assert coll.count() == 20
    row = coll.filter(F.col("id") == "4").first()
    assert row["document"] is None, "insert's NULL text must clear"
    a, _, _ = ivf_read(spark, idx)
    assert a.filter(F.col("id") == "4").first()["embedding"] == [9.0] * 4
    # and the full replay converges to the same state
    again = {
        (r["id"], r["op"]): r["outcome"] for r in fn(ev, 0).collect()
    }
    assert again == got
    coll2 = read_collection(spark, root, "c")
    assert coll2.count() == 20
    assert coll2.filter(F.col("id") == "4").first()["document"] is None


def test_cdc_refuses_a_path_without_vector_index_before_the_wal(spark, tmp_path):
    # a band-only index path cannot take the batch's vectors: the
    # batch raises before the verdict recording, the WAL entry and
    # the collection commit, so no replay re-raises on a pending entry
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
    )

    root, cfg, _ = _setup(spark, tmp_path, n=6)
    bidx = str(tmp_path / "band")
    band_index_build(
        read_collection(spark, root, "c"), bidx, id_col="id",
        text_col="document", source=(root, "c"),
    )
    before = collection_etag(root, "c")
    fn = cdc_ingest_batch_fn(bidx, cfg, "cdc_band_only")
    with pytest.raises(EngineError, match="no vector index sidecar"):
        fn(
            spark.createDataFrame(
                [("insert", 1, "100", "new doc", [1.0] * 4),
                 ("delete", 1, "2", None, None)],
                EV_SCHEMA,
            ),
            0,
        )
    assert collection_etag(root, "c") == before
    assert read_collection(spark, root, "c").count() == 6
    log = os.path.join(bidx, "cdc_log.json")
    assert not os.path.exists(log) or json.load(open(log))["entries"] == []
