"""Audit-driven maintenance inside the streaming ingest loops.

r11 shipped the audits and compactors; r12 wires them in
(streaming/maintenance.py). These tests pin the lifecycle: the
novelty loop auto-compacts exactly once when its index outgrows the
id-guard filter's recorded sizing capacity, a crash mid-compaction is
invisible to readers and heals on the batch replay, and the semantic
loop surfaces the balance audit's refresh verdict on its published
rows.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
    load_table,
)
from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
    MaintenancePolicy,
    band_maintenance,
    ivf_maintenance,
)

from .conftest import SF_SMOKE


def _text_batch(spark, lo: int, hi: int, src_offset: int = 0):
    """Synthetic 8-token docs whose text is a pure function of
    (id - src_offset): disjoint vocab per source id, so a batch with
    src_offset=0 is wholly novel and a shifted batch is verbatim
    copies of the source range (gates duplicate)."""
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.concat(
                    F.lit("tok"),
                    ((F.col("id") - F.lit(src_offset)) * 100 + j).cast(
                        "string"
                    ),
                ),
            ),
        ).alias("text"),
    )


def _with_emb(e, docs):
    return docs.join(
        e.select((F.col("vec_id") % 30).alias("_k"), "embedding")
        .dropDuplicates(["_k"]),
        docs.doc_id % 30 == F.col("_k"),
    ).drop("_k")


def _mk_loop(spark, tmp_path, name):
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name=name,
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    corpus = _with_emb(e, _text_batch(spark, 0, 20))
    hydrate(spark, corpus, cfg)
    idx = f"{root}/{name}/_bands"
    bi.band_index_build(
        read_collection(spark, root, name),
        idx,
        id_col="id",
        text_col="document",
        source=(root, name),
    )
    return e, cfg, idx, bi


def test_novelty_loop_auto_compacts_exactly_once(spark, tmp_path):
    """Build from 20 docs (filter sized for 80 ids). Ingest 30, then
    40 more novel docs: after batch 1 the id set (90) outgrows the
    recorded capacity, the cadence audit flips compact_recommended,
    and the loop compacts — ONCE. Compaction re-sizes the filter, so
    batch 2 (verbatim copies, gating duplicate through the compacted
    index) audits clean and does not re-compact."""
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.neardup_stream import (
        _novelty_ingest_batch_fn,
    )

    e, cfg, idx, bi = _mk_loop(spark, tmp_path, "maint_once")
    policy = MaintenancePolicy(every=1)
    ingest = _novelty_ingest_batch_fn(idx, cfg, "maint_sink", maintenance=policy)

    def keys_loc():
        return bi.band_index_meta(idx)["locations"]["bucket_keys"]

    loc0 = keys_loc()
    out0 = ingest(_with_emb(e, _text_batch(spark, 100, 130)), 0).collect()
    assert all(r["novel"] for r in out0) and len(out0) == 30
    loc1 = keys_loc()
    assert loc1 == loc0  # 50/80 capacity: no compaction yet

    out1 = ingest(_with_emb(e, _text_batch(spark, 200, 240)), 1).collect()
    assert all(r["novel"] for r in out1) and len(out1) == 40
    loc2 = keys_loc()
    assert loc2 != loc1  # 90/80: the audit fired and compacted
    meta = bi.band_index_meta(idx)
    assert meta["id_bloom"]["capacity"] == 4 * 90  # filter re-sized

    # copies of batch 1 under fresh ids: duplicate THROUGH the
    # compacted index, audit clean, no second compaction
    out2 = ingest(
        _with_emb(e, _text_batch(spark, 300, 340, src_offset=100)), 2
    ).collect()
    assert len(out2) == 40
    assert all((not r["novel"]) and r["n_hit_bands"] == 8 for r in out2)
    assert keys_loc() == loc2
    audit = bi.band_index_audit(spark, idx).first()
    assert not audit["compact_recommended"]


def test_crash_mid_compaction_heals_on_replay(spark, tmp_path, monkeypatch):
    """Crash the compactor BEFORE its sidecar swap (new part dirs
    written, commit never lands): readers and the batch replay see
    the intact pre-compact index, the replayed batch republishes
    identical verdicts, and its maintenance tick completes the
    compaction."""
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.neardup_stream import (
        _novelty_ingest_batch_fn,
    )

    e, cfg, idx, bi = _mk_loop(spark, tmp_path, "maint_crash")
    policy = MaintenancePolicy(every=1)
    ingest = _novelty_ingest_batch_fn(idx, cfg, "crash_sink", maintenance=policy)
    ingest(_with_emb(e, _text_batch(spark, 100, 130)), 0)
    pre_meta = bi.band_index_meta(idx)

    real_compact = bi.band_index_compact
    real_write = bi._sidecar_write

    def crashing_compact(spark_, path_):
        def boom(p_, meta_):
            raise RuntimeError("injected crash mid-compaction")

        monkeypatch.setattr(bi, "_sidecar_write", boom)
        try:
            return real_compact(spark_, path_)
        finally:
            monkeypatch.setattr(bi, "_sidecar_write", real_write)

    monkeypatch.setattr(bi, "band_index_compact", crashing_compact)
    b1 = _with_emb(e, _text_batch(spark, 200, 240))
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest(b1, 1)
    # pre-commit crash: the committed sidecar still points at the
    # pre-compact parts — concurrent readers never saw a torn mix
    crashed_meta = bi.band_index_meta(idx)
    assert crashed_meta["locations"] == pre_meta["locations"]
    # the append COMMITTED before the crash (maintenance runs last):
    # replaying the batch must republish first-attempt verdicts
    monkeypatch.setattr(bi, "band_index_compact", real_compact)
    out = ingest(b1, 1).collect()
    assert len(out) == 40 and all(r["novel"] for r in out)
    post_meta = bi.band_index_meta(idx)
    assert (
        post_meta["locations"]["bucket_keys"]
        != crashed_meta["locations"]["bucket_keys"]
    )  # the replayed tick completed the compaction
    assert not bi.band_index_audit(spark, idx).first()["compact_recommended"]
    # and the healed index still serves: copies of batch 1's docs
    # (src ids 200..239) gate duplicate
    out2 = ingest(
        _with_emb(e, _text_batch(spark, 300, 340, src_offset=100)), 2
    ).collect()
    assert all(not r["novel"] for r in out2)
    # pre-crash locations were never served torn
    assert pre_meta["locations"]["bucket_keys"] == crashed_meta[
        "locations"
    ]["bucket_keys"]


def test_semantic_loop_surfaces_refresh_verdict(spark, tmp_path):
    """The semantic ingest loop with a MaintenancePolicy publishes
    ``refresh_recommended`` on its verdict rows: False while appended
    vectors match the trained geometry, True on the batch whose
    drifted append lifts the balance audit past its drift threshold.
    Without a policy the published schema is unchanged."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.neardup_stream import (
        _semantic_ingest_batch_fn,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="sem_maint",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    corpus = e.filter(F.col("vec_id") < 80).select(
        F.col("vec_id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("vec_id").cast("string")).alias(
            "text"
        ),
        "embedding",
    )
    hydrate(spark, corpus, cfg)
    dim = len(e.select("embedding").first()[0])
    C = np.eye(4, dim)
    assigned = ann._assign_to_centroids(
        corpus.select(F.col("doc_id").alias("id"), "embedding"),
        C,
        id_col="id",
        embedding_col="embedding",
        metric="l2",
    )
    idx = f"{root}/sem_maint/_ivf"
    ann.ivf_write(
        assigned, C, idx, metric="l2", source=(root, "sem_maint"),
        build={"metric": "l2", "seed": 42},
    )

    policy = MaintenancePolicy(
        every=1, drift_threshold=1.5, files_per_cell_threshold=1e9
    )
    # l2 metric: distance <= threshold is a dup — 0.0 gates only
    # exact re-encodes, so every batch below is novel and ingested
    ingest = _semantic_ingest_batch_fn(
        idx, cfg, "sem_maint_sink", threshold=0.0, nprobe=4,
        maintenance=policy,
    )

    def batch(lo, hi, scale):
        return e.filter(F.col("vec_id").between(lo, hi)).select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("t"), F.col("vec_id").cast("string")).alias(
                "text"
            ),
            F.transform(
                "embedding", lambda x: x * F.lit(float(scale))
            ).alias("embedding"),
        )

    out0 = ingest(batch(80, 99, 1.0), 0).collect()
    assert len(out0) == 20
    assert all(r["refresh_recommended"] is False for r in out0)

    out1 = ingest(batch(100, 219, 10.0), 1).collect()  # 10x drift
    assert len(out1) == 120
    assert all(r["refresh_recommended"] is True for r in out1)

    # without a policy the column does not exist (contract unchanged)
    plain = _semantic_ingest_batch_fn(
        idx, cfg, "sem_plain_sink", threshold=0.0, nprobe=4
    )
    out2 = plain(batch(220, 224, 1.0), 2)
    assert "refresh_recommended" not in out2.columns


def test_ivf_maintenance_compacts_on_file_growth(spark, tmp_path):
    """ivf_maintenance's compaction trigger: append-grown small files
    past the per-cell budget compact back to ~1 file/cell; a second
    tick is a no-op."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _data_files,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "ivf_maint")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})
    for lo in (40, 50, 60, 70, 80, 90):
        b = e.filter(F.col("vec_id").between(lo, lo + 9)).select(
            "vec_id", "embedding"
        )
        assert ann.ivf_append(spark, path, b) == 10

    policy = MaintenancePolicy(every=1, files_per_cell_threshold=3.0)
    tick = ivf_maintenance(spark, path, policy)
    assert tick["compacted"] and not tick["refresh_recommended"]
    import json
    import os

    meta = json.load(open(os.path.join(path, "ivf_index.json")))
    assert (
        _data_files(os.path.join(path, meta["location"])) <= 4
    )  # one file per cell
    tick2 = ivf_maintenance(spark, path, policy)
    assert not tick2["compacted"]
    assert ann.ivf_read(spark, path)[0].count() == 100


def test_policy_cadence():
    p = MaintenancePolicy(every=3)
    assert [p.due(i) for i in range(7)] == [
        False, False, True, False, False, True, False,
    ]
    assert not MaintenancePolicy(every=0).due(5)


def test_band_maintenance_defers_on_foreign_torn_append(spark, tmp_path):
    """A foreign crashed append (pending marker from another writer)
    makes the compactor refuse; the maintenance tick must DEFER, not
    crash the stream."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    e, cfg, idx, _bi = _mk_loop(spark, tmp_path, "maint_torn")
    # grow past capacity so compaction is recommended
    bi.band_index_append(
        spark, idx, _text_batch(spark, 100, 200), id_col="doc_id",
        text_col="text",
    )
    p = bi._local_sidecar_path(idx)
    meta = bi.band_index_meta(p)
    assert bi.band_index_audit(spark, idx).first()["compact_recommended"]
    meta["pending_appends"] = [{"tag": "foreign#9", "digest": "1:2:3"}]
    bi._sidecar_write(p, meta)
    tick = band_maintenance(spark, idx, MaintenancePolicy(every=1))
    assert tick["compact_recommended"] and not tick["compacted"]


def test_semantic_loop_recall_audit_feeds_refresh_verdict(spark, tmp_path):
    """The DEEP audit wired into the loop: with the geometry audit OFF
    (every=0) and recall_every=1, the published refresh_recommended
    verdict is driven purely by sampled ground-truth recall — False
    while appends preserve the cluster structure (recall 1.0 at
    nprobe=1 on the clustered corpus), True once a drifted append
    splits true neighborhoods across cells and mean recall falls
    under the threshold. This is the maintenance-side closure of the
    recall-audit story: the loop now ALERTS on the measure the
    hull-bounded geometry audits cannot see."""
    import math

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.neardup_stream import (
        _semantic_ingest_batch_fn,
    )

    from .test_recall_audit import DIM, _drifted_rows, _original_rows

    def docs(rows):
        return spark.createDataFrame(
            [(i, f"d{i}", v) for i, v in rows],
            "doc_id bigint, text string, embedding array<double>",
        )

    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="recall_maint",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    original = _original_rows()
    hydrate(spark, docs(original), cfg)
    C = np.eye(4, DIM) * 10.0
    corpus = docs(original).select(
        F.col("doc_id").alias("id"), "embedding"
    )
    assigned = ann._assign_to_centroids(
        corpus, C, id_col="id", embedding_col="embedding", metric="l2"
    )
    idx = f"{root}/recall_maint/_ivf"
    ann.ivf_write(
        assigned, C, idx, metric="l2", source=(root, "recall_maint"),
        build={"metric": "l2", "seed": 42},
    )

    policy = MaintenancePolicy(
        every=0,  # geometry audit OFF: recall alone drives the verdict
        compact=False,
        recall_every=1,
        recall_k=5,
        recall_nprobe=1,
        recall_n_queries=400,
        recall_threshold=0.9,
    )
    ingest = _semantic_ingest_batch_fn(
        idx, cfg, "recall_maint_sink", threshold=0.0, nprobe=4,
        maintenance=policy,
    )

    # batch 0: benign cluster-0 continuation — recall stays 1.0
    benign = [
        (400 + i, [10.0 if d == 0 else (0.05 + i * 0.001 if d == 6 else 0.0) for d in range(DIM)])
        for i in range(5)
    ]
    out0 = ingest(docs(benign), 0).collect()
    assert len(out0) == 5
    assert all(r["refresh_recommended"] is False for r in out0)

    # batch 1: the midpoint drift — true neighborhoods straddle two
    # cells, nprobe=1 recall craters under 0.9, verdict flips
    out1 = ingest(docs([(i, v) for i, v in _drifted_rows()]), 1).collect()
    assert len(out1) == 120
    assert all(r["refresh_recommended"] is True for r in out1)
