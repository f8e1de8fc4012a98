"""The corpus-independent double-ingest guard (operators/idguard.py):
Bloom filter math (no false negatives, deterministic JVM-side
hashing, file roundtrip, merge), and its integration into the
band-index / IVF / IVF-PQ appends — the steady-state append must
settle its guard WITHOUT touching any corpus-sized dataset, while
replays stay exactly-once through the exact fallback."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators import idguard as ig
from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
    load_table,
)

from .conftest import SF_SMOKE


def test_bloom_no_false_negatives_and_roundtrip(spark, tmp_path):
    """The filter's one hard guarantee: an inserted id NEVER tests
    negative (a false negative would let a replay double-ingest).
    Plus: file roundtrip is bit-exact, merge preserves both sides,
    and mismatched-capacity merges refuse loudly."""
    ids = spark.range(0, 3000).selectExpr("cast(id as string) as s")
    m, k = ig.bloom_params(3000)
    words = ig.bloom_build(ids, F.col("s"), m, k)

    probe = spark.range(0, 3000).selectExpr("cast(id as string) as s")
    got = probe.select(
        ig.bloom_might_contain(probe, F.col("s"), words, m, k).alias("x")
    ).collect()
    assert all(r["x"] for r in got)  # zero false negatives

    # absent ids: mostly negative (fp rate ~0.8% at 10 bits/id)
    absent = spark.range(100000, 102000).selectExpr("cast(id as string) as s")
    fp = (
        absent.select(
            ig.bloom_might_contain(absent, F.col("s"), words, m, k).alias("x")
        )
        .filter("x")
        .count()
    )
    assert fp < 2000 * 0.05  # generous bound; expected ~16

    p = str(tmp_path)
    fname = ig.fresh_bloom_file(p)
    ig.bloom_write(p, fname, words, m, k)
    w2, m2, k2 = ig.bloom_read(p, fname)
    assert (w2 == words).all() and (m2, k2) == (m, k)

    other = spark.range(50000, 50100).selectExpr("cast(id as string) as s")
    w3 = ig.bloom_build(other, F.col("s"), m, k)
    merged = ig.bloom_or(words, w3)
    both = spark.range(50000, 50100).selectExpr("cast(id as string) as s")
    assert (
        both.select(
            ig.bloom_might_contain(both, F.col("s"), merged, m, k).alias("x")
        )
        .filter("x")
        .count()
        == 100
    )
    with pytest.raises(ValueError, match="different sizes"):
        ig.bloom_or(words, np.zeros(8, dtype=np.uint64))


def test_bloom_params_sizing():
    m, k = ig.bloom_params(1)
    assert m == 1 << 16 and 1 <= k <= 8  # floor
    m, k = ig.bloom_params(10_000_000)
    assert m == 100_000_000  # 10 bits/id, already word-aligned
    assert m % 64 == 0 and k == 7


def test_band_append_steady_state_never_reads_ids(spark, tmp_path, monkeypatch):
    """THE corpus-independence proof for the band index: an all-new
    batch appended to a filter-carrying index settles its guard with
    zero reads of ANY persisted part (ids/sizes/bands) — at 10^9
    indexed docs the old full-ids anti-join was a multi-GB scan per
    micro-batch. A replayed (all-duplicate) batch still converges,
    through the exact fallback."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ig_band")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 30), path, id_col="doc_id", text_col="text"
    )
    assert bi.band_index_meta(path)["id_bloom"]["hash"] == ig.HASH_SPEC

    reads = []
    real = bi._read_part

    def counting(spark_, path_, part, meta):
        reads.append(part)
        return real(spark_, path_, part, meta)

    monkeypatch.setattr(bi, "_read_part", counting)

    # all-new batch: guard settles filter-only — no part reads at all
    b_new = d.filter(F.col("doc_id").between(30, 34)).select("doc_id", "text")
    assert bi.band_index_append(spark, path, b_new) == 5
    guard_reads = [p for p in reads if p in ("ids", "sizes")]
    assert guard_reads == [], reads

    # replay (all-duplicate): filter-positive -> exact fallback reads
    # ids once, converges to zero new rows
    reads.clear()
    assert bi.band_index_append(spark, path, b_new) == 0
    assert "ids" in reads
    bands_t, _ = bi.band_index_read(spark, path)
    assert bands_t.count() == 35 * 8
    ids_t = spark.read.parquet(
        f"{path}/{bi.band_index_meta(path)['locations']['ids']}"
    )
    assert ids_t.count() == ids_t.distinct().count() == 35


def test_band_prefilter_index_heals_filter_on_first_append(spark, tmp_path):
    """A pre-r11 index (no id_bloom) pays one full id scan on its
    first append and carries a filter thereafter; the filter then
    covers BOTH old and newly-appended ids (a replay of either is
    caught)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ig_legacy")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20), path, id_col="doc_id", text_col="text"
    )
    # demote: strip the filter from the sidecar and disk
    p = bi._local_sidecar_path(path)
    meta = bi.band_index_meta(p)
    os.remove(os.path.join(p, meta.pop("id_bloom")["location"]))
    bi._sidecar_write(p, meta)

    b = d.filter(F.col("doc_id").between(20, 24)).select("doc_id", "text")
    assert bi.band_index_append(spark, path, b) == 5
    bm = bi.band_index_meta(path)["id_bloom"]
    words, m, k = ig.bloom_read(p, bm["location"])
    # filter covers the pre-existing ids AND the batch
    allid = spark.range(0, 25).selectExpr("cast(id as string) as s")
    assert (
        allid.select(
            ig.bloom_might_contain(allid, F.col("s"), words, m, k).alias("x")
        )
        .filter("x")
        .count()
        == 25
    )
    # replays of OLD ids are caught through the healed filter
    old = d.filter(F.col("doc_id") < 3).select("doc_id", "text")
    assert bi.band_index_append(spark, path, old) == 0


def test_band_compact_resizes_filter(spark, tmp_path):
    """Compaction re-sizes the filter from the CURRENT id count and
    GCs the superseded file — append-grown indexes recover their
    designed false-positive rate without a rebuild."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ig_compact")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 10), path, id_col="doc_id", text_col="text"
    )
    p = bi._local_sidecar_path(path)
    before = bi.band_index_meta(path)["id_bloom"]["location"]
    bi.band_index_append(
        spark, path, d.filter(F.col("doc_id").between(10, 19)).select("doc_id", "text")
    )
    bi.band_index_compact(spark, path)
    after = bi.band_index_meta(path)["id_bloom"]
    assert after["location"] != before
    blooms = [f for f in os.listdir(p) if f.startswith("ids_bloom_v")]
    assert blooms == [after["location"]]
    # guard still exact after the resize
    assert (
        bi.band_index_append(
            spark, path, d.filter(F.col("doc_id") < 20).select("doc_id", "text")
        )
        == 0
    )


def test_ivf_append_filter_guard_and_crash_convergence(spark, tmp_path):
    """IVF: the filter is committed BEFORE the cells append (superset
    invariant), so a crash between the two leaves the replay
    filter-positive -> exact path -> exactly-once rows. Steady-state
    appends must not scan the cells data for the guard (plan check:
    the guarded batch's plan reads no cells files)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "ig_ivf")
    ann.ivf_write(assigned, C, path, metric="l2")
    import json

    with open(os.path.join(path, "ivf_index.json")) as f:
        assert json.load(f)["id_bloom"]["hash"] == ig.HASH_SPEC

    batch = e.filter(F.col("vec_id").between(40, 44)).select(
        "vec_id", "embedding"
    )
    assert ann.ivf_append(spark, path, batch) == 5
    loaded, _, _ = ann.ivf_read(spark, path)
    assert loaded.count() == 45
    # replay converges through the exact fallback
    assert ann.ivf_append(spark, path, batch) == 0
    loaded, _, _ = ann.ivf_read(spark, path)
    assert loaded.count() == 45

    # crash sim: filter write succeeds, data append explodes
    b2 = e.filter(F.col("vec_id").between(45, 49)).select(
        "vec_id", "embedding"
    )
    real = ann._assign_to_centroids

    def boom(*a, **kw):
        raise RuntimeError("crash mid-append")

    ann._assign_to_centroids = boom
    try:
        with pytest.raises(RuntimeError, match="crash"):
            ann.ivf_append(spark, path, b2)
    finally:
        ann._assign_to_centroids = real
    # replay: batch is filter-positive (filter committed first), exact
    # check finds nothing on disk, appends exactly once
    assert ann.ivf_append(spark, path, b2) == 5
    loaded, _, _ = ann.ivf_read(spark, path)
    assert loaded.count() == 50
    assert loaded.select("vec_id").distinct().count() == 50


def test_ivf_pq_append_filter_guard(spark, tmp_path):
    """IVF-PQ: same filter contract as IVF — build writes it, appends
    prescreen + extend it, replays converge."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        pq,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    encoded, C, books = pq.ivf_pq_build(
        corpus, n_centroids=4, m=8, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "ig_ivfpq")
    pq.ivf_pq_write(encoded, C, books, path)
    import json

    with open(os.path.join(path, "ivf_pq_index.json")) as f:
        assert json.load(f)["id_bloom"]["hash"] == ig.HASH_SPEC

    batch = e.filter(F.col("vec_id").between(40, 44)).select(
        "vec_id", "embedding"
    )
    assert pq.ivf_pq_append(spark, path, batch, id_col="vec_id") == 5
    assert pq.ivf_pq_append(spark, path, batch, id_col="vec_id") == 0
    loaded, _, _ = pq.ivf_pq_read(spark, path)
    assert loaded.count() == 45
    assert loaded.select("vec_id").distinct().count() == 45
    with pytest.raises(ValueError, match="already"):
        pq.ivf_pq_append(
            spark, path, batch, id_col="vec_id", on_existing="error"
        )


def test_cohabiting_ivf_and_pq_indexes_keep_each_others_filters(
    spark, tmp_path
):
    """An IVF and an IVF-PQ index can legally share one directory
    (distinct sidecars, collision-free versioned cells dirs). Filter
    GC must keep EVERY sidecar's committed filter — deleting the
    sibling's would brick its appends with FileNotFoundError until a
    full rebuild."""
    import json

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
        pq,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    path = str(tmp_path / "shared")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})
    encoded, C2, books = pq.ivf_pq_build(
        corpus, n_centroids=4, m=8, id_col="vec_id", embedding_col="embedding"
    )
    pq.ivf_pq_write(encoded, C2, books, path)  # same directory

    ivf_bloom = json.load(open(os.path.join(path, "ivf_index.json")))[
        "id_bloom"
    ]["location"]
    pq_bloom = json.load(open(os.path.join(path, "ivf_pq_index.json")))[
        "id_bloom"
    ]["location"]
    assert ivf_bloom != pq_bloom
    # the pq write's GC ran after the ivf write: both files survive
    assert os.path.exists(os.path.join(path, ivf_bloom))
    assert os.path.exists(os.path.join(path, pq_bloom))

    # appends to EACH still work and GC still spares the sibling
    b = e.filter(F.col("vec_id").between(40, 44)).select(
        "vec_id", "embedding"
    )
    assert ann.ivf_append(spark, path, b) == 5
    assert pq.ivf_pq_append(spark, path, b, id_col="vec_id") == 5
    for sc in ("ivf_index.json", "ivf_pq_index.json"):
        loc = json.load(open(os.path.join(path, sc)))["id_bloom"]["location"]
        assert os.path.exists(os.path.join(path, loc)), sc
    # and both converged exactly-once
    assert ann.ivf_read(spark, path)[0].count() == 45
    assert pq.ivf_pq_read(spark, path)[0].count() == 45
    assert ann.ivf_append(spark, path, b) == 0
    assert pq.ivf_pq_append(spark, path, b, id_col="vec_id") == 0


def test_hash_spec_mismatch_falls_back_to_exact(spark, tmp_path):
    """A filter recorded under a DIFFERENT hash spec must never be
    probed (false negatives there mean double ingest): the append
    treats it as missing — exact anti-join now, a fresh usable filter
    rebuilt for next time — and replays stay exactly-once."""
    import json

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "spec_mismatch")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20), path, id_col="doc_id", text_col="text"
    )
    p = bi._local_sidecar_path(path)
    meta = bi.band_index_meta(p)
    meta["id_bloom"]["hash"] = "some-future-family-v9"
    bi._sidecar_write(p, meta)

    batch = d.filter(F.col("doc_id").between(20, 24)).select("doc_id", "text")
    assert bi.band_index_append(spark, path, batch) == 5
    # the append rebuilt a usable filter
    assert bi.band_index_meta(path)["id_bloom"]["hash"] == ig.HASH_SPEC
    # replay of the SAME batch (with the old mismatched filter it
    # could have double-ingested) is a no-op
    assert bi.band_index_append(spark, path, batch) == 0
    bands_t, _ = bi.band_index_read(spark, path)
    assert bands_t.count() == 25 * 8


def test_band_index_audit_flags_and_compact_resets(spark, tmp_path):
    """band_index_audit quantifies append bloat and compaction resets
    it: a fresh build audits clean (ratio 1.0, flag off); re-ingested
    content pushes dup_key_ratio past the threshold and flips
    compact_recommended; band_index_compact returns the ratio to 1.0,
    bounds the file counts, and the flag clears. The legacy-format
    and capacity columns behave (capacity well under 1.0 at fixture
    scale; NULL when the filter is unusable)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "band_audit")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 30), path, id_col="doc_id", text_col="text"
    )
    fresh = bi.band_index_audit(spark, path).first()
    assert fresh["dup_key_ratio"] == 1.0
    assert not fresh["compact_recommended"]
    assert 0 < fresh["filter_capacity_used"] < 1.0

    # re-ingest: same texts under new ids -> duplicate keys pile up
    dup_batch = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    bi.band_index_append(spark, path, dup_batch)
    bloated = bi.band_index_audit(
        spark, path, dup_ratio_threshold=1.5
    ).first()
    assert bloated["dup_key_ratio"] > 1.9  # every key duplicated
    assert bloated["compact_recommended"]
    assert bloated["n_docs"] == 60
    assert bloated["files_bucket_keys"] > fresh["files_bucket_keys"]

    bi.band_index_compact(spark, path)
    after = bi.band_index_audit(spark, path, dup_ratio_threshold=1.5).first()
    assert after["dup_key_ratio"] == 1.0
    assert not after["compact_recommended"]
    assert after["files_bucket_keys"] <= 32  # one file per bucket
    assert after["distinct_keys"] == bloated["distinct_keys"]

    # unusable filter -> capacity NULL, audit still serves
    p = bi._local_sidecar_path(path)
    meta = bi.band_index_meta(p)
    meta["id_bloom"]["hash"] = "alien-family"
    bi._sidecar_write(p, meta)
    legacy = bi.band_index_audit(spark, path).first()
    assert legacy["filter_capacity_used"] is None
    assert legacy["n_docs"] == 60


def test_ivf_append_tag_reuse_with_new_ids_rerecords(spark, tmp_path):
    """A reused tag carrying NEW ids is a fresh append, not a replay:
    the contribution recording must be REPLACED (a stale recording
    would make a later replay of the tag exclude the wrong set and
    flip the new docs' verdicts). A true verbatim replay (no new ids)
    keeps the first attempt's recording."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "tag_reuse")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})

    bA = e.filter(F.col("vec_id").between(40, 44)).select("vec_id", "embedding")
    assert ann.ivf_append(spark, path, bA, tag="T") == 5
    assert sorted(
        int(r[0]) for r in ann.ivf_appended_ids(spark, path, "T").collect()
    ) == [40, 41, 42, 43, 44]

    # verbatim replay: recording unchanged
    assert ann.ivf_append(spark, path, bA, tag="T") == 0
    assert sorted(
        int(r[0]) for r in ann.ivf_appended_ids(spark, path, "T").collect()
    ) == [40, 41, 42, 43, 44]

    # tag REUSED with new content: rows append AND the recording is
    # replaced with THIS batch's contribution
    bB = e.filter(F.col("vec_id").between(45, 47)).select("vec_id", "embedding")
    assert ann.ivf_append(spark, path, bB, tag="T") == 3
    assert sorted(
        int(r[0]) for r in ann.ivf_appended_ids(spark, path, "T").collect()
    ) == [45, 46, 47]
    assert ann.ivf_read(spark, path)[0].count() == 48


def test_custom_sized_filter_capacity_in_audit(spark, tmp_path):
    """r11 ADVICE: an expected_ids-sized filter must be audited
    against its OWN sizing, not the global density constant. A filter
    sized for exactly its 30 build ids reads capacity_used 1.0 at
    build (the density formula on the 2^16-floored m would read
    ~0.005 and never flag); doubling the id set pushes it to 2.0 and
    flips compact_recommended through the capacity signal alone."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "cap_custom")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 30),
        path,
        id_col="doc_id",
        text_col="text",
        expected_ids=30,
    )
    meta = bi.band_index_meta(path)
    assert meta["id_bloom"]["capacity"] == 30
    fresh = bi.band_index_audit(spark, path).first()
    assert fresh["filter_capacity_used"] == 1.0
    assert not fresh["compact_recommended"]

    grown = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    bi.band_index_append(spark, path, grown)
    # appends merge into the SAME filter: capacity carries forward
    meta2 = bi.band_index_meta(path)
    assert meta2["id_bloom"]["capacity"] == 30
    # dup threshold raised out of the way: the flip must come from
    # the capacity signal
    bloated = bi.band_index_audit(
        spark, path, dup_ratio_threshold=50.0
    ).first()
    assert bloated["filter_capacity_used"] == 2.0
    assert bloated["compact_recommended"]


def test_ivf_pending_appends_survive_concurrent_writer(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE: ivf_append kept a SINGLE pending slot, so a second
    writer's tagged append overwrote a crashed batch's recorded
    contribution and its replay gated as fresh. Now pending records
    are a list keyed by tag (the band-index design): crash tag A
    mid-append, complete tag B, and A's recording must still be
    served — and A's replay must reuse it."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=4, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "pending_list")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})

    bA = e.filter(F.col("vec_id").between(40, 44)).select(
        "vec_id", "embedding"
    )
    bB = e.filter(F.col("vec_id").between(45, 47)).select(
        "vec_id", "embedding"
    )

    # crash tag A AFTER its pending recording + filter commit, BEFORE
    # any data lands (the widest replay window)
    real_assign = ann._assign_to_centroids

    def boom(*a, **kw):
        raise RuntimeError("injected crash before the data write")

    monkeypatch.setattr(ann, "_assign_to_centroids", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        ann.ivf_append(spark, path, bA, tag="A")
    monkeypatch.setattr(ann, "_assign_to_centroids", real_assign)

    import json
    import os

    meta = json.load(open(os.path.join(path, "ivf_index.json")))
    assert [p["tag"] for p in meta["pending_appends"]] == ["A"]

    # a second writer completes tag B — A's pending record survives
    assert ann.ivf_append(spark, path, bB, tag="B") == 3
    meta = json.load(open(os.path.join(path, "ivf_index.json")))
    assert [p["tag"] for p in meta["pending_appends"]] == ["A"]
    assert sorted(
        int(r[0]) for r in ann.ivf_appended_ids(spark, path, "A").collect()
    ) == [40, 41, 42, 43, 44]

    # A's replay converges, reuses the recorded set, and clears only
    # its own pending entry
    assert ann.ivf_append(spark, path, bA, tag="A") == 5
    assert sorted(
        int(r[0]) for r in ann.ivf_appended_ids(spark, path, "A").collect()
    ) == [40, 41, 42, 43, 44]
    meta = json.load(open(os.path.join(path, "ivf_index.json")))
    assert not meta.get("pending_appends")
    assert ann.ivf_read(spark, path)[0].count() == 48


def test_ivf_recording_dirs_are_monotonic_across_gc(spark, tmp_path):
    """r11 ADVICE: recording-dir versions must never recycle a
    GC-removed name (a reader holding an older sidecar could open a
    same-named dir with different content). Three tagged appends in
    sequence: each commit GCs the previous recording, and the next
    allocation must still move FORWARD past the sidecar's recorded
    floor instead of reusing the freed v1 name."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=2, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "mono")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})

    seen = []
    for i, tag in enumerate(("T1", "T2", "T3")):
        lo = 20 + 5 * i
        b = e.filter(F.col("vec_id").between(lo, lo + 4)).select(
            "vec_id", "embedding"
        )
        assert ann.ivf_append(spark, path, b, tag=tag) == 5
        import json

        meta = json.load(open(os.path.join(path, "ivf_index.json")))
        seen.append(meta["last_append_ids"])
    versions = [int(d.rsplit("_v", 1)[1]) for d in seen]
    assert versions == sorted(set(versions)), versions
    assert versions[-1] >= 3  # never recycled the GC-freed v1 name


def test_batch_digest_two_seed_format():
    """r11 ADVICE: a single xor is a weak set hash; the digest now
    carries count + TWO independently-seeded xors. Format and basic
    separation pinned (order-independence was already covered by the
    streaming replay tests)."""
    from vector_databases___hydrate_chroma_db_collection_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="vdb-tests", master="local[8]", shuffle_partitions=8
    )
    a = spark.createDataFrame([("x",), ("y",)], "id string")
    b = spark.createDataFrame([("y",), ("x",)], "id string")
    c = spark.createDataFrame([("x",), ("z",)], "id string")
    da, db, dc = (ig.batch_digest(df, "id") for df in (a, b, c))
    assert da.count(":") == 2
    assert da == db  # order-independent
    assert da != dc


def test_ivf_compact_cycles_never_recycle_cells_names(spark, tmp_path):
    """Review regression: repeated compactions (the auto-maintenance
    loops make these routine) must allocate strictly increasing
    cells_vN names even though each compaction GCs its predecessor —
    a recycled name could be scanned mid-rewrite by a reader holding
    an older sidecar."""
    import json
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    corpus = e.filter(F.col("vec_id") < 30).select("vec_id", "embedding")
    assigned, C = ann.ivf_build(
        corpus, n_centroids=2, id_col="vec_id", embedding_col="embedding"
    )
    path = str(tmp_path / "compact_cycle")
    ann.ivf_write(assigned, C, path, metric="l2",
                  build={"metric": "l2", "seed": 42})
    seen = []
    for i in range(3):
        b = e.filter(
            F.col("vec_id").between(30 + 10 * i, 39 + 10 * i)
        ).select("vec_id", "embedding")
        ann.ivf_append(spark, path, b)
        ann.ivf_compact(spark, path)
        meta = json.load(open(os.path.join(path, "ivf_index.json")))
        seen.append(meta["location"])
    versions = [int(d.rsplit("_v", 1)[1]) for d in seen]
    assert versions == sorted(set(versions)), seen
    assert ann.ivf_read(spark, path)[0].count() == 60


# ---------------------------------------------------------------------------
# Sharded guard (r15): delta segments make appends batch-proportional
# ---------------------------------------------------------------------------


def test_numpy_fold_matches_catalyst_build(spark):
    """The fold's load-bearing equivalence: folding raw hash pairs
    into filter words by numpy arithmetic must be BIT-IDENTICAL to
    the Catalyst build over the same ids — otherwise a folded filter
    could miss a bit the build would have set, and a replay of that
    id would skip the exact check (false negative = double-ingest)."""
    ids = spark.range(0, 5000).selectExpr("cast(id * 37 as string) as s")
    m, k = ig.bloom_params(5000)
    built = ig.bloom_build(ids, F.col("s"), m, k)
    h1, h2 = ig._batch_hash_pairs(ids, F.col("s"))
    folded = np.zeros(m // 64, dtype=np.uint64)
    ig._fold_into(folded, m, k, h1, h2)
    assert np.array_equal(built, folded)


def test_sharded_append_leaves_main_filter_untouched(spark, tmp_path):
    """Steady-state sharded append: bloom_extend persists ONE delta
    segment (16 bytes/id) and never rewrites the main filter file —
    the r14 100M probe's corpus-linear term. Probes still catch both
    main-filter ids and delta ids; fresh ids stay definitely-new."""
    p = str(tmp_path)
    base = spark.range(0, 2000).selectExpr("cast(id as string) as s")
    meta = {"id_bloom": ig.rebuild_filter(base, F.col("s"), p, None)}
    main_loc = meta["id_bloom"]["location"]
    main_bytes = open(os.path.join(p, main_loc), "rb").read()

    batch = spark.range(2000, 2100).selectExpr("cast(id as string) as s")
    state = ig.bloom_read(p, main_loc)
    ig.bloom_extend(p, meta, state, batch)
    ib = meta["id_bloom"]
    # main file untouched byte-for-byte, one segment recorded
    assert ib["location"] == main_loc
    assert open(os.path.join(p, main_loc), "rb").read() == main_bytes
    assert len(ib["segments"]) == 1 and ib["delta_ids"] == 100
    seg = ib["segments"][0]
    assert seg["n"] == 100
    assert os.path.getsize(os.path.join(p, seg["location"])) == 16 + 16 * 100

    # probe: base ids positive (main), batch ids positive (delta),
    # fresh ids negative (no false positives at this density)
    every = spark.range(0, 2200).selectExpr("cast(id as string) as s")
    neg, maybe, _st = ig.bloom_split(every, p, ib, "s")
    maybe_ids = {int(r["s"]) for r in maybe.collect()}
    assert set(range(2100)) <= maybe_ids
    assert neg.count() >= 90  # 2100..2199 modulo rare false positives


def test_sharded_append_folds_at_threshold(spark, tmp_path):
    """Fold trigger: once segment ids pass capacity/64 (floored at
    DELTA_FOLD_MIN_IDS), the next extend folds every segment plus the
    batch into a FRESH main filter version with no segment list — and
    the folded filter still catches every id ever appended."""
    p = str(tmp_path)
    base = spark.range(0, 500).selectExpr("cast(id as string) as s")
    meta = {"id_bloom": ig.rebuild_filter(base, F.col("s"), p, None)}
    v1 = meta["id_bloom"]["location"]

    # two small segments stay under the 4096-id floor
    for lo in (500, 1000):
        b = spark.range(lo, lo + 1000).selectExpr("cast(id as string) as s")
        ig.bloom_extend(p, meta, ig.bloom_read(p, v1), b)
    assert len(meta["id_bloom"]["segments"]) == 2
    assert meta["id_bloom"]["delta_ids"] == 2000

    # the batch that crosses 4096 delta ids folds everything
    b = spark.range(2000, 5000).selectExpr("cast(id as string) as s")
    ig.bloom_extend(p, meta, ig.bloom_read(p, v1), b)
    ib = meta["id_bloom"]
    assert ib["segments"] == [] and ib["delta_ids"] == 0
    assert ib["location"] != v1
    # folded main alone (no segments in the meta) catches every id
    every = spark.range(0, 5000).selectExpr("cast(id as string) as s")
    _neg, maybe, _st = ig.bloom_split(every, p, ib, "s")
    assert maybe.count() == 5000


def test_sharded_gc_keeps_referenced_segments(spark, tmp_path):
    """GC removes delta segments no committed sidecar references
    (orphans from a crash between segment write and sidecar commit)
    and keeps the referenced ones — same discipline as main filters."""
    import json

    p = str(tmp_path)
    base = spark.range(0, 100).selectExpr("cast(id as string) as s")
    meta = {"id_bloom": ig.rebuild_filter(base, F.col("s"), p, None)}
    b = spark.range(100, 150).selectExpr("cast(id as string) as s")
    ig.bloom_extend(p, meta, ig.bloom_read(p, meta["id_bloom"]["location"]), b)
    committed_seg = meta["id_bloom"]["segments"][0]["location"]
    with open(os.path.join(p, "ivf_index.json"), "w") as f:
        json.dump(meta, f)

    # crash sim: a second extend wrote its segment but the sidecar
    # swap never happened (meta2 never persisted)
    meta2 = {"id_bloom": dict(meta["id_bloom"])}
    b2 = spark.range(150, 200).selectExpr("cast(id as string) as s")
    ig.bloom_extend(
        p, meta2, ig.bloom_read(p, meta["id_bloom"]["location"]), b2
    )
    orphan_seg = meta2["id_bloom"]["segments"][-1]["location"]
    assert orphan_seg != committed_seg
    ig.gc_bloom_files(p, {meta["id_bloom"]["location"]})
    assert os.path.exists(os.path.join(p, committed_seg))
    assert not os.path.exists(os.path.join(p, orphan_seg))
    # and the replay still converges: probing the COMMITTED sidecar
    # routes the crashed batch to definitely-new (it never landed)
    _neg, maybe, _st = ig.bloom_split(
        spark.range(150, 200).selectExpr("cast(id as string) as s"),
        p,
        meta["id_bloom"],
        "s",
    )
    assert maybe is None or maybe.count() == 0


def test_h1_colliding_pairs_both_fold(tmp_path):
    """Two DISTINCT ids colliding on 64-bit h1 carry different h2
    values; both pairs must survive the delta segment and the fold —
    dropping either would leave that id's folded bit set incomplete,
    and its replay would probe 'definitely new' post-fold
    (double-ingest). Synthesized at the delta layer (a real xxhash64
    collision cannot be constructed from ids), pinned end-to-end:
    write, read back, fold, then assert every bit position of BOTH
    pairs is set."""
    p = str(tmp_path)
    m, k = ig.bloom_params(100)
    h1 = np.array([5, 5, 9], dtype=np.int64)  # 5 collides; 9 control
    h2 = np.array([111, 222, 333], dtype=np.int64)
    ig.delta_write(p, "ids_delta_v1.bin", h1, h2)
    r1, r2 = ig.delta_read(p, "ids_delta_v1.bin")
    assert r1.tolist() == h1.tolist() and r2.tolist() == h2.tolist()
    words = np.zeros(m // 64, dtype=np.uint64)
    ig._fold_into(words, m, k, r1, r2)
    ks = np.arange(k, dtype=np.int64)
    for a, b in zip(h1, h2):
        P = np.mod(np.mod(a, m) + ks * np.mod(b, m), m)
        bits = (words[P >> 6] >> (P & 63).astype(np.uint64)) & np.uint64(1)
        assert bits.all(), f"pair ({a},{b}) lost bits in the fold"


def test_batch_hash_pairs_dedups_on_pair_not_h1(spark):
    """_batch_hash_pairs collapses duplicate IDS (identical pairs)
    but must never drop a pair merely because another row shares its
    h1 — the fold-safety invariant the sharded guard rests on."""
    ids = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",)], ["s"]
    )
    h1, h2 = ig._batch_hash_pairs(ids, F.col("s"))
    assert h1.size == 3  # 'a' collapsed, 'b'/'c' kept
    pairs = set(zip(h1.tolist(), h2.tolist()))
    assert len(pairs) == 3


def test_gc_respects_graph_sidecar_segments(spark, tmp_path):
    """r15 regression: gc_bloom_files must treat graph_index.json as
    a first-class guard-bearing sidecar. A delta segment referenced
    ONLY by a committed graph sidecar survives GC; before the fix it
    was deleted as an orphan and the next graph_append crashed
    probing a missing segment file."""
    import json

    p = str(tmp_path)
    base = spark.range(0, 200).selectExpr("cast(id as string) as s")
    meta = {"id_bloom": ig.rebuild_filter(base, F.col("s"), p, None)}
    b = spark.range(200, 250).selectExpr("cast(id as string) as s")
    ig.bloom_extend(p, meta, ig.bloom_read(p, meta["id_bloom"]["location"]), b)
    seg = meta["id_bloom"]["segments"][0]["location"]
    with open(os.path.join(p, "graph_index.json"), "w") as f:
        json.dump(meta, f)
    ig.gc_bloom_files(p, {meta["id_bloom"]["location"]})
    assert os.path.exists(os.path.join(p, seg))


def test_driver_and_executor_bloom_probes_agree(spark, tmp_path):
    """A client batch is prescreened on the driver (``_bloom_maybe``),
    a distributed one by the pandas UDF (``bloom_split``). Both run
    ``_maybe_hits``; on an index whose guard has a main filter and a
    delta segment they must mark the same ids, and the hash pairs a
    LocalRelation folds on the driver must equal the collected ones."""
    import json

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_delete,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _driver_rows,
        _id_frame,
    )

    rows = [(str(i), [float(i % 5), float(i % 3), 1.0]) for i in range(35)]
    corpus = spark.createDataFrame(rows[:30], "id string, embedding array<float>")
    assigned, C = ivf_build(corpus, n_centroids=2, seed=3)
    idx = str(tmp_path / "idx")
    ivf_write(assigned, C, idx, metric="l2")
    ivf_append(
        spark, idx,
        spark.createDataFrame(rows[30:], "id string, embedding array<float>"),
    )
    assert ivf_delete(spark, idx, ["2", "7", "31"]) == 3
    ib = json.load(open(os.path.join(idx, "ivf_index.json")))["id_bloom"]
    assert ib["segments"], "the append must leave a delta segment"

    indexed = [str(i) for i in range(0, 35, 3)]
    tombstoned = ["2", "7", "31"]
    new = [f"new-{i}" for i in range(12)]
    ids = indexed + tombstoned + new
    driver = set(ig._bloom_maybe(spark, idx, ib, ids))
    distributed = spark.createDataFrame([(i,) for i in ids], "s string")
    _neg, maybe, _st = ig.bloom_split(distributed, idx, ib, "s")
    executor = set() if maybe is None else {r["s"] for r in maybe.collect()}
    assert driver == executor
    assert set(indexed + tombstoned) <= driver

    local = _id_frame(spark, ids, "s")
    assert _driver_rows(local) is not None  # folded on the driver
    h_local = ig._batch_hash_pairs(local, F.col("s"))
    h_dist = ig._batch_hash_pairs(distributed, F.col("s"))
    assert all(np.array_equal(a, b) for a, b in zip(h_local, h_dist))
