"""Persisted MinHash band index lifecycle: write/read round-trip,
etag staleness after a collection mutation, one-call refresh — the
same contract surface as the IVF sidecar tests (test_ann.py), applied
to the near-dup novelty gate's corpus state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
    band_index_read,
    band_index_refresh,
    band_index_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
    lsh_band_rows,
    novelty_gate,
    release_cache,
)
from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
    load_table,
)

from .conftest import SF_SMOKE

SENTINEL = (
    "zeta omega kappa lambda sigma tau epsilon delta rho xi "
    "chi psi phi upsilon omicron nu mu iota theta eta"
)


def _make_collection(spark, tmp_path, name):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    e = load_table(spark, SF_SMOKE, "embeddings")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name=name,
            root=str(tmp_path),
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    return str(tmp_path)


def test_band_index_roundtrip_stale_and_refresh(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _make_collection(spark, tmp_path, "band_c")
    coll = read_collection(spark, root, "band_c")
    n_docs = coll.count()

    bands = lsh_band_rows(coll, id_col="id", text_col="document")
    path = f"{root}/band_c/_bands"
    band_index_write(
        bands, path, id_col="id", text_col="document", source=(root, "band_c")
    )
    release_cache(bands)

    # fresh: loads fine, full band table, build params recorded
    loaded, meta = band_index_read(spark, path)
    assert loaded.count() == n_docs * 8
    assert (meta["n"], meta["num_hashes"], meta["bands"]) == (3, 16, 8)
    assert meta["text_col"] == "document"

    # gate through the loaded index: a verbatim copy of doc '7' is a
    # suspect on all 8 bands; the sentinel text is novel
    incoming = spark.createDataFrame(
        [(999, None), (998, SENTINEL)], "doc_id int, text string"
    )
    doc7 = coll.filter(F.col("id") == "7").first()["document"]
    incoming = incoming.withColumn(
        "text", F.when(F.col("doc_id") == 999, F.lit(doc7)).otherwise(F.col("text"))
    )
    out = novelty_gate(incoming, loaded, id_col="doc_id", text_col="text")
    got = {r["doc_id"]: (r["n_hit_bands"], r["novel"]) for r in out.collect()}
    release_cache(out)
    assert got == {999: (8, False), 998: (0, True)}

    # mutate: doc '3' takes the sentinel text -> etag changes
    upd = spark.createDataFrame([("3", SENTINEL)], "id string, document string")
    assert collection_update(spark, root, "band_c", upd) == 1

    with pytest.raises(StaleIndexError, match="STALE"):
        band_index_read(spark, path)
    # explicit opt-out still serves the OLD state: sentinel is novel
    old_bands, _ = band_index_read(spark, path, verify_source=False)
    out_old = novelty_gate(
        incoming.filter(F.col("doc_id") == 998),
        old_bands,
        id_col="doc_id",
        text_col="text",
    )
    assert [r["novel"] for r in out_old.collect()] == [True]
    release_cache(out_old)

    # one-call remedy: rebuild against the CURRENT collection — the
    # sentinel is now ingested text, so the gate must flag it
    fresh, meta2 = band_index_refresh(spark, path)
    assert fresh.count() == n_docs * 8
    assert meta2["source"]["etag"] != meta["source"]["etag"]
    out_new = novelty_gate(
        incoming.filter(F.col("doc_id") == 998),
        fresh,
        id_col="doc_id",
        text_col="text",
    )
    rows = out_new.collect()
    release_cache(out_new)
    assert rows[0]["n_hit_bands"] == 8 and not rows[0]["novel"]
    # and a plain read passes the staleness gate again
    band_index_read(spark, path)


def test_band_index_unstamped_never_checks_and_cannot_refresh(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    bands = lsh_band_rows(docs, id_col="doc_id", text_col="text")
    path = str(tmp_path / "plain_bands")
    band_index_write(bands, path)
    release_cache(bands)
    loaded, meta = band_index_read(spark, path)
    assert meta["source"] is None and loaded.count() == 20 * 8
    with pytest.raises(ValueError, match="no source-collection stamp"):
        band_index_refresh(spark, path)


def test_neardup_gate_verified_from_persisted_index(spark, tmp_path):
    """Verified serving path: exact dup -> jaccard 1.0 dup verdict
    with the right match id; novel doc -> NULL match, not dup; the
    verdict comes entirely from the persisted postings (corpus text
    never read at serve time — the gate gets only index tables)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
        band_index_read_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while birds sing in the tall green trees above"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("green", "blue")),
            (3, "completely different content about catalyst optimizer "
                "plans and distributed shuffles in large clusters today"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "vidx")
    band_index_build(
        corpus, path, id_col="doc_id", text_col="text", include_shingles=True
    )
    bands_t, sh_t, sizes_t, meta = band_index_read_verified(spark, path)
    assert meta["has_shingles"]

    incoming = spark.createDataFrame(
        [
            (101, base),  # exact dup of corpus doc 1
            (102, "novel prose about reinforcement learning reward "
                  "models and preference optimization at scale today"),
        ],
        "doc_id int, text string",
    )
    out = neardup_gate_verified(
        incoming, bands_t, sh_t, sizes_t, id_col="doc_id", text_col="text"
    )
    got = {
        r["doc_id"]: (r["best_match_id"], r["best_jaccard"], r["is_dup"])
        for r in out.collect()
    }
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        release_cache,
    )

    release_cache(out)
    assert got[101] == (1, 1.0, True)
    assert got[102] == (None, None, False)


def test_band_index_read_verified_requires_shingles(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
        band_index_read_verified,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(5)
    path = str(tmp_path / "bands_only")
    band_index_build(docs, path, id_col="doc_id", text_col="text")
    with pytest.raises(ValueError, match="without shingles"):
        band_index_read_verified(spark, path)


def test_band_index_append_incremental(spark, tmp_path):
    """Incremental ingest: appending docs to the collection makes the
    index stale; band_index_append indexes ONLY the new docs (no
    corpus recompute), re-stamps, and the verified gate then flags
    copies of the newly-appended text."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_build,
        band_index_read,
        band_index_read_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    e = load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path)

    def cfg():
        return HydrationConfig(
            collection_name="band_a",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        )

    first = d.filter(F.col("doc_id") < 30)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg())
    coll = read_collection(spark, root, "band_a")
    n0 = coll.count()
    path = f"{root}/band_a/_bands"
    band_index_build(
        coll,
        path,
        id_col="id",
        text_col="document",
        include_shingles=True,
        source=(root, "band_a"),
    )

    nxt = d.filter(F.col("doc_id").between(30, 39))
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg())
    with pytest.raises(StaleIndexError, match="STALE"):
        band_index_read(spark, path)

    new_docs = nxt.join(e, nxt.doc_id == e.vec_id).select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias("document"),
    )
    n_new = band_index_append(spark, path, new_docs)
    assert n_new == new_docs.count()

    bands_t, sh_t, sizes_t, meta = band_index_read_verified(spark, path)
    assert bands_t.count() == (n0 + n_new) * 8
    assert dict(bands_t.dtypes)["id"] == meta["id_type"] == "string"

    doc35 = d.filter(F.col("doc_id") == 35).first()["text"]
    incoming = spark.createDataFrame([(500, doc35)], "doc_id int, text string")
    out = neardup_gate_verified(
        incoming, bands_t, sh_t, sizes_t, id_col="doc_id", text_col="text"
    )
    row = out.collect()[0]
    release_cache(out)
    # expected match: smallest (string-ordered) collection id whose
    # document text equals doc 35's — usually '35' itself, but the
    # fixture may contain planted duplicates
    expect = (
        read_collection(spark, root, "band_a")
        .filter(F.col("document") == doc35)
        .agg(F.min("id"))
        .first()[0]
    )
    assert row["best_jaccard"] == 1.0 and row["is_dup"]
    assert row["best_match_id"] == expect


def test_bucket_keys_gate_equals_full_bands_gate(spark, tmp_path):
    """The pre-distincted bucket_keys table serves the novelty gate
    with identical results to the full (id, band, h) table — and it
    stays duplicate-free through an append (the counting contract
    novelty_gate trusts two-column references to uphold)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_bucket_keys,
        band_index_build,
        band_index_read,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "bk_idx")
    band_index_build(
        d.filter(F.col("doc_id") < 30), path, id_col="doc_id", text_col="text"
    )
    band_index_append(
        spark, path, d.filter(F.col("doc_id").between(30, 39))
    )
    bk = band_index_bucket_keys(spark, path)
    assert bk.columns == ["band", "h"]
    # appends add batch-distinct keys; the semi-join gate is
    # multiplicity-immune, so only the DISTINCT key set is contractual
    assert bk.distinct().count() <= bk.count()

    bands_full, _ = band_index_read(spark, path)
    incoming = d.filter(F.col("doc_id").between(35, 44)).select("doc_id", "text")
    via_keys = novelty_gate(incoming, bk, id_col="doc_id", text_col="text")
    via_bands = novelty_gate(incoming, bands_full, id_col="doc_id", text_col="text")
    got_k = {r["doc_id"]: (r["n_hit_bands"], r["novel"]) for r in via_keys.collect()}
    got_b = {r["doc_id"]: (r["n_hit_bands"], r["novel"]) for r in via_bands.collect()}
    release_cache(via_keys)
    release_cache(via_bands)
    assert got_k == got_b
    # docs 35-39 are ingested corpus members -> all 8 bands hit
    assert all(got_k[i] == (8, False) for i in range(35, 40))


def test_bucketed_gate_no_corpus_exchange(spark, tmp_path):
    """The serving-layout contract: a gate probing a BUCKETED index
    joins the corpus side in place — the only Exchange in the join is
    the probe batch shuffled into the corpus's existing (band, h)
    bucketing. Differential assertion against the identical gate over
    a plain (unbucketed) key table: exactly one Exchange disappears,
    and the bucketed scan is marked Bucketed: true."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_bucket_keys,
        band_index_build,
    )

    d = load_table(spark, SF_SMOKE, "documents").limit(40)
    p_bucketed = str(tmp_path / "bk_bucketed")
    p_plain = str(tmp_path / "bk_plain")
    band_index_build(d, p_bucketed, id_col="doc_id", text_col="text")
    band_index_build(
        d, p_plain, id_col="doc_id", text_col="text", num_buckets=None
    )
    incoming = d.limit(5).select("doc_id", "text")

    prev = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {}
        for label, path in (("bucketed", p_bucketed), ("plain", p_plain)):
            keys = band_index_bucket_keys(spark, path)
            out = novelty_gate(incoming, keys, id_col="doc_id", text_col="text")
            plans[label] = out._jdf.queryExecution().executedPlan().toString()
            release_cache(out)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "Bucketed: true" in plans["bucketed"], plans["bucketed"]
    assert "Bucketed: true" not in plans["plain"]
    assert (
        plans["bucketed"].count("Exchange")
        == plans["plain"].count("Exchange") - 1
    ), plans["bucketed"]


def test_band_index_append_double_ingest_idempotent(spark, tmp_path):
    """Replaying an already-appended batch must be a no-op under the
    default guard: zero newly-indexed docs, identical band/posting/
    size row counts, identical verified-gate verdicts — the hole the
    r8 caller-trusted contract left open (a re-append would double
    posting weights and shift Jaccard verdicts)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_build,
        band_index_read_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "dbl_idx")
    band_index_build(
        d.filter(F.col("doc_id") < 30),
        path,
        id_col="doc_id",
        text_col="text",
        include_shingles=True,
    )
    batch = d.filter(F.col("doc_id").between(30, 39))
    assert band_index_append(spark, path, batch) == 10

    def snapshot():
        bands_t, sh_t, sizes_t, _ = band_index_read_verified(spark, path)
        probe = d.filter(F.col("doc_id").between(35, 44)).select("doc_id", "text")
        out = neardup_gate_verified(
            probe, bands_t, sh_t, sizes_t, id_col="doc_id", text_col="text"
        )
        verdicts = {
            r["doc_id"]: (r["best_match_id"], r["best_jaccard"], r["is_dup"])
            for r in out.collect()
        }
        release_cache(out)
        return bands_t.count(), sh_t.count(), sizes_t.count(), verdicts

    before = snapshot()
    # replay the same batch, plus one genuinely new doc: only the new
    # doc is indexed
    replay = d.filter(F.col("doc_id").between(30, 40))
    assert band_index_append(spark, path, replay) == 1
    bands_n, sh_n, sizes_n, verdicts_n = snapshot()
    # the genuinely-new doc 40 flips to dup (it IS indexed now); every
    # replayed doc's verdict is bit-identical — no doubled postings
    assert verdicts_n[40] == (40, 1.0, True)
    assert {k: v for k, v in verdicts_n.items() if k != 40} == {
        k: v for k, v in before[3].items() if k != 40
    }
    assert bands_n == before[0] + 8 and sizes_n == before[2] + 1
    # pure replay: nothing appended at all
    assert band_index_append(spark, path, batch) == 0
    assert snapshot() == (bands_n, sh_n, sizes_n, verdicts_n)


def test_band_index_append_on_existing_error(spark, tmp_path):
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_build,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "err_idx")
    band_index_build(
        d.filter(F.col("doc_id") < 20), path, id_col="doc_id", text_col="text"
    )
    with pytest.raises(ValueError, match="already\\s+indexed"):
        band_index_append(
            spark,
            path,
            d.filter(F.col("doc_id").between(15, 24)),
            on_existing="error",
        )
    with pytest.raises(ValueError, match="on_existing"):
        band_index_append(
            spark, path, d.limit(1), on_existing="maybe"
        )


def test_band_index_append_expected_prev_etag(spark, tmp_path):
    """Opt-in foreign-mutation fence: an append that asserts the etag
    it observed before its own collection write fails loudly when the
    sidecar records a different stamp (someone else updated the
    collection since the index was built) instead of silently
    re-stamping a stale index fresh."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_build,
        band_index_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    e = load_table(spark, SF_SMOKE, "embeddings")
    root = str(tmp_path)
    cfg = HydrationConfig(
        collection_name="fence",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    first = d.filter(F.col("doc_id") < 30)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "fence")
    path = f"{root}/fence/_bands"
    band_index_build(
        coll, path, id_col="id", text_col="document", source=(root, "fence")
    )
    etag0 = collection_etag(root, "fence")

    # happy path: caller observes etag0, appends to the collection,
    # then appends to the index asserting etag0 — matches the stamp
    nxt = d.filter(F.col("doc_id").between(30, 34))
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg)
    new_docs = nxt.select(
        F.col("doc_id").cast("string").alias("id"), F.col("text").alias("document")
    )
    assert (
        band_index_append(spark, path, new_docs, expected_prev_etag=etag0) == 5
    )
    band_index_read(spark, path)  # fresh again

    # foreign mutation: an update the appender did not perform — the
    # appender's observed etag no longer matches the sidecar stamp
    etag1 = collection_etag(root, "fence")
    upd = spark.createDataFrame([("3", SENTINEL)], "id string, document string")
    assert collection_update(spark, root, "fence", upd) == 1
    etag2 = collection_etag(root, "fence")
    assert etag2 != etag1
    more = d.filter(F.col("doc_id").between(35, 39)).select(
        F.col("doc_id").cast("string").alias("id"), F.col("text").alias("document")
    )
    with pytest.raises(StaleIndexError, match="mutated by something other"):
        band_index_append(spark, path, more, expected_prev_etag=etag2)


def test_novelty_gate_excluding_replay_stable(spark, tmp_path):
    """The streaming ingest loop's replay hazard, isolated: after a
    batch's docs have ALREADY been appended to the index (the state a
    foreachBatch replay observes when the crashed attempt got as far
    as band_index_append), novelty_gate_excluding must still publish
    the FIRST attempt's verdicts, while the plain gate flips them to
    duplicate."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_build,
        band_index_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        novelty_gate_excluding,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "replay_idx")
    corpus = d.filter(F.col("doc_id") < 30)
    band_index_build(corpus, path, id_col="doc_id", text_col="text")

    # batch: 5 novel docs + 1 verbatim copy of a corpus doc
    batch = d.filter(F.col("doc_id").between(40, 44)).select(
        "doc_id", "text"
    ).unionByName(
        d.filter(F.col("doc_id") == 7).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )

    def verdicts(gate_fn):
        out = gate_fn()
        got = {
            r["doc_id"]: (r["n_hit_bands"], r["novel"]) for r in out.collect()
        }
        release_cache(out)
        return got

    bands_t, meta = band_index_read(spark, path)
    first = verdicts(
        lambda: novelty_gate_excluding(
            batch, bands_t, ref_id_col="doc_id", id_col="doc_id", text_col="text"
        )
    )
    plain_first = verdicts(
        lambda: novelty_gate(batch, bands_t, id_col="doc_id", text_col="text")
    )
    # no batch doc is indexed yet -> exclusion is a no-op
    assert first == plain_first
    assert first[1007] == (8, False)

    # the crashed attempt appended the batch's novel docs
    novel = batch.filter(F.col("doc_id") != 1007)
    assert band_index_append(spark, path, novel) == 5

    bands_t2, _ = band_index_read(spark, path, verify_source=False)
    replay = verdicts(
        lambda: novelty_gate_excluding(
            batch, bands_t2, ref_id_col="doc_id", id_col="doc_id", text_col="text"
        )
    )
    plain_replay = verdicts(
        lambda: novelty_gate(batch, bands_t2, id_col="doc_id", text_col="text")
    )
    assert replay == first, "exclusion gate must reproduce first-attempt verdicts"
    # ...while the plain gate is poisoned by the batch's own rows
    assert all(not v[1] for v in plain_replay.values())


def test_band_index_append_torn_replay_exactly_once(spark, tmp_path):
    """Tear the multi-part append at EVERY part boundary (crash after
    k successful part writes), then replay the same batch: every part
    must land exactly once — no doubled band/posting/size rows, no
    permanently-lost parts — and the verified gate's verdicts must be
    bit-identical to an untorn append's."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    probe = d.filter(F.col("doc_id").between(35, 44)).select("doc_id", "text")
    batch = d.filter(F.col("doc_id").between(30, 39))

    def build(path):
        bi.band_index_build(
            d.filter(F.col("doc_id") < 30),
            path,
            id_col="doc_id",
            text_col="text",
            include_shingles=True,
        )

    def snapshot(path):
        bands_t, sh_t, sizes_t, meta = bi.band_index_read_verified(spark, path)
        ids_t = spark.read.parquet(
            f"{path}/{meta['locations']['ids']}"
        )
        out = neardup_gate_verified(
            probe, bands_t, sh_t, sizes_t, id_col="doc_id", text_col="text"
        )
        verdicts = {
            r["doc_id"]: (r["best_match_id"], r["best_jaccard"], r["is_dup"])
            for r in out.collect()
        }
        release_cache(out)
        return (
            bands_t.count(),
            sh_t.count(),
            sizes_t.count(),
            ids_t.count(),
            verdicts,
        )

    # reference: the untorn append
    ref_path = str(tmp_path / "untorn")
    build(ref_path)
    assert bi.band_index_append(spark, ref_path, batch) == 10
    want = snapshot(ref_path)

    real_append_part = bi._append_part
    # part-write order inside band_index_append:
    #   bands -> bucket_keys -> shingles -> sizes -> ids
    for crash_after in range(5):
        path = str(tmp_path / f"torn_{crash_after}")
        build(path)
        calls = {"n": 0}

        def tearing(df, p, part, nb, meta, _k=crash_after):
            if calls["n"] == _k:
                raise RuntimeError(f"torn after {calls['n']} part writes")
            calls["n"] += 1
            return real_append_part(df, p, part, nb, meta)

        bi._append_part = tearing
        try:
            with pytest.raises(RuntimeError, match="torn"):
                bi.band_index_append(spark, path, batch)
        finally:
            bi._append_part = real_append_part
        # the sidecar must still carry the in-flight marker for
        # exactly this batch
        assert bi.band_index_meta(path).get("pending_appends"), (
            bi.band_index_meta(path)
        )
        # replay the SAME batch: heals to exactly-once
        n = bi.band_index_append(spark, path, batch)
        assert n == 10, f"crash_after={crash_after}: replay returned {n}"
        assert not bi.band_index_meta(path).get("pending_appends")
        got = snapshot(path)
        assert got == want, f"crash_after={crash_after}: {got[:4]} != {want[:4]}"
        # a second replay is a pure no-op
        assert bi.band_index_append(spark, path, batch) == 0
        assert snapshot(path) == want


def test_band_index_rebuild_changes_bucket_spec_same_session(spark, tmp_path):
    """An index rebuilt at the same path with a DIFFERENT num_buckets
    must never be scanned through the first build's catalog entry:
    the catalog name digests the (data directory, bucket count) pair,
    and rebuilds write fresh versioned directories — so the stale
    entry's bucket spec can't silently mis-distribute the gate join
    (which would drop matches, gating ingested docs as novel)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_bucket_keys,
        band_index_build,
        band_index_meta,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    corpus = d.filter(F.col("doc_id") < 40)
    path = str(tmp_path / "respec_idx")
    band_index_build(corpus, path, id_col="doc_id", text_col="text", num_buckets=32)
    # serve once so the 32-bucket catalog entry exists in THIS session
    probe = d.filter(F.col("doc_id").between(35, 44)).select("doc_id", "text")
    out = novelty_gate(
        probe, band_index_bucket_keys(spark, path), id_col="doc_id", text_col="text"
    )
    first = {r["doc_id"]: r["novel"] for r in out.collect()}
    release_cache(out)
    assert all(not first[i] for i in range(35, 40))

    loc_before = band_index_meta(path)["locations"]["bucket_keys"]
    band_index_build(corpus, path, id_col="doc_id", text_col="text", num_buckets=8)
    meta = band_index_meta(path)
    assert meta["num_buckets"] == 8
    assert meta["locations"]["bucket_keys"] != loc_before
    # the superseded directory is gone after the sidecar commit
    import os as _os

    assert not _os.path.exists(f"{path}/{loc_before}")
    out2 = novelty_gate(
        probe, band_index_bucket_keys(spark, path), id_col="doc_id", text_col="text"
    )
    second = {r["doc_id"]: r["novel"] for r in out2.collect()}
    release_cache(out2)
    # identical verdicts through the new bucket spec — a stale-catalog
    # mis-distribution would gate the ingested docs 35..39 as novel
    assert second == first


def test_band_index_compact_bounds_files_and_preserves_content(spark, tmp_path):
    """Compaction is the small-files remedy for append-grown indexes:
    after three appends each bucketed part holds ~4x num_buckets
    files; compact rewrites every part to a bounded count (bucketed:
    exactly num_buckets) behind the atomic sidecar swap, verdicts are
    bit-identical, the double-ingest guard still works, a torn index
    refuses to compact, and appends keep working afterwards."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "compact_idx")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20),
        path,
        id_col="doc_id",
        text_col="text",
        include_shingles=True,
        num_buckets=4,
    )
    for lo, hi in ((20, 29), (30, 39), (40, 44)):
        bi.band_index_append(spark, path, d.filter(F.col("doc_id").between(lo, hi)))

    probe = d.filter(F.col("doc_id").between(40, 54)).select("doc_id", "text")

    def snapshot():
        bands_t, sh_t, sizes_t, _ = bi.band_index_read_verified(spark, path)
        out = neardup_gate_verified(
            probe, bands_t, sh_t, sizes_t, id_col="doc_id", text_col="text"
        )
        verdicts = {
            r["doc_id"]: (r["best_match_id"], r["best_jaccard"], r["is_dup"])
            for r in out.collect()
        }
        release_cache(out)
        return bands_t.count(), sh_t.count(), sizes_t.count(), verdicts

    before = snapshot()
    report = bi.band_index_compact(spark, path)
    # bucketed parts: grew past num_buckets with appends, now exactly it
    for part in ("bands", "bucket_keys"):
        grown, compacted = report[part]
        assert grown > 4 and compacted == 4, (part, report[part])
    # every part shrank-or-held; none exploded
    for part, (b, a) in report.items():
        assert a <= max(b, 4), (part, b, a)
    assert snapshot() == before, "compaction changed content"
    # guard intact: a replayed old batch appends nothing
    assert bi.band_index_append(
        spark, path, d.filter(F.col("doc_id").between(30, 39))
    ) == 0
    # and genuinely-new appends still work on the compacted layout
    assert bi.band_index_append(
        spark, path, d.filter(F.col("doc_id").between(45, 49))
    ) == 5
    after_new = snapshot()
    assert after_new[0] == before[0] + 5 * 8
    assert all(after_new[3][i] == (i, 1.0, True) for i in range(45, 50))

    # torn index refuses to compact
    meta = bi.band_index_meta(path)
    meta["pending_appends"] = [{"digest": "1:2", "tag": None}]
    bi._sidecar_write(bi._local_sidecar_path(path), meta)
    with pytest.raises(ValueError, match="torn append in flight"):
        bi.band_index_compact(spark, path)


def _batch_digest(spark, docs, id_col):
    """Replicate band_index_append's batch-identity digest."""
    from pyspark.sql import functions as _F

    r = (
        docs.select(_F.col(id_col).cast("string").alias("_s"))
        .distinct()
        .agg(
            _F.count(_F.lit(1)).alias("c"),
            _F.expr("bit_xor(xxhash64(_s))").alias("x"),
        )
        .first()
    )
    return f"{r['c']}:{r['x']}"


def test_band_index_append_heals_mid_job_commit_tear(spark, tmp_path):
    """A Spark append job commit is not atomic across task files: a
    crash mid-commit can land only SOME of a doc's band rows. The
    replay must heal at ROW granularity — re-appending exactly the
    missing (id, band) rows — where id-level healing would see the id
    present and freeze the hole in place forever."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        _band_rows_from_shingles,
        _shingle_rows,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "midjob_idx")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20),
        path,
        id_col="doc_id",
        text_col="text",
        include_shingles=True,
    )
    batch = d.filter(F.col("doc_id").between(20, 29))

    # simulate the torn state by hand: only bands 0..2 of each batch
    # doc land, plus HALF the shingle rows, with the batch's pending
    # marker set — exactly what a mid-job-commit crash leaves
    p = bi._local_sidecar_path(path)
    meta = bi.band_index_meta(p)
    digest = _batch_digest(spark, batch, "doc_id")
    meta["pending_appends"] = [{"digest": digest, "tag": None}]
    bi._sidecar_write(p, meta)
    sh = _shingle_rows(batch, "doc_id", "text", meta["n"])
    partial_bands = _band_rows_from_shingles(
        sh, "doc_id", meta["num_hashes"], meta["bands"]
    ).filter(F.col("band") < 3)
    bi._append_part(
        partial_bands.localCheckpoint(eager=True),
        path, "bands", meta["num_buckets"], meta,
    )
    partial_sh = sh.select(F.col("_id").alias("doc_id"), "h").filter(
        F.col("h") % 2 == 0
    )
    bi._append_part(
        partial_sh.localCheckpoint(eager=True), path, "shingles", None, meta
    )
    sh.unpersist()

    # replay the full batch: every doc ends with exactly 8 bands and
    # its full shingle set, nothing doubled
    assert bi.band_index_append(spark, path, batch) == 10
    bands_t, sh_t, sizes_t, _ = bi.band_index_read_verified(spark, path)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in bands_t.filter(F.col("doc_id") >= 20)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_doc == {i: 8 for i in range(20, 30)}, per_doc
    # shingle rows: distinct per (id, h) and counts match sizes
    joined = (
        sh_t.filter(F.col("doc_id") >= 20)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rows"))
        .join(sizes_t.filter(F.col("doc_id") >= 20), "doc_id")
    )
    bad = joined.filter(F.col("n_rows") != F.col("n_sh")).count()
    assert bad == 0
    assert not bi.band_index_meta(path).get("pending_appends")


def test_band_index_foreign_batch_does_not_clear_torn_marker(spark, tmp_path):
    """A successful append of a DIFFERENT batch must not launder away
    another batch's torn marker: batch A tears, batch B appends fine
    (A's marker survives), A's replay still heals to exactly-once."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "foreign_idx")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20),
        path,
        id_col="doc_id",
        text_col="text",
        include_shingles=True,
    )
    batch_a = d.filter(F.col("doc_id").between(20, 29))
    batch_b = d.filter(F.col("doc_id").between(30, 39))

    real_append_part = bi._append_part
    calls = {"n": 0}

    def tear_after_two(df, pp, part, nb, m):
        if calls["n"] == 2:  # bands + bucket_keys landed; tear at shingles
            raise RuntimeError("torn")
        calls["n"] += 1
        return real_append_part(df, pp, part, nb, m)

    bi._append_part = tear_after_two
    try:
        with pytest.raises(RuntimeError, match="torn"):
            bi.band_index_append(spark, path, batch_a, tag="A")
    finally:
        bi._append_part = real_append_part
    assert len(bi.band_index_meta(path)["pending_appends"]) == 1

    # B commits cleanly — and must NOT clear A's marker
    assert bi.band_index_append(spark, path, batch_b, tag="B") == 10
    meta = bi.band_index_meta(path)
    assert [e["tag"] for e in meta["pending_appends"]] == ["A"]
    assert meta["last_append_tag"] == "B"

    # A's replay heals to exactly-once and clears only its own marker
    assert bi.band_index_append(spark, path, batch_a, tag="A") == 10
    assert not bi.band_index_meta(path).get("pending_appends")
    bands_t, sh_t, sizes_t, _ = bi.band_index_read_verified(spark, path)
    assert bands_t.count() == 40 * 8
    assert sizes_t.count() == 40
    # pure replays of both: no-ops
    assert bi.band_index_append(spark, path, batch_a) == 0
    assert bi.band_index_append(spark, path, batch_b) == 0


def test_band_index_append_in_batch_duplicate_ids(spark, tmp_path):
    """A source retry folded into ONE batch (the same id twice) must
    index the doc once: no doubled band rows, no doubled n_sh."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "dupid_idx")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20),
        path,
        id_col="doc_id",
        text_col="text",
        include_shingles=True,
    )
    batch = d.filter(F.col("doc_id").between(20, 24))
    doubled = batch.unionByName(batch)  # every id twice
    assert bi.band_index_append(spark, path, doubled) == 5
    bands_t, sh_t, sizes_t, _ = bi.band_index_read_verified(spark, path)
    assert bands_t.filter(F.col("doc_id").between(20, 24)).count() == 5 * 8
    assert sizes_t.filter(F.col("doc_id").between(20, 24)).count() == 5
    # n_sh must equal the distinct-shingle count, not double it
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        _shingle_rows,
    )

    sh = _shingle_rows(batch, "doc_id", "text", 3)
    want = {
        r["_id"]: r["n"]
        for r in sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sh.unpersist()
    got = {
        r["doc_id"]: r["n_sh"]
        for r in sizes_t.filter(F.col("doc_id").between(20, 24)).collect()
    }
    assert got == want


def test_band_index_append_records_per_tag_contribution(spark, tmp_path):
    """Tagged appends persist their POST-GUARD contributed id set
    (band_index_appended_ids): a replayed streaming batch excludes
    exactly what its own earlier attempt added, never rows a
    different batch contributed for the same id. In-batch dups and
    already-indexed ids are not in the record; an all-duplicate batch
    records an EMPTY set; replaying a completed append preserves the
    first attempt's record; unknown tags raise; superseded recordings
    are GC'd."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "tag_rec")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20), path, id_col="doc_id", text_col="text"
    )

    # batch 0: two new docs (one doubled in-batch) + one already-indexed
    b0 = (
        d.filter(F.col("doc_id").isin(20, 21))
        .unionByName(d.filter(F.col("doc_id") == 20))  # in-batch dup
        .unionByName(d.filter(F.col("doc_id") == 5))  # cross-batch dup
        .select("doc_id", "text")
    )
    assert bi.band_index_append(spark, path, b0, tag="s#0") == 2
    rec0 = bi.band_index_appended_ids(spark, path, "s#0")
    assert sorted(r[0] for r in rec0.collect()) == [20, 21]

    # unknown tag is loud
    with pytest.raises(KeyError):
        bi.band_index_appended_ids(spark, path, "s#99")

    # replay of the COMPLETED append: 0 new, record unchanged
    assert bi.band_index_append(spark, path, b0, tag="s#0") == 0
    rec0b = bi.band_index_appended_ids(spark, path, "s#0")
    assert sorted(r[0] for r in rec0b.collect()) == [20, 21]

    # batch 1: all-duplicate -> recorded as EMPTY (not missing)
    b1 = d.filter(F.col("doc_id").isin(5, 20)).select("doc_id", "text")
    assert bi.band_index_append(spark, path, b1, tag="s#1") == 0
    rec1 = bi.band_index_appended_ids(spark, path, "s#1")
    assert rec1.count() == 0
    # batch 0's tag is no longer addressable (a later append committed)
    with pytest.raises(KeyError):
        bi.band_index_appended_ids(spark, path, "s#0")

    # batch 2 (new docs): previous recording dir is GC'd on commit
    b2 = d.filter(F.col("doc_id").isin(22, 23)).select("doc_id", "text")
    assert bi.band_index_append(spark, path, b2, tag="s#2") == 2
    p = bi._local_sidecar_path(path)
    dirs = [x for x in os.listdir(p) if x.startswith("append_ids_v")]
    assert len(dirs) == 1  # only batch 2's recording survives
    assert sorted(
        r[0] for r in bi.band_index_appended_ids(spark, path, "s#2").collect()
    ) == [22, 23]

    # untagged appends record nothing and leave the last record alone
    b3 = d.filter(F.col("doc_id") == 24).select("doc_id", "text")
    assert bi.band_index_append(spark, path, b3) == 1
    assert sorted(
        r[0] for r in bi.band_index_appended_ids(spark, path, "s#2").collect()
    ) == [22, 23]


def test_band_index_torn_tagged_append_reuses_first_attempt_record(
    spark, tmp_path
):
    """A torn tagged append replays with the FIRST attempt's recorded
    contribution (the replay's own post-guard set can be smaller once
    some parts landed) — and the recording is readable from the
    pending marker while the append is torn, which is exactly when a
    crashed streaming batch needs it."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        band_index as bi,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "tag_torn")
    bi.band_index_build(
        d.filter(F.col("doc_id") < 20), path, id_col="doc_id", text_col="text"
    )
    batch = d.filter(F.col("doc_id").between(20, 24)).select("doc_id", "text")

    real_append_part = bi._append_part
    calls = {"n": 0}

    def tear_after_bands(df, pp, part, nb, m):
        if calls["n"] == 1:
            raise RuntimeError("torn after bands")
        calls["n"] += 1
        return real_append_part(df, pp, part, nb, m)

    bi._append_part = tear_after_bands
    try:
        with pytest.raises(RuntimeError, match="torn"):
            bi.band_index_append(spark, path, batch, tag="s#7")
    finally:
        bi._append_part = real_append_part

    # torn: the record is served from the pending marker
    rec = bi.band_index_appended_ids(spark, path, "s#7")
    assert sorted(r[0] for r in rec.collect()) == [20, 21, 22, 23, 24]
    meta = bi.band_index_meta(path)
    torn_dir = meta["pending_appends"][0]["appended_ids"]

    # replay heals and commits the SAME recording (no rewrite)
    bi.band_index_append(spark, path, batch, tag="s#7")
    meta2 = bi.band_index_meta(path)
    assert meta2.get("pending_appends") is None
    assert meta2["last_append_ids"] == torn_dir
    rec2 = bi.band_index_appended_ids(spark, path, "s#7")
    assert sorted(r[0] for r in rec2.collect()) == [20, 21, 22, 23, 24]
