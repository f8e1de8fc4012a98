"""Streaming near-duplicate NOVELTY gate: a stream of documents
filtered against a STATIC corpus LSH band index.

Why foreachBatch and not a stream-static join: novelty is "NONE of
this doc's bands hit the corpus" — a per-doc aggregate over the band
probe. Stream-static LEFT SEMI gives only the hit side, stream-static
LEFT ANTI is not a supported streaming join type, and folding the
band probe into a streaming aggregation would put per-doc state in
the state store for data that is fully decided within one batch.
``foreachBatch`` makes each micro-batch a plain batch frame, so the
batch operator (``operators.dedup.novelty_gate``) applies unchanged:
the corpus band table is the static side (built ONCE with
``lsh_band_rows``, reused every batch exactly like a stream-static
join's static plan), the probe is an equi-join on ``(band, h)``, and
the state store holds NOTHING — the same scale-honest topology as
``stream_knn_serve`` (knn_stream.py), whose sink/checkpoint plumbing
this module reuses verbatim.

Parity contract: the micro-batch function IS the batch operator, so
streaming results equal the batch twin row-for-row
(tests/test_streaming.py drives both); the oracle-checked batch twin
in the registry is ``stream_neardup_novelty_gate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
    novelty_gate,
    release_cache,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _cells_cols,
    _mask_tombstones,
    read_parquet,
)
from vector_databases___hydrate_chroma_db_collection_spark.streaming.knn_stream import (
    stream_knn_serve,
)


def stream_novelty_serve(
    doc_stream: DataFrame,
    reference_bands: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    novel_only: bool = False,
    sink_path: str | None = None,
    sink_table: str = "stream_novelty_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Gate a STREAM of documents against a prebuilt corpus band
    table; publish ``(id, n_hit_bands, novel)`` rows (optionally only
    the novel ones) to a Parquet sink partitioned by micro-batch.

    Delegates the serve loop to ``stream_knn_serve`` with the novelty
    gate as its ``retrieval_fn`` — that function is already the
    generic "per-batch batch-plan over a static side, exactly-once
    deterministic ``batch_id=N`` overwrite sink" harness; only the
    per-batch plan differs here. See its docstring for the sink/view/
    checkpoint contract (``sink_table`` is a pre-registered temp view
    usable before the first batch and after empty streams).
    """

    def gate(batch_docs: DataFrame) -> DataFrame:
        out = novelty_gate(
            batch_docs,
            reference_bands,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )
        if novel_only:
            out = out.filter("novel")
        return out

    base_serve = stream_knn_serve(
        doc_stream,
        corpus=None,  # unused: retrieval_fn overrides the knn plan
        retrieval_fn=gate,
        sink_path=sink_path,
        sink_table=sink_table,
        checkpoint_dir=checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )
    return base_serve


def stream_novelty_ingest(
    doc_stream: DataFrame,
    *,
    index_path: str,
    hydration_cfg,
    maintenance=None,
    sink_path: str | None = None,
    sink_table: str = "stream_novelty_ingest_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The FULL incremental-ingest loop as one streaming query: per
    micro-batch, gate the incoming documents against the CURRENT
    persisted band index, hydrate the novel ones into the collection,
    ``band_index_append`` them into the index, and publish every
    verdict row ``(id, n_hit_bands, novel)`` — so a document that
    gates novel in batch N is flagged duplicate in batch N+1 because,
    and only because, batch N ingested it.

    ``hydration_cfg`` is the ``HydrationConfig`` for the target
    collection; its ``id_col``/``text_col`` name the stream's columns
    (the stream must also carry ``embedding_col``). The index at
    ``index_path`` is re-read EVERY batch (its bucket_keys table is
    refreshed on read), and its band family comes from the sidecar —
    a probe can never be hashed with the wrong ``n``.

    Replay safety (a foreachBatch body can re-run after a crash at
    ANY point): hydration is forced to ``on_duplicate='first'``
    (already-stored ids skip), ``band_index_append`` carries its own
    double-ingest + torn-write guards, the verdict sink overwrites
    its ``batch_id=N`` partition (``stream_knn_serve``'s exactly-once
    contract), and the verdicts themselves are REPLAY-STABLE while
    cross-batch REDELIVERY still gates correctly: every append is
    tagged with the deterministic batch identity
    (``{sink_table}#{batch_id}#{id-set digest}`` — content-qualified,
    so a restarted stream with a fresh checkpoint but colliding batch
    numbers can never be mistaken for a replay), and the gate checks
    the sidecar for that tag first. A replay of batch N (tag already recorded in
    ``last_append_tag`` or a pending torn marker) gates through
    ``novelty_gate_excluding`` with the RECORDED appended-id set for
    that tag (``band_index_appended_ids`` — the post-guard ids the
    batch's own earlier attempt actually contributed), so
    first-attempt verdicts republish EXACTLY: a same-id redelivery
    the batch carries (doc ingested by an EARLIER batch, re-emitted
    here) keeps that earlier batch's rows in the reference and stays
    duplicate on replay — excluding the whole batch id set would
    discount those rows too and flip it novel. A FRESH batch (no tag
    match) gates through the plain ``bucket_keys`` fast path, so a
    document REDELIVERED by an at-least-once source in a LATER batch
    is flagged duplicate (its rows are in the index and its id is not
    excluded) — id-set exclusion alone would wrongly re-gate it novel.
    The index is read with ``verify_source=False``: inside the loop
    the sidecar stamp is transiently stale by design (between hydrate
    and the append's re-stamp), and the loop itself is the only
    writer that matters — the staleness check is for OUT-OF-BAND
    readers. The
    ``expected_prev_etag`` fence is deliberately NOT used here — on
    replay the observed etag is already post-hydrate, so the fence
    would false-positive; the append guard provides the idempotence
    the fence exists to protect.

    Batch-local caches (the gate's shingle rows, the checkpointed
    verdict) are released before the batch function returns, so long
    streams do not pin executor storage. The zero-row schema-probe
    call ``stream_knn_serve`` makes at stream-construction time is
    short-circuited to the lazy gate plan alone — no hydrate, no
    append, no sidecar re-stamp, no job runs before the stream
    starts.

    ``maintenance`` (a ``streaming.maintenance.MaintenancePolicy``):
    the loop audits its own index every ``policy.every`` batches
    (AFTER that batch's append) and compacts when the audit
    recommends — the r11 "appends forever" gap closed. Compaction is
    content-preserving and atomic-swap-committed, so verdicts are
    untouched and a crash mid-compaction just retries on the replay;
    after a successful compaction the audit reads clean and the next
    tick does not re-compact.
    """
    return stream_knn_serve(
        doc_stream,
        corpus=None,  # unused: retrieval_fn overrides the knn plan
        retrieval_fn=_novelty_ingest_batch_fn(
            index_path, hydration_cfg, sink_table, maintenance=maintenance
        ),
        sink_path=sink_path,
        sink_table=sink_table,
        checkpoint_dir=checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def _novelty_ingest_batch_fn(
    index_path: str, hydration_cfg, sink_table: str, maintenance=None
):
    """The per-micro-batch body of ``stream_novelty_ingest``, exposed
    at module level so tests can drive first-attempt vs replay
    invocations of the SAME ``(batch, batch_id)`` directly — exactly
    what a crashed ``foreachBatch`` re-run does."""
    from dataclasses import replace

    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_appended_ids,
        band_index_bucket_keys,
        band_index_meta,
        band_index_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        novelty_gate_excluding,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        hydrate,
    )

    cfg = replace(hydration_cfg, on_duplicate="first")
    ic, tc = cfg.id_col, cfg.text_col

    def ingest(batch_docs: DataFrame, batch_id: int) -> DataFrame:
        from vector_databases___hydrate_chroma_db_collection_spark.operators import (
            idguard,
        )

        spark = batch_docs.sparkSession
        meta = band_index_meta(index_path)
        # in-batch duplicate rows must not duplicate verdict rows
        # (the stores are already guarded; the PUBLISHED table is
        # per-doc)
        uniq = batch_docs.dropDuplicates([ic])
        # ONE emptiness probe: the construction-time schema call must
        # run no jobs at all (so no digest aggregation either)
        probe_only = batch_docs.isEmpty()
        # content-qualified tag: equality means SAME ids, so a
        # restarted stream (fresh checkpoint, same sink/batch numbers,
        # different content) gates as a fresh batch instead of
        # wrongly excluding the old run's recorded contribution
        batch_tag = None
        replayed = False
        if not probe_only:
            batch_tag = (
                f"{sink_table}#{batch_id}#"
                f"{idguard.batch_digest(batch_docs, ic)}"
            )
            replayed = batch_tag == meta.get("last_append_tag") or any(
                e.get("tag") == batch_tag
                for e in meta.get("pending_appends") or []
            )
        if replayed:
            # This very batch already appended (fully or torn): gate
            # against the band table MINUS exactly the rows the
            # batch's own earlier attempt contributed (the recorded
            # post-guard id set) so the first attempt's verdicts
            # republish — including "duplicate" for a same-id
            # redelivery whose rows an EARLIER batch contributed.
            bands_t, _ = band_index_read(
                spark, index_path, verify_source=False
            )
            gated = novelty_gate_excluding(
                uniq.select(ic, tc),
                bands_t,
                ref_id_col=meta["id_col"],
                id_col=ic,
                text_col=tc,
                n=meta["n"],
                num_hashes=meta["num_hashes"],
                bands=meta["bands"],
                exclude_ids=band_index_appended_ids(
                    spark, index_path, batch_tag
                ),
            )
        else:
            # Fresh batch: the cheap membership fast path — and the
            # CORRECT one for cross-batch redelivery (a doc ingested
            # in batch N re-emitted in batch N+1 must gate duplicate;
            # excluding by id would re-gate it novel).
            keys = band_index_bucket_keys(
                spark, index_path, verify_source=False
            )
            gated = novelty_gate(
                uniq.select(ic, tc),
                keys,
                id_col=ic,
                text_col=tc,
                n=meta["n"],
                num_hashes=meta["num_hashes"],
                bands=meta["bands"],
            )
        if probe_only:
            # stream_knn_serve's schema probe (and any empty batch):
            # the lazy gate plan carries the output schema; running
            # hydrate/append here would execute real jobs and re-stamp
            # the sidecar as a side effect of CONSTRUCTING the stream.
            return gated
        out = gated.localCheckpoint(eager=True)
        release_cache(gated)
        novel_docs = uniq.join(out.filter("novel").select(ic), ic)
        hydrate(spark, novel_docs, cfg)
        # Unconditional: a replay after a crash between hydrate and
        # append sees rows_written == 0 but still owes the INDEX its
        # rows — the append's own double-ingest guard (not hydrate's
        # outcome) decides what is genuinely new on the index side.
        # The tag records WHICH batch appended, for replay detection.
        band_index_append(
            spark, index_path, novel_docs.select(ic, tc),
            id_col=ic, text_col=tc, tag=batch_tag,
        )
        if maintenance is not None and maintenance.due(batch_id):
            # post-append, pre-return: the verdicts above are already
            # materialized, compaction preserves content, and a crash
            # here replays the whole batch — the append guard no-ops,
            # the verdicts republish, and the tick retries
            from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
                band_maintenance,
            )

            band_maintenance(spark, index_path, maintenance)
        return out

    return ingest


def stream_vector_ingest(
    doc_stream: DataFrame,
    *,
    index_path: str,
    hydration_cfg,
    query_vector: list,
    k: int = 3,
    nprobe: int = 8,
    metric: str = "cosine",
    score_decimals: int | None = 4,
    exclude_id: str | None = None,
    maintenance=None,
    sink_path: str | None = None,
    sink_table: str = "stream_vector_ingest_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The VECTOR side of the incremental-ingest loop
    (``stream_novelty_ingest`` is the text side): per micro-batch,
    hydrate the incoming documents into the collection,
    ``ivf_append`` their embeddings into the persisted IVF index
    (nearest-EXISTING-centroid assignment — no k-means rebuild), and
    publish the CURRENT top-``k`` answer for a fixed ``query_vector``
    served through the just-extended index — so a vector ingested in
    batch N is retrievable in batch N's own results and every batch
    thereafter.

    Replay safety: hydration is forced to ``on_duplicate='first'``
    and ``ivf_append`` carries its own id guard, so re-running a
    batch is a no-op on both stores; the search runs AFTER the append
    on either attempt, so replayed verdicts equal the first
    attempt's (a batch is SUPPOSED to see its own vectors — unlike
    the novelty gate there is no pre/post-append asymmetry to
    discount). The index is read with ``verify_source=False`` inside
    the loop (the sidecar stamp is transiently stale between the
    hydrate and the append's re-stamp; the staleness check is for
    out-of-band readers). The zero-row schema probe at
    stream-construction time returns the lazy search plan alone — no
    hydrate, no append, no re-stamp.

    ``exclude_id``: optionally drop one id from the served results
    (the standard leave-the-query-out probe shape used by the batch
    twins). ``maintenance`` (a ``MaintenancePolicy``): audit +
    auto-compact the index every N batches, same contract as
    ``stream_semantic_ingest`` except nothing is surfaced on the
    published rows (they are top-k search results, not per-doc
    verdicts — alerting belongs on the verdict-shaped loops).
    Batch-twin parity: ``queries/streaming.py::
    stream_ivf_ingest_loop`` (oracle-checked)."""
    from dataclasses import replace

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_read,
        ivf_search,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        hydrate,
    )

    cfg = replace(hydration_cfg, on_duplicate="first")
    ic, ec = cfg.id_col, cfg.embedding_col

    def serve_current(spark) -> DataFrame:
        assigned, C, _m = ivf_read(spark, index_path, verify_source=False)
        # the index's own id column — never assume it is named 'id'
        idx_id = _cells_cols(assigned)[0]
        if exclude_id is not None:
            assigned = assigned.filter(F.col(idx_id) != exclude_id)
        return ivf_search(
            assigned,
            C,
            query_vector,
            k=k,
            id_col=idx_id,
            nprobe=nprobe,
            metric=metric,
            score_decimals=score_decimals,
        )

    def ingest(batch_docs: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_docs.sparkSession
        if batch_docs.isEmpty():
            # schema probe / empty batch: the lazy search plan carries
            # the output schema; no store is touched.
            return serve_current(spark)
        hydrate(spark, batch_docs, cfg)
        # ivf_append resolves the index's id column and casts the
        # incoming ids to its recorded type itself
        ivf_append(
            spark,
            index_path,
            batch_docs.select(ic, ec),
            id_col=ic,
            embedding_col=ec,
        )
        if maintenance is not None and maintenance.due(batch_id):
            # compaction bounds the one-file-per-cell-per-batch growth
            # this loop's own appends cause; served results are
            # content-identical either side of the swap, so placement
            # before the serve does not change published rows.
            # audit=False: this loop publishes top-k rows, not
            # verdicts — nothing would consume the refresh flag, so
            # don't pay a full cells scan to compute it
            from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
                ivf_maintenance,
            )

            ivf_maintenance(spark, index_path, maintenance, audit=False)
        return serve_current(spark)

    return stream_knn_serve(
        doc_stream,
        corpus=None,  # unused: retrieval_fn overrides the knn plan
        retrieval_fn=ingest,
        sink_path=sink_path,
        sink_table=sink_table,
        checkpoint_dir=checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def stream_semantic_ingest(
    doc_stream: DataFrame,
    *,
    index_path: str,
    hydration_cfg,
    threshold: float = 0.98,
    nprobe: int = 4,
    score_decimals: int | None = 4,
    maintenance=None,
    sink_path: str | None = None,
    sink_table: str = "stream_semantic_ingest_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """SEMANTIC-gated incremental vector ingest as one streaming
    query — the embedding-side twin of ``stream_novelty_ingest``: per
    micro-batch, gate each incoming document's EMBEDDING against the
    persisted IVF index (nearest ``nprobe`` cells, exact scores, best
    score vs ``threshold`` under the index's metric — cosine >= is a
    dup, l2 <= is a dup), hydrate the novel ones into the collection,
    ``ivf_append`` them into the index, and publish every verdict row
    ``(id, best_score, novel)``. A paraphrase/re-encode whose text
    differs but whose embedding duplicates a stored vector — invisible
    to the text gate — is filtered here; a vector ingested novel in
    batch N gates duplicate from batch N+1 on, because batch N
    ingested it.

    Replay safety mirrors ``stream_novelty_ingest``: hydration is
    forced to ``on_duplicate='first'``, ``ivf_append`` carries its own
    id guard, the sink overwrites its ``batch_id=N`` partition, and
    verdicts are REPLAY-STABLE while cross-batch redelivery still
    gates correctly — every append is tagged with the deterministic
    batch identity, and a replayed batch excludes exactly the
    RECORDED id set its own earlier attempt contributed
    (``ivf_appended_ids``) from the index rows before gating, so a
    same-id redelivery contributed by an EARLIER batch keeps its rows
    in the reference and stays duplicate. A FRESH batch gates against
    the full index. The index is read ``verify_source=False`` inside
    the loop (transiently stale between hydrate and the append's
    re-stamp, by design). Batch-twin parity (oracle-checked):
    ``queries/streaming.py::stream_semantic_ingest_loop``.

    ``maintenance`` (a ``streaming.maintenance.MaintenancePolicy``):
    every ``policy.every`` batches the loop audits its index after
    the append — ``ivf_compact`` fires when append-grown small files
    exceed the per-cell budget, and the balance audit's
    ``refresh_recommended`` verdict is SURFACED as an extra nullable
    boolean column on the published rows (NULL on non-audit batches;
    refresh itself is an operator decision — a full rebuild — so the
    loop alerts rather than acts). The column exists only when a
    policy is passed, so the default published schema is unchanged."""
    return stream_knn_serve(
        doc_stream,
        corpus=None,  # unused: retrieval_fn overrides the knn plan
        retrieval_fn=_semantic_ingest_batch_fn(
            index_path,
            hydration_cfg,
            sink_table,
            threshold=threshold,
            nprobe=nprobe,
            score_decimals=score_decimals,
            maintenance=maintenance,
        ),
        sink_path=sink_path,
        sink_table=sink_table,
        checkpoint_dir=checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def _semantic_ingest_batch_fn(
    index_path: str,
    hydration_cfg,
    sink_table: str,
    *,
    threshold: float = 0.98,
    nprobe: int = 4,
    score_decimals: int | None = 4,
    maintenance=None,
):
    """The per-micro-batch body of ``stream_semantic_ingest``, exposed
    at module level so tests and the oracle-checked batch twin can
    drive first-attempt vs replay invocations of the SAME
    ``(batch, batch_id)`` directly."""
    import os
    from dataclasses import replace

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_appended_ids,
        ivf_knn_join,
        ivf_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _local_sidecar_path,
        read_sidecar,
    )

    cfg = replace(hydration_cfg, on_duplicate="first")
    ic, ec = cfg.id_col, cfg.embedding_col

    def ingest(batch_docs: DataFrame, batch_id: int) -> DataFrame:
        import numpy as np

        from vector_databases___hydrate_chroma_db_collection_spark.operators import (
            idguard,
        )

        spark = batch_docs.sparkSession
        # in-batch duplicate rows must not duplicate verdict rows (the
        # stores are already guarded; the PUBLISHED table is per-doc)
        uniq = batch_docs.dropDuplicates([ic])
        p = _local_sidecar_path(index_path)
        meta = read_sidecar(p, "ivf_index.json")
        # ONE emptiness probe; the construction-time schema call must
        # run no jobs (so no digest aggregation either)
        probe_only = batch_docs.isEmpty()
        # the tag is CONTENT-QUALIFIED (sink#batch#digest-of-id-set):
        # a restarted stream (fresh checkpoint, same sink/batch ids,
        # different content) must gate as a FRESH batch — tag-string
        # equality alone would wrongly exclude the OLD run's recorded
        # ids and mis-gate near-duplicates of them as novel. A crashed
        # attempt is found by its tag in the pending_appends list.
        batch_tag = None
        replayed = False
        if not probe_only:
            batch_tag = (
                f"{sink_table}#{batch_id}#{idguard.batch_digest(uniq, ic)}"
            )
            replayed = batch_tag == meta.get("last_append_tag") or any(
                e.get("tag") == batch_tag
                for e in meta.get("pending_appends") or []
            )
        # ONE sidecar parse per batch (the sidecar embeds the full
        # centroid matrix — multi-MB at production cell counts):
        # assemble what ivf_read(verify_source=False) would return
        # directly from the already-parsed meta — INCLUDING the
        # tombstone mask: a vector ivf_delete removed must not gate
        # a re-submission of its content as semantic-duplicate
        # (deleted content would otherwise block its own re-ingestion
        # forever — the exact failure the masking exists to prevent).
        assigned = read_parquet(spark, os.path.join(p, meta["location"]))
        C = np.asarray(meta["centroids"])
        metric = meta["metric"]
        idx_id, idx_emb = _cells_cols(assigned)[:2]
        assigned = _mask_tombstones(spark, p, meta, assigned, idx_id)
        if replayed:
            # exclude exactly what this batch's own earlier attempt
            # contributed — rows an EARLIER batch contributed for a
            # redelivered id must stay in the reference
            rec = ivf_appended_ids(spark, index_path, batch_tag)
            idx_type = dict(assigned.dtypes)[idx_id]
            assigned = assigned.join(
                F.broadcast(
                    rec.select(
                        F.col(rec.columns[0]).cast(idx_type).alias("_x_id")
                    ).distinct()
                ),
                F.col(idx_id) == F.col("_x_id"),
                "left_anti",
            )
        nn = ivf_knn_join(
            uniq.select(
                F.col(ic).alias("qid"), F.col(ec).alias("q_embedding")
            ),
            assigned,
            C,
            k=1,
            id_col=idx_id,
            embedding_col=idx_emb,
            metric=metric,
            nprobe=nprobe,
            score_decimals=score_decimals,
        )
        # cosine scores rank DESC (similarity: >= threshold is a dup);
        # l2 ASC (distance: <= threshold is a dup)
        dup = (
            (F.col("best_score") >= threshold)
            if metric == "cosine"
            else (F.col("best_score") <= threshold)
        )
        gated = (
            uniq.select(ic)
            .join(
                nn.select(F.col("qid").alias(ic), F.col("score").alias(
                    "best_score"
                )),
                ic,
                "left",
            )
            .select(
                ic,
                "best_score",
                # no neighbor at all (empty index / no probed cell)
                # means definitely novel
                F.coalesce(~dup, F.lit(True)).alias("novel"),
            )
        )
        if probe_only:
            # schema probe / empty batch: lazy plan only, no stores —
            # but it must carry the FULL published schema, including
            # the maintenance column when a policy is active
            if maintenance is not None:
                gated = gated.withColumn(
                    "refresh_recommended", F.lit(None).cast("boolean")
                )
            return gated
        out = gated.localCheckpoint(eager=True)
        novel_docs = uniq.join(out.filter("novel").select(ic), ic)
        hydrate(spark, novel_docs, cfg)
        # Unconditional: a replay after a crash between hydrate and
        # append still owes the INDEX its rows; the append's own
        # guard decides what is genuinely new. The tag records WHICH
        # batch appended, for replay detection + exclusion.
        ivf_append(
            spark,
            index_path,
            novel_docs.select(ic, ec),
            id_col=ic,
            embedding_col=ec,
            tag=batch_tag,
        )
        if maintenance is not None:
            flag = None
            recall_tick = maintenance.recall_due(batch_id)
            if maintenance.due(batch_id) or recall_tick:
                from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
                    ivf_maintenance,
                )

                # the geometry audit runs on its cadence; the DEEP
                # (ground-truth recall) audit on its own slower one —
                # either can flip the surfaced verdict
                flag = ivf_maintenance(
                    spark,
                    index_path,
                    maintenance,
                    audit=maintenance.due(batch_id),
                    recall=recall_tick,
                )["refresh_recommended"]
            # surfaced on every published row of the batch: NULL =
            # "no audit this batch", not "healthy"
            out = out.withColumn(
                "refresh_recommended", F.lit(flag).cast("boolean")
            )
        return out

    return ingest


__all__ = [
    "stream_novelty_serve",
    "stream_novelty_ingest",
    "stream_vector_ingest",
    "stream_semantic_ingest",
    "novelty_gate",
    "release_cache",
]
