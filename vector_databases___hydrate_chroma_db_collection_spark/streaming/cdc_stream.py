"""Streaming CDC ingest: apply insert/update/delete change events to a
collection AND its persisted IVF index, exactly-once, with
replay-stable verdicts.

The r12 tombstone/upsert work gave the persisted index full CRUD
(``ivf_append`` / ``ivf_upsert`` / ``ivf_delete``); this loop is what
consumes it from a stream — the change-data-capture shape every
lakehouse ingest eventually needs: a source emits
``(op, seq, id, text, embedding)`` events, and each micro-batch is
applied with NET-STATE semantics: per id, the batch's events are
replayed in ``seq`` order against the pre-batch collection state (a
JVM-side ``aggregate`` fold over the id's sorted event array — no
Python in the path), so a source retry folding several events for one
id into a batch lands exactly where applying them one at a time
would. In particular (the sequences a naive latest-event-vs-pre-batch
collapse silently loses):

- ``insert(seq1) + update(seq2)`` of a NEW id nets to an insert
  carrying seq2's content (not a skipped update of an unheld id);
- ``delete(seq1) + insert(seq2)`` of a HELD id nets to a FULL content
  replacement with insert semantics — a NULL payload field CLEARS the
  stored value (the fold's ``ins`` flag routes the slice through
  delete + re-insert; the coalescing update path would silently keep
  the pre-delete content, r13 advice);
- ``delete(seq1) + update(seq2)`` of a held id nets to a delete,
  the update honestly ``skipped_missing``.

The published verdict per id is the LATEST event's ``(op, seq)`` with
the outcome that event earned in the replay; the store mutations are
the NET effect vs the pre-batch state — disjoint per-id sets routed
through the same composed front doors the batch API uses:

- net insert (pre-absent -> exists) -> ``hydrate`` then
  ``plans.chroma_api._indexes_insert``, the insert fan-out
  ``collection_add`` uses (vector sidecars upsert, so an id a
  previous batch DELETED is resurrected; a band sidecar appends under
  the batch's tag)
- net insert-over-held (pre-held -> exists via delete + insert)
  -> ``collection_delete_indexed`` then the net-insert path above
  (full payload replacement — never the coalescing update)
- net update (pre-held -> exists, content touched, NOT through an
  applied insert) -> ``plans.chroma_api.collection_update_indexed``
- net delete (pre-held -> absent)
  -> ``plans.chroma_api.collection_delete_indexed``
- ``skipped_existing`` / ``skipped_missing``: Chroma semantics —
  inserts of held ids and updates/deletes of absent ids are recorded,
  not applied.

Replay stability is RECORDING-based, not recompute-based: outcomes
depend on the pre-batch state, which a replayed attempt can no longer
observe (its own first attempt mutated it). So the verdict table —
``(id, op, seq, outcome)`` PLUS the pre-batch existence bit ``_e0``
the net-state fold needs — is persisted to a versioned dir under the
index path, and the tag — content-qualified,
``sink#batch#digest(id:op:seq set)``, the ``stream_semantic_ingest``
discipline — is committed into a tiny WAL (``cdc_log.json``, atomic
temp+fsync+rename) BEFORE the first mutation. A replay finding its
tag DONE republishes the recorded verdicts and stops — every mutation
committed before the flip. One finding it PENDING (crashed)
republishes the recorded verdicts verbatim, recomputes the net
mutations deterministically
from (batch events, recorded ``_e0``), and re-runs them — every one
idempotent (hydrate ``on_duplicate='first'``; upsert replaces a row
with itself; deleting a gone id is a no-op) — with
``fence="recorded"`` on the composed calls: the first attempt's own
collection commits moved the etag, so the default collection fence
would raise ``StaleIndexError`` forever on a crash between a
collection commit and its index mutation; self-fencing is sound here
exactly because the WAL's content-qualified tag proves the retried
mutation identical (see the ``plans.chroma_api`` write path). Stores
converge; published verdicts equal the first attempt's exactly.
The WAL carries ``store.FORMAT_VERSION`` like every index sidecar; a
WAL of another format refuses with ``StaleIndexError``.

WAL retention: completed entries of THIS sink are kept for the last
batch only (Structured Streaming replays at most the last uncommitted
batch); pending entries of ANY tag — crashed batches awaiting their
own replay — survive every commit; and the most recent DONE entry of
every OTHER ``sink_table`` sharing the index path is retained too, so
a second stream's replay of its last committed batch still finds its
recording (one writer per (index path, sink_table) — tags embed the
sink name, so sinks never collide; concurrent WRITERS on one index
path are still unsupported, the indexes' own fences refuse them).

Scale shape: per batch the loop pays the composed front doors' costs
(id-column scans + touched-cell rewrites + tombstone bookkeeping —
never a corpus data rewrite, never a retrain) plus one verdict-table
write bounded by the batch; the net-state fold itself is one
groupBy(id) over the batch. The index transitions stale -> fresh at
every step without a rebuild, which is the whole point of the r12
CRUD paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _atomic_sidecar_write,
    _fresh_versioned_dir,
    _gc_recordings,
    read_parquet,
    read_sidecar,
)

_LOG = "cdc_log.json"


def _log_read(p: str) -> dict:
    if not os.path.exists(os.path.join(p, _LOG)):
        return {"entries": []}
    return read_sidecar(p, _LOG)


def _log_write(p: str, log: dict) -> None:
    _atomic_sidecar_write(p, _LOG, log)


def stream_cdc_ingest(
    event_stream: DataFrame,
    *,
    index_path: str,
    hydration_cfg,
    sink_path: str | None = None,
    sink_table: str = "stream_cdc_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    band_text_mode: str = "defer",
) -> StreamingQuery:
    """Run the CDC loop as one streaming query. ``event_stream`` must
    carry ``(op, seq, <id>, <text>, <embedding>)`` with the last three
    named by ``hydration_cfg``'s column bindings; published rows are
    ``(id, op, seq, outcome)`` partitioned by ``batch_id`` with the
    exactly-once overwrite sink contract of ``stream_knn_serve``.

    ``band_text_mode`` governs document updates when a BAND index
    cohabits ``index_path`` (default ``"defer"``: queue text changes,
    drained by the next compact — paying ``band_index_apply``'s part
    rewrite per micro-batch would be compact-cost per batch; pass
    ``"apply_now"`` for streams where the gate must reflect updated
    text immediately)."""
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.knn_stream import (
        stream_knn_serve,
    )

    return stream_knn_serve(
        event_stream,
        corpus=None,  # unused: retrieval_fn overrides the knn plan
        retrieval_fn=cdc_ingest_batch_fn(
            index_path,
            hydration_cfg,
            sink_table,
            band_text_mode=band_text_mode,
        ),
        sink_path=sink_path,
        sink_table=sink_table,
        checkpoint_dir=checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def _fold_expr(txt_t: str, emb_t: str) -> str:
    """The net-state replay as one JVM-side ``aggregate`` fold over an
    id's seq-sorted event array. State: (ex: held now?, txt/emb: net
    content to write, dirty: did any event change state?, ins: was the
    CURRENT content established by an applied insert — i.e. full-
    payload replacement semantics, a NULL field CLEARS rather than
    keeps the stored value; the mutation router sends such held ids
    through delete + re-insert instead of the coalescing update path —
    outcome: the LAST event's verdict). Chroma per-op semantics:
    insert applies only when absent (full payload), update only when
    held (per-field — a NULL field keeps the previous value, and when
    it lands on insert-established state it coalesces against the
    INSERT's payload, which the fold does here, so routing the folded
    content through full replacement stays exact), delete only when
    held (clears)."""
    keep = (
        "named_struct('ex', s.ex, 'txt', s.txt, 'emb', s.emb, "
        "'dirty', s.dirty, 'ins', s.ins, 'outcome', {o})"
    )
    return f"""
    aggregate(
      evs,
      named_struct(
        'ex', _e0,
        'txt', cast(null as {txt_t}),
        'emb', cast(null as {emb_t}),
        'dirty', false,
        'ins', false,
        'outcome', cast(null as string)),
      (s, e) -> CASE
        WHEN e.op = 'insert' AND NOT s.ex THEN named_struct(
          'ex', true, 'txt', e._text, 'emb', e._embedding,
          'dirty', true, 'ins', true, 'outcome', 'applied_insert')
        WHEN e.op = 'insert' THEN {keep.format(o="'skipped_existing'")}
        WHEN e.op = 'update' AND s.ex THEN named_struct(
          'ex', true,
          'txt', coalesce(e._text, s.txt),
          'emb', coalesce(e._embedding, s.emb),
          'dirty', true, 'ins', s.ins, 'outcome', 'applied_update')
        WHEN e.op = 'update' THEN {keep.format(o="'skipped_missing'")}
        WHEN s.ex THEN named_struct(
          'ex', false,
          'txt', cast(null as {txt_t}),
          'emb', cast(null as {emb_t}),
          'dirty', true, 'ins', false, 'outcome', 'applied_delete')
        ELSE {keep.format(o="'skipped_missing'")}
      END
    )"""


def cdc_ingest_batch_fn(
    index_path: str,
    hydration_cfg,
    sink_table: str,
    *,
    band_text_mode: str = "defer",
):
    """The per-micro-batch body of ``stream_cdc_ingest``, exposed at
    module level so tests and the oracle-checked batch twin can drive
    first-attempt vs replay invocations of the SAME
    ``(batch, batch_id)`` directly."""
    from dataclasses import replace

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        _VECTOR_SIDECARS,
        _index_targets,
        _indexes_insert,
        collection_delete_indexed,
        collection_update_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    cfg = replace(hydration_cfg, on_duplicate="first")
    ic, tc, ec = cfg.id_col, cfg.text_col, cfg.embedding_col

    def ingest(batch_events: DataFrame, batch_id: int) -> DataFrame:
        from vector_databases___hydrate_chroma_db_collection_spark.operators import (
            idguard,
        )

        spark = batch_events.sparkSession
        bad_ops = batch_events.filter(
            ~F.col("op").isin(["insert", "update", "delete"])
        )
        txt_t = batch_events.schema[tc].dataType.simpleString()
        emb_t = batch_events.schema[ec].dataType.simpleString()
        # per id: the seq-sorted event array (the net-state fold's
        # input) plus the LATEST (op, seq) — the published identity.
        # (id, seq) identifies one event, so the sort and max_by are
        # deterministic.
        grouped = batch_events.groupBy(
            F.col(ic).cast("string").alias("id")
        ).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seq"),
                        F.col("op"),
                        F.col(tc).alias("_text"),
                        F.col(ec).alias("_embedding"),
                    )
                )
            ).alias("evs"),
            F.expr("max_by(op, seq)").alias("op"),
            F.max("seq").alias("seq"),
        )
        probe_only = batch_events.isEmpty()
        if probe_only:
            # schema probe / empty batch: lazy plan only, no stores
            return grouped.select(
                "id", "op", "seq", F.lit("").alias("outcome")
            ).limit(0)
        if bad_ops.limit(1).count() > 0:
            raise EngineError(
                "stream_cdc_ingest: op must be one of "
                "insert/update/delete"
            )
        # the path check runs before the verdict recording and the WAL
        # entry: a batch the loop cannot apply must not leave a
        # pending entry that every replay re-raises on
        targets = _index_targets([index_path], "stream_cdc_ingest")
        [(_, p, kinds)] = targets
        if not kinds.intersection(_VECTOR_SIDECARS):
            raise EngineError(
                f"stream_cdc_ingest: no vector index sidecar at "
                f"{index_path!r} (expected ivf_index.json or "
                "ivf_pq_index.json). Nothing was written."
            )
        grouped = grouped.localCheckpoint(eager=True)
        # content-qualified batch identity over (id, op, seq): a
        # restarted stream with same batch ids but different events
        # must judge as a FRESH batch
        tagged = batch_events.select(
            F.concat_ws(
                ":",
                F.col(ic).cast("string"),
                "op",
                F.col("seq").cast("string"),
            ).alias("_k")
        )
        digest = idguard.batch_digest(tagged, "_k")
        tag = f"{sink_table}#{batch_id}#{digest}"
        log = _log_read(p)
        entry = next((e for e in log["entries"] if e.get("tag") == tag), None)
        is_replay = entry is not None
        if is_replay:
            # replay (crashed or completed): republish the recorded
            # verdicts verbatim — outcomes were judged against the
            # pre-batch state only the first attempt could observe —
            # and rebuild the net mutations from the recorded _e0
            recorded = read_parquet(spark, os.path.join(p, entry["dir"]))
            verdicts = recorded.select("id", "op", "seq", "outcome")
            if entry.get("state") == "done":
                # the first attempt committed every mutation before
                # flipping the entry to done — republish and stop.
                return verdicts
            e0 = recorded.select("id", "_e0")
        else:
            held = read_collection(spark, cfg.root, cfg.collection_name)
            e0 = (
                grouped.select("id")
                .join(
                    held.select(
                        F.col("id").cast("string").alias("id"),
                        F.lit(True).alias("_held"),
                    ),
                    "id",
                    "left",
                )
                .select(
                    "id",
                    F.coalesce("_held", F.lit(False)).alias("_e0"),
                )
            )
        # ---- the net-state fold (deterministic from events + _e0) --
        net = (
            grouped.join(e0, "id")
            .withColumn("_fin", F.expr(_fold_expr(txt_t, emb_t)))
            .select(
                "id",
                "op",
                "seq",
                "_e0",
                F.col("_fin.ex").alias("_ex"),
                F.col("_fin.txt").alias("_txt"),
                F.col("_fin.emb").alias("_emb"),
                F.col("_fin.dirty").alias("_dirty"),
                F.col("_fin.ins").alias("_ins"),
                F.col("_fin.outcome").alias("outcome"),
            )
            .localCheckpoint(eager=True)
        )
        if not is_replay:
            verdicts = net.select("id", "op", "seq", "outcome")
            # record BEFORE the first mutation: a crash after any
            # mutation must replay into the recorded verdicts, never
            # re-judge against the half-mutated state. _e0 rides along
            # so the replay's fold needs no store read.
            d = _fresh_versioned_dir(
                p,
                "cdc_verdicts",
                floor_names=[e.get("dir") for e in log["entries"]],
            )
            net.select("id", "op", "seq", "outcome", "_e0").write.mode(
                "overwrite"
            ).parquet(os.path.join(p, d))
            entry = {"tag": tag, "dir": d, "state": "pending"}
            log["entries"].append(entry)
            _log_write(p, log)
        # a replay's composed mutations self-fence (see module doc)
        fence = "recorded" if is_replay else "collection"
        # -- net mutations: disjoint per-id sets, each idempotent ----
        # A held id whose fold passed through delete -> insert carries
        # INSERT semantics: the insert's payload replaces the whole
        # row, so a NULL field must CLEAR the stored value — routing
        # it through collection_update_indexed would silently KEEP the
        # pre-delete content (the update path's per-field coalesce).
        # Route that slice through delete + re-insert instead: drop
        # the old row first, then let it ride the insert block below
        # with the rest. Replay-safe: the slice is deterministic from
        # (events, recorded _e0), deleting an already-gone id is a
        # no-op, and re-running the insert lands identical content.
        reins_ids = [
            r["id"]
            for r in net.filter(
                F.col("_e0") & F.col("_ex") & F.col("_ins")
            )
            .select("id")
            .collect()
        ]
        if reins_ids:
            collection_delete_indexed(
                spark,
                cfg.root,
                cfg.collection_name,
                ids=reins_ids,
                index_paths=[index_path],
                fence=fence,
            )
        ins = (
            net.filter(
                F.col("_ex") & (~F.col("_e0") | F.col("_ins"))
            )
            .select(
                F.col("id").alias(ic),
                F.col("_txt").alias(tc),
                F.col("_emb").alias(ec),
            )
            .localCheckpoint(eager=True)
        )
        if ins.limit(1).count() > 0:
            hydrate(spark, ins, cfg)
            # upsert, not append: resurrects ids a previous batch
            # tombstoned. EVERY sidecar at index_path takes the rows,
            # or the next batch's fenced update/delete would
            # crash-loop on a stale one.
            _indexes_insert(
                spark, targets, ins, id_col=ic, text_col=tc,
                embedding_col=ec, replace_text=False, tag=tag,
            )
        upd = net.filter(
            F.col("_e0") & F.col("_ex") & F.col("_dirty") & ~F.col("_ins")
        ).select(
            "id",
            F.col("_txt").alias("document"),
            F.col("_emb").alias("embedding"),
        )
        if upd.limit(1).count() > 0:
            collection_update_indexed(
                spark,
                cfg.root,
                cfg.collection_name,
                upd,
                index_paths=[index_path],
                fence=fence,
                band_text_mode=band_text_mode,
            )
        dels = [
            r["id"]
            for r in net.filter(F.col("_e0") & ~F.col("_ex"))
            .select("id")
            .collect()
        ]
        if dels:
            collection_delete_indexed(
                spark,
                cfg.root,
                cfg.collection_name,
                ids=dels,
                index_paths=[index_path],
                fence=fence,
            )
        # -- commit: this tag done; retain other tags' pending entries
        # (crashed batches awaiting replay), the most recent done
        # entry of every OTHER sink sharing the path (its stream's
        # own last-batch replay needs it), and drop this sink's older
        # completed entries; GC their verdict dirs
        log = _log_read(p)
        mine = f"{sink_table}#"
        keep, last_foreign_done = [], {}
        for e in log["entries"]:
            if e.get("tag") == tag:
                keep.append({"tag": tag, "dir": e["dir"], "state": "done"})
            elif e.get("state") == "pending":
                keep.append(e)
            elif not e.get("tag", "").startswith(mine):
                # append order == commit order: latest done wins
                last_foreign_done[e["tag"].split("#", 1)[0]] = e
        keep.extend(last_foreign_done.values())
        log["entries"] = keep
        _log_write(p, log)
        # GC every verdict dir the committed log no longer names: the
        # dropped entries' and the orphans (a crash between the verdict
        # write and the WAL commit leaves an unreferenced dir; its
        # replay wrote a fresh one)
        _gc_recordings(p, ("cdc_verdicts",), {e["dir"] for e in keep})
        return verdicts

    return ingest


__all__ = ["stream_cdc_ingest", "cdc_ingest_batch_fn"]
