"""Audit-driven index maintenance for the streaming ingest loops.

The r11 round gave every persisted index its operability audits
(``band_index_audit`` — "when do I compact?", ``ivf_balance_audit`` /
``ivf_pq_balance_audit`` — "when do I refresh?") and compactors, but
nothing CONSUMED them: the ingest loops in ``neardup_stream`` appended
forever and left compaction/refresh to out-of-band calls. This module
closes that loop — a ``MaintenancePolicy`` makes the loops audit
themselves every N micro-batches and act on the recommendations:

- **band index** (text novelty loops): when the audit flips
  ``compact_recommended`` (duplicate-bucket-key bloat past threshold,
  or the id-guard filter grown past its recorded sizing capacity),
  run ``band_index_compact``. The compactor commits behind the same
  atomic versioned-dir + sidecar swap as a rebuild, so a crash at any
  point mid-compaction leaves readers (and the crashed batch's
  replay) on the intact pre-compact index; the replay re-audits and
  retries. After a successful compaction the audit reads clean, so
  the NEXT cadence tick does not re-compact — one compaction per
  bloat episode, exactly the "fires once" lifecycle.
- **IVF index** (vector/semantic loops): compaction is triggered by
  the small-files growth appends cause (one file per touched cell
  per batch — ``ivf_compact`` exists to bound it); refresh cannot be
  automated the same way (``ivf_refresh`` is a full k-means rebuild
  of a possibly-huge corpus — an operator decision), so the balance
  audit's ``refresh_recommended`` verdict is SURFACED on the loop's
  published rows instead, where monitoring can alert on it.

Replay stability: maintenance runs AFTER the batch's append, keyed to
the deterministic ``batch_id`` cadence, and both the audits and the
compaction triggers are pure functions of the post-append index
state — a replayed batch reaches the same state, re-audits, and
either finds the compaction already done (post-compact state audits
clean) or redoes the one that crashed. Verdict rows are computed
BEFORE maintenance mutates any layout, and compaction never changes
content, so replayed verdicts equal first-attempt verdicts.

Cost model: an audit is one scan of the audited table (bucket_keys
for the band index, the cells dataset for IVF) — run it at ``every``
batches, not per batch; a compaction is a full rewrite of the index
data, amortized across the batches whose bloat it removes.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class MaintenancePolicy:
    """When to audit and what to act on.

    ``every``: audit cadence in micro-batches (the Nth, 2Nth, ...
    batch of the stream audits after its append). ``compact``: act on
    compaction recommendations (False = audit-and-surface only).
    The band thresholds mirror ``band_index_audit``'s; the IVF audit
    thresholds mirror ``ivf_balance_audit``'s, and
    ``files_per_cell_threshold`` triggers ``ivf_compact`` when the
    cells dataset holds more than that many data files per centroid
    (a fresh or compacted layout holds ~1)."""

    every: int = 8
    compact: bool = True
    dup_ratio_threshold: float = 2.0
    capacity_threshold: float = 1.0
    skew_threshold: float = 4.0
    drift_threshold: float = 1.5
    files_per_cell_threshold: float = 4.0
    # tombstone purge trigger: ivf_delete masks deleted rows but they
    # still cost scan time (and block re-appends of their ids) until
    # a compact purges them — compact when the masked fraction of
    # physical rows crosses this. Priced from parquet FOOTERS only
    # (zero data IO), so the check is cheap enough for every tick.
    tombstone_threshold: float = 0.2
    # deep audit: sampled ground-truth recall (ann.ivf_recall_audit)
    # at its OWN, slower cadence — its ground-truth side is an
    # exhaustive scoring pass of the corpus against recall_n_queries
    # vectors, an order costlier than the geometry audit's single
    # aggregate scan. 0 = off. recall_nprobe should match the
    # production serving nprobe (recall at a different probe width
    # measures a different index).
    recall_every: int = 0
    recall_k: int = 10
    recall_nprobe: int = 3
    recall_n_queries: int = 64
    recall_threshold: float = 0.9

    def due(self, batch_id: int) -> bool:
        """Cadence test — batch ids are 0-based, so the first audit
        lands on batch ``every - 1`` (after ``every`` appends)."""
        return self.every > 0 and (int(batch_id) + 1) % self.every == 0

    def recall_due(self, batch_id: int) -> bool:
        return (
            self.recall_every > 0
            and (int(batch_id) + 1) % self.recall_every == 0
        )


def band_maintenance(spark, index_path: str, policy: MaintenancePolicy) -> dict:
    """One maintenance tick for a persisted band index: audit, and
    compact if the audit says so and the policy allows. Returns the
    tick's facts — ``{"compact_recommended", "compacted",
    "dup_key_ratio", "filter_capacity_used"}`` — for the caller to
    log or publish. Crash-safe: ``band_index_compact`` commits by
    atomic sidecar swap, so a crash mid-compaction leaves the served
    index intact and the replayed tick retries."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_audit,
        band_index_compact,
        band_index_meta,
    )

    row = band_index_audit(
        spark,
        index_path,
        dup_ratio_threshold=policy.dup_ratio_threshold,
        capacity_threshold=policy.capacity_threshold,
    ).first()
    # tombstone bloat (band_index_delete) is the third compaction
    # trigger: masked docs cost scan bytes and block re-appends of
    # their ids until purged. The audit's n_docs counts the PHYSICAL
    # ids part, so the fraction prices exactly the purgeable share.
    meta = band_index_meta(index_path)
    n_ts = int((meta.get("tombstones") or {}).get("n") or 0)
    ts_fraction = (
        n_ts / max(int(row["n_docs"]), 1) if n_ts else 0.0
    )
    compacted = False
    if policy.compact and (
        row["compact_recommended"]
        or ts_fraction > policy.tombstone_threshold
    ):
        # a torn FOREIGN append (another writer's crashed batch, its
        # pending marker still set) makes the compactor refuse —
        # compacting would launder the marker. Defer this tick rather
        # than crash the stream; the next cadence tick retries after
        # that batch's replay heals it. Same defer when EVERY doc is
        # tombstoned (the purge would empty the parts — the compactor
        # refuses loudly; a later batch's fresh docs unblock it).
        if not meta.get("pending_appends") and ts_fraction < 1.0:
            band_index_compact(spark, index_path)
            compacted = True
    return {
        "compact_recommended": bool(row["compact_recommended"]),
        "compacted": compacted,
        "dup_key_ratio": row["dup_key_ratio"],
        "filter_capacity_used": row["filter_capacity_used"],
        "tombstone_fraction": ts_fraction,
    }


def ivf_maintenance(
    spark,
    index_path: str,
    policy: MaintenancePolicy,
    *,
    audit: bool = True,
    recall: bool = False,
) -> dict:
    """One maintenance tick for a persisted IVF index: run the
    balance audit (one cells scan, <= n_centroids rows collected —
    ``ivf_balance_audit``'s own bound), fold the per-cell verdicts
    into one ``refresh_recommended`` flag for the loop to publish,
    and compact when append-grown small files exceed the policy's
    per-cell budget. Compaction bounds serve-time file-open costs and
    re-sizes the id-guard filter; it never changes content, so a
    replayed tick that finds the compacted layout simply skips (the
    file count is back under budget). ``audit=False`` skips the
    corpus-scan audit entirely (``refresh_recommended`` comes back
    None) — for loops that do not publish the verdict, paying a full
    cells scan per tick to discard the answer is pure waste; the
    compaction trigger is a local filesystem count either way.
    ``recall=True`` ADDITIONALLY runs the sampled ground-truth recall
    audit (``ann.ivf_recall_audit`` at the policy's recall_* knobs —
    the deep measure geometry cannot give; see that docstring) and
    folds its verdict into ``refresh_recommended``; callers gate it on
    ``policy.recall_due(batch_id)`` because its ground-truth side is
    an exhaustive scoring pass, not an aggregate scan. The tick dict
    then also carries ``mean_recall``."""
    import os

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _data_files,
        ivf_balance_audit,
        ivf_compact,
        ivf_recall_audit,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _local_sidecar_path,
        _parquet_rows,
        read_sidecar,
    )

    refresh = None
    if audit:
        refresh = any(
            r["refresh_recommended"]
            for r in ivf_balance_audit(
                spark,
                index_path,
                skew_threshold=policy.skew_threshold,
                drift_threshold=policy.drift_threshold,
            ).collect()
        )
    mean_recall = None
    if recall:
        row = (
            ivf_recall_audit(
                spark,
                index_path,
                k=policy.recall_k,
                n_queries=policy.recall_n_queries,
                nprobe=policy.recall_nprobe,
                recall_threshold=policy.recall_threshold,
            )
            .select("mean_recall", "refresh_recommended")
            .first()
        )
        if row is not None:
            mean_recall = row["mean_recall"]
            refresh = bool(refresh) or bool(row["refresh_recommended"])
    p = _local_sidecar_path(index_path)
    meta = read_sidecar(p, "ivf_index.json")
    loc = os.path.join(p, meta["location"])
    files = _data_files(loc)
    budget = policy.files_per_cell_threshold * int(meta["n_centroids"])
    # tombstone bloat is the second compaction trigger: deleted rows
    # cost every probe's scan until purged, and their ids stay
    # un-re-appendable. The fraction is priced from parquet footers
    # (O(files) metadata reads), never a data scan.
    n_ts = int((meta.get("tombstones") or {}).get("n") or 0)
    ts_fraction = 0.0
    if n_ts:
        ts_fraction = n_ts / max(_parquet_rows(loc), 1)
    compacted = False
    if policy.compact and (
        files > budget or ts_fraction > policy.tombstone_threshold
    ):
        if ts_fraction >= 1.0:
            # every row is tombstoned: ivf_compact refuses (the purge
            # would empty the cells dataset) — DEFER rather than
            # crash the stream; the surfaced fraction lets monitoring
            # alert, and the first batch that adds fresh rows drops
            # it below 1 so the next tick compacts.
            pass
        else:
            ivf_compact(spark, index_path)
            compacted = True
    return {
        "refresh_recommended": refresh,
        "compacted": compacted,
        "files_before": files,
        "mean_recall": mean_recall,
        "tombstone_fraction": ts_fraction,
    }


__all__ = ["MaintenancePolicy", "band_maintenance", "ivf_maintenance"]
