"""Collection hydration — the reference's entire reason to exist.

Reference pipeline (sas:126-193): bind CAS table -> collect all rows
to driver pandas -> assemble embedding lists row-by-row -> one giant
``collection.add(ids, documents, embeddings, metadatas)`` call.
Single node, O(table) driver memory, one monolithic insert.

Spark-native pipeline: declarative plan (scan -> project/cast ->
optional dedup guard) executed distributed, written as partitioned
Parquet appends into the collection dataset. Nothing is collected;
the driver only sees counts (via the same pre/post count observable
the reference logs, sas:134/193). An optional mirror sink streams
partition-local batches into a live Chroma client via
``foreachPartition`` — batch size bounded, executor-local clients —
for users who need a real Chroma store next to the Parquet truth.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    DisabledError,
    DuplicateIdError,
    EmbeddingDimensionError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _driver_rows,
    _outside,
    _probe_ids,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    CollectionManifest,
    _buckets_for_ids,
    clone_untouched_buckets,
    current_data_dir,
    get_or_create_collection,
    next_data_dir,
    read_collection,
    swap_data_dir,
)

CANONICAL_COLUMNS = ("id", "document", "embedding", "metadata")


@dataclass(frozen=True)
class HydrationConfig:
    """Mirror of the reference's UI parameters (step:1 /ui; sas:21-30).

    - ``id_col``/``text_col``/``metadata_col``: column bindings
      (reference: docId, textVar, metadataColumn).
    - ``metadata_key``: the reference hard-codes the metadata key to
      "rating" whatever column was picked (sas:181); we default to the
      column's own name and offer the compat constant.
    - ``enabled``: the reference's `_hcdc_run_trigger` run-time gate
      (sas:244-255, 527-538).
    - ``on_duplicate``: 'error' (Chroma add() semantics — duplicate
      ids rejected, both in-batch and vs the existing collection),
      'first' (skip duplicates: keep ONE row per in-batch id — the
      lexicographically-lowest document — and drop incoming ids
      already present in the collection, i.e. idempotent-retry
      semantics), 'upsert' (Chroma upsert() semantics — incoming
      rows REPLACE existing rows with the same id, in-batch
      duplicates collapsed the same deterministic way; implemented
      as an anti-join rewrite into a fresh versioned data dir
      swapped in atomically). Any other value raises EngineError.
    - ``dim``: the embedding dimension rows must have; ``None`` infers
      it from the first non-empty input vector (one Spark job), or
      from the existing manifest when the input is empty. The Chroma
      front doors (``plans.chroma_api.collection_add`` /
      ``collection_upsert``) pass it: they have already checked every
      vector's length on the driver.
    - ``near_dup_index``/``near_dup_policy``/``near_dup_threshold``:
      content-level dedup-on-ingest — gate the incoming batch against
      a PERSISTED MinHash band index (``operators.band_index``) built
      from what the collection already holds. With a
      verification-capable index (``include_shingles=True``) a row is
      a near-dup when its best exact-Jaccard match reaches
      ``near_dup_threshold``; a band-only index falls back to the
      conservative membership gate (any band hit = suspect).
      ``near_dup_policy='skip'`` drops near-dups (accounted in
      ``rows_rejected`` + a note), ``'error'`` raises the typed
      ``NearDuplicateError``. The index's own etag staleness check
      runs on every read, so the gate can never silently compare
      against deleted corpus state. Ingesting through this flag makes
      the reference's hydrate front door a near-dup-safe ingest path
      (gate -> write -> ``band_index_append`` the survivors).
    - ``semantic_dup_index``/``semantic_dup_policy``/
      ``semantic_dup_threshold``/``semantic_dup_nprobe``: the VECTOR
      side of dedup-on-ingest — gate incoming EMBEDDINGS against a
      persisted IVF index (``operators/ann.py::ivf_write``) built
      from what the collection already holds. The text gate misses a
      paraphrase or re-encode whose words differ but whose embedding
      sits on top of a stored vector; this one catches it: each
      incoming vector probes its ``semantic_dup_nprobe`` nearest
      cells (one Arrow pass over the BATCH; the corpus is scanned
      cell-pruned, never broadcast), exact-scores the candidates, and
      a row whose best score reaches ``semantic_dup_threshold``
      (cosine: similarity >=; l2: distance <=, per the index's
      metric) is a semantic dup. ``'skip'`` drops them (accounted in
      ``rows_rejected`` + a note); ``'error'`` raises the typed
      ``SemanticDuplicateError``. The index's etag staleness check
      runs on every read. Standard IVF recall caveat applies: a
      stored twin assigned outside the probed cells escapes the gate
      — raise ``semantic_dup_nprobe`` (or refresh a drifted index,
      see ``ivf_balance_audit``) to tighten it. Composes with the
      text gate: run both, then ``ivf_append`` the survivors.
    - ``n_buckets``: create the collection hive-partitioned by
      ``id_bucket = pmod(xxhash64(id), n_buckets)``. Upserts then
      rewrite ONLY the buckets the incoming ids hash into — untouched
      buckets are hardlink-cloned into a fresh versioned dir and the
      ``_current`` pointer swap publishes the rewrite atomically —
      instead of the whole collection: the layout to pick when the
      collection is large and updates are frequent. Ignored when the
      collection already exists (its manifest wins).
    """

    collection_name: str
    root: str
    id_col: str = "id"
    text_col: str = "document"
    embedding_col: str = "embedding"
    metadata_col: str | None = None
    metadata_key: str | None = None
    metric: str = "cosine"
    enabled: bool = True
    on_duplicate: str = "error"
    dim: int | None = None
    n_buckets: int | None = None
    near_dup_index: str | None = None
    near_dup_policy: str = "skip"
    near_dup_threshold: float = 0.5
    semantic_dup_index: str | None = None
    semantic_dup_policy: str = "skip"
    semantic_dup_threshold: float = 0.98
    semantic_dup_nprobe: int = 4

    @classmethod
    def from_step_params(cls, params: dict) -> "HydrationConfig":
        """Build a config from the reference's LITERAL parameter names
        (step:1 /ui control ids; standalone ``%let`` names, sas:21-30)
        so a ``.step`` flow ports without hand-translation:

        ``collectionName``, ``persistentPathName`` (UI) /
        ``persistentPath`` (%let, ``sasserver:`` prefix stripped,
        default ``/tmp`` per README.md:82), ``docId``, ``textVar``,
        ``metadataColumn`` (optional; blank = unset),
        ``_hcdc_run_trigger`` (run-time gate, sas:527-538; "0"/0 =>
        disabled). Connection/table-binding params the Spark engine
        has no use for (``inputTable``, ``inputTable_lib``,
        ``casHostPath``, ``casHostPort``, ``embeddingPattern``) are
        accepted and ignored — the caller binds the DataFrame and the
        wide-source pattern itself (``hydrate_from_step`` consumes
        ``embeddingPattern``). Unknown keys raise, catching typos.

        Reference-compat semantics baked in: the metadata key is the
        hard-coded ``"rating"`` whatever column was chosen (sas:181).
        """
        known_ignored = {
            "inputTable",
            "inputTable_lib",
            "casHostPath",
            "casHostPort",
            "embeddingPattern",
            "patternMode",
            "nullPolicy",
        }
        consumed = {
            "collectionName",
            "persistentPathName",
            "persistentPath",
            "docId",
            "textVar",
            "metadataColumn",
            "_hcdc_run_trigger",
        }
        unknown = set(params) - known_ignored - consumed
        if unknown:
            raise ValueError(
                f"unknown step parameters {sorted(unknown)}; expected a subset "
                f"of {sorted(consumed | known_ignored)}"
            )
        if "collectionName" not in params:
            raise ValueError("step parameters must include collectionName")
        root = str(
            params.get("persistentPathName")
            or params.get("persistentPath")
            or "/tmp"
        )
        if root.startswith("sasserver:"):
            root = root[len("sasserver:"):]
        meta = params.get("metadataColumn") or None
        trigger = params.get("_hcdc_run_trigger", 1)
        return cls(
            collection_name=str(params["collectionName"]),
            root=root,
            id_col=str(params.get("docId", "id")),
            text_col=str(params.get("textVar", "document")),
            metadata_col=str(meta) if meta else None,
            metadata_key="rating" if meta else None,
            enabled=str(trigger).strip() not in ("0", "0.0", "false", "False"),
        )


@dataclass
class HydrationReport:
    """The reference logs count-before and count-after (sas:134,193);
    we return them, plus row accounting for rejected input."""

    collection: CollectionManifest
    count_before: int
    count_after: int
    rows_in: int
    rows_written: int
    rows_rejected: int = 0
    notes: list[str] = field(default_factory=list)


def build_hydration_input(df: DataFrame, cfg: HydrationConfig) -> DataFrame:
    """Project an arbitrary DataFrame to the canonical collection
    schema. Ids are cast(string) (quirk Q2, sas:178); metadata is a
    single-key map like the reference's ``{"rating": v}`` (sas:181)
    when a SCALAR metadata column is bound, an empty map when none
    is, and the column itself (cast to the canonical
    ``map<string,string>``) when it is already a MAP — the shape the
    Chroma-signature front doors (``plans.chroma_api.collection_add``
    / ``collection_upsert``) build from per-row ``metadatas``
    dicts."""
    from pyspark.sql.types import MapType

    id_expr = F.col(cfg.id_col).cast("string").alias("id")
    doc_expr = F.col(cfg.text_col).cast("string").alias("document")
    emb_expr = F.col(cfg.embedding_col).cast("array<float>").alias("embedding")
    if (
        cfg.metadata_col is not None
        and cfg.metadata_col in df.columns
        and isinstance(df.schema[cfg.metadata_col].dataType, MapType)
    ):
        meta_expr = (
            F.coalesce(
                F.col(cfg.metadata_col).cast("map<string,string>"),
                F.create_map().cast("map<string,string>"),
            )
        ).alias("metadata")
    elif cfg.metadata_col is not None:
        key = cfg.metadata_key or cfg.metadata_col
        meta_expr = F.create_map(
            F.lit(key), F.col(cfg.metadata_col).cast("string")
        ).alias("metadata")
    else:
        meta_expr = F.create_map().cast("map<string,string>").alias("metadata")
    return df.select(id_expr, doc_expr, emb_expr, meta_expr)


def _collapse_in_batch(good: DataFrame) -> DataFrame:
    """One row per in-batch id — deterministic: the row whose
    ``document`` sorts lowest wins (ties on document: arbitrary among
    byte-identical payload candidates)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("document"))
    return (
        good.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _infer_dim(df: DataFrame, cfg: HydrationConfig) -> int:
    if cfg.dim is not None:
        return cfg.dim
    row = df.select(F.size("embedding").alias("d")).filter(F.col("d") > 0).first()
    if row is None:
        raise EmbeddingDimensionError("cannot infer embedding dimension from empty input")
    return int(row["d"])


def hydrate(spark: SparkSession, df: DataFrame, cfg: HydrationConfig) -> HydrationReport:
    """Load a canonical-shape DataFrame into a collection.

    Scale notes: the duplicate-id guard (in-batch dup + collection
    clash) is ONE hash aggregation on the id key (map-side partial +
    final); the dimension guard is a scan-local filter; the write is
    a parallel Parquet append. 'upsert' on a flat collection rewrites
    it (anti-join survivors + incoming) into a fresh versioned dir and
    atomically swaps the pointer — cost proportional to the
    collection, the floor for replace semantics on immutable files.
    'upsert' on a BUCKETED collection (``n_buckets``) rewrites only
    the hive partitions the incoming ids hash into — the layout for
    frequent updates against a large collection. No driver
    materialization anywhere (the bucketed path collects only the
    affected bucket NUMBERS, bounded by n_buckets).

    A client batch (a LocalRelation, as the Chroma doors build) is
    neither cached nor counted: its ids are folded on the driver, so
    the in-batch duplicate check, the row count and the touched
    buckets cost no job, the check against stored ids is one pushed
    ``id IN (batch)`` probe pruned to the batch's buckets, and the
    upsert rewrite drops the batch ids with a literal filter.
    """
    if not cfg.enabled:
        raise DisabledError("hydration disabled via run-time trigger (cfg.enabled=False)")
    if cfg.on_duplicate not in ("error", "first", "upsert"):
        # A typo here would otherwise fall through to a guard-free
        # append — the one mode whose purpose is corruption prevention
        # must not be disableable by accident.
        from vector_databases___hydrate_chroma_db_collection_spark.errors import (
            EngineError,
        )

        raise EngineError(
            f"on_duplicate must be 'error', 'first' or 'upsert', "
            f"got {cfg.on_duplicate!r}"
        )

    data = build_hydration_input(df, cfg)
    held = _driver_rows(data.select("id"))
    if held is not None:
        # a client batch: Spark computes it on the driver, where a
        # cache or a count would only add jobs
        return _hydrate_data(spark, data, cfg, len(held))
    # One cache of the canonical projection feeds dimension inference,
    # the input count, the dup-id guard, and the write — without it
    # each observable would rescan (and recompute) the source plan.
    data = data.cache()
    try:
        return _hydrate_data(spark, data, cfg, None)
    finally:
        # unpersist on EVERY exit — the expected validation errors
        # (DuplicateIdError, dimension policy) are retryable, and a
        # long session retrying them must not accumulate pinned cache
        data.unpersist()


def _hydrate_data(
    spark: SparkSession, data: DataFrame, cfg: HydrationConfig, rows_in
) -> HydrationReport:
    try:
        dim = _infer_dim(data, cfg)
    except EmbeddingDimensionError:
        # Empty incremental batch against an EXISTING collection: the
        # manifest knows the dimension; a zero-row day is routine, not
        # an error. A truly new collection with empty input re-raises.
        from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
            load_manifest,
        )

        try:
            dim = load_manifest(cfg.root, cfg.collection_name).dim
        except Exception:
            raise EmbeddingDimensionError(
                "cannot infer embedding dimension from empty input "
                "and no existing collection manifest to fall back to"
            ) from None
    manifest = get_or_create_collection(
        cfg.root, cfg.collection_name, dim, cfg.metric, n_buckets=cfg.n_buckets
    )
    if rows_in is None:
        rows_in = data.count()

    # Dimension policy (quirk Q1): every vector must be exactly
    # manifest.dim and null-free. Strictness is non-negotiable at
    # write time — ragged vectors poison distance math downstream.
    ok = (F.size("embedding") == F.lit(dim)) & ~F.exists(
        "embedding", lambda x: x.isNull()
    )
    good = data.filter(ok)

    nd_note = None
    if cfg.near_dup_index is not None:
        good, nd_note = _apply_near_dup_gate(spark, good, cfg)
    sd_note = None
    if cfg.semantic_dup_index is not None:
        good, sd_note = _apply_semantic_dup_gate(spark, good, cfg)

    count_before = _count(spark, cfg)
    # The ids to write, as a driver list when Spark computes them on
    # the driver (a client batch the gates left whole): the duplicate
    # checks and the touched-bucket set then run in Python, and the
    # one look at stored data is a pushed `id IN (batch)` probe.
    held = _driver_rows(good.select("id"))
    ids = None if held is None else [r["id"] for r in held]

    if cfg.on_duplicate == "error" and ids is not None:
        # Chroma's add() errors on duplicates both within the batch
        # and vs the existing store
        seen = set()
        for i in ids:
            if i in seen:
                raise DuplicateIdError(f"duplicate id in hydration input: {i!r}")
            seen.add(i)
        if count_before > 0:
            stored = read_collection(
                spark, cfg.root, cfg.collection_name, include_bucket=True
            )
            if manifest.n_buckets:
                stored = stored.filter(
                    F.col("id_bucket").isin(
                        _buckets_for_ids(spark, ids, manifest.n_buckets)
                    )
                )
            hit = _probe_ids(stored, "id", ids)
            if hit:
                raise DuplicateIdError(
                    f"id {hit[0]['_id']!r} already present in collection "
                    f"{cfg.collection_name!r}"
                )
    elif cfg.on_duplicate == "error":
        # BOTH checks fold into ONE aggregation job — union the
        # incoming ids (tagged) with the existing ids (tagged), group
        # once, and look for any id that is either repeated in-batch
        # or present on both sides.
        checks = good.select(
            "id", F.lit(1).alias("_n_in"), F.lit(0).alias("_n_ex")
        )
        if count_before > 0:
            existing = read_collection(spark, cfg.root, cfg.collection_name).select(
                "id", F.lit(0).alias("_n_in"), F.lit(1).alias("_n_ex")
            )
            checks = checks.unionByName(existing)
        bad = (
            checks.groupBy("id")
            .agg(F.sum("_n_in").alias("n_in"), F.sum("_n_ex").alias("n_ex"))
            .filter(
                (F.col("n_in") > 1) | ((F.col("n_in") >= 1) & (F.col("n_ex") >= 1))
            )
            .limit(1)
            .collect()
        )
        if bad:
            row = bad[0]
            if row["n_in"] > 1:
                raise DuplicateIdError(
                    f"duplicate id in hydration input: {row['id']!r}"
                )
            raise DuplicateIdError(
                f"id {row['id']!r} already present in collection "
                f"{cfg.collection_name!r}"
            )
    elif cfg.on_duplicate == "first":
        good = _collapse_in_batch(good)
        if count_before > 0:
            # idempotent retry: ids already stored are skipped, so
            # re-hydrating the same batch is a no-op, never a
            # store-level duplicate
            existing_ids = read_collection(
                spark, cfg.root, cfg.collection_name
            ).select("id")
            good = good.join(existing_ids, on="id", how="left_anti")
    elif cfg.on_duplicate == "upsert" and (ids is None or len(set(ids)) < len(ids)):
        # Chroma's upsert() rejects in-batch duplicate ids; ours
        # collapses them deterministically (same rule as 'first') so
        # the replace-set is well-defined before the anti-join rewrite
        good = _collapse_in_batch(good)

    if ids is not None:
        # one task writes a client batch: one file per bucket, not one
        # per slice of the local relation
        good = good.coalesce(1)
    # observe() counts the written rows inside the write job itself —
    # no separate count action, no second cache.
    from pyspark.sql import Observation

    obs = Observation("hydrate_write")
    good_obs = good.observe(obs, F.count(F.lit(1)).alias("rows"))

    def with_bucket(d: DataFrame) -> DataFrame:
        return d.withColumn(
            "id_bucket", F.pmod(F.xxhash64("id"), F.lit(manifest.n_buckets))
        )

    if cfg.on_duplicate == "upsert" and count_before > 0:
        if ids is None:
            def survivors(existing):
                return existing.join(good.select("id"), on="id", how="left_anti")
        else:
            def survivors(existing):
                return existing.filter(_outside(F.col("id"), ids))
        if manifest.n_buckets:
            # Bucketed upsert: rewrite ONLY the buckets the incoming
            # ids hash into. The affected-bucket set is folded on the
            # driver for a client batch, else one bounded aggregation
            # (<= n_buckets values); existing rows outside
            # it are never read (static hive-partition pruning) and
            # their files are never recomputed — they are carried
            # forward into a fresh versioned dir as hardlinks
            # (clone_untouched_buckets), and ONE atomic pointer swap
            # publishes the rewrite. A crash at any point leaves the
            # pointer naming a complete dir — readers see old or new
            # state, never mixed buckets (the in-place dynamic
            # partition overwrite this replaces could expose both).
            # Cost still scales with |touched buckets| / n_buckets of
            # the collection plus O(untouched files) metadata ops.
            affected = (
                [
                    r["id_bucket"]
                    for r in with_bucket(good.select("id"))
                    .select("id_bucket")
                    .distinct()
                    .collect()
                ]
                if ids is None
                else _buckets_for_ids(spark, ids, manifest.n_buckets)
            )
            existing = read_collection(
                spark, cfg.root, cfg.collection_name, include_bucket=True
            ).filter(F.col("id_bucket").isin(affected))
            staging = next_data_dir(cfg.root, manifest.name)
            survivors(existing).select(*CANONICAL_COLUMNS, "id_bucket").unionByName(
                with_bucket(good_obs.select(*CANONICAL_COLUMNS))
            ).write.mode("overwrite").partitionBy("id_bucket").parquet(staging)
            clone_untouched_buckets(
                current_data_dir(cfg.root, manifest.name),
                staging,
                set(affected),
            )
            swap_data_dir(cfg.root, manifest.name, staging)
        else:
            # True upsert (Chroma upsert() semantics): incoming rows
            # REPLACE existing rows with the same id. Survivor set =
            # existing minus the incoming ids, unioned with the incoming
            # batch, written to a fresh versioned dir and swapped in
            # with one atomic pointer replace — readers never see a
            # mix, and the observe node still counts exactly the
            # incoming rows.
            existing = read_collection(spark, cfg.root, cfg.collection_name)
            staging = next_data_dir(cfg.root, manifest.name)
            survivors(existing).select(*CANONICAL_COLUMNS).unionByName(
                good_obs.select(*CANONICAL_COLUMNS)
            ).write.mode("overwrite").parquet(staging)
            swap_data_dir(cfg.root, manifest.name, staging)
    else:
        out_path = current_data_dir(cfg.root, manifest.name)
        writer = (
            with_bucket(good_obs).write.mode("append").partitionBy("id_bucket")
            if manifest.n_buckets
            else good_obs.write.mode("append")
        )
        writer.parquet(out_path)
    rows_written = int(obs.get["rows"])

    count_after = _count(spark, cfg)
    report = HydrationReport(
        collection=manifest,
        count_before=count_before,
        count_after=count_after,
        rows_in=rows_in,
        rows_written=rows_written,
        rows_rejected=rows_in - rows_written,
    )
    if report.rows_rejected:
        report.notes.append(
            f"{report.rows_rejected} rows rejected (dimension/null policy or duplicate id)"
        )
    if nd_note:
        report.notes.append(nd_note)
    if sd_note:
        report.notes.append(sd_note)
    return report


def _apply_near_dup_gate(
    spark: SparkSession, good: DataFrame, cfg: HydrationConfig
) -> tuple[DataFrame, str | None]:
    """Content-level dedup-on-ingest against the persisted band index
    at ``cfg.near_dup_index`` (see HydrationConfig docstring). Returns
    (filtered rows, accounting note). The verdict id set is
    incoming-batch bounded and eagerly materialized so the write plan
    never re-runs the gate's joins, and the gate's shingle caches are
    released before the write starts."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
        NearDuplicateError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_bucket_keys,
        band_index_meta,
        band_index_read_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
        novelty_gate,
        release_cache,
    )

    if cfg.near_dup_policy not in ("skip", "error"):
        raise EngineError(
            f"near_dup_policy must be 'skip' or 'error', got "
            f"{cfg.near_dup_policy!r}"
        )
    meta = band_index_meta(cfg.near_dup_index)
    fam = dict(n=meta["n"], num_hashes=meta["num_hashes"], bands=meta["bands"])
    if meta.get("has_shingles"):
        bands_t, sh_t, sizes_t, _ = band_index_read_verified(
            spark, cfg.near_dup_index
        )
        verdict = neardup_gate_verified(
            good, bands_t, sh_t, sizes_t,
            id_col="id", text_col="document",
            threshold=cfg.near_dup_threshold, **fam,
        )
        dup_pred = F.col("is_dup")
    else:
        keys = band_index_bucket_keys(spark, cfg.near_dup_index)
        verdict = novelty_gate(
            good, keys, id_col="id", text_col="document", **fam
        )
        dup_pred = ~F.col("novel")
    dup_ids = verdict.filter(dup_pred).select("id").localCheckpoint(eager=True)
    release_cache(verdict)
    n_dup = dup_ids.count()
    if n_dup == 0:
        return good, None
    if cfg.near_dup_policy == "error":
        example = dup_ids.limit(1).collect()[0]["id"]
        raise NearDuplicateError(
            f"{n_dup} incoming row(s) are near-duplicates of content "
            f"already in collection {cfg.collection_name!r} (e.g. id "
            f"{example!r}, gated via the band index at "
            f"{cfg.near_dup_index!r}); drop them or hydrate with "
            "near_dup_policy='skip'"
        )
    mode = "verified Jaccard" if meta.get("has_shingles") else "band membership"
    return (
        good.join(dup_ids, "id", "left_anti"),
        f"{n_dup} near-duplicate rows skipped by near_dup_policy ({mode})",
    )


def _apply_semantic_dup_gate(
    spark: SparkSession, good: DataFrame, cfg: HydrationConfig
) -> tuple[DataFrame, str | None]:
    """Embedding-level dedup-on-ingest against the persisted IVF
    index at ``cfg.semantic_dup_index`` (see HydrationConfig
    docstring): one ``ivf_knn_join`` of the incoming batch (k=1,
    ``semantic_dup_nprobe`` cells) against the index, best score per
    row compared to the threshold under the index's own metric.
    Returns (filtered rows, accounting note); the dup id set is
    batch-bounded and eagerly materialized so the write plan never
    re-runs the join."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
        SemanticDuplicateError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_knn_join,
        ivf_read,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _cells_cols,
    )

    if cfg.semantic_dup_policy not in ("skip", "error"):
        raise EngineError(
            f"semantic_dup_policy must be 'skip' or 'error', got "
            f"{cfg.semantic_dup_policy!r}"
        )
    assigned, C, metric = ivf_read(spark, cfg.semantic_dup_index)
    idx_cols = _cells_cols(assigned)
    nn = ivf_knn_join(
        good.select(
            F.col("id").alias("qid"), F.col("embedding").alias("q_embedding")
        ),
        assigned,
        C,
        k=1,
        id_col=idx_cols[0],
        embedding_col=idx_cols[1],
        metric=metric,
        nprobe=cfg.semantic_dup_nprobe,
    )
    thr = float(cfg.semantic_dup_threshold)
    # cosine scores rank DESC (similarity), l2 ASC (distance)
    dup_pred = (
        F.col("score") >= thr if metric == "cosine" else F.col("score") <= thr
    )
    dup_ids = (
        nn.filter(dup_pred)
        .select(F.col("qid").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_dup = dup_ids.count()
    if n_dup == 0:
        return good, None
    if cfg.semantic_dup_policy == "error":
        example = dup_ids.limit(1).collect()[0]["id"]
        raise SemanticDuplicateError(
            f"{n_dup} incoming row(s) have embeddings semantically "
            f"duplicating vectors already in collection "
            f"{cfg.collection_name!r} (e.g. id {example!r}; best "
            f"{metric} score past {thr}, gated via the IVF index at "
            f"{cfg.semantic_dup_index!r}); drop them or hydrate with "
            "semantic_dup_policy='skip'"
        )
    return (
        good.join(dup_ids, "id", "left_anti"),
        f"{n_dup} semantic-duplicate rows skipped by semantic_dup_policy "
        f"({metric} vs {thr}, nprobe={cfg.semantic_dup_nprobe})",
    )


def _count(spark: SparkSession, cfg: HydrationConfig) -> int:
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_count,
    )

    return collection_count(spark, cfg.root, cfg.collection_name)


def mirror_to_chroma(
    df: DataFrame,
    persistent_path: str,
    collection_name: str,
    batch_size: int = 5000,
    *,
    metric: str = "cosine",
    parallelism: int | None = 1,
) -> None:
    """Optional live-Chroma mirror of a canonical-shape DataFrame.

    Executor-local PersistentClient per partition, bounded batches —
    the distributed replacement for the reference's single monolithic
    ``collection.add`` (sas:177-190). Gated on chromadb availability;
    the Parquet dataset remains the source of truth either way.

    ``metric`` sets the mirrored collection's ``hnsw:space``
    (cosine/l2/dot->ip) so mirror queries rank like
    ``collection_query`` on the Parquet truth. ``parallelism``
    defaults to 1 because the embedded PersistentClient is a
    single-writer SQLite store on ONE machine's disk — concurrent
    partitions would contend on the database lock, and on a
    multi-node cluster each executor would write a disjoint partial
    mirror to its own local path. Pass ``parallelism=None`` to keep
    the input partitioning ONLY when the client path is backed by a
    server-mode deployment that handles concurrency.
    """
    space = {"cosine": "cosine", "l2": "l2", "dot": "ip"}.get(metric)
    if space is None:
        raise ValueError(f"unknown metric {metric!r}")

    def write_partition(rows):
        try:
            import chromadb  # noqa: F401 — not installed in this container
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "chromadb is not installed; the Parquet collection is the source of truth"
            ) from e
        client = chromadb.PersistentClient(path=persistent_path)
        coll = client.get_or_create_collection(
            name=collection_name, metadata={"hnsw:space": space}
        )
        batch = []
        for row in rows:
            batch.append(row)
            if len(batch) >= batch_size:
                _flush(coll, batch)
                batch = []
        if batch:
            _flush(coll, batch)

    def _flush(coll, batch):  # pragma: no cover
        # chromadb rejects empty metadata dicts; rows hydrated without
        # a metadata column carry {} and must mirror as None
        metas = [dict(r["metadata"]) or None for r in batch]
        coll.add(
            ids=[r["id"] for r in batch],
            documents=[r["document"] for r in batch],
            embeddings=[list(r["embedding"]) for r in batch],
            metadatas=None if all(m is None for m in metas) else metas,
        )

    out = df if parallelism is None else df.coalesce(parallelism)
    out.foreachPartition(write_partition)


def parse_step_controls(path: str) -> dict:
    """Parse a SAS Studio custom-step ``.step`` file's embedded UI
    definition (step:1 ``/ui`` — a JSON string of ``pages`` ->
    ``section`` containers -> typed controls) into a flat control
    schema ``{control_id: {"type", "label", "required", "default"}}``.

    The ``.step`` file is the step DEFINITION, not a flow instance —
    it carries which parameters exist, their UI types
    (``textfield``/``numberfield``/``columnselector``/``inputtable``/
    ``path``), whether each is required (``required: true`` for
    fields, ``min >= 1`` for column selectors), and the placeholder
    that doubles as the documented default for the ``path`` control
    (``sasserver:/tmp``, README.md:82). Display-only nodes (``text``)
    are skipped; ``section``/``page`` containers are recursed.
    """
    import json

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        InvalidPathError,
    )

    try:
        with open(path, "r", encoding="utf-8") as fh:
            doc = json.load(fh)
    except FileNotFoundError as e:
        raise InvalidPathError(f"no .step file at {path}") from e
    except json.JSONDecodeError as e:
        raise InvalidPathError(f"{path} is not a JSON .step file: {e}") from e
    ui = doc.get("ui")
    if ui is None:
        raise InvalidPathError(f"{path} has no /ui page definition")
    if isinstance(ui, str):
        ui = json.loads(ui)

    controls: dict = {}

    def visit(node) -> None:
        if isinstance(node, list):
            for child in node:
                visit(child)
            return
        if not isinstance(node, dict):
            return
        ntype = node.get("type")
        if ntype in ("page", "section"):
            visit(node.get("children", []))
            return
        if ntype in ("text", None):
            return
        required = bool(node.get("required")) or (
            isinstance(node.get("min"), (int, float)) and node["min"] >= 1
        )
        default = None
        if ntype == "path" and node.get("placeholder"):
            default = node["placeholder"]
        controls[node["id"]] = {
            "type": ntype,
            "label": node.get("label", ""),
            "required": required,
            "default": default,
        }

    for page in ui.get("pages", []):
        visit(page)
    if not controls:
        raise InvalidPathError(f"{path} defines no input controls")
    return controls


def step_params_from_file(path: str, values: dict | None = None) -> dict:
    """Validate ``values`` (a flow instance's parameter bindings,
    keyed by control id) against the ``.step`` file's control schema
    and return the parameter dict ``from_step_params`` consumes.

    Contract (the product front-end's behavior, re-expressed):
    unknown ids raise (typo guard — the UI cannot submit a control it
    does not render), missing REQUIRED controls raise with the
    control's label (the UI blocks submission), ``numberfield``
    values must be numeric, and absent optional controls fall back to
    the control's default when the ``.step`` declares one (the
    ``path`` placeholder ``sasserver:/tmp``). The run-time trigger
    ``_hcdc_run_trigger`` (sas:527-538) is not a UI control but IS a
    step parameter; it passes through untouched.
    """
    values = dict(values or {})
    controls = parse_step_controls(path)
    trigger = values.pop("_hcdc_run_trigger", None)
    unknown = set(values) - set(controls)
    if unknown:
        raise ValueError(
            f"values bind unknown step controls {sorted(unknown)}; "
            f"{path} defines {sorted(controls)}"
        )
    params: dict = {}
    for cid, spec in controls.items():
        if cid in values and values[cid] not in (None, ""):
            v = values[cid]
            if spec["type"] == "numberfield" and not isinstance(
                v, (int, float)
            ):
                try:
                    v = float(v)
                except (TypeError, ValueError):
                    raise ValueError(
                        f"step control {cid!r} ({spec['label']!r}) is a "
                        f"numberfield; got {v!r}"
                    ) from None
            params[cid] = v
        elif spec["default"] is not None:
            params[cid] = spec["default"]
        elif spec["required"]:
            raise ValueError(
                f"required step control {cid!r} ({spec['label']!r}) "
                "has no value"
            )
    if trigger is not None:
        params["_hcdc_run_trigger"] = trigger
    return params


def hydrate_from_step_file(
    spark: SparkSession,
    df: DataFrame,
    step_path: str,
    values: dict,
    *,
    null_policy: str = "drop_nulls",
    on_duplicate: str = "error",
    n_buckets: int | None = None,
) -> HydrationReport:
    """``hydrate_from_step`` driven by the ACTUAL ``.step`` file: the
    file supplies the control schema (ids, required flags, the
    ``sasserver:/tmp`` path default), ``values`` supplies the flow
    instance's bindings, and the validated parameter dict runs the
    sas:126-193 data path as one Spark job. This closes the last
    front-end seam with the reference's product path: a flow built
    against the reference's one-line ``.step`` replays here with the
    same ids, the same required-field gating, and the same defaults.
    """
    return hydrate_from_step(
        spark,
        df,
        step_params_from_file(step_path, values),
        null_policy=null_policy,
        on_duplicate=on_duplicate,
        n_buckets=n_buckets,
    )


def hydrate_from_step(
    spark: SparkSession,
    df: DataFrame,
    params: dict,
    *,
    null_policy: str = "drop_nulls",
    on_duplicate: str = "error",
    n_buckets: int | None = None,
) -> HydrationReport:
    """Run the reference's WHOLE job from its literal ``.step``
    parameter dict (step:1 /ui; sas:21-30): pattern-select the wide
    embedding block (``embeddingPattern``, sas:156-161; optional
    ``patternMode: "regex"`` = the sas:148 variant), assemble vectors
    under the reference's per-row null behavior (Q1 — default here is
    the literal ``drop_nulls``; pass ``nullPolicy`` in the dict or
    ``null_policy=`` to harden), stringify ids (Q2, sas:178), bind
    metadata under the hard-coded ``"rating"`` key (sas:181), and
    hydrate the collection at ``persistentPathName`` — i.e. the
    sas:126-193 data path as one distributed Spark job.
    """
    cfg = HydrationConfig.from_step_params(params)
    if "embeddingPattern" not in params:
        raise ValueError("step parameters must include embeddingPattern")
    from vector_databases___hydrate_chroma_db_collection_spark.sources.wide import (
        read_wide_embeddings,
    )

    canonical = read_wide_embeddings(
        df,
        id_col=cfg.id_col,
        text_col=cfg.text_col,
        embedding_pattern=str(params["embeddingPattern"]),
        metadata_col=cfg.metadata_col,
        null_policy=str(params.get("nullPolicy", null_policy)),
        pattern_mode=str(params.get("patternMode", "substring")),
    )
    run_cfg = HydrationConfig(
        collection_name=cfg.collection_name,
        root=cfg.root,
        id_col="id",
        text_col="document",
        embedding_col="embedding",
        metadata_col="metadata_value" if cfg.metadata_col else None,
        metadata_key="rating" if cfg.metadata_col else None,
        enabled=cfg.enabled,
        on_duplicate=on_duplicate,
        n_buckets=n_buckets,
    )
    return hydrate(spark, canonical, run_cfg)
