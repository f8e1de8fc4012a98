"""Persisted MinHash LSH band index: the corpus half of the
near-duplicate novelty gate, materialized once and reused across
batch gates and streaming micro-batches.

``operators.dedup.lsh_band_rows`` computes a corpus band table; this
module gives it the same durable-index lifecycle as the IVF sidecar
(``operators/ann.py::ivf_write/ivf_read/ivf_refresh``): the index is
a set of Parquet datasets plus a JSON sidecar that records the BUILD
parameters (shingle ``n``, ``num_hashes``, ``bands``, the id/text
column names), the current data-directory of every part, and an
optional source-collection etag stamp. ``band_index_read`` raises
``StaleIndexError`` once the collection changes under the index;
``band_index_refresh`` is the one-call remedy — replay the recorded
build against the CURRENT collection, overwrite, re-stamp.

Scale notes: the band table is ``bands`` rows per corpus document
(8-byte keys; ~100 GB per billion docs at the defaults) — it scans,
joins, appends and replicates like any other table. Incremental
ingest appends only the new documents' rows (signatures are per-doc,
so no global recompute); probing it (``novelty_gate``) is one
equi-join on ``(band, h)``. The serving layout makes that join
exchange-free on the corpus side: ``bands`` and ``bucket_keys``
are written as Spark BUCKETED tables clustered by ``(band, h)``
(``num_buckets``, recorded in the sidecar), so a gate's probe batch
is shuffled into the corpus's existing bucketing and the
corpus-scale table is scanned in place — the shuffle cost of a serve
call is |batch| * bands rows, never the corpus
(``tests/test_band_index.py`` freezes the no-corpus-Exchange plan).
Bucketed datasets are registered in the session catalog on
read/append (``CREATE TABLE IF NOT EXISTS ... CLUSTERED BY ...
LOCATION``), so a fresh session serves an index written by another.
The catalog name is a digest of the part's CURRENT data directory
AND its bucket count, so a rebuild at the same index path (which
writes a fresh versioned directory, possibly with a different
``num_buckets``) can never be served through a stale catalog entry's
old bucket spec — the stale entry's name simply stops being derived.

Durability contracts:

* **Rebuild is atomic for new readers.** ``band_index_write`` writes
  every part into a FRESH versioned directory (``bands_v2``, ...)
  and commits them by swapping the sidecar's ``locations`` map last
  (atomic temp+fsync+rename). Reads that BEGIN after the commit see
  the complete new index; reads that began before it see the
  complete old index — UNLESS their scan is still in flight when the
  writer removes the superseded directories right after the commit,
  in which case they fail loudly with missing-file errors (never
  silently mixed data). Long-scan concurrent readers across rebuilds
  need external retention (snapshot the dirs, or defer cleanup).
* **Append is torn-write-safe.** ``band_index_append`` records a
  BATCH-SCOPED marker (digest of the batch's id set) in the
  sidecar's ``pending_appends`` list before touching any data,
  appends its parts, writes the guard's source-of-truth ``ids``
  dataset LAST, and removes its own marker in the final commit — an
  unrelated batch's successful append cannot clear another batch's
  torn state. A replay whose digest matches a pending entry
  anti-joins each part's incoming rows against what that part
  already holds — at ROW granularity for multi-row parts, because a
  Spark append job commit is not atomic across task files — so a
  torn append replays to exactly-once row counts
  (``tests/test_band_index.py`` tears the append at every boundary
  and replays).

Reference provenance: the reference (sas:126-193) hydrates a Chroma
collection for retrieval; a production hydration pipeline gates
re-ingested documents against what the collection already holds —
this index is that gate's corpus state.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators import idguard
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _atomic_sidecar_write,
    _check_expected_etag,
    _check_source_stamp,
    _fresh_versioned_dir,
    _gc_recordings,
    _local_sidecar_path,
    _parquet_rows,
    _read_unchecked,
    _restamp,
    _source_stamp,
    read_parquet,
    read_sidecar,
)

_SIDECAR = "band_index.json"
# the recordings a rebuild, apply or compact supersedes wholesale
_PURGED_RECORDINGS = (
    "band_tombstones", "removed_keys", "key_decs", "deferred_updates",
)
_BUCKET_COLS = ("band", "h")


def _bucket_id(nb: int):
    """The writer-side bucket assignment, as an expression:
    ``pmod(murmur3(band, h), nb)`` — ``F.hash`` IS the hash Spark's
    bucketing uses, so repartitioning on THIS puts each whole bucket
    in exactly one task and ``bucketBy`` then writes exactly one file
    per bucket. Repartitioning on the raw columns is NOT reliable for
    that: over a bucketed-table scan the planner can elide the
    exchange and leave several tasks per bucket, multiplying files
    (observed on compaction reads)."""
    return F.pmod(F.hash(*[F.col(c) for c in _BUCKET_COLS]), F.lit(nb))


def _sidecar_write(p: str, meta: dict) -> None:
    """Atomic, durable sidecar commit — the shared temp+fsync+rename
    writer (store._atomic_sidecar_write), so the band and vector index
    lifecycles cannot drift apart."""
    _atomic_sidecar_write(p, _SIDECAR, meta)


def _part_loc(path: str, part: str, meta: dict) -> str:
    return os.path.join(_local_sidecar_path(path), meta["locations"][part])


def _fresh_part_dir(p: str, part: str, prev=None) -> str:
    """Next unused versioned directory name for a part (``bands_v1``,
    ``bands_v2``, ...) — the shared scanner (store._fresh_versioned_dir),
    so the band and vector index lifecycles cannot drift apart.
    ``prev`` floors the version above the sidecar's CURRENT location
    (a name, or a list of names for the append recordings), so GC of
    superseded dirs can never recycle a name under a reader holding
    an older sidecar — the ``fresh_bloom_file`` monotonicity contract
    applied to every allocator (r12)."""
    floors = prev if isinstance(prev, (list, tuple)) else [prev]
    return _fresh_versioned_dir(p, part, floor_names=list(floors))


def _bucket_table(loc: str, nb: int) -> str:
    """Deterministic session-catalog name for a bucketed index part:
    the catalog entry is session-local metadata over the files at
    ``loc``; any session re-derives the same name from the same
    (data directory, bucket count) pair. Folding ``nb`` into the
    digest means an index rebuilt with a different bucket spec can
    never be scanned through an older session's catalog entry —
    Spark would trust the stale entry's hash distribution, skip the
    exchange, and silently miss join matches."""
    digest = hashlib.md5(
        f"{os.path.abspath(loc)}|{nb}".encode("utf-8")
    ).hexdigest()[:12]
    return f"band_index_{digest}"


def _register_bucketed(
    spark: SparkSession, loc: str, ddl: str, nb: int
) -> str:
    """Idempotently (re-)register the bucketed table over the
    persisted files and refresh cached file listings. Returns the
    table name; ``spark.table(name)`` scans with ``Bucketed: true``
    (hash-distributed on (band, h)), which is what lets the gate's
    join skip the corpus-side Exchange."""
    tbl = _bucket_table(loc, nb)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl} ({ddl}) USING PARQUET "
        f"CLUSTERED BY (band, h) SORTED BY (band, h) INTO {nb} BUCKETS "
        f"LOCATION '{loc}'"
    )
    spark.sql(f"REFRESH TABLE {tbl}")
    return tbl


def _write_new_part(
    df: DataFrame,
    path: str,
    part: str,
    nb: int | None,
    prev: str | None = None,
    pre_clustered: bool = False,
) -> str:
    """Persist one part into a FRESH versioned directory; returns the
    directory name for the sidecar's ``locations`` map. The write is
    invisible to readers until the caller commits the sidecar.

    ``nb`` set: a bucketed catalog table clustered+sorted by
    (band, h) — ``repartition`` onto the bucket keys first so each
    task owns whole buckets (one file per bucket, not
    files-per-task-per-bucket). ``nb`` None: plain parquet.

    ``pre_clustered`` (r16): the input is ALREADY laid out one bucket
    per task (an aggregate over a bucketed scan of the same (cols,
    nb) spec) — skip the repartition, its exchange is pure waste
    there. Worst case if a caller misjudges: several tasks hold rows
    of one bucket and the bucket gets several files — reads stay
    correct (Spark coalesces a bucket's files into its task), only
    the file-count hygiene degrades.

    ``prev`` (the sidecar's CURRENT location for this part) floors the
    new version ABOVE it — without forwarding it the monotonicity
    contract is a no-op and a post-GC rebuild can recycle a freed
    ``<part>_vN`` name under a reader holding an older sidecar."""
    p = _local_sidecar_path(path)
    d = _fresh_part_dir(p, part, prev=prev)
    loc = os.path.join(p, d)
    if nb is None:
        df.write.mode("overwrite").parquet(loc)
        return d
    if not pre_clustered:
        df = df.repartition(nb, _bucket_id(nb))
    (
        df.write.bucketBy(nb, *_BUCKET_COLS)
        .sortBy(*_BUCKET_COLS)
        .option("path", loc)
        .saveAsTable(_bucket_table(loc, nb))
    )
    return d


def _append_part(
    df: DataFrame, path: str, part: str, nb: int | None, meta: dict
) -> None:
    """Append rows into a part's CURRENT directory (bucketed parts go
    through the catalog table so the files carry the bucket spec)."""
    loc = _part_loc(path, part, meta)
    if nb is None:
        df.write.mode("append").parquet(loc)
        return
    spark = df.sparkSession
    tbl = _register_bucketed(spark, loc, meta["ddl"][part], nb)
    (
        df.repartition(nb, _bucket_id(nb))
        .write.bucketBy(nb, *_BUCKET_COLS)
        .sortBy(*_BUCKET_COLS)
        .mode("append")
        .saveAsTable(tbl)
    )
    spark.sql(f"REFRESH TABLE {tbl}")


def _read_part(
    spark: SparkSession, path: str, part: str, meta: dict
) -> DataFrame:
    nb = meta.get("num_buckets")
    loc = _part_loc(path, part, meta)
    if nb is None or part not in ("bands", "bucket_keys"):
        return read_parquet(spark, loc)
    tbl = _register_bucketed(spark, loc, meta["ddl"][part], nb)
    return spark.table(tbl)


def _drop_part_dirs(
    spark: SparkSession, path: str, old_meta: dict, new_locations: dict
) -> None:
    """Post-commit cleanup of a rebuild: remove superseded data
    directories and their catalog entries. Runs only AFTER the new
    sidecar is committed, so a crash here leaks directories (safe)
    rather than breaking readers."""
    p = _local_sidecar_path(path)
    old_nb = old_meta.get("num_buckets")
    for part, old_d in (old_meta.get("locations") or {}).items():
        old_loc = os.path.join(p, old_d)
        if old_d == new_locations.get(part) or not os.path.exists(old_loc):
            continue
        if old_nb is not None and part in ("bands", "bucket_keys"):
            tbl = _bucket_table(old_loc, old_nb)
            try:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            except Exception:
                pass
        shutil.rmtree(old_loc, ignore_errors=True)


def band_index_build(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    include_shingles: bool = False,
    source: tuple[str, str] | None = None,
    num_buckets: int | None = 32,
    expected_ids: int | None = None,
) -> None:
    """One-call build: shingle the corpus ONCE, derive band rows (and
    optionally the shingle postings + sizes for verified serving)
    from that single cached pass, persist everything, release the
    cache. Equivalent to ``lsh_band_rows`` + ``band_index_write`` but
    without a second shingle pass when ``include_shingles=True``."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        _band_rows_from_shingles,
        _shingle_rows,
    )

    sh = _shingle_rows(df, id_col, text_col, n, engine="auto")
    band_rows = _band_rows_from_shingles(sh, id_col, num_hashes, bands)
    band_index_write(
        band_rows,
        path,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        id_col=id_col,
        text_col=text_col,
        source=source,
        shingles=sh if include_shingles else None,
        num_buckets=num_buckets,
        expected_ids=expected_ids,
    )
    sh.unpersist()


def band_index_write(
    band_rows: DataFrame,
    path: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source: tuple[str, str] | None = None,
    shingles: DataFrame | None = None,
    num_buckets: int | None = 32,
    expected_ids: int | None = None,
) -> None:
    """Persist a corpus band table (the output of ``lsh_band_rows``
    over the corpus) plus its sidecar.

    The ``n/num_hashes/bands/id_col/text_col`` kwargs are the BUILD
    record — ``band_index_refresh`` replays them verbatim, and
    ``novelty_gate`` callers read them back so the probe side is
    hashed with the identical family (mismatched ``n`` would silently
    gate everything as novel). ``source=(root, name)`` stamps the
    sidecar with the collection's current etag.

    ``num_buckets`` (default 32): write ``bands`` and ``bucket_keys``
    as bucketed tables clustered by ``(band, h)`` — the serving
    layout; every gate call joins the corpus side exchange-free. Pass
    ``None`` for plain parquet (portable to engines without Spark
    bucketing; each serve then shuffles the corpus side).

    ``shingles`` (optional): the corpus shingle-hash rows
    ``(id, h)`` — pass ``lsh_band_rows``'s attached shingle cache (it
    is already materialized by the band write) to ALSO persist the
    exact-verification side: posting rows under ``shingles`` and
    per-doc set sizes under ``sizes``. With them on disk,
    ``neardup_gate_verified`` serves LSH candidates AND exact-Jaccard
    verdicts without ever touching corpus text again.

    Always also persists ``ids`` — one row per indexed document id,
    the append guard's source of truth (one extra map-side-combinable
    distinct at build time; for shingled layouts it is derived from
    the already-aggregated sizes rows) — plus the id-guard Bloom
    sidecar over that set (``operators/idguard.py``), which is what
    keeps incremental appends CORPUS-INDEPENDENT: an appending batch
    probes the filter instead of scanning the ids dataset, and only
    filter-positive ids (replays + ~0.8% false positives) pay the
    exact anti-join. ``expected_ids`` sizes the filter's capacity
    (default: 4x the build's id count — headroom for appends; the
    filter is re-sized from the current count at every
    ``band_index_compact``).

    Every part lands in a fresh versioned directory and the sidecar's
    ``locations`` map is swapped last, so a REBUILD over an existing
    index is atomic for concurrent readers (they see old-complete or
    new-complete, never a torn mix); superseded directories are
    removed after the commit."""
    p = _local_sidecar_path(path)
    os.makedirs(p, exist_ok=True)
    old_meta = (
        _read_unchecked(p, _SIDECAR)
        if os.path.exists(os.path.join(p, _SIDECAR))
        else {}
    )
    stamp = _source_stamp(source)
    # Bucket keys aggregated to one row per key at build time: novelty
    # serving needs only (band, h) MEMBERSHIP (the gate probes with a
    # LEFT SEMI join, so duplicates would not be wrong — just wasted
    # bytes); appends add batch-aggregated keys and band_index_compact
    # re-aggregates. The ``cnt`` column is the key's CONTRIBUTOR
    # refcount (how many docs emit it — each doc emits a (band, h)
    # pair at most once, so summing cnt across append generations
    # counts contributors exactly); ``band_index_delete`` retires a
    # key by pure arithmetic — sum(cnt) <= sum(recorded decrements) —
    # instead of scanning the corpus-order ``bands`` part for
    # survivors.
    old_locs = old_meta.get("locations") or {}
    locations = {
        "bands": _write_new_part(
            band_rows, path, "bands", num_buckets, old_locs.get("bands")
        ),
    }
    spark = band_rows.sparkSession
    # bucket_keys derived from the just-written BANDS part (r16, guide
    # §2.4): the bucketed scan is hash-clustered on (band, h), so the
    # key aggregate plans with NO exchange and its output is already
    # one-bucket-per-task (pre_clustered skips the write repartition
    # too) — the r15 shape aggregated the in-session band rows and
    # paid two full-table exchanges (~8M rows each at the 1M bench,
    # probe: 41 -> ~15 cpu-s for this part). With num_buckets=None the
    # plain-parquet read keeps the old single-exchange aggregate.
    bands_loc = os.path.join(p, locations["bands"])
    bands_ddl = ", ".join(f"`{c}` {t}" for c, t in band_rows.dtypes)
    if num_buckets is not None:
        written = spark.table(
            _register_bucketed(spark, bands_loc, bands_ddl, num_buckets)
        )
        pre_clustered = True
    else:
        written = read_parquet(spark, bands_loc)
        pre_clustered = False
    keys = written.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    locations["bucket_keys"] = _write_new_part(
        keys, path, "bucket_keys", num_buckets,
        old_locs.get("bucket_keys"), pre_clustered=pre_clustered,
    )
    if shingles is not None:
        sh = shingles.select(F.col("_id").alias(id_col), "h")
        sizes = shingles.groupBy(F.col("_id").alias(id_col)).agg(
            F.count(F.lit(1)).alias("n_sh")
        )
        locations["shingles"] = _write_new_part(
            sh, path, "shingles", None, old_locs.get("shingles")
        )
        locations["sizes"] = _write_new_part(
            sizes, path, "sizes", None, old_locs.get("sizes")
        )
    # ids carries each doc's (band, h) key array — the delete path's
    # per-doc key lookup (one batch-restricted read of THIS narrow
    # part replaces the old full ``bands`` scan when deriving which
    # bucket keys a delete retires). One row per doc, ``bands``-many
    # array entries; same information as the bands part re-clustered
    # by id, at ~1/bands the row count. Range-clustered + sorted on
    # the id so a literal delete batch's isin pushdown prunes row
    # groups by min/max stats instead of reading the corpus.
    ids = (
        band_rows.groupBy(id_col)
        .agg(F.collect_list(F.struct("band", "h")).alias("_keys"))
        # lazy local checkpoint BEFORE the range repartition (r16):
        # repartitionByRange samples its child to pick range bounds,
        # which re-executes the whole aggregate subtree a second time
        # — the checkpoint materializes it once and both the sampling
        # pass and the exchange read the stored blocks (probe: the
        # ids part was ~41 cpu-s at 1M docs with the double run)
        .localCheckpoint(eager=False)
        .repartitionByRange(
            band_rows.sparkSession.sparkContext.defaultParallelism, id_col
        )
        .sortWithinPartitions(id_col)
    )
    locations["ids"] = _write_new_part(
        ids, path, "ids", None, old_locs.get("ids")
    )
    # id-guard Bloom over the persisted set (read back from the fresh
    # parquet: one bounded column scan; the count is metadata-only)
    id_bloom = idguard.rebuild_filter(
        read_parquet(spark, os.path.join(p, locations["ids"])),
        F.col(id_col).cast("string"),
        p,
        (old_meta.get("id_bloom") or {}).get("location"),
        expected_ids=expected_ids,
    )
    meta = {
        "kind": "minhash_band_index",
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "id_col": id_col,
        "id_type": dict(band_rows.dtypes)[id_col],
        "text_col": text_col,
        "source": stamp,
        "has_shingles": shingles is not None,
        "num_buckets": num_buckets,
        "locations": locations,
        "id_bloom": id_bloom,
        "ddl": {
            "bands": ", ".join(f"`{c}` {t}" for c, t in band_rows.dtypes),
            "bucket_keys": ", ".join(f"`{c}` {t}" for c, t in keys.dtypes),
        },
    }
    _sidecar_write(p, meta)
    _drop_part_dirs(band_rows.sparkSession, path, old_meta, locations)
    # a rebuild supersedes every recorded per-tag append contribution
    # (the fresh sidecar carries no last_append_*) AND every tombstone
    # recording (fresh parts hold only current-collection rows): GC
    # both recording families
    _gc_recordings(p, ("append_ids",) + _PURGED_RECORDINGS)
    idguard.gc_bloom_files(p, {id_bloom["location"]})


def _band_ts_ids(spark: SparkSession, p: str, meta: dict) -> DataFrame | None:
    """The sidecar's tombstoned-id recording (one ``_ts_id`` string
    column), ``None`` when the index carries none — the band twin of
    ``ann._tombstones_df``. Bounded by compaction cadence."""
    ts = meta.get("tombstones")
    if not ts or not int(ts.get("n") or 0):
        return None
    return read_parquet(spark, os.path.join(p, ts["ids_location"]))


def _band_key_decs(spark: SparkSession, p: str, meta: dict) -> DataFrame | None:
    """The cumulative per-key delete decrements ``(band, h, dec)`` —
    how many tombstoned docs emitted each key since the last physical
    purge. ``None`` when empty. Together with the ``cnt`` refcounts in
    ``bucket_keys`` this makes key retirement pure arithmetic:
    retired iff sum(cnt) - dec <= 0."""
    ts = meta.get("tombstones")
    if not ts or not ts.get("decs_location"):
        return None
    return read_parquet(spark, os.path.join(p, ts["decs_location"]))


def _band_removed_keys(spark: SparkSession, p: str, meta: dict) -> DataFrame | None:
    """The ``(band, h)`` keys a delete retired from SERVING — keys
    whose every contributor is tombstoned. ``None`` when empty.
    Kept separate from the id recording because the novelty serve
    (``band_index_bucket_keys``) is id-free by design: masking ids
    there is impossible, masking keys is exact."""
    ts = meta.get("tombstones")
    if not ts or not int(ts.get("n_keys") or 0):
        return None
    return read_parquet(spark, os.path.join(p, ts["keys_location"]))


def band_index_delete(
    spark: SparkSession,
    path: str,
    ids,
    *,
    expected_prev_etag: str | None = None,
) -> int:
    """Incremental near-dup-corpus DELETE: tombstone documents in a
    persisted band index — the text-side twin of ``ann.ivf_delete``
    and the missing half of the novelty gate's lifecycle: a document
    removed from the corpus must stop BLOCKING near-duplicates of
    itself (a gate that forever treats deleted content as ingested
    quietly rejects every future re-submission), yet before this the
    only honest path was a full ``band_index_refresh`` re-shingle of
    the corpus.

    Two recordings, because the serving structure is id-free:

    - **ids**: the tombstoned document ids — mask ``bands`` /
      ``shingles`` / ``sizes`` at read time, refuse re-appends until
      a compact purges (``TombstonedIdError``, the ``ivf_append``
      discipline).
    - **removed keys**: the ``(band, h)`` bucket keys of the deleted
      docs that NO SURVIVING document also emits. This is pure
      REFCOUNT ARITHMETIC — corpus-independent per batch: the batch
      docs' key arrays come off the ``ids`` part in the same lookup
      that resolves which batch ids are indexed, the per-key
      decrements merge into a small cumulative recording
      (``key_decs``), and a key retires iff its total contributor
      count (sum of ``cnt`` rows in ``bucket_keys``, restricted to
      the batch's keys by a broadcast semi — one narrow 3-int-column
      lookup, never the ``bands`` part) is fully decremented.
      ``band_index_bucket_keys`` serves ``keys MINUS removed`` via a
      broadcast anti-join, which equals "distinct keys of the
      surviving docs" exactly: a shared key keeps gating duplicates
      (some survivor still owns the content), an unshared key stops.
      (One documented wrinkle: a TORN append's replay re-appends its
      whole batch's cnt rows, over-counting keys the crashed attempt
      landed — conservative, the key can only retire LATE, and
      ``band_index_compact``'s exact recount heals it.)
      ``band_index_append`` UN-removes any key a later batch
      re-introduces (see its removed-keys shrink), and
      ``band_index_compact`` purges all three recordings physically.

    Crash-safe and replay-idempotent exactly like ``ivf_delete``:
    recordings land in fresh monotonic versioned dirs first, one
    atomic sidecar swap commits {both locations, counts, re-derived
    source etag}; a replay finds every id tombstoned and no-ops
    (healing the stamp under the same ``expected_prev_etag`` fence).
    Ids of a TORN append's docs may report as not-indexed (the
    ``ids`` part is written last) — replay that append first, then
    delete. Returns the number of newly tombstoned ids."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    id_list = None
    if isinstance(ids, DataFrame):
        first = ids.columns[0]
        batch = ids.select(F.col(first).cast("string").alias("_del_id"))
    else:
        import pyarrow as pa

        id_list = list(ids)
        batch = spark.createDataFrame(
            pa.table(
                {"_del_id": pa.array([str(i) for i in id_list], pa.string())}
            )
        )
    batch = (
        batch.where(F.col("_del_id").isNotNull())
        .dropDuplicates(["_del_id"])
        .localCheckpoint(eager=True)
    )
    ts_prev = _band_ts_ids(spark, p, meta)
    fresh_batch = (
        batch
        if ts_prev is None
        else batch.join(
            ts_prev, F.col("_del_id") == F.col("_ts_id"), "left_anti"
        )
    )
    if fresh_batch.limit(1).count() == 0:
        # replay / all-tombstoned / empty: heal the stamp under the
        # fence, write nothing (same contract as ann.ivf_delete)
        fenced = expected_prev_etag is not None and (
            meta.get("source") or {}
        ).get("etag") != expected_prev_etag
        if not fenced and _restamp(meta):
            _sidecar_write(p, meta)
        return 0
    _check_expected_etag(meta, path, _SIDECAR, expected_prev_etag, "delete")
    # which batch ids are actually indexed: Bloom prescreen (negative
    # = definitely not indexed) + exact join on the ids part. The join
    # also fetches each present doc's (band, h) key array — the
    # retirement arithmetic's whole input, so the delete never opens
    # the corpus-order ``bands`` part at all.
    idc = meta["id_col"]
    have = read_parquet(spark, os.path.join(p, meta["locations"]["ids"]))
    if id_list is not None and 0 < len(id_list) <= 10_000:
        # bounded LITERAL batch: push a typed isin into the scan —
        # the ids part is written range-clustered on the id (see
        # the build/compact/apply writers), so parquet row-group
        # min/max stats prune everything outside the batch's id
        # range and the lookup stops paying the corpus-order read
        # (the LAST linear term on the delete path). A DataFrame
        # batch or a huge list keeps the plain scan — honest, and
        # semantically identical (the join below re-restricts).
        id_type = meta["id_type"]
        try:
            vals = (
                [int(i) for i in id_list]
                if id_type in ("int", "bigint", "smallint", "tinyint")
                else [str(i) for i in id_list]
            )
            have = have.filter(F.col(idc).isin(vals))
        except (TypeError, ValueError):
            pass  # uncastable literals: plain scan
    have = have.select(F.col(idc).cast("string").alias("_have_id"), "_keys")
    # ids are unique in the part, so an inner join keeps batch
    # cardinality while attaching _keys (a semi-join would drop them)
    bloom_meta = meta.get("id_bloom")
    probe = fresh_batch
    if idguard.filter_usable(bloom_meta):
        _neg, maybe, _st = idguard.bloom_split(
            fresh_batch, p, bloom_meta, "_del_id"
        )
        probe = maybe if maybe is not None else fresh_batch.limit(0)
    present = (
        probe.join(have, F.col("_del_id") == F.col("_have_id"), "inner")
        .select(F.col("_del_id").alias("_ts_id"), "_keys")
        .localCheckpoint(eager=True)
    )
    n_new = present.count()
    commit = n_new > 0
    if commit:
        ts_cur = meta.get("tombstones") or {}
        present_ids = present.select("_ts_id")
        merged_ids = (
            present_ids
            if ts_prev is None
            else ts_prev.unionByName(present_ids)
        ).dropDuplicates(["_ts_id"])
        ids_dir = _fresh_part_dir(
            p, "band_tombstones", prev=[ts_cur.get("ids_location")]
        )
        from pyspark.sql import Observation

        # count inside the write job (the hydrate/collection_delete
        # discipline) — no post-write re-read
        obs_ids = Observation("band_ts_ids")
        merged_ids.observe(obs_ids, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(p, ids_dir))
        n_ts = int(obs_ids.get["n"])
        # retirement by refcount arithmetic — O(batch keys), no
        # bands scan: the batch's per-key decrements (each doc
        # emits a key at most once, so exploding the present docs'
        # key arrays and counting IS the contributor loss) merge
        # into the cumulative decs recording; a key retires iff
        # its total contributor count (sum of cnt rows in
        # bucket_keys, restricted to the batch's keys by a
        # broadcast semi — the one narrow lookup) has been fully
        # decremented. Equal to deriving the survivors' keys from a
        # bands scan, because cumulative decs = all tombstoned docs'
        # emissions.
        dec_delta = (
            present.select(F.explode("_keys").alias("_k"))
            .select(F.col("_k.band").alias("band"), F.col("_k.h").alias("h"))
            .groupBy("band", "h")
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        decs_prev = _band_key_decs(spark, p, meta)
        merged_decs = (
            dec_delta
            if decs_prev is None
            else decs_prev.unionByName(dec_delta)
            .groupBy("band", "h")
            .agg(F.sum("dec").alias("dec"))
        )
        decs_dir = _fresh_part_dir(
            p, "key_decs", prev=[ts_cur.get("decs_location")]
        )
        merged_decs.write.mode("overwrite").parquet(
            os.path.join(p, decs_dir)
        )
        merged_decs = read_parquet(spark, os.path.join(p, decs_dir))
        cand = dec_delta.select("band", "h").localCheckpoint(eager=True)
        totals = (
            _read_part(spark, path, "bucket_keys", meta)
            .join(F.broadcast(cand), ["band", "h"], "left_semi")
            .groupBy("band", "h")
            .agg(F.sum("cnt").alias("_cnt"))
        )
        removed_new = (
            totals.join(F.broadcast(merged_decs), ["band", "h"])
            .filter(F.col("_cnt") <= F.col("dec"))
            .select("band", "h")
        )
        rk_prev = _band_removed_keys(spark, p, meta)
        merged_keys = (
            removed_new
            if rk_prev is None
            else rk_prev.unionByName(removed_new)
        ).distinct()
        keys_dir = _fresh_part_dir(
            p, "removed_keys", prev=[ts_cur.get("keys_location")]
        )
        from pyspark.sql import Observation

        obs_keys = Observation("band_removed_keys")
        merged_keys.observe(
            obs_keys, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(os.path.join(p, keys_dir))
        n_keys = int(obs_keys.get["n"])
        meta["tombstones"] = {
            "ids_location": ids_dir,
            "n": int(n_ts),
            "keys_location": keys_dir,
            "n_keys": int(n_keys),
            "decs_location": decs_dir,
        }
    if _restamp(meta) or commit:
        _sidecar_write(p, meta)
        ts_now = meta.get("tombstones") or {}
        _gc_recordings(
            p,
            ("band_tombstones", "removed_keys", "key_decs"),
            {
                ts_now.get("ids_location"),
                ts_now.get("keys_location"),
                ts_now.get("decs_location"),
            },
        )
    return n_new


def band_index_defer_updates(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    *,
    id_col: str | None = None,
    text_col: str | None = None,
    expected_prev_etag: str | None = None,
) -> int:
    """Queue TEXT updates against a persisted band index for
    amortized application at compact cadence — the deferred-update
    half of the text-mutation story: the id-free serving layout has
    no surgical row replacement (a doc's rows scatter across every
    ``(band, h)`` bucket), so the honest unit of text mutation is a
    part rewrite (``band_index_apply``). Paying that rewrite per
    micro-batch is compact-cost per batch; this instead records the
    ``(id, text)`` batch in a tiny versioned recording (one atomic
    sidecar swap) and lets the NEXT ``band_index_compact`` — or a
    direct ``band_index_apply`` — fold every queued update into the
    one rewrite it already pays. Later entries (and a direct apply's
    own upserts) supersede earlier ones per id; entries whose id is
    tombstoned by drain time are dropped.

    THE HONEST WINDOW: until the queue drains, the index serves the
    PRE-update text's bands — a near-duplicate of the NEW text may
    gate novel and one of the OLD text may still gate duplicate. The
    sidecar is re-stamped (the collection moved; refusing to re-stamp
    would fence every read until compact, which is strictly worse),
    and ``band_index_audit`` reports the queue depth and flips
    ``compact_recommended`` while any update is pending, so a
    maintenance loop bounds the window to its compact cadence.

    Same ``expected_prev_etag`` fence as the other mutations. Returns
    the number of queued rows (post in-batch dedup)."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    _check_expected_etag(meta, path, _SIDECAR, expected_prev_etag, "deferral")
    idc = meta["id_col"]
    id_type = meta["id_type"]
    ic = id_col or idc
    tc = text_col or meta["text_col"]
    batch = (
        updates.select(
            F.col(ic).cast(id_type).alias(idc),
            F.col(tc).alias("_text"),
        )
        .dropDuplicates([idc])
        .localCheckpoint(eager=True)
    )
    n = batch.count()
    queued = list(meta.get("deferred_updates") or [])
    d = _fresh_part_dir(
        p, "deferred_updates", prev=[e.get("location") for e in queued]
    )
    batch.write.mode("overwrite").parquet(os.path.join(p, d))
    queued.append({"location": d, "n": int(n)})
    meta["deferred_updates"] = queued
    _restamp(meta)
    _sidecar_write(p, meta)
    return int(n)


def band_index_deferred_updates(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """The RESOLVED pending text-update queue — one ``(id, _text)``
    row per queued id, later entries superseding earlier ones —
    or ``None`` when nothing is queued. Observability + the drain
    input for ``band_index_apply``/``band_index_compact``."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    return _resolve_deferred(spark, p, meta)


def _resolve_deferred(
    spark: SparkSession, p: str, meta: dict
) -> DataFrame | None:
    queued = meta.get("deferred_updates") or []
    if not queued:
        return None
    idc = meta["id_col"]
    parts = []
    for i, e in enumerate(queued):
        parts.append(
            read_parquet(spark, os.path.join(p, e["location"])).withColumn(
                "_qi", F.lit(i)
            )
        )
    df = parts[0]
    for q in parts[1:]:
        df = df.unionByName(q)
    return df.groupBy(idc).agg(
        F.expr("max_by(_text, _qi)").alias("_text")
    )


def band_index_apply(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None = None,
    delete_ids=None,
    *,
    id_col: str | None = None,
    text_col: str | None = None,
    expected_prev_etag: str | None = None,
) -> dict:
    """Atomic BATCH mutation of a persisted band index: delete
    ``delete_ids``, replace-or-add the ``upserts`` docs' rows
    (re-shingled with the sidecar's recorded family), purge every
    prior tombstone, and commit the whole new state in ONE sidecar
    swap — the text-side answer to "how do I UPDATE a document's
    band rows?". The id-free serving layout has no surgical row
    replacement (a doc's band/shingle rows scatter across every
    ``(band, h)`` bucket), so the honest unit of text mutation is a
    PART REWRITE — exactly what ``band_index_compact`` already pays
    at maintenance cadence. This runs that rewrite WITH the changes
    folded in, which is the deferred-update discipline: accumulate
    text updates, apply them in one amortized pass (one call = one
    compact's cost however many changes ride along), instead of
    tombstone + compact + re-append as three exposed steps.

    Every derived part stays exactly consistent by construction:
    ``bands``/``shingles``/``sizes`` drop the affected ids' old rows
    and gain the upserts' fresh ones, ``bucket_keys`` is re-derived
    as the distinct keys of the FINAL bands (so retired keys vanish
    and re-introduced keys serve — no removed-keys recording left to
    maintain), ``ids`` is survivors + upserts, and the id-guard Bloom
    is re-sized from the final id set. Upserting a TOMBSTONED id
    legally resurrects it (its old rows are purged by this very
    rewrite — the mask ambiguity that makes ``band_index_append``
    refuse cannot arise; the ``ann.ivf_upsert`` argument).

    Refuses a torn index (pending append markers — replay first, same
    as compact) and refuses to empty the index. ``expected_prev_etag``
    is the standard foreign-mutation fence; the commit re-stamps to
    the collection's CURRENT etag. Crash-safe: all parts land in
    fresh monotonic versioned dirs before the single swap; a crash
    leaves the old index intact and the replay redoes the whole apply
    idempotently. Returns ``{"updated", "inserted", "deleted"}``
    counts (this batch's, judged against the LOGICAL pre-state)."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        _band_rows_from_shingles,
        _shingle_rows,
    )

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    if meta.get("pending_appends"):
        raise ValueError(
            f"band index at {path!r} has a torn append in flight; "
            "replay the interrupted band_index_append before applying "
            "batch mutations"
        )
    _check_expected_etag(meta, path, _SIDECAR, expected_prev_etag, "apply")
    idc = meta["id_col"]
    id_type = meta["id_type"]
    ic = id_col or idc
    tc = text_col or meta["text_col"]
    up = (
        upserts.select(
            F.col(ic).cast(id_type).alias(idc),
            F.col(tc).alias("_text"),
        ).dropDuplicates([idc]).localCheckpoint(eager=True)
        if upserts is not None
        else None
    )
    up_ids = (
        up.select(F.col(idc).cast("string").alias("_aff_id"))
        if up is not None
        else spark.createDataFrame([], "_aff_id string")
    )
    del_df = (
        spark.createDataFrame(
            [(str(i),) for i in (delete_ids or [])], "_aff_id string"
        )
        if not isinstance(delete_ids, DataFrame)
        else delete_ids.select(
            F.col(delete_ids.columns[0]).cast("string").alias("_aff_id")
        )
    )
    ts_prev = _band_ts_ids(spark, p, meta)
    prior_ts = (
        ts_prev.select(F.col("_ts_id").alias("_aff_id"))
        if ts_prev is not None
        else spark.createDataFrame([], "_aff_id string")
    )
    # drain the deferred text-update queue into this same rewrite
    # (band_index_defer_updates): this call's OWN mutations supersede
    # queue entries per id — the caller's upserts are later, deletes
    # drop the doc — and entries for already-tombstoned ids purge
    # right here rather than resurrecting
    queued = _resolve_deferred(spark, p, meta)
    n_drained = 0
    if queued is not None:
        q = queued
        if up is not None:
            q = q.join(up.select(idc), [idc], "left_anti")
        q = q.join(
            del_df.unionByName(prior_ts).dropDuplicates(["_aff_id"]),
            F.col(idc).cast("string") == F.col("_aff_id"),
            "left_anti",
        ).localCheckpoint(eager=True)
        n_drained = q.count()
        up = q if up is None else up.unionByName(q).localCheckpoint(
            eager=True
        )
    up_all_ids = (
        up.select(F.col(idc).cast("string").alias("_aff_id"))
        if up is not None
        else up_ids
    )
    # every affected id's OLD rows leave every part: this batch's
    # deletes and upserts (queue drains included), plus every
    # previously tombstoned id (this rewrite is the purge point)
    affected = (
        up_all_ids.unionByName(del_df).unionByName(prior_ts)
        .dropDuplicates(["_aff_id"])
        .localCheckpoint(eager=True)
    )
    old_locations = dict(meta["locations"])
    have = (
        read_parquet(spark, os.path.join(p, old_locations["ids"]))
        .select(F.col(idc).cast("string").alias("_have_id"))
        .localCheckpoint(eager=True)
    )
    # counts judged against the LOGICAL pre-state (physical minus
    # prior tombstones)
    logical = have.join(
        prior_ts, F.col("_have_id") == F.col("_aff_id"), "left_anti"
    )
    n_updated = up_ids.join(
        logical, F.col("_aff_id") == F.col("_have_id"), "left_semi"
    ).count()
    n_inserted = (up_ids.count() - n_updated) if up is not None else 0
    n_deleted = (
        del_df.join(
            logical, F.col("_aff_id") == F.col("_have_id"), "left_semi"
        )
        .join(up_ids, "_aff_id", "left_anti")
        .count()
    )
    # fresh rows from the upserts, hashed with the RECORDED family
    sh_cached = (
        _shingle_rows(up, idc, "_text", meta["n"], engine="expr")
        if up is not None
        else None
    )
    if sh_cached is not None:
        sh = sh_cached.withColumn("_id", F.col("_id").cast(id_type))
        bands_new = _band_rows_from_shingles(
            sh, idc, meta["num_hashes"], meta["bands"]
        )
    nb = meta.get("num_buckets")
    plain_target = nb or spark.sparkContext.defaultParallelism
    parts = ["bands", "bucket_keys"]
    if meta.get("has_shingles"):
        parts += ["shingles", "sizes"]
    parts.append("ids")

    def _survivors(part: str) -> DataFrame:
        return _read_part(spark, path, part, meta).join(
            F.broadcast(affected),
            F.col(idc).cast("string") == F.col("_aff_id"),
            "left_anti",
        )

    bands_final = _survivors("bands")
    if sh_cached is not None:
        bands_final = bands_final.unionByName(bands_new)
    bands_final = bands_final.localCheckpoint(eager=True)
    # bucket_keys re-derived from the FINAL bands with exact per-key
    # contributor refcounts (the retirement-arithmetic layout)
    finals = {
        "bands": bands_final,
        "bucket_keys": bands_final.groupBy("band", "h").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
    }
    if meta.get("has_shingles"):
        sh_f = _survivors("shingles")
        sz_f = _survivors("sizes")
        if sh_cached is not None:
            sh_f = sh_f.unionByName(
                sh.select(F.col("_id").alias(idc), "h")
            )
            sz_f = sz_f.unionByName(
                sh.groupBy(F.col("_id").alias(idc)).agg(
                    F.count(F.lit(1)).alias("n_sh")
                )
            )
        finals["shingles"], finals["sizes"] = sh_f, sz_f
    # ids re-derived from the final bands too: one row per doc with
    # its (band, h) key array (the delete path's per-doc key source)
    finals["ids"] = bands_final.groupBy(idc).agg(
        F.collect_list(F.struct("band", "h")).alias("_keys")
    )
    if finals["ids"].limit(1).count() == 0:
        raise EngineError(
            f"band_index_apply: the batch would empty the index at "
            f"{path!r}; drop the index directory and rebuild when new "
            "documents arrive instead"
        )
    new_locations = dict(old_locations)
    for part in parts:
        df = finals[part]
        part_nb = nb if part in ("bands", "bucket_keys") else None
        if part == "ids":
            # range-clustered + sorted on the id: the delete path's
            # literal-batch isin pushdown prunes by row-group stats
            df = df.repartitionByRange(
                plain_target, idc
            ).sortWithinPartitions(idc)
        elif part_nb is None:
            df = df.repartition(plain_target)
        new_locations[part] = _write_new_part(
            df, path, part, part_nb, old_locations.get(part)
        )
    meta["id_bloom"] = idguard.rebuild_filter(
        read_parquet(spark, os.path.join(p, new_locations["ids"])),
        F.col(idc).cast("string"),
        p,
        (meta.get("id_bloom") or {}).get("location"),
    )
    meta["locations"] = new_locations
    meta.pop("tombstones", None)  # purged by this rewrite
    meta.pop("deferred_updates", None)  # drained by this rewrite
    _restamp(meta)
    _sidecar_write(p, meta)
    old_meta = dict(meta, locations=old_locations)
    _drop_part_dirs(spark, path, old_meta, new_locations)
    idguard.gc_bloom_files(p, {(meta.get("id_bloom") or {}).get("location")})
    _gc_recordings(p, _PURGED_RECORDINGS)
    if sh_cached is not None:
        sh_cached.unpersist()
    return {
        "updated": int(n_updated),
        "inserted": int(n_inserted),
        "deleted": int(n_deleted),
        "drained": int(n_drained),
    }


def band_index_tombstoned_ids(spark: SparkSession, path: str) -> DataFrame:
    """The index's current tombstoned-doc set as a one-column
    DataFrame (``_ts_id`` string; empty when none) — the
    observability twin of ``ann.ivf_tombstoned_ids``."""
    p = _local_sidecar_path(path)
    ts = _band_ts_ids(spark, p, read_sidecar(p, _SIDECAR))
    if ts is not None:
        return ts
    return spark.createDataFrame([], "_ts_id string")


def band_index_meta(path: str) -> dict:
    """The sidecar's BUILD record (n / num_hashes / bands / column
    bindings / bucket layout / source stamp) without loading any
    data — what a serving caller needs to hash its probe side with
    the index's exact family."""
    return read_sidecar(_local_sidecar_path(path), _SIDECAR)


def band_index_read(
    spark: SparkSession,
    path: str,
    *,
    verify_source: bool = True,
    include_tombstoned: bool = False,
) -> tuple[DataFrame, dict]:
    """Load a persisted band index -> (band_rows, meta).

    Same staleness contract as ``ivf_read``: a stamped sidecar whose
    source collection has since changed raises ``StaleIndexError`` —
    a gate can never silently treat deleted/replaced corpus text as
    still ingested. Unstamped indexes load as-is. Bucketed indexes
    come back as catalog-table scans (``Bucketed: true``), so joins
    against them need no corpus-side Exchange.

    A ``pending_appends`` entry in the sidecar marks a torn (crashed)
    append: the parts may be missing that batch's tail, which reads
    exactly like a pre-append index — safe to gate against (documents
    of the torn batch gate as not-yet-ingested); replaying the append
    heals it.

    Rows of ``band_index_delete``-tombstoned docs are MASKED out
    (broadcast anti-join against the small id recording), so every
    id-carrying consumer — candidate pairing, replay-stable gates,
    exports — is delete-correct for free; pass
    ``include_tombstoned=True`` for the physical rows."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    _check_source_stamp(meta, path, verify_source)
    bands = _read_part(spark, path, "bands", meta)
    if not include_tombstoned:
        ts = _band_ts_ids(spark, p, meta)
        if ts is not None:
            bands = bands.join(
                F.broadcast(ts),
                F.col(meta["id_col"]).cast("string") == F.col("_ts_id"),
                "left_anti",
            )
    return bands, meta


def band_index_bucket_keys(
    spark: SparkSession, path: str, *, verify_source: bool = True
) -> DataFrame:
    """The ``(band, h)`` bucket-key table — the only corpus state a
    pure NOVELTY serve needs (no doc ids, no postings). Distinct at
    build time; appends add batch-distinct keys only (the gate's
    LEFT SEMI membership probe is multiplicity-immune, and skipping
    the per-append corpus anti-join keeps incremental ingest
    corpus-independent); ``band_index_compact`` squeezes cross-batch
    duplicates back out.

    Keys ``band_index_delete`` RETIRED (every contributor tombstoned)
    are masked via a broadcast anti-join on the small removed-keys
    recording — the served set equals the distinct keys of the
    SURVIVING docs exactly, so near-dups of deleted-only content gate
    novel again while shared content keeps gating duplicate. The
    broadcast-hash anti-join preserves the bucketed scan's output
    partitioning, so the gate's downstream SEMI join stays
    corpus-side exchange-free."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    _check_source_stamp(meta, path, verify_source)
    # (band, h) only: the per-key ``cnt`` refcount is delete-path
    # bookkeeping (retirement arithmetic), not serving surface
    keys = _read_part(spark, path, "bucket_keys", meta).select("band", "h")
    rk = _band_removed_keys(spark, p, meta)
    if rk is not None:
        keys = keys.join(F.broadcast(rk), ["band", "h"], "left_anti")
    return keys


def band_index_read_verified(
    spark: SparkSession, path: str, *, verify_source: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Load the full verification-capable index ->
    (band_rows, shingle_rows, size_rows, meta). Raises ValueError if
    the index was written without ``shingles`` (band-only indexes can
    gate novelty but cannot verify Jaccard)."""
    bands, meta = band_index_read(spark, path, verify_source=verify_source)
    if not meta.get("has_shingles"):
        raise ValueError(
            f"band index at {path!r} was written without shingles; "
            "re-write it with band_index_write(..., shingles=...) to "
            "serve verified gates"
        )
    sh = _read_part(spark, path, "shingles", meta)
    sz = _read_part(spark, path, "sizes", meta)
    ts = _band_ts_ids(spark, _local_sidecar_path(path), meta)
    if ts is not None:
        # same delete mask as bands: a tombstoned doc's postings must
        # not verify (or weight) Jaccard against incoming content
        cond_sh = F.col(meta["id_col"]).cast("string") == F.col("_ts_id")
        sh = sh.join(F.broadcast(ts), cond_sh, "left_anti")
        sz = sz.join(F.broadcast(ts), cond_sh, "left_anti")
    return (bands, sh, sz, meta)


def band_index_refresh(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """The remedy ``StaleIndexError`` prescribes, as one call: re-read
    the source collection the sidecar names, recompute the band table
    with the sidecar's RECORDED build parameters, overwrite the
    persisted rows, re-stamp with the collection's CURRENT etag, and
    return the freshly-loaded index. Only works on stamped indexes
    (an index built from an arbitrary DataFrame has no recorded
    source — ValueError says so). The sidecar is read unchecked, so
    this also rebuilds an index whose format predates
    ``store.FORMAT_VERSION``."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    meta = _read_unchecked(_local_sidecar_path(path), _SIDECAR)
    src = meta.get("source")
    if src is None:
        raise ValueError(
            f"band index at {path!r} carries no source-collection stamp; "
            "rebuild it from the original DataFrame with lsh_band_rows + "
            "band_index_write"
        )
    coll = read_collection(spark, src["root"], src["name"])
    band_index_build(
        coll,
        path,
        id_col=meta["id_col"],
        text_col=meta["text_col"],
        n=meta["n"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        include_shingles=bool(meta.get("has_shingles")),
        source=(src["root"], src["name"]),
        num_buckets=meta.get("num_buckets"),
    )
    return band_index_read(spark, path)


def _present_ids(part_df: DataFrame, id_name: str, fresh_ids: DataFrame) -> DataFrame:
    """Which of the replayed batch's ids already have rows in this
    part? One semi-join of the part against the (small, broadcast)
    batch id set. Id-level presence is a safe heal ONLY for parts
    with one row per doc (sizes, ids) — a single row is either
    committed or absent. Multi-row parts heal at ROW granularity
    (``_present_rows``): a Spark append job commit is not atomic
    across task files, so a crash mid-commit can leave PART of a
    doc's rows visible."""
    return (
        part_df.select(F.col(id_name).alias("_pid"))
        .join(F.broadcast(fresh_ids), F.col("_pid") == F.col("_fid"), "left_semi")
        .distinct()
    )


def _present_rows(
    part_df: DataFrame, id_name: str, fresh_ids: DataFrame, cols: tuple
) -> DataFrame:
    """Row-granular torn-append healing probe: the exact key rows this
    part already holds for the batch's ids. Appended rows are
    deterministic functions of (id, text), so an anti-join on the
    full row key re-appends precisely the rows a mid-job-commit crash
    dropped and none it kept."""
    return (
        part_df.join(
            F.broadcast(fresh_ids),
            part_df[id_name] == F.col("_fid"),
            "left_semi",
        )
        .select(*cols)
        .distinct()
    )


def band_index_append(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str | None = None,
    text_col: str | None = None,
    on_existing: str = "skip",
    expected_prev_etag: str | None = None,
    tag: str | None = None,
) -> int:
    """Incremental ingest: extend a persisted band index with the
    rows for ``new_docs`` ONLY — no corpus recompute. This is the
    append path the index docstrings promise: signatures are per-doc,
    so adding documents to the corpus adds ``bands`` rows per doc
    (plus postings/sizes when the index is verification-capable) and
    touches nothing already on disk.

    ``new_docs`` uses the sidecar's recorded id/text columns by
    default; pass ``id_col``/``text_col`` when the new batch carries
    different column names (values are still hashed with the RECORDED
    n/num_hashes/bands so appended rows join the existing family).

    Double-ingest is guarded, not caller-trusted — and the guard is
    CORPUS-INDEPENDENT in the steady state: the batch's ids are
    prescreened against the id-guard Bloom sidecar
    (``operators/idguard.py``; a committed filter is a superset of
    the indexed ids, so filter-negative = definitely new, zero
    corpus IO), and only filter-positive ids (true replays plus
    ~fp_rate * |batch| false positives) are anti-joined against the
    index's ``ids`` dataset (one row per indexed doc — the exact
    source of truth, written LAST in every append so a torn append
    can never hide rows behind it). The filter itself is re-merged
    with the WHOLE batch and persisted BEFORE the first data write,
    so a crash at any later point leaves the replay filter-positive
    and routed into the exact path. An index without a usable filter
    anti-joins the whole batch against ``ids`` and gets a fresh
    filter from that append. ``on_existing="skip"`` (default) silently drops
    re-appended ids so replaying a batch is idempotent;
    ``"error"`` raises ValueError naming the count, for pipelines
    where a replay indicates a bug. Without the guard a re-append
    would duplicate band/posting rows and double posting weights in
    ``neardup_gate_verified``.

    Torn appends replay exactly-once: a BATCH-SCOPED marker (an
    order-independent digest of the batch's id set, plus the caller's
    ``tag``) is committed into the sidecar's ``pending_appends`` list
    before any data write and removed by the final commit — so a
    crash leaves exactly this batch marked, a successful append of a
    DIFFERENT batch cannot launder it away, and several interleaved
    torn batches each heal independently. A replay whose digest
    matches a pending entry anti-joins each part's incoming rows
    against the rows that part ALREADY holds for the batch — at ROW
    granularity for the multi-row parts (bands on (id, band),
    shingles on (id, h)): a Spark append job commit is not atomic
    across task files, so a crash mid-commit can land PART of a doc's
    rows, and id-level healing would freeze that hole in place.
    Single-row-per-doc parts (sizes, ids) heal at id level;
    ``bucket_keys`` needs no healing (the semi-join gate is
    multiplicity-immune).

    ``tag`` (optional): an idempotence token recorded in the marker
    and, on success, as ``last_append_tag`` — streaming callers pass
    their deterministic batch identity so a foreachBatch replay can
    DETECT that this very batch already appended (see
    ``streaming.neardup_stream.stream_novelty_ingest``).

    In-batch duplicate ids are dropped before anything else (a source
    retry folded into one batch must not double posting rows/sizes) —
    guarded, not caller-trusted, applies within the batch too.

    The sidecar is re-stamped with the source collection's CURRENT
    etag — call this AFTER appending the same docs to the collection,
    and the index transitions stale -> fresh without the full
    ``band_index_refresh`` rebuild. Appends only: updates or deletes
    change existing docs' rows and need the full refresh; this
    function cannot detect which KIND of mutation happened, so pass
    ``expected_prev_etag`` (the etag you observed before mutating the
    collection — what the sidecar currently records) to assert the
    only change since the last stamp was your own append;
    ``StaleIndexError`` is raised on mismatch instead of silently
    marking a foreign mutation fresh.

    Returns the number of new documents indexed (after the guard).
    """
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        _band_rows_from_shingles,
        _shingle_rows,
    )

    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    if on_existing not in ("skip", "error"):
        raise ValueError(
            f"on_existing must be 'skip' or 'error', got {on_existing!r}"
        )
    _check_expected_etag(meta, path, _SIDECAR, expected_prev_etag, "append")
    ic = id_col or meta["id_col"]
    tc = text_col or meta["text_col"]
    id_type = meta["id_type"]
    # in-batch duplicate ids would double band/posting/size rows —
    # drop them before the digest, the guard, and the shingling; the
    # batch is materialized ONCE here (the digest aggregation, the
    # guard probe, the filter merge, and the shingle pass all consume
    # it — without this each re-executes the caller's upstream plan)
    new_docs = new_docs.dropDuplicates([ic]).localCheckpoint(eager=True)
    inc_id = F.col(ic).cast(id_type)
    # tombstoned ids refuse to re-append until a compact purges their
    # old rows — the id-granular delete mask cannot tell a NEW doc's
    # rows from the deleted one's under the same id (ann.ivf_append
    # discipline; zero extra jobs when the index has no tombstones).
    # Tagged REPLAYS bypass (same rationale as ivf_append: the rows
    # already landed and the guard skips them; replays republish).
    _ts = _band_ts_ids(spark, p, meta)
    if _ts is not None and tag is not None:
        _pend0 = list(meta.get("pending_appends") or [])
        if tag == meta.get("last_append_tag") or any(
            e.get("tag") == tag for e in _pend0
        ):
            _ts = None
    if _ts is not None:
        n_dead = new_docs.join(
            F.broadcast(_ts),
            inc_id.cast("string") == F.col("_ts_id"),
            "left_semi",
        ).count()
        if n_dead:
            from vector_databases___hydrate_chroma_db_collection_spark.errors import (
                TombstonedIdError,
            )

            raise TombstonedIdError(
                f"band_index_append: {n_dead} incoming id(s) are "
                f"TOMBSTONED in the index at {path!r} (deleted but "
                "not yet physically purged) — run band_index_compact "
                "then retry, or use band_index_apply(upserts=...) "
                "which purges and re-adds in one atomic rewrite"
            )
    # Batch identity for the torn marker: an order-independent digest
    # of the batch's distinct id set (count + xor of per-id hashes) —
    # one tiny aggregation over the micro-batch, stable across replay
    # attempts whatever the guard later removes.
    _d = (
        new_docs.select(inc_id.cast("string").alias("_s"))
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(_s))").alias("x"),
        )
        .first()
    )
    digest = f"{_d['c']}:{_d['x']}"
    pending = list(meta.get("pending_appends") or [])
    torn = any(e.get("digest") == digest for e in pending)
    # Per-tag appended-id attribution: the post-guard id set this
    # batch contributes is persisted (tiny, batch-sized) so a replayed
    # streaming batch can exclude EXACTLY its own contribution from
    # the gate's reference — excluding the whole batch id set would
    # wrongly discount rows a DIFFERENT batch contributed for a
    # same-id redelivery (see band_index_appended_ids). A torn
    # replay REUSES the first attempt's recorded set: the replay's
    # recomputed post-guard set can be smaller (ids that landed
    # before the crash are guarded away), and the verdict contract is
    # "identical to the first attempt".
    prev_entry = next((e for e in pending if e.get("digest") == digest), None)
    app_dir = (prev_entry or {}).get("appended_ids")
    replay_of_completed = tag is not None and tag == meta.get(
        "last_append_tag"
    )

    # -- double-ingest guard ------------------------------------------
    # Source of truth is the ids dataset (written LAST by every
    # append, so a torn append under-reports — replays re-run, never
    # skip), but the COMMON case never scans it: the id-guard Bloom
    # sidecar (a committed filter is a SUPERSET of the indexed ids —
    # no false negatives) prescreens the batch with zero corpus IO,
    # and only filter-positive ids (true replays + ~fp_rate*|batch|
    # false positives) pay the exact anti-join. That keeps steady-
    # state appends CORPUS-INDEPENDENT: at 10^9 indexed docs the old
    # per-batch full-ids anti-join was a multi-GB scan per micro-
    # batch. Torn replays bypass the filter (their healing is exact
    # by construction).
    bloom_meta = meta.get("id_bloom")
    if not idguard.filter_usable(bloom_meta):
        # missing OR hash-incompatible filter (probing a different
        # hash family can yield false negatives = double ingest):
        # exact path now, fresh filter rebuilt below
        bloom_meta = None
    _have_cache = []

    def have() -> DataFrame:
        # constructed LAZILY: the filter-clean steady state settles
        # the guard without even opening the ids dataset's footers
        if not _have_cache:
            _have_cache.append(
                _read_part(spark, path, "ids", meta).select(
                    F.col(meta["id_col"]).alias("_have_id")
                )
            )
        return _have_cache[0]

    ig_state = None
    if bloom_meta is not None and not torn:
        # steady state: prescreen the batch (zero corpus IO for
        # filter-negative ids), exact-check only the accepted subset
        neg, maybe, ig_state = idguard.bloom_split(
            new_docs.withColumn(ic, inc_id), p, bloom_meta, ic
        )
        fresh = (
            neg
            if maybe is None
            else neg.unionByName(
                maybe.join(have(), inc_id == F.col("_have_id"), "left_anti")
            )
        )
    else:
        # torn replay (healing is exact by construction) or an index
        # without a usable filter: the full anti-join
        maybe = new_docs
        fresh = new_docs.join(
            have(), inc_id == F.col("_have_id"), "left_anti"
        )
    if on_existing == "error":
        # with a filter prescreen only the accepted subset can hold
        # duplicates (rejected ids are definitely new)
        n_dup = (
            maybe.join(
                have(), inc_id == F.col("_have_id"), "left_semi"
            ).count()
            if maybe is not None
            else 0
        )
        if n_dup:
            raise ValueError(
                f"band_index_append: {n_dup} incoming id(s) are already "
                f"indexed at {path!r}; re-appending would duplicate "
                "band/posting rows (pass on_existing='skip' to make "
                "replays idempotent)"
            )
    # Materialize the guarded batch BEFORE any append below: the
    # anti-join's lineage reads datasets this call appends to —
    # localCheckpoint cuts the lineage so no append's write action
    # re-lists a directory it is writing into.
    fresh = fresh.localCheckpoint(eager=True)

    def _commit(n: int) -> int:
        remaining = [
            e
            for e in (meta.get("pending_appends") or [])
            if e.get("digest") != digest
        ]
        if remaining:
            meta["pending_appends"] = remaining
        else:
            meta.pop("pending_appends", None)
        if tag is not None:
            meta["last_append_tag"] = tag
            if not replay_of_completed or n > 0:
                # dir of this batch's recorded contribution; None
                # means "recorded as empty" (all-duplicate batch). A
                # pure replay of a COMPLETED append
                # must not overwrite the first attempt's record (its
                # own post-guard set is empty by then) — but a REUSED
                # tag that contributed NEW rows (n > 0) is not a
                # replay and must RE-record, or a later replay of the
                # tag would exclude the wrong id set. Streaming
                # callers also content-qualify their tags
                # (idguard.batch_digest), making such collisions
                # unreachable through the stream path.
                meta["last_append_ids"] = app_dir
        _restamp(meta)
        _sidecar_write(p, meta)
        # GC superseded appended-id recordings: anything not the
        # committed record and not referenced by a still-pending
        # (other-batch) marker. Runs after the sidecar commit, so a
        # crash here leaks a tiny directory, never breaks a reader.
        _gc_recordings(
            p,
            ("append_ids",),
            {meta.get("last_append_ids")}
            | {e.get("appended_ids") for e in remaining},
        )
        # ... and removed-keys recordings superseded by this append's
        # shrink (only the sidecar's current dir is ever referenced)
        _gc_recordings(
            p,
            ("removed_keys",),
            {(meta.get("tombstones") or {}).get("keys_location")},
        )
        idguard.gc_bloom_files(
            p, {(meta.get("id_bloom") or {}).get("location")}
        )
        return n

    if not fresh.take(1):
        # Nothing genuinely new (pure replay of a COMPLETED append, or
        # an all-duplicate batch): no data writes; still clear any
        # marker and re-stamp.
        return _commit(0)

    # append batches are micro-batch-sized by contract: the JVM
    # expression shingles skip the per-invocation Arrow boundary cost
    # (see _shingle_rows; bulk loads go through band_index_write)
    sh_cached = _shingle_rows(fresh, ic, tc, meta["n"], engine="expr")
    # Appended files must carry the EXISTING parquet schema — the id
    # is cast to the recorded type (e.g. int doc_ids appended to a
    # collection-backed index whose ids are strings).
    sh = sh_cached.withColumn("_id", F.col("_id").cast(id_type))
    band_rows = _band_rows_from_shingles(
        sh, meta["id_col"], meta["num_hashes"], meta["bands"]
    )
    fresh_ids = fresh.select(inc_id.alias("_fid")).distinct()
    n_new = fresh_ids.count()

    # Key derivation must see the WHOLE batch's band rows: on a torn
    # replay the heal below can empty band_rows (the crashed attempt
    # already landed them in bands) while bucket_keys still lacks the
    # keys — deriving keys from the post-heal rows would lose them
    # forever. Re-appending keys the crashed attempt DID land is
    # harmless: the gate's semi-join is multiplicity-immune and
    # band_index_compact squeezes duplicates out.
    all_band_rows = band_rows
    if torn:
        # This batch's previous attempt crashed mid-append: drop, per
        # part, the ROWS that part already holds for the batch — row
        # granularity for multi-row parts (a crash inside one job
        # commit can land a subset of a doc's rows), id granularity
        # for the single-row-per-doc parts.
        present_b = _present_rows(
            _read_part(spark, path, "bands", meta),
            meta["id_col"],
            fresh_ids,
            (meta["id_col"], "band"),
        )
        band_rows = band_rows.join(
            present_b, [meta["id_col"], "band"], "left_anti"
        )
        if meta.get("has_shingles"):
            present_sh = _present_rows(
                _read_part(spark, path, "shingles", meta),
                meta["id_col"],
                fresh_ids,
                (meta["id_col"], "h"),
            )
            present_sz = _present_ids(
                _read_part(spark, path, "sizes", meta),
                meta["id_col"],
                fresh_ids,
            )

    appended_ids = fresh_ids.select(
        F.col("_fid").cast(id_type).alias(meta["id_col"])
    )
    # -- merge the batch into the id-guard filter BEFORE any data
    # write: a COMMITTED filter must stay a SUPERSET of the indexed
    # ids (a missing id would let its replay skip the exact check and
    # double-ingest), and supersets are safe (extra bits = false
    # positives, absorbed by the exact fallback) — so the WHOLE batch
    # goes in, whether or not the guard trimmed it, and a crash at
    # any later point leaves the replay filter-positive and routed
    # into the exact/heal path.
    if bloom_meta is not None and ig_state is None:
        # torn replay bypassed the prescreen; load the filter to merge
        ig_state = idguard.bloom_read(p, bloom_meta["location"])
    idguard.bloom_extend(
        p,
        meta,
        ig_state,
        new_docs.select(inc_id.cast("string").alias("_s")),
        # no usable filter: size a fresh one over the existing guard
        # ids (the one corpus-sized id scan, paid once)
        fallback_ids=(
            None
            if ig_state is not None
            else have().select(F.col("_have_id").cast("string"))
        ),
    )
    # -- mark THIS append in flight BEFORE any data write -------------
    entry = {"digest": digest, "tag": tag}
    if tag is not None:
        if app_dir is None or not os.path.exists(os.path.join(p, app_dir)):
            # Record the contribution BEFORE the marker commit: a
            # replay must be able to read the FIRST attempt's set
            # whenever the marker exists. A crash between this write
            # and the marker commit leaks an unreferenced directory
            # (GC'd by the next successful commit), never a wrong set.
            app_dir = _fresh_part_dir(
                p,
                "append_ids",
                prev=[e.get("appended_ids") for e in pending]
                + [meta.get("last_append_ids")],
            )
            appended_ids.write.mode("overwrite").parquet(
                os.path.join(p, app_dir)
            )
        entry["appended_ids"] = app_dir
    meta["pending_appends"] = [
        e for e in pending if e.get("digest") != digest
    ] + [entry]
    _sidecar_write(p, meta)

    nb = meta.get("num_buckets")
    band_rows = band_rows.localCheckpoint(eager=True)
    _append_part(band_rows, path, "bands", nb, meta)
    # bucket_keys: append the batch's keys, distincted WITHIN THE
    # BATCH only. The novelty gate's membership probe is a LEFT SEMI
    # join (multiplicity-immune), so cross-batch duplicate keys cost
    # only reference bytes, never correctness — and skipping the
    # anti-join against the persisted key set keeps the append
    # CORPUS-INDEPENDENT (the r10 bench showed that anti-join
    # scanning all corpus keys per 2k-doc batch; at 10^9 docs that is
    # a ~100 GB read per micro-batch). band_index_compact re-distincts
    # the key table when duplicate bloat warrants it; torn replays may
    # double a batch's keys, which the same semantics absorb.
    # One row per batch-key with the batch's contributor count —
    # summing cnt rows per key across append generations counts
    # contributors exactly (append batches never share doc ids, the
    # guard above enforces it). A torn REPLAY re-appends the whole
    # batch's cnt rows (bucket_keys rows carry no id to heal against),
    # over-counting the crashed attempt's landed keys — conservative:
    # an over-counted key can only RETIRE LATE (keeps gating until
    # band_index_compact's exact recount), never retire early / serve
    # wrong.
    new_keys = (
        all_band_rows.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    _append_part(new_keys, path, "bucket_keys", nb, meta)
    # UN-remove any retired key this batch re-introduces: the serving
    # mask (band_index_bucket_keys anti-joins removed_keys) would
    # otherwise suppress the NEW doc's key and gate its near-dups as
    # novel forever. Runs after the key data lands and commits with
    # the final sidecar swap below — a crash in between leaves the
    # key conservatively masked (reads like a pre-append index) and
    # the torn replay re-runs this shrink; both sides of the join are
    # recording/batch-sized. Zero cost when nothing is removed.
    _rk = _band_removed_keys(spark, p, meta)
    if _rk is not None:
        still = _rk.join(
            F.broadcast(new_keys), ["band", "h"], "left_anti"
        )
        n_still = still.count()
        ts_cur = dict(meta.get("tombstones") or {})
        if n_still != int(ts_cur.get("n_keys") or 0):
            keys_dir = _fresh_part_dir(
                p, "removed_keys", prev=[ts_cur.get("keys_location")]
            )
            still.write.mode("overwrite").parquet(os.path.join(p, keys_dir))
            ts_cur["keys_location"] = keys_dir
            ts_cur["n_keys"] = int(n_still)
            meta["tombstones"] = ts_cur
    if meta.get("has_shingles"):
        sh_rows = sh.select(F.col("_id").alias(meta["id_col"]), "h")
        size_rows = sh.groupBy(F.col("_id").alias(meta["id_col"])).agg(
            F.count(F.lit(1)).alias("n_sh")
        )
        if torn:
            sh_rows = sh_rows.join(
                present_sh,
                [meta["id_col"], "h"],
                "left_anti",
            )
            size_rows = size_rows.join(
                present_sz,
                size_rows[meta["id_col"]] == F.col("_pid"),
                "left_anti",
            )
        sh_rows = sh_rows.localCheckpoint(eager=True)
        size_rows = size_rows.localCheckpoint(eager=True)
        _append_part(sh_rows, path, "shingles", None, meta)
        _append_part(size_rows, path, "sizes", None, meta)
    # -- guard source of truth LAST ----------------------------------
    # each id row carries the doc's (band, h) key array — the delete
    # path's per-doc key source. Derived from the whole batch's band
    # rows (exactly the fresh docs' rows — the guard already trimmed
    # the batch).
    id_rows = all_band_rows.groupBy(meta["id_col"]).agg(
        F.collect_list(F.struct("band", "h")).alias("_keys")
    )
    if torn:
        present_i = _present_ids(
            _read_part(spark, path, "ids", meta), meta["id_col"], fresh_ids
        )
        id_rows = id_rows.join(
            present_i,
            id_rows[meta["id_col"]] == F.col("_pid"),
            "left_anti",
        )
    _append_part(
        id_rows.localCheckpoint(eager=True), path, "ids", None, meta
    )
    sh_cached.unpersist()
    return _commit(n_new)


def band_index_appended_ids(
    spark: SparkSession, path: str, tag: str
) -> DataFrame:
    """The id set a TAGGED append actually contributed to the index
    (its post-guard fresh ids, recorded by ``band_index_append``
    before the batch's first data write) — what a replayed streaming
    batch must exclude from the gate's reference to republish the
    first attempt's verdicts (``novelty_gate_excluding``'s
    ``exclude_ids``). Excluding the whole batch id set instead is
    wrong for same-id redeliveries: a doc ingested by an EARLIER
    batch and re-emitted in this one would have that earlier batch's
    rows discounted too and flip duplicate -> novel on replay.

    Looks the tag up in the sidecar's pending markers (torn append)
    and, failing that, in ``last_append_tag`` (completed append).
    Returns the recorded set as a one-column DataFrame (empty when
    the append was recorded as all-duplicate). Raises ``KeyError``
    when the tag is unknown (no such append is in flight or
    last-committed), because gating a NON-replayed batch through an
    exclusion is a correctness bug the caller should hit loudly."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    entry = next(
        (
            e
            for e in (meta.get("pending_appends") or [])
            if e.get("tag") == tag
        ),
        None,
    )
    if entry is not None:
        d = entry["appended_ids"]
    elif meta.get("last_append_tag") == tag:
        d = meta["last_append_ids"]
    else:
        raise KeyError(
            f"band index at {path!r} records no append tagged {tag!r} "
            "(neither pending nor last-committed)"
        )
    if d is None:  # recorded as an all-duplicate (empty) contribution
        return spark.createDataFrame(
            [], f"`{meta['id_col']}` {meta['id_type']}"
        )
    return read_parquet(spark, os.path.join(p, d))


def _part_files(loc: str) -> int:
    """Data-file count of a persisted part (parquet files only —
    _SUCCESS/CRC bookkeeping excluded); the shared counter
    (ann._data_files), so the two compaction reports cannot drift."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _data_files,
    )

    return _data_files(loc)


def band_index_audit(
    spark: SparkSession,
    path: str,
    *,
    dup_ratio_threshold: float = 2.0,
    capacity_threshold: float = 1.0,
) -> DataFrame:
    """The "when do I compact?" audit — the band-index twin of
    ``ann.ivf_balance_audit``'s "when do I refresh?": appends grow the
    serving state in two measurable ways, and this returns ONE row
    quantifying both —

    ``(n_docs, key_rows, distinct_keys, dup_key_ratio,
    filter_capacity_used, files_bands, files_bucket_keys,
    compact_recommended)``

    * ``dup_key_ratio`` (key_rows / distinct_keys): appends add
      BATCH-distinct bucket keys only (the corpus-independent design),
      so re-ingested content accumulates cross-batch duplicate keys —
      pure wasted scan bytes the gate's SEMI join never needs;
      ``band_index_compact`` re-distincts them out.
    * ``filter_capacity_used`` (n_docs / the sidecar's recorded
      sizing capacity): an append-grown id set outlives the filter's
      build-time capacity; past ~1.0 the false-positive rate decays
      and appends pay more exact fallbacks (never wrong, just
      slower) — compaction re-sizes the filter. The capacity is the
      id count the filter was SIZED for (recorded by
      ``idguard.rebuild_filter``/``bloom_extend``), so
      ``expected_ids``-sized filters are measured against their own
      sizing, not the global density constant.
    * file counts per bucketed part: the small-files growth itself
      (NOT content-derived — operational signal only).

    ``compact_recommended`` flips on either content signal crossing
    its threshold. Cost: one metadata-count of ids + one aggregate
    over bucket_keys — never the bands table. Indexes without a
    usable filter report ``filter_capacity_used`` NULL."""
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    n_docs = _parquet_rows(os.path.join(p, meta["locations"]["ids"]))
    krow = (
        _read_part(spark, path, "bucket_keys", meta)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("band", "h").alias("d"),
        )
        .first()
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        np_round_half_up,
    )

    key_rows, distinct_keys = int(krow["n"]), int(krow["d"])
    # half-up rounding (Python round() is half-to-EVEN; the DuckDB
    # oracle rounds half-up)
    ratio = float(np_round_half_up(key_rows / max(distinct_keys, 1), 4))
    bloom_meta = meta.get("id_bloom")
    used = None
    if idguard.filter_usable(bloom_meta):
        cap = int(bloom_meta["capacity"])
        used = float(np_round_half_up(n_docs / float(cap), 4))
    f_bands = _part_files(_part_loc(path, "bands", meta))
    f_keys = _part_files(_part_loc(path, "bucket_keys", meta))
    # pending deferred text updates (band_index_defer_updates): the
    # index serves pre-update bands until a compact drains the queue,
    # so ANY pending row recommends compaction — the maintenance loop
    # is what bounds that honest window. Counted on the RESOLVED
    # queue (one row per distinct id, later entries superseding
    # earlier — exactly what the drain will apply); summing raw
    # per-entry row counts double-counts ids re-queued across
    # batches (r13 advice). The queue recordings are micro-batch-
    # sized, so the resolve read is noise next to the part scans
    # this audit already pays.
    resolved_q = _resolve_deferred(spark, p, meta)
    n_deferred = 0 if resolved_q is None else resolved_q.count()
    flag = (
        ratio > dup_ratio_threshold
        or (used is not None and used > capacity_threshold)
        or n_deferred > 0
    )
    return spark.createDataFrame(
        [
            (
                n_docs,
                key_rows,
                distinct_keys,
                float(ratio),
                float(used) if used is not None else None,
                f_bands,
                f_keys,
                n_deferred,
                bool(flag),
            )
        ],
        "n_docs bigint, key_rows bigint, distinct_keys bigint, "
        "dup_key_ratio double, filter_capacity_used double, "
        "files_bands int, files_bucket_keys int, "
        "deferred_updates bigint, compact_recommended boolean",
    )


def band_index_compact(spark: SparkSession, path: str) -> dict:
    """Compact an append-grown index: every ``band_index_append``
    lands one-or-more new files PER PART PER BATCH (a bucketed append
    adds ``num_buckets`` files each time), so a long-running ingest
    loop degrades scans with per-file open/footer costs — the classic
    small-files problem. This rewrites each part's CURRENT rows into
    a fresh versioned directory with a bounded file count (bucketed
    parts: exactly ``num_buckets`` files, one whole bucket per file;
    plain parts: one file per shuffle partition) and commits by the
    same atomic sidecar swap as a rebuild — concurrent readers see
    the pre-compact index until the swap, the post-compact index
    after, never a torn mix. Content is untouched: the source stamp
    is carried over unchanged (compaction is not a freshness event),
    and the double-ingest guard keeps working because ``ids`` is
    rewritten with everything it held.

    Refuses a torn index (a ``pending_appends`` entry): the torn batch's
    rows are only partially on disk, and compacting would launder the
    marker away — replay the append first; its healing path is the
    fix.

    Returns ``{part: (files_before, files_after)}``.
    """
    p = _local_sidecar_path(path)
    meta = read_sidecar(p, _SIDECAR)
    if meta.get("pending_appends"):
        raise ValueError(
            f"band index at {path!r} has a torn append in flight "
            "(a pending-append marker is set); replay the interrupted "
            "band_index_append — its guard heals the torn parts — "
            "before compacting"
        )
    nb = meta.get("num_buckets")
    plain_target = nb or spark.sparkContext.defaultParallelism
    old_locations = dict(meta["locations"])
    parts = ["bands", "bucket_keys"]
    if meta.get("has_shingles"):
        parts += ["shingles", "sizes"]
    parts.append("ids")
    if meta.get("deferred_updates"):
        # a pending text-update queue (band_index_defer_updates):
        # compaction is its drain point, and the drain IS a full part
        # rewrite — exactly what band_index_apply pays — so delegate
        # the whole compaction to one apply pass (it also purges
        # tombstones and bounds file counts identically).
        before = {part: _part_files(_part_loc(path, part, meta)) for part in parts}
        band_index_apply(spark, path)
        meta2 = read_sidecar(p, _SIDECAR)
        return {
            part: (
                before[part],
                _part_files(_part_loc(path, part, meta2)),
            )
            for part in parts
        }
    # compaction is also the tombstone PURGE point (the ivf_compact
    # discipline): band_index_delete's masked docs drop physically
    # from every id-carrying part, bucket_keys is RE-DERIVED from the
    # purged bands (== distinct keys of the survivors, exactly what
    # the removed-keys mask was serving), and both recordings clear —
    # after which the purged ids are re-appendable.
    ts = _band_ts_ids(spark, p, meta)
    if ts is not None:
        idc = meta["id_col"]
        survivors = read_parquet(
            spark, os.path.join(p, old_locations["ids"])
        ).join(
            F.broadcast(ts),
            F.col(idc).cast("string") == F.col("_ts_id"),
            "left_anti",
        )
        if survivors.limit(1).count() == 0:
            from vector_databases___hydrate_chroma_db_collection_spark.errors import (
                EngineError,
            )

            raise EngineError(
                f"band_index_compact: every document of the index at "
                f"{path!r} is tombstoned — compacting would leave "
                "empty parts; drop the index directory and rebuild "
                "when new documents arrive instead"
            )
    report = {}
    new_locations = dict(old_locations)
    for part in parts:
        before = _part_files(_part_loc(path, part, meta))
        # bucket_keys is re-derived from the survivors' band rows:
        # squeezes out the cross-batch duplicate key rows appends
        # accumulate (corpus-independent by design), drops deleted-only
        # docs' keys (replacing the removed-keys serving mask), and
        # recounts the per-key ``cnt`` contributor refcounts EXACTLY
        # (the heal point for torn-append over-counts).
        df = _read_part(
            spark, path, "bands" if part == "bucket_keys" else part, meta
        )
        if ts is not None:
            df = df.join(
                F.broadcast(ts),
                F.col(meta["id_col"]).cast("string") == F.col("_ts_id"),
                "left_anti",
            )
        if part == "bucket_keys":
            df = df.groupBy("band", "h").agg(F.count(F.lit(1)).alias("cnt"))
        part_nb = nb if part in ("bands", "bucket_keys") else None
        if part == "ids":
            # range-clustered + sorted on the id: the delete path's
            # literal-batch isin pushdown prunes by row-group stats
            df = df.repartitionByRange(
                plain_target, meta["id_col"]
            ).sortWithinPartitions(meta["id_col"])
        elif part_nb is None:
            df = df.repartition(plain_target)
        new_locations[part] = _write_new_part(
            df, path, part, part_nb, old_locations.get(part)
        )
        after = _part_files(os.path.join(p, new_locations[part]))
        report[part] = (before, after)
    # re-size the id-guard Bloom from the CURRENT id count:
    # append-grown indexes outlive their build-time capacity, and
    # past capacity the filter only degrades (more exact fallbacks,
    # never wrong) — compaction is the natural point to restore the
    # designed false-positive rate.
    meta["id_bloom"] = idguard.rebuild_filter(
        read_parquet(spark, os.path.join(p, new_locations["ids"])),
        F.col(meta["id_col"]).cast("string"),
        p,
        (meta.get("id_bloom") or {}).get("location"),
    )
    meta["locations"] = new_locations
    meta.pop("tombstones", None)  # purged physically above
    _sidecar_write(p, meta)
    old_meta = dict(meta, locations=old_locations)
    _drop_part_dirs(spark, path, old_meta, new_locations)
    idguard.gc_bloom_files(
        p, {(meta.get("id_bloom") or {}).get("location")}
    )
    _gc_recordings(p, _PURGED_RECORDINGS)
    return report


__all__ = [
    "band_index_build",
    "band_index_write",
    "band_index_meta",
    "band_index_read",
    "band_index_bucket_keys",
    "band_index_read_verified",
    "band_index_refresh",
    "band_index_append",
    "band_index_appended_ids",
    "band_index_apply",
    "band_index_defer_updates",
    "band_index_deferred_updates",
    "band_index_delete",
    "band_index_tombstoned_ids",
    "band_index_audit",
    "band_index_compact",
]
