"""The on-disk format of every derived index: one JSON sidecar per
index kind (``ivf_index.json``, ``ivf_pq_index.json``,
``graph_index.json``, ``band_index.json``, ``maxsim_corpus.json``)
plus the CDC write-ahead log (``cdc_log.json``), each committed by
``_atomic_sidecar_write`` and read back by ``read_sidecar``.

The format rule:

* Derived indexes REFUSE an older format. Every sidecar is stamped
  with ``FORMAT_VERSION`` on write; ``read_sidecar`` raises
  ``StaleIndexError`` naming the kind's rebuild call when the stamp
  is missing or differs. An index can always be rebuilt from the
  collection it was derived from, so the rebuild IS the migration.
* Primary data NEVER refuses. The collection ``_manifest.json``, the
  snapshot manifest and the ``_current`` pointer
  (``plans/collection.py``) are not stamped and are read as-is.
* Any future change to an index's on-disk layout bumps
  ``FORMAT_VERSION`` instead of adding an upgrade branch to the
  readers.

The rebuild calls themselves (``*_write``/``*_refresh``) read the old
sidecar unchecked: they only take the build record and the data
locations to supersede from it.

The Parquet the engine writes (collection data dirs, index cells,
tombstone and id recordings) is read back through ``read_parquet``
and counted through ``_parquet_rows``: both take what they need from
the Parquet footers on the driver, so neither launches a Spark job.

The cells-index lifecycle
-------------------------

IVF (``ivf_index.json``), IVF-PQ (``ivf_pq_index.json``) and the
per-cell graph (``graph_index.json``) share one layout: an
``ivf_cell``-partitioned Parquet dataset in a versioned ``cells_vN``
dir, an id-guard Bloom filter (``operators/idguard.py``) and the
sidecar naming both. Every mutation of the three goes through the
helpers below, so each step exists once:

* ``_commit_cells_build`` (``*_write``, ``ivf_compact``): write a
  fresh ``cells_vN`` dir, rebuild the filter from what was written,
  swap the sidecar.
* ``_guard_append`` then ``_extend_guard`` (``ivf_append``,
  ``ivf_pq_append``, before their row append; ``graph_append``):
  refuse tombstoned ids, drop ids already indexed (Bloom prescreen,
  exact anti-join on the maybes only).
* ``_replace_cells`` (upserts through ``_surgical_replace``,
  ``graph_append``): rewrite only the touched cells into a fresh dir,
  hardlink-clone the rest.
* ``_record_tombstones`` (``ivf_delete`` and its IVF-PQ and graph
  callers): ids are masked at read (``_mask_tombstones``) and purged
  by the next compact or rebuild.

Commit order. Data first, sidecar last: every data write lands in a
dir no committed sidecar names (a fresh versioned dir), or appends
rows the id guard already covers. The atomic sidecar write
(``_swap``) is the one commit point; a reader following the sidecar
sees the whole old index or the whole new one. Only after the swap
is the superseded cells dir dropped and are unreferenced recordings
and Bloom files GC'd, so a crash leaks a directory, never breaks a
reader, and the replay converges.

Superset invariant. A committed id-guard filter is a superset of the
indexed ids: an append folds its whole batch into the filter and
commits the sidecar BEFORE it writes any row, so a crash mid-append
leaves the replay filter-positive and routed into the exact check.

Recording namespaces. Each kind owns its recording prefixes
(``_RECORDINGS``): ``ivf_tombstones_v*`` and ``ivf_append_ids_v*``,
``ivf_pq_tombstones_v*``, ``graph_tombstones_v*``. The band index
owns the bare ``append_ids_v*``, ``band_tombstones_v*`` and friends.
GC never crosses a namespace, so kinds can share a directory.

Writer lock. Every mutation, rebuilds included, runs under
``_writer_lock(p, sidecar)``: one writer per sidecar at a time,
across threads and processes, reentrant within a thread. A rebuild
that ran beside a locked mutation would be overwritten by the
mutation's commit of the sidecar it read before the rebuild.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    StaleIndexError,
    TombstonedIdError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators import (
    idguard,
)

FORMAT_VERSION = 1

# the footer key Spark's Parquet writer stores the row schema under
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_files(loc: str):
    """The Parquet data files Spark would scan under ``loc``, walking
    hive partition dirs; names starting with ``_`` or ``.`` are skipped
    the way Spark's file index skips them (``_SUCCESS``, ``.crc``
    checksums, ``_temporary``), except ``_``-named partition dirs."""
    for root_, dirs, files in os.walk(loc):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root_, f)


def _parquet_rows(loc: str) -> int:
    """Row count from Parquet FOOTERS only (O(files) metadata reads,
    zero data IO, no Spark job). Exact for everything this engine
    writes: it writes no deletion vectors, so every footer row is a
    live row."""
    import pyarrow.parquet as papq

    return sum(papq.read_metadata(f).num_rows for f in _parquet_files(loc))


def read_parquet(spark, loc: str):
    """``spark.read.parquet(loc)`` for Parquet the engine wrote itself,
    minus the one-task schema-inference job: the schema is read on the
    driver from one data file's Spark footer key and handed to
    ``spark.read.schema``. Hive partition columns (``id_bucket``,
    ``ivf_cell``) are not in the footer: Spark discovers them from the
    paths with the type it infers on a plain read, and still prunes on
    them. Falls back to the plain read when there is no data file or
    the footer carries no Spark schema (a file another writer
    produced), so an empty dir raises Spark's usual
    ``AnalysisException``."""
    import pyarrow.parquet as papq
    from pyspark.sql.types import StructType

    first = next(_parquet_files(loc), None)
    kv = (papq.read_metadata(first).metadata or {}) if first else {}
    if _SPARK_SCHEMA_KEY not in kv:
        return spark.read.parquet(loc)
    schema = StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(loc)


def _driver_rows(df: DataFrame):
    """``df.collect()`` when Spark computes ``df`` on the driver, else
    ``None``. A client batch is a LocalRelation built from Arrow; the
    optimizer folds projections and filters over it into another
    LocalRelation, and collecting one runs no Spark job. A plan that
    reads files, shuffles, checkpoints or runs a Python UDF does not
    fold, and the caller keeps its distributed path."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return df.collect()


def _id_frame(spark, ids, name: str) -> DataFrame:
    """A one-column string frame of ``ids`` (nulls kept), as a
    LocalRelation."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {name: pa.array([None if i is None else str(i) for i in ids], pa.string())}
        )
    )


def _probe_ids(df: DataFrame, id_col: str, ids, *cols) -> list:
    """``(id, *cols)`` of every row of ``df`` whose id is in ``ids``:
    one job, a pushed ``IN`` filter, so the Parquet reader skips the
    row groups no id can be in (``get_spark`` raises the pushdown
    threshold). The result is bounded by ``ids`` times their physical
    copies. No job when ``ids`` is empty."""
    if not ids:
        return []
    sid = F.col(id_col).cast("string")
    return (
        df.filter(sid.isin(list(ids))).select(sid.alias("_id"), *cols).collect()
    )


def _outside(col, ids):
    """``col NOT IN ids`` as a filter that keeps null ids (as the
    anti-join it replaces does) and ignores null entries of ``ids``."""
    return ~F.coalesce(
        col.isin(sorted({i for i in ids if i is not None})), F.lit(False)
    )


# how each sidecar gets back to the current format: its index kind's
# rebuild call (the CDC log has none — it is replay state)
_REMEDY = {
    "ivf_index.json": "rebuild it with ivf_refresh",
    "ivf_pq_index.json": "rebuild it with ivf_pq_write",
    "graph_index.json": "rebuild it with graph_index_write",
    "band_index.json": "rebuild it with band_index_refresh",
    "maxsim_corpus.json": "rebuild it with maxsim_corpus_write",
    "cdc_log.json": (
        "finish its pending batches with the engine that wrote it, "
        "then remove it"
    ),
}


def _local_sidecar_path(path: str) -> str:
    """The JSON sidecar is written with driver-local file IO; a remote
    scheme (s3a/hdfs/...) would silently land the Parquet cells remote
    and the sidecar on the driver's local disk — a half-persisted
    index. Accept local paths and the file: scheme only, loudly."""
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"index sidecars use driver-local file IO; got {path!r} — "
            "persist to a locally-mounted path (or file:), or write "
            "the sidecar through your object-store client"
        )
    return path[len("file://"):] if path.startswith("file://") else path


def _atomic_sidecar_write(p: str, fname: str, meta: dict) -> None:
    """Atomic, durable sidecar commit: temp file + fsync + rename (+
    best-effort directory fsync), so a reader never observes a
    half-written JSON and neither a crash mid-write NOR a power loss
    right after the rename can leave a truncated sidecar where the
    previous one used to be (rename alone orders nothing against data
    writeback on most filesystems). Stamps ``FORMAT_VERSION``."""
    tmp = os.path.join(p, fname + ".tmp")
    with open(tmp, "w") as f:
        json.dump(dict(meta, format_version=FORMAT_VERSION), f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(p, fname))
    try:
        dfd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync is best-effort (not all FS/OS allow it)


def _read_unchecked(p: str, fname: str) -> dict:
    """The sidecar as written, whatever its format — for the rebuild
    calls and the id-guard GC only; everything else reads through
    ``read_sidecar``."""
    with open(os.path.join(p, fname)) as f:
        return json.load(f)


def read_sidecar(p: str, fname: str) -> dict:
    """Read a committed sidecar, refusing any other format: raises
    ``StaleIndexError`` naming the file, the found and expected
    versions and the rebuild call when ``format_version`` is missing
    or differs from ``FORMAT_VERSION``."""
    meta = _read_unchecked(p, fname)
    found = meta.get("format_version")
    if found != FORMAT_VERSION:
        raise StaleIndexError(
            f"{os.path.join(p, fname)!r} has format_version {found!r}, "
            f"this engine reads {FORMAT_VERSION}: {_REMEDY[fname]}"
        )
    return meta


def _check_expected_etag(
    meta: dict, path: str, fname: str, expected_prev_etag: str | None, op: str
) -> None:
    """The foreign-mutation fence every index mutation takes: the
    caller pins the etag it observed before its own collection
    mutation. A sidecar recording any other etag means something else
    mutated the collection since the last stamp, and re-stamping
    would launder that mutation into a fresh-looking index."""
    if expected_prev_etag is None:
        return
    src = meta.get("source")
    recorded = src["etag"] if src else None
    if recorded != expected_prev_etag:
        raise StaleIndexError(
            f"index at {path!r} records etag {str(recorded)[:12]!r} but "
            f"the {op} expected {expected_prev_etag[:12]!r}: the source "
            f"collection was mutated by something other than this {op} "
            f"since the index was last stamped — {_REMEDY[fname]} "
            "instead"
        )


def _fresh_versioned_dir(
    p: str, base: str, floor_names: list | None = None
) -> str:
    """Next unused versioned data directory (``<base>_v1``, ...) — a
    REBUILD never writes into the directory readers are scanning;
    the sidecar's location pointer is swapped last (atomic), so
    readers that follow the read API (sidecar first) see the complete
    old index until the commit and the complete new index after.
    Scans the filesystem (a crashed rebuild's orphan directory is
    never reused) AND floors the version above every name in
    ``floor_names`` — the sidecar's CURRENT recording locations. The
    floor is what makes versions MONOTONIC across GC (the
    ``fresh_bloom_file`` ``prev`` contract): after GC removes a
    superseded version, a bare filesystem scan would recycle its name
    and a reader holding an older sidecar could open a same-named
    directory with different content."""
    v = 0
    for name in floor_names or []:
        if not name:
            continue
        try:
            v = max(v, int(str(name).rsplit("_v", 1)[1].split(".")[0]))
        except (IndexError, ValueError):
            pass
    v += 1
    while os.path.exists(os.path.join(p, f"{base}_v{v}")):
        v += 1
    return f"{base}_v{v}"


def _source_stamp(source: tuple[str, str] | None) -> dict | None:
    """Staleness stamp for an index built FROM a collection: record
    (root, name, etag-at-build). Readers re-derive the etag and
    refuse to serve an index whose source has since been mutated —
    without this, a persisted index keeps answering with ids a
    ``collection_delete`` removed or vectors a ``collection_update``
    replaced (plans/chroma_api.py:245,409 swap the ``_current`` data
    dir; appends add files; ``collection_etag`` changes either way)."""
    if source is None:
        return None
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
    )

    root, name = source
    return {"root": root, "name": name, "etag": collection_etag(root, name)}


def _check_source_stamp(meta: dict, path: str, verify_source: bool) -> None:
    src = meta.get("source")
    if src is None or not verify_source:
        return
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
    )

    try:
        now = collection_etag(src["root"], src["name"])
    except Exception as e:
        raise StaleIndexError(
            f"index at {path!r} was built from collection "
            f"{src['name']!r} at {src['root']!r}, which is no longer "
            f"readable ({e}); rebuild the index or pass "
            "verify_source=False"
        ) from e
    if now != src["etag"]:
        raise StaleIndexError(
            f"index at {path!r} is STALE: collection {src['name']!r} "
            f"at {src['root']!r} changed since the index was built "
            f"(etag {src['etag'][:12]} -> {now[:12]}). Rebuild the "
            "index from the current collection, or pass "
            "verify_source=False to serve it anyway"
        )


def _restamp(meta: dict) -> bool:
    """Re-derive ``meta``'s source stamp from the collection's
    CURRENT etag (the caller commits the sidecar). Returns whether the
    stamp changed; an unstamped index stays unstamped."""
    src = meta.get("source")
    if src is None:
        return False
    meta["source"] = _source_stamp((src["root"], src["name"]))
    return meta["source"] != src


def _gc_recordings(p: str, bases, keep=()) -> None:
    """Remove every recording dir ``<base>_v*`` under ``p``, for each
    of ``bases``, that ``keep`` does not name. Run only after the
    sidecar commit that stopped referencing them."""
    prefixes = tuple(f"{b}_v" for b in bases)
    for d in os.listdir(p):
        if d.startswith(prefixes) and d not in keep:
            shutil.rmtree(os.path.join(p, d), ignore_errors=True)


# --- the cells-index lifecycle (module docstring) ----------------------

# each cells kind's recording namespaces; the first is its tombstones
_RECORDINGS = {
    "ivf_index.json": ("ivf_tombstones", "ivf_append_ids"),
    "ivf_pq_index.json": ("ivf_pq_tombstones",),
    "graph_index.json": ("graph_tombstones",),
}

_WRITER_LOCK_STATE = None  # lazily a threading.local with per-thread depth


def _writer_lock(p: str, sidecar: str):
    """Cross-PROCESS writer serialization for one index sidecar: an
    ``flock`` on ``<sidecar>.writer_lock`` held for the whole
    read-modify-write mutation. The r14 fence covered foreign SOURCE
    mutations (etag pin) and the sidecar swap itself is atomic, but
    two concurrent writers that both read generation N of the sidecar
    would each commit an N+1 derived from N — last replace wins and
    the first writer's tombstones / pending records / guard segments
    silently vanish (a real lost-update under true syscall
    interleaving). Serializing whole mutations is the honest local
    answer: index mutations are micro-batch-sized, writers queue for
    seconds, and every committed op derives from the committed state
    before it — exactly-one-winner per generation by construction.
    Reentrant per THREAD (a pq delete delegating to ``ivf_delete``
    must not self-deadlock); a second thread or process blocks until
    release. Local-filesystem scope, like the sidecar layout itself —
    an object-store port would use conditional puts instead."""
    global _WRITER_LOCK_STATE
    if _WRITER_LOCK_STATE is None:
        _WRITER_LOCK_STATE = threading.local()

    @contextlib.contextmanager
    def _ctx():
        import fcntl

        os.makedirs(p, exist_ok=True)
        key = os.path.join(os.path.realpath(p), sidecar)
        held = getattr(_WRITER_LOCK_STATE, "held", None)
        if held is None:
            held = _WRITER_LOCK_STATE.held = {}
        if key in held:
            held[key][1] += 1
            try:
                yield
            finally:
                held[key][1] -= 1
                if held[key][1] == 0:
                    del held[key]
            return
        lf = open(key + ".writer_lock", "w")
        try:
            fcntl.flock(lf, fcntl.LOCK_EX)
            held[key] = [lf, 1]
            try:
                yield
            finally:
                held[key][1] -= 1
                if held[key][1] == 0:
                    del held[key]
                    fcntl.flock(lf, fcntl.LOCK_UN)
        finally:
            lf.close()

    return _ctx()


def _serialized_writer(default_sidecar: str = "ivf_index.json"):
    """Decorator applying ``_writer_lock`` around a whole mutation
    function of shape ``fn(spark, path, *...)`` — the sidecar name
    follows the function's own ``sidecar=`` kwarg when present (the
    IVF-PQ delegation pattern)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, path, *args, **kwargs):
            sidecar = kwargs.get("sidecar", default_sidecar)
            with _writer_lock(_local_sidecar_path(path), sidecar):
                return fn(spark, path, *args, **kwargs)

        return wrapper

    return deco


def _cells_cols(cells: DataFrame) -> list[str]:
    """A cells dataset's row columns: the id first, then (IVF, graph)
    the embedding; the ``ivf_cell`` partition and IVF-PQ's
    ``pq_code`` are left out."""
    return [c for c in cells.columns if c not in ("ivf_cell", "pq_code")]


def _tombstones_df(spark, p: str, meta: dict) -> DataFrame | None:
    """The sidecar's tombstone recording as a one-column DataFrame
    (``_ts_id`` string) — ``None`` when the index carries no
    tombstones. The set is bounded by compaction cadence (
    ``ivf_compact`` purges it), never by corpus size."""
    ts = meta.get("tombstones")
    if not ts or not int(ts.get("n") or 0):
        return None
    return read_parquet(spark, os.path.join(p, ts["location"]))


def _tombstone_ids(p: str, meta: dict) -> list:
    """The sidecar's tombstone recording as a driver list, read with
    pyarrow (no Spark job); bounded like ``_tombstones_df``."""
    import pyarrow.parquet as papq

    ts = meta.get("tombstones")
    if not ts or not int(ts.get("n") or 0):
        return []
    return [
        v
        for f in _parquet_files(os.path.join(p, ts["location"]))
        for v in papq.read_table(f, columns=["_ts_id"]).column(0).to_pylist()
    ]


def _mask_tombstones(
    spark, p: str, meta: dict, df: DataFrame, id_col: str
) -> DataFrame:
    """Serve-time tombstone mask: anti-join the cells dataset against
    the (small, compaction-bounded) tombstoned-id set. Broadcast is
    explicit — the set's size is a POLICY invariant
    (``MaintenancePolicy.tombstone_threshold`` compacts before it
    grows past a fraction of the corpus ids, and ids are tiny next to
    embeddings), so the mask never shuffles the corpus."""
    ts = _tombstones_df(spark, p, meta)
    if ts is None:
        return df
    return df.join(
        F.broadcast(ts),
        F.col(id_col).cast("string") == F.col("_ts_id"),
        "left_anti",
    )


def _read_cells(
    spark, path: str, sidecar: str, *, verify_source: bool,
    include_tombstoned: bool = False,
) -> tuple[DataFrame, dict]:
    """The IVF / IVF-PQ read: the sidecar (source stamp checked, like
    every reader) and its cells dataset, tombstones masked unless
    ``include_tombstoned``. Returns ``(cells_df, meta)``."""
    path = _local_sidecar_path(path)
    meta = read_sidecar(path, sidecar)
    _check_source_stamp(meta, path, verify_source)
    cells = read_parquet(spark, os.path.join(path, meta["location"]))
    if not include_tombstoned:
        cells = _mask_tombstones(spark, path, meta, cells, _cells_cols(cells)[0])
    return cells, meta


def _record_tombstones(p: str, sidecar: str, meta: dict, ts_ids) -> None:
    """Write ``ts_ids`` (one ``_ts_id`` string column, the WHOLE new
    set) as the kind's next versioned tombstone recording and point
    ``meta`` at it; the caller commits the sidecar. The version is
    floored above the current recording, so a GC'd name is never
    reused under a reader holding an older sidecar."""
    ts_dir = _fresh_versioned_dir(
        p,
        _RECORDINGS[sidecar][0],
        floor_names=[(meta.get("tombstones") or {}).get("location")],
    )
    # one file: the set is small by compaction policy
    ts_ids.coalesce(1).write.mode("overwrite").parquet(os.path.join(p, ts_dir))
    meta["tombstones"] = {
        "location": ts_dir,
        "n": _parquet_rows(os.path.join(p, ts_dir)),
    }


def _gc(p: str, sidecar: str, meta: dict, old_dir: str | None = None):
    """Post-commit cleanup against the COMMITTED ``meta``: drop the
    superseded cells dir, then the kind's recordings and Bloom files
    the sidecar no longer references."""
    if old_dir and old_dir != meta["location"]:
        shutil.rmtree(os.path.join(p, old_dir), ignore_errors=True)
    keep = {
        meta.get("last_append_ids"),
        (meta.get("tombstones") or {}).get("location"),
    } | {e.get("appended_ids") for e in meta.get("pending_appends") or []}
    _gc_recordings(p, _RECORDINGS[sidecar], keep)
    idguard.gc_bloom_files(p, {(meta.get("id_bloom") or {}).get("location")})


def _swap(p: str, sidecar: str, meta: dict, old_dir: str | None = None):
    """The commit point: one atomic sidecar write, then ``_gc``."""
    _atomic_sidecar_write(p, sidecar, meta)
    _gc(p, sidecar, meta, old_dir)


def _commit_cells_build(
    p: str, sidecar: str, cells: DataFrame, fields: dict, stats=None
) -> dict:
    """The one build commit of ``ivf_write``, ``ivf_pq_write``,
    ``graph_index_write`` and ``ivf_compact``, under the writer lock:
    write ``cells`` (already clustered by the caller, so each cell
    dir gets one file) partitioned by ``ivf_cell`` into a fresh
    ``cells_vN`` dir, rebuild the id-guard filter from the written
    rows, and swap in a sidecar of ``fields`` plus the new
    ``location`` and ``id_bloom``. ``stats(cells_back)``, when given,
    returns the per-cell ``(ivf_cell, n_rows, <mean>)`` aggregate
    recorded as ``train_stats`` (``cell_rows``, ``cell_<mean>``).
    Recordings ``fields`` does not reference are GC'd: a rebuild
    supersedes them all. Returns the committed sidecar."""
    with _writer_lock(p, sidecar):
        old = (
            _read_unchecked(p, sidecar)
            if os.path.exists(os.path.join(p, sidecar))
            else {}
        )
        cells_dir = _fresh_versioned_dir(p, "cells", [old.get("location")])
        loc = os.path.join(p, cells_dir)
        cells.write.mode("overwrite").partitionBy("ivf_cell").parquet(loc)
        back = read_parquet(cells.sparkSession, loc)
        meta = dict(fields, location=cells_dir)
        meta["id_bloom"] = idguard.rebuild_filter(
            back,
            F.col(_cells_cols(back)[0]).cast("string"),
            p,
            (old.get("id_bloom") or {}).get("location"),
        )
        if stats is not None:
            agg = stats(back)
            mean = agg.columns[2]
            got = {
                int(r["ivf_cell"]): (int(r["n_rows"]), float(r[mean]))
                for r in agg.collect()
            }
            cells_n = range(int(fields["n_centroids"]))
            meta["train_stats"] = {
                "cell_rows": [got.get(i, (0, 0.0))[0] for i in cells_n],
                f"cell_{mean}": [got.get(i, (0, 0.0))[1] for i in cells_n],
            }
        _swap(p, sidecar, meta, old.get("location"))
    return meta


def _guard_append(
    p: str,
    meta: dict,
    rows: DataFrame,
    cells: DataFrame,
    op: str,
    *,
    tombstones: DataFrame | None,
    purge: str,
    on_existing: str = "skip",
):
    """The double-ingest guard of every cells-index append, in order:

    1. refuse ids in ``tombstones`` (``TombstonedIdError`` naming
       ``purge``): the id-granular serve mask cannot tell a new row
       from the old one under the same id. Pass ``None`` when there
       are none, or for a tagged replay, whose rows already landed;
    2. Bloom prescreen (``idguard.bloom_split``): filter-negative ids
       are definitely new, with zero corpus IO;
    3. exact anti-join of the filter-positive ids against ``cells``
       (every id when the filter is unusable);
    4. ``on_existing='error'`` raises naming the already-indexed count;
    5. one checkpoint job that also counts the fresh rows.

    ``rows`` is the kind's projection of the batch, id first (named
    as in ``cells``); it is deduplicated by id and checkpointed here,
    so a source retry folded into one batch cannot index an id twice.
    Returns ``(batch, fresh, n_new, state)``: ``state`` is the loaded
    filter for ``idguard.bloom_extend`` (``None`` when unusable)."""
    from pyspark.sql import Observation

    if on_existing not in ("skip", "error"):
        raise ValueError(
            f"on_existing must be 'skip' or 'error', got {on_existing!r}"
        )
    idc = rows.columns[0]
    batch = rows.dropDuplicates([idc]).localCheckpoint(eager=True)
    if tombstones is not None:
        n_dead = batch.join(
            F.broadcast(tombstones),
            F.col(idc).cast("string") == F.col("_ts_id"),
            "left_semi",
        ).count()
        if n_dead:
            raise TombstonedIdError(
                f"{op}: {n_dead} incoming id(s) are TOMBSTONED in the "
                f"index at {p!r} (deleted but not yet physically "
                f"purged) — {purge} to purge them, then retry the append"
            )
    have = cells.select(F.col(idc).alias("_have_id"))
    known = F.col(idc) == F.col("_have_id")
    bloom_meta = meta.get("id_bloom")
    state = None
    if idguard.filter_usable(bloom_meta):
        neg, maybe, state = idguard.bloom_split(batch, p, bloom_meta, idc)
        fresh = (
            neg
            if maybe is None
            else neg.unionByName(maybe.join(have, known, "left_anti"))
        )
    else:
        maybe = batch
        fresh = batch.join(have, known, "left_anti")
    if on_existing == "error" and maybe is not None:
        n_dup = maybe.join(have, known, "left_semi").count()
        if n_dup:
            raise ValueError(
                f"{op}: {n_dup} incoming id(s) are already indexed at "
                f"{p!r}; re-appending would duplicate index rows (pass "
                "on_existing='skip' to make replays idempotent)"
            )
    obs = Observation(f"{op}_fresh")
    fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return batch, fresh, int(obs.get["n"]), state


def _extend_guard(
    p: str, sidecar: str, meta: dict, cells: DataFrame, batch, state
) -> None:
    """Fold the WHOLE guarded ``batch`` into the id-guard filter and
    commit the sidecar: an append calls this before it writes any row
    (the superset invariant). An index without a usable filter
    (``state`` None) pays one scan of ``cells``' ids for a fresh
    one."""
    idc = batch.columns[0]
    idguard.bloom_extend(
        p,
        meta,
        state,
        batch.select(F.col(idc).cast("string").alias("_s")),
        fallback_ids=cells.select(F.col(idc).cast("string")),
    )
    _atomic_sidecar_write(p, sidecar, meta)


def _replace_cells(
    p: str, sidecar: str, meta: dict, payload, touched: set, new_ids
) -> None:
    """The one cell replace: write ``payload`` (the touched cells'
    complete new rows, clustered by cell) into a fresh ``cells_vN``
    dir, hardlink-clone every untouched cell dir forward (O(files)
    metadata ops, no data read), extend the id-guard filter with
    ``new_ids`` (one string column), re-stamp and swap. Delete and
    re-add publish together: readers see the whole replace or none
    of it."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        _clone_untouched_parts,
    )

    old_dir = meta["location"]
    new_dir = _fresh_versioned_dir(p, "cells", [old_dir])
    payload.write.mode("append").partitionBy("ivf_cell").parquet(
        os.path.join(p, new_dir)
    )
    _clone_untouched_parts(
        os.path.join(p, old_dir), os.path.join(p, new_dir), touched, "ivf_cell"
    )
    bloom_meta = meta.get("id_bloom")
    if idguard.filter_usable(bloom_meta):
        st = idguard.bloom_read(p, bloom_meta["location"])
        idguard.bloom_extend(p, meta, st, new_ids)
    meta["location"] = new_dir
    _restamp(meta)
    _swap(p, sidecar, meta, old_dir)


def _upsert_rows(
    spark, p: str, sidecar: str, meta: dict, cells: DataFrame, batch, prepare
) -> tuple[int, int]:
    """The shared body of ``ann.ivf_upsert`` and ``pq.ivf_pq_upsert``:
    dedupe ``batch`` (id first, typed as in ``cells``) by id, turn it
    into cell rows with ``prepare`` (assign, encode) and replace them
    in through ``_surgical_replace``. A client batch's ids are read on
    the driver: their number is the batch count, and the prepared rows
    feed the cell write directly. Any other batch is counted inside
    the one checkpoint of its prepared rows. Returns ``(n_updated,
    n_added)``."""
    from pyspark.sql import Observation

    idc = batch.columns[0]
    held = _driver_rows(batch.select(F.col(idc).cast("string")))
    if held is None:
        ids = None
        obs = Observation("upsert_batch")
        new_rows = prepare(
            batch.dropDuplicates([idc]).observe(obs, F.count(F.lit(1)).alias("n"))
        ).localCheckpoint(eager=True)
        n_batch = int(obs.get["n"])
    else:
        ids = list(dict.fromkeys(r[0] for r in held))
        if len(ids) < len(held):
            batch = batch.dropDuplicates([idc])
        # one task prepares the client batch (one Python worker per
        # mapInArrow step, not one per slice of the local relation)
        new_rows = prepare(batch.coalesce(1))
        n_batch = len(ids)
    if n_batch == 0:
        return (0, 0)
    n_updated = _surgical_replace(spark, p, sidecar, meta, cells, new_rows, ids)
    return (n_updated, n_batch - n_updated)


def _surgical_replace(
    spark, p: str, sidecar: str, meta: dict, cells: DataFrame, new_rows,
    ids=None,
) -> int:
    """The upsert core of ``ann.ivf_upsert`` / ``pq.ivf_pq_upsert``:
    replace every physical row of ``cells`` (the index's current
    cells, as the caller read them) whose id is in ``new_rows`` with
    the (already cell-assigned, already encoded) ``new_rows``. The
    old rows' cells are found first; those cells' survivors plus ALL
    new rows go through ``_replace_cells``, one file per cell.
    Updated ids leave the tombstone set (an upsert RESURRECTS a
    deleted id — the new row is the only physical row, so the
    id-granular mask ambiguity that blocks plain re-appends does not
    arise). Returns the number of old rows replaced (the other new
    rows are pure adds).

    ``ids``: the batch's distinct ids as a driver list, when the
    caller holds them. Then only the Bloom-positive ids are probed,
    in one pushed ``IN`` probe of the id column that returns their
    cells (an add of new ids probes nothing), and the tombstone
    update runs in Python. ``None``: one semi-join of the id column
    against the batch finds the old rows' cells."""
    idc = _cells_cols(cells)[0]
    sid = F.col(idc).cast("string")
    if ids is None:
        batch_ids = new_rows.select(sid.alias("_up_id"))
        in_batch = sid == F.col("_up_id")
        # no broadcast hint on the batch: an upsert batch is
        # caller-sized — a bulk re-embed can be millions of rows, and
        # a forced broadcast would OOM the driver; AQE broadcasts the
        # small common case on its own. <= one row per touched cell
        old_facts = (
            cells.join(batch_ids, in_batch, "left_semi")
            .groupBy("ivf_cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        touched = {int(r["ivf_cell"]) for r in old_facts}
        n_old = int(sum(r["n"] for r in old_facts))

        def survivors(c):
            return c.join(batch_ids, in_batch, "left_anti")
    else:
        old = _probe_ids(
            cells, idc,
            idguard._bloom_maybe(spark, p, meta.get("id_bloom"), ids),
            "ivf_cell",
        )
        touched = {int(r["ivf_cell"]) for r in old}
        n_old = len(old)
        batch_ids = _id_frame(spark, ids, "_up_id")
        old_ids = {r["_id"] for r in old}

        def survivors(c):
            return c.filter(_outside(sid, old_ids))
    # one task per touched cell -> one data file per cell dir;
    # otherwise every map task of the batch writes its own file into
    # every cell it touches. A client batch that touches no old cell
    # is already one partition, and one task writes one file per cell.
    if touched:
        payload = survivors(
            cells.filter(F.col("ivf_cell").isin(sorted(touched)))
        ).unionByName(new_rows).repartition("ivf_cell")
    elif ids is None:
        payload = new_rows.repartition("ivf_cell")
    else:
        payload = new_rows
    prev = _tombstone_ids(p, meta)
    if prev:
        # bounded by the tombstone set
        back = (
            set(prev) & set(ids)
            if ids is not None
            else {r["_id"] for r in _probe_ids(batch_ids, "_up_id", prev)}
        )
        if back:
            still = [t for t in prev if t not in back]
            if still:
                _record_tombstones(
                    p, sidecar, meta, _id_frame(spark, still, "_ts_id")
                )
            else:
                meta.pop("tombstones")
    _replace_cells(p, sidecar, meta, payload, touched, batch_ids)
    return n_old
