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
"""

from __future__ import annotations

import json
import os

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    StaleIndexError,
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
