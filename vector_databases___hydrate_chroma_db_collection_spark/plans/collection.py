"""Vector collections as managed Parquet datasets.

The reference's storage is a Chroma ``PersistentClient`` directory
with a named collection created via ``get_or_create_collection``
(reference sas:126-132) and whose only observable is ``count()``
(sas:134, 193). Our collection is:

- a directory of Parquet files in the canonical schema
  ``(id STRING, document STRING, embedding ARRAY<FLOAT>,
  metadata MAP<STRING,STRING>)`` (SURVEY.md §1.3), and
- a ``_manifest.json`` carrying (name, dim, metric, created_at).

Parquet keeps the collection scannable by the full relational engine
(filter/join/aggregate over collections come free); distance metric
and dimension live in the manifest so readers can validate. Writes
are distributed partition-level appends — at 100 TB the collection is
just a partitioned table, not a driver-held object. An optional live
Chroma mirror sink is in ``operators/hydrate.py``.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    CollectionNotFoundError,
    EngineError,
    InvalidPathError,
)

MANIFEST_NAME = "_manifest.json"
DATA_DIR = "data"
CURRENT_POINTER = "_current"
RETAINED_MARKER = "_retained"


@dataclass(frozen=True)
class CollectionManifest:
    """``n_buckets`` selects the BUCKETED layout: data files are
    hive-partitioned by ``id_bucket = pmod(xxhash64(id), n_buckets)``
    so point lookups and upserts prune to the buckets they touch —
    an upsert rewrites only the affected buckets instead of the whole
    collection (the difference between rewriting ~1/n_buckets of
    100 TB and all of it). ``None`` keeps the flat layout whose
    rewrites swap the whole data dir via the ``_current`` pointer."""

    name: str
    dim: int
    metric: str = "cosine"
    version: int = 1
    n_buckets: int | None = None
    # Collection-level metadata (Chroma ``collection.metadata``):
    # free-form, persisted in the manifest JSON; absent in manifests
    # written before this field existed (default keeps them loading).
    metadata: dict | None = None

    def path(self, root: str) -> str:
        return os.path.join(root, self.name)


def validate_name(name: str) -> str:
    """Collection names are single path components INSIDE the root.
    Without this check, ``os.path.join(root, name)`` with a traversal
    (``../x``) or absolute name escapes the root — and
    ``delete_collection`` would then ``rmtree`` OUTSIDE it. Every
    name-keyed op funnels through ``_manifest_file``, so validating
    here covers create/load/list/delete/modify uniformly."""
    bad = (
        not name
        or name in (".", "..")
        or os.path.isabs(name)
        or "/" in name
        or (os.sep != "/" and os.sep in name)
        or (os.altsep is not None and os.altsep in name)
        or "\x00" in name
    )
    if bad:
        raise InvalidPathError(
            f"invalid collection name {name!r}: must be a single "
            "relative path component (no separators, no '..')"
        )
    return name


def _manifest_file(root: str, name: str) -> str:
    return os.path.join(root, validate_name(name), MANIFEST_NAME)


def validate_path(root: str) -> str:
    """Path validation mirroring the reference's scheme check
    (sas:392-417, 473-498): it accepts `sasserver:` paths only and
    defaults to /tmp. We accept local/absolute paths and strip an
    optional `file:` scheme; anything else is an error."""
    if root.startswith("file:"):
        root = root[len("file:"):]
    if ":" in root.split(os.sep)[0]:
        raise InvalidPathError(f"unsupported path scheme in {root!r}; use a filesystem path")
    if not root:
        raise InvalidPathError("empty collection path")
    return root


def current_data_dir(root: str, name: str) -> str:
    """Resolve the collection's ACTIVE data directory.

    Swaps (compaction, upsert rewrites) never rename the live dir —
    they write a fresh versioned dir (``data-N``) and atomically
    ``os.replace`` the ``_current`` pointer file to name it, the same
    move a table format makes with its manifest (object stores have
    no atomic directory rename either). Readers between the data
    write and the pointer swap still see the old, complete file set;
    a crash at any point leaves the pointer naming a complete dir.
    Collections created before the pointer existed resolve to the
    legacy ``data`` dir.
    """
    root = validate_path(root)  # idempotent; strips a file: scheme
    pointer = os.path.join(root, name, CURRENT_POINTER)
    if os.path.exists(pointer):
        with open(pointer) as f:
            return os.path.join(root, name, f.read().strip())
    return os.path.join(root, name, DATA_DIR)


def swap_data_dir(
    root: str, name: str, staging: str, *, retain: bool = False
) -> str:
    """Atomically make ``staging`` (a fully-written data dir inside
    the collection) the active data dir; returns the retired dir.
    The only mutation visible to readers is one ``os.replace`` of the
    pointer file (atomic on POSIX). By default the old dir is removed
    AFTER the swap — a reader that already resolved it keeps a
    consistent view until its scan finishes (local FS unlink keeps
    open files live). ``retain=True`` keeps the retired dir as a
    readable PREVIOUS VERSION (time travel via
    ``read_collection(version=...)``) until ``vacuum_collection``'s
    horizon sweeps it — the same retention contract as a lakehouse
    VACUUM."""
    import shutil

    root = validate_path(root)
    old = current_data_dir(root, name)
    pointer = os.path.join(root, name, CURRENT_POINTER)
    if retain and os.path.abspath(old) != os.path.abspath(staging):
        # Mark the retiring dir COMMITTED before the swap: it is the
        # currently-active, complete file set, and the marker is what
        # distinguishes a retained readable version from a crashed
        # rewrite's partial staging dir (which never gets one).
        with open(os.path.join(old, RETAINED_MARKER), "w") as f:
            f.write("retained\n")
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        f.write(os.path.basename(staging))
    os.replace(tmp, pointer)
    if not retain and os.path.abspath(old) != os.path.abspath(staging):
        shutil.rmtree(old, ignore_errors=True)
    return old


def collection_versions(root: str, name: str) -> list[tuple[str, bool]]:
    """Readable data-dir versions, oldest-first -> [(dir_name,
    is_active)]. Non-active entries are ONLY dirs carrying the
    committed-retained marker written by a ``retain=True`` swap —
    a crashed rewrite's partial staging dir never gets the marker
    and is never listed (it is vacuum's job to sweep it). A complete
    retained dir from before the marker existed can be re-listed by
    touching ``_retained`` inside it. Versions live until vacuum;
    the active dir is always present."""
    base = os.path.join(validate_path(root), name)
    load_manifest(root, name)
    active = os.path.basename(current_data_dir(root, name))

    def version_key(d: str) -> int:
        if d == DATA_DIR:
            return -1
        try:
            return int(d.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            return -2

    dirs = [
        d
        for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
        and (d == DATA_DIR or d.startswith(DATA_DIR + "-"))
        and version_key(d) >= -1
        and (
            d == active
            or os.path.exists(os.path.join(base, d, RETAINED_MARKER))
        )
    ]
    return [(d, d == active) for d in sorted(dirs, key=version_key)]


def collection_etag(root: str, name: str) -> str:
    """Cheap content-identity tag for the collection's CURRENT state:
    md5 over the active data dir's NAME plus its sorted (relative
    path, size) file listing.

    Why both components: update/delete/upsert rewrites swap the
    ``_current`` pointer to a fresh ``data-N`` dir (name changes even
    when hardlink-cloned untouched buckets keep identical sizes),
    while plain hydration APPENDS add files inside the same dir (the
    listing changes). Either mutation therefore changes the etag —
    which is exactly the invalidation contract persisted ANN index
    sidecars need (``ann.ivf_write``/``pq.ivf_pq_write`` record it;
    the readers re-derive and compare). Driver-side listing only —
    no data is read, cost is one os.walk over file metadata."""
    import hashlib

    data_dir = current_data_dir(root, name)
    if not os.path.isdir(data_dir):
        raise CollectionNotFoundError(
            f"collection {name!r} at {root!r} has no data dir {data_dir!r}"
        )
    entries = []
    for dirpath, _dirnames, filenames in os.walk(data_dir):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            entries.append(
                f"{os.path.relpath(p, data_dir)}:{os.path.getsize(p)}"
            )
    payload = os.path.basename(data_dir) + "\n" + "\n".join(sorted(entries))
    return hashlib.md5(payload.encode()).hexdigest()


def clone_untouched_buckets(
    data_dir: str, staging: str, touched: set[int]
) -> int:
    """Carry every ``id_bucket=N`` partition dir NOT in ``touched``
    forward from the active data dir into a staging dir, by hardlink
    (fallback: copy when the link fails, e.g. cross-device). This is
    what makes bucketed rewrites crash-atomic: the rewrite writes only
    the touched buckets' new data into ``staging``, clones the rest as
    O(files) metadata operations — never a data rewrite — and then the
    ``_current`` pointer swap publishes old-or-new atomically. Removing
    the retired dir only drops link counts, so cloned files survive.
    On an object store the clone becomes a server-side copy of the
    untouched buckets' objects (still no recompute, but O(bytes) for
    the store) — the pointer protocol is unchanged. Returns the number
    of files cloned.
    """
    return _clone_untouched_parts(data_dir, staging, touched, "id_bucket")


def _clone_untouched_parts(
    data_dir: str, staging: str, touched: set[int], column: str
) -> int:
    """``clone_untouched_buckets`` for any int hive partition column
    (``id_bucket`` here, ``ivf_cell`` for the index cells)."""
    import shutil

    if not os.path.isdir(data_dir):
        return 0
    os.makedirs(staging, exist_ok=True)
    cloned = 0
    for d in os.listdir(data_dir):
        if not d.startswith(column + "="):
            continue
        try:
            part = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if part in touched:
            continue
        src = os.path.join(data_dir, d)
        dst = os.path.join(staging, d)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            s = os.path.join(src, f)
            if not os.path.isfile(s):
                continue
            t = os.path.join(dst, f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)
            cloned += 1
    return cloned


def _buckets_for_ids(spark, ids, n_buckets: int) -> list[int]:
    """The distinct bucket set an id list hashes into, computed with
    the layout's own expression over a local Arrow relation — the
    projection is folded on the driver, so no Spark job runs and the
    collection is never scanned; bounded by n_buckets."""
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _id_frame,
    )

    rows = (
        _id_frame(spark, [str(i) for i in ids], "id")
        .select(F.pmod(F.xxhash64("id"), F.lit(n_buckets)).alias("b"))
        .collect()
    )
    return sorted({r["b"] for r in rows})


def next_data_dir(root: str, name: str) -> str:
    """A fresh versioned data-dir path (``data-N``) for rewrites."""
    base = os.path.join(validate_path(root), name)
    versions = [
        int(d.split("-", 1)[1])
        for d in os.listdir(base)
        if d.startswith(DATA_DIR + "-") and d.split("-", 1)[1].isdigit()
    ] if os.path.isdir(base) else []
    return os.path.join(base, f"{DATA_DIR}-{max(versions, default=0) + 1}")


def get_or_create_collection(
    root: str,
    name: str,
    dim: int,
    metric: str = "cosine",
    *,
    n_buckets: int | None = None,
) -> CollectionManifest:
    """Idempotent creation (reference ``get_or_create_collection``,
    sas:132). Existing manifest wins; dim/metric/bucketing mismatches
    raise (re-bucketing an existing collection is a rewrite, not a
    config flip)."""
    root = validate_path(root)
    mf = _manifest_file(root, name)
    if os.path.exists(mf):
        with open(mf) as f:
            existing = CollectionManifest(**json.load(f))
        if (
            existing.dim != dim
            or existing.metric != metric
            or (n_buckets is not None and existing.n_buckets != n_buckets)
        ):
            raise InvalidPathError(
                f"collection {name!r} exists with dim={existing.dim}, "
                f"metric={existing.metric}, n_buckets={existing.n_buckets}; "
                f"requested dim={dim}, metric={metric}, n_buckets={n_buckets}"
            )
        return existing
    manifest = CollectionManifest(name=name, dim=dim, metric=metric, n_buckets=n_buckets)
    os.makedirs(os.path.join(root, name, DATA_DIR), exist_ok=True)
    _write_manifest(root, name, manifest)
    return manifest


def create_collection(
    root: str,
    name: str,
    dim: int,
    metric: str = "cosine",
    *,
    n_buckets: int | None = None,
) -> CollectionManifest:
    """Chroma ``client.create_collection`` semantics: STRICT creation
    — an existing collection of the same name is an error even when
    every parameter matches (use ``get_or_create_collection`` for
    the reference's idempotent path, sas:132)."""
    root = validate_path(root)
    if os.path.exists(_manifest_file(root, name)):
        raise InvalidPathError(
            f"collection {name!r} already exists under {root!r}; "
            "use get_or_create_collection for idempotent creation"
        )
    return get_or_create_collection(
        root, name, dim, metric, n_buckets=n_buckets
    )


def list_collections(root: str) -> list[CollectionManifest]:
    """Chroma ``client.list_collections``: every collection under the
    root (a directory carrying a readable manifest), name-sorted.
    Driver-side directory listing only — no data touched, no Spark
    session needed. Non-collection directories (no manifest, corrupt
    manifest) are skipped, not errors: the root is shared space."""
    root = validate_path(root)
    if not os.path.isdir(root):
        return []
    out = []
    for entry in sorted(os.listdir(root)):
        if not os.path.isdir(os.path.join(root, entry)):
            continue
        try:
            out.append(load_manifest(root, entry))
        except Exception:  # noqa: BLE001 - non-collections are skipped
            continue
    return out


def delete_collection(root: str, name: str) -> None:
    """Chroma ``client.delete_collection``: remove the collection —
    manifest, every data-dir version, persisted index sidecars —
    irreversibly. Missing collection raises (Chroma errors too).
    The manifest is unlinked FIRST so a crash mid-delete leaves a
    directory that ``list_collections``/``load_manifest`` already
    refuse, never a half-readable collection."""
    import shutil

    root = validate_path(root)
    base = os.path.join(root, name)
    mf = _manifest_file(root, name)
    if not os.path.exists(mf):
        raise CollectionNotFoundError(f"no collection {name!r} under {root}")
    os.remove(mf)
    shutil.rmtree(base, ignore_errors=True)


def modify_collection(
    root: str,
    name: str,
    *,
    new_name: str | None = None,
    metadata: dict | None = None,
) -> CollectionManifest:
    """``collection.modify(name=..., metadata=...)``: rename the
    collection and/or replace its collection-level metadata. A rename
    moves the collection directory (data + manifest travel together,
    so readers holding the old path fail fast rather than reading a
    half-moved tree); metadata replaces wholesale, matching Chroma.
    """
    root = validate_path(root)
    manifest = load_manifest(root, name)
    if new_name is not None and new_name != name:
        target = os.path.join(root, validate_name(new_name))
        if os.path.exists(target):
            raise InvalidPathError(f"collection {new_name!r} already exists")
        # Crash-safety: the dir move is the commit point. If we die
        # before the manifest rewrite below, load_manifest's
        # dir-name-is-canonical override keeps the renamed collection
        # readable; the manifest write itself is atomic.
        os.rename(os.path.join(root, name), target)
        manifest = CollectionManifest(**{**asdict(manifest), "name": new_name})
        name = new_name
    if metadata is not None:
        manifest = CollectionManifest(**{**asdict(manifest), "metadata": metadata})
    _write_manifest(root, name, manifest)
    return manifest


def _write_manifest(root: str, name: str, manifest: CollectionManifest) -> None:
    """Atomic manifest write (tmp + os.replace, same protocol as the
    data-dir pointer): a crash mid-write can never leave truncated
    JSON that would brick every subsequent operation."""
    mf = _manifest_file(root, name)
    tmp = mf + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(manifest), f)
    os.replace(tmp, mf)


def load_manifest(root: str, name: str) -> CollectionManifest:
    mf = _manifest_file(validate_path(root), name)
    if not os.path.exists(mf):
        raise CollectionNotFoundError(f"no collection {name!r} under {root}")
    with open(mf) as f:
        manifest = CollectionManifest(**json.load(f))
    if manifest.name != name:
        # The DIRECTORY is canonical: a rename moves the dir first and
        # rewrites the manifest second, so a crash in between leaves a
        # stale name field. Overriding here makes every path
        # resolution (current_data_dir etc.) follow the directory the
        # manifest actually lives in — the half-renamed collection
        # stays fully readable and the next manifest write heals it.
        manifest = CollectionManifest(**{**asdict(manifest), "name": name})
    return manifest


def read_collection(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    include_bucket: bool = False,
    version: str | None = None,
) -> DataFrame:
    """Scan a collection as a DataFrame (the reference can only
    count, sas:134; we get the whole relational surface). The
    canonical 4-column shape is returned regardless of layout;
    ``include_bucket=True`` keeps a bucketed collection's
    ``id_bucket`` partition column so callers can write plans that
    prune buckets (filters on it skip whole hive partitions).
    ``version`` time-travels to a retained previous data dir (a
    dir name from ``collection_versions``); versions exist after
    ``retain_previous=True`` rewrites and until vacuum."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        read_parquet,
    )

    manifest = load_manifest(root, name)
    if version is None:
        data_dir = current_data_dir(root, manifest.name)
    else:
        data_dir = os.path.join(validate_path(root), manifest.name, version)
        known = {d for d, _ in collection_versions(root, manifest.name)}
        if version not in known or not os.path.isdir(data_dir):
            raise EngineError(
                f"unknown collection version {version!r}; "
                f"available: {sorted(known)}"
            )
    df = read_parquet(spark, data_dir)
    if manifest.n_buckets and not include_bucket:
        df = df.select("id", "document", "embedding", "metadata")
    return df


def collection_count(spark: SparkSession, root: str, name: str) -> int:
    """Reference's count() observable (sas:134, 193), summed from the
    Parquet footers of the current data dir on the driver — no Spark
    job. Footer-exact, not an estimate: the engine never writes
    deletion vectors or any other row-level mask, so every delete and
    upsert rewrites the affected files and every footer row is a live
    row. An empty collection (no data file yet) counts 0."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _parquet_rows,
    )

    manifest = load_manifest(root, name)
    return _parquet_rows(current_data_dir(root, manifest.name))


def compact_collection(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    target_partitions: int | None = None,
    retain_previous: bool = False,
) -> int:
    """Rewrite a collection's data into ``target_partitions`` files.

    Streaming hydration appends one file set per micro-batch; over
    time the collection accumulates many small files and scan
    planning degrades. Compaction reads the current data, coalesces
    into a fresh versioned dir, and swaps the ``_current`` pointer
    with one atomic ``os.replace`` — readers mid-swap see either the
    old or new complete file set, never a mix, and a crash at any
    point leaves the pointer naming a complete dir (a stale staging
    dir is garbage-collected by the next rewrite, never data loss).
    Returns the row count (which must be preserved).
    """
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _parquet_rows,
        read_parquet,
    )

    manifest = load_manifest(root, name)
    data_dir = current_data_dir(root, manifest.name)
    staging = next_data_dir(root, manifest.name)

    df = read_parquet(spark, data_dir)
    n_before = _parquet_rows(data_dir)
    parts = target_partitions or max(1, spark.sparkContext.defaultParallelism // 4)
    if manifest.n_buckets:
        # Preserve the bucketed layout: cluster by bucket so each hive
        # partition compacts to few files (pruning survives compaction).
        df.repartition(parts, "id_bucket").write.mode("overwrite").partitionBy(
            "id_bucket"
        ).parquet(staging)
    else:
        df.repartition(parts).write.mode("overwrite").parquet(staging)
    swap_data_dir(root, manifest.name, staging, retain=retain_previous)

    n_after = _parquet_rows(current_data_dir(root, manifest.name))
    if n_after != n_before:  # pragma: no cover - safety net
        raise EngineError(
            f"compaction row-count drift: {n_before} -> {n_after} in {name!r}"
        )
    return n_after


def export_collection(
    spark: SparkSession,
    root: str,
    name: str,
    dest: str,
    *,
    include_indexes: list[str] | None = None,
) -> str:
    """Export a collection to a SELF-CONTAINED portable snapshot dir:
    ``dest/_manifest.json`` + ``dest/data/*.parquet`` in the
    canonical flat 4-column schema. The Chroma analogue is copying a
    PersistentClient directory to ship a hydrated store to another
    host (the reference's persistentPath IS such a directory,
    sas:126-131); ours is engine-portable parquet, so the snapshot is
    readable by anything that reads parquet — no manifest pointer,
    no bucket dirs, no version history (a snapshot is one version by
    definition).

    The data copy is a distributed Spark write (scan -> write, fully
    partition-parallel, no driver materialization), NOT a file copy:
    it resolves the ``_current`` pointer once, so a concurrent
    upsert/compaction swap mid-export still yields a CONSISTENT
    snapshot of whichever version the export started from. Returns
    ``dest``.

    ``include_indexes``: names of persisted-index directories INSIDE
    the collection dir (e.g. ``["_ivf", "_bands"]``) to ship with the
    snapshot under ``dest/indexes/<name>`` — without this, a moved
    collection strands its indexes (their etag fences correctly
    refuse to serve under the importing collection, so every index
    must be rebuilt from scratch). Index dirs are copied
    byte-identically at the FILE level (versioned data dirs, JSON
    sidecars, Bloom binaries, append recordings): unlike collection
    data, an index's bucketed/cell layout IS its serving contract,
    and a Spark rewrite would have to re-derive it; at cluster scale
    substitute a parallel copier (DistCp-shaped) for the same
    byte-preserving contract. Copies assume no concurrent WRITER on
    the index (the same caveat every file-level snapshot has);
    ``import_collection`` re-stamps the shipped sidecars to the
    imported collection."""
    manifest = load_manifest(root, name)
    dest = validate_path(dest)
    os.makedirs(dest, exist_ok=True)
    df = read_collection(spark, root, name)  # resolves pointer ONCE
    df.write.mode("overwrite").parquet(os.path.join(dest, DATA_DIR))
    if include_indexes:
        import shutil

        from vector_databases___hydrate_chroma_db_collection_spark.errors import (
            StaleIndexError,
        )
        from vector_databases___hydrate_chroma_db_collection_spark.operators.idguard import (
            _SIDECARS,
        )
        from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
            _source_stamp,
            read_sidecar,
        )

        cur_etag = None
        for idx_name in include_indexes:
            validate_name(idx_name)
            src = os.path.join(root, name, idx_name)
            if not os.path.isdir(src):
                raise InvalidPathError(
                    f"include_indexes entry {idx_name!r}: no index "
                    f"directory at {src!r}"
                )
            # Gate BEFORE shipping: the import re-stamps sidecars
            # unconditionally, so exporting a STALE index (collection
            # mutated since its stamp) would launder it into a
            # 'verified' one serving deleted/replaced rows under the
            # imported collection — exactly what the etag fence
            # exists to refuse. Refuse at the source instead.
            for sc in _SIDECARS:
                if not os.path.exists(os.path.join(src, sc)):
                    continue
                stamp = read_sidecar(src, sc).get("source")
                if stamp is None:
                    continue  # unstamped index: ships as-is
                if stamp.get("name") != name:
                    raise StaleIndexError(
                        f"index {idx_name!r} is stamped to collection "
                        f"{stamp.get('name')!r}, not the exported "
                        f"{name!r}; refusing to ship it"
                    )
                if cur_etag is None:
                    cur_etag = _source_stamp((root, name))["etag"]
                if stamp.get("etag") != cur_etag:
                    raise StaleIndexError(
                        f"index {idx_name!r} ({sc}) is STALE against "
                        f"the exported collection (stamped etag "
                        f"{str(stamp.get('etag'))[:12]!r} != current "
                        f"{cur_etag[:12]!r}): shipping it would let "
                        "the import re-stamp deleted/replaced rows "
                        "fresh — refresh or rebuild the index first"
                    )
            dst = os.path.join(dest, "indexes", idx_name)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            shutil.copytree(src, dst)
    snap = CollectionManifest(
        **{**asdict(manifest), "version": 1, "n_buckets": None}
    )
    tmp = os.path.join(dest, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(asdict(snap), f)
    os.replace(tmp, os.path.join(dest, MANIFEST_NAME))
    return dest


def import_collection(
    spark: SparkSession,
    snapshot: str,
    root: str,
    *,
    name: str | None = None,
    n_buckets: int | None = None,
) -> CollectionManifest:
    """Import an ``export_collection`` snapshot as a NEW collection
    under ``root`` (errors if the target name already exists — import
    never silently merges into live data). ``name`` defaults to the
    snapshot's recorded name; ``n_buckets`` re-buckets on ingest
    (recomputing ``id_bucket`` from the ids), so a flat snapshot can
    land as a bucketed collection ready for pruned upserts. The data
    load is a distributed scan -> write into the fresh collection's
    data dir, then the standard atomic pointer swap publishes it.

    Indexes the export shipped (``<snapshot>/indexes/*``, see
    ``export_collection(include_indexes=...)``) are installed into
    the new collection dir and their sidecars RE-STAMPED to the
    imported collection's identity and CURRENT etag — after which
    every etag-fenced reader (``ivf_read``, ``band_index_read``, the
    kNN/novelty serving paths) accepts them with ZERO rebuild. The
    re-stamp runs AFTER the data swap publishes, so the recorded etag
    is exactly what readers re-derive; only sidecars that carried a
    source stamp are touched (unstamped indexes ship as-is), and the
    stamp rewrite uses the same atomic temp+fsync+rename commit as
    every index mutation."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        read_parquet,
    )

    snapshot = validate_path(snapshot)
    mf_path = os.path.join(snapshot, MANIFEST_NAME)
    if not os.path.exists(mf_path):
        raise CollectionNotFoundError(
            f"no snapshot manifest at {mf_path!r}; not an exported snapshot"
        )
    with open(mf_path) as f:
        snap = CollectionManifest(**json.load(f))
    target = name or snap.name
    if os.path.exists(_manifest_file(root, target)):
        raise InvalidPathError(
            f"collection {target!r} already exists under {root!r}; "
            "import refuses to overwrite live data"
        )
    # Pre-check EVERY shipped index's target dir BEFORE any publish:
    # failing on the Nth index after the data swap would strand a
    # published collection with a partial index set and no retry path
    # (a re-import then refuses on the collection itself).
    idx_root = os.path.join(snapshot, "indexes")
    if os.path.isdir(idx_root):
        for idx_name in sorted(os.listdir(idx_root)):
            dst = os.path.join(root, target, idx_name)
            if os.path.exists(dst):
                raise InvalidPathError(
                    f"import target already holds an index dir {dst!r}; "
                    "refusing to overwrite"
                )
    manifest = get_or_create_collection(
        root, target, snap.dim, snap.metric, n_buckets=n_buckets
    )
    if snap.metadata:
        manifest = modify_collection(root, target, metadata=snap.metadata)
    df = read_parquet(spark, os.path.join(snapshot, DATA_DIR)).select(
        "id", "document", "embedding", "metadata"
    )
    staging = next_data_dir(root, target)
    if n_buckets:
        from pyspark.sql import functions as F

        df.withColumn(
            "id_bucket", F.pmod(F.xxhash64("id"), F.lit(n_buckets))
        ).write.mode("overwrite").partitionBy("id_bucket").parquet(staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    swap_data_dir(root, target, staging)
    _install_snapshot_indexes(snapshot, root, target)
    return manifest


def _install_snapshot_indexes(snapshot: str, root: str, target: str) -> None:
    """Copy every index the snapshot shipped into the imported
    collection's directory and re-stamp stamped sidecars to
    ``(root, target)`` + the collection's CURRENT etag. File-level
    copy for the same reason the export is (layout IS the serving
    contract); the sidecar rewrite is last and atomic, so a crash
    mid-install leaves either no sidecar pointer change or a fully
    re-stamped index — never a stamped index over half-copied data
    (the copy completes before any stamp is touched)."""
    import shutil

    from vector_databases___hydrate_chroma_db_collection_spark.operators.idguard import (
        _SIDECARS,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _atomic_sidecar_write,
        _source_stamp,
        read_sidecar,
    )

    idx_root = os.path.join(snapshot, "indexes")
    if not os.path.isdir(idx_root):
        return
    for idx_name in sorted(os.listdir(idx_root)):
        src = os.path.join(idx_root, idx_name)
        if not os.path.isdir(src):
            continue
        dst = os.path.join(root, target, idx_name)
        if os.path.exists(dst):
            raise InvalidPathError(
                f"import target already holds an index dir {dst!r}; "
                "refusing to overwrite"
            )
        # read (and format-check) before copying: an index of another
        # format refuses without leaving a half-installed copy
        metas = {
            sc: read_sidecar(src, sc)
            for sc in _SIDECARS
            if os.path.exists(os.path.join(src, sc))
        }
        shutil.copytree(src, dst)
        for sc, meta in metas.items():
            if meta.get("source") is not None:
                meta["source"] = _source_stamp((root, target))
                _atomic_sidecar_write(dst, sc, meta)


def vacuum_collection(
    root: str, name: str, *, older_than_s: float = 3600.0, keep_last: int = 0
) -> list[str]:
    """Remove orphaned data dirs: versioned ``data-N`` dirs that are
    not the active one. The pointer-swap protocol deletes the retired
    dir after each successful swap, so orphans only appear when a
    rewrite CRASHED between writing its staging dir and swapping the
    pointer — this is the janitor for those — or when a swap was made
    with ``retain=True`` (time-travel versions, which live until this
    vacuum's retention policy sweeps them). The active dir (and the
    legacy ``data`` dir while it is active) is never touched; the
    pointer file is the single source of truth, so vacuuming while
    readers stream the ACTIVE dir is safe. Returns the removed paths.

    ``older_than_s`` is the concurrency guard: only dirs whose mtime
    is at least that old are removed, so a LIVE rewrite that has
    written its staging dir but not yet swapped the pointer is not
    swept out from under it (a staging dir that sits unswapped for an
    hour is a crash, not a slow job — raise the horizon if rewrites
    can legitimately run longer). The same horizon gates the stale
    pointer tmp file. Concurrent WRITERS remain externally
    coordinated, as everywhere in this layout.

    ``keep_last`` is the RETENTION policy for time-travel versions:
    the newest ``keep_last`` committed-retained versions (the ones
    ``collection_versions`` lists) survive regardless of age — the
    lakehouse ``VACUUM ... RETAIN`` contract. Crash orphans carry no
    retained marker and are never protected by it.
    """
    import shutil
    import time

    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    root = validate_path(root)
    load_manifest(root, name)  # typed error for unknown collections
    base = os.path.join(root, name)
    active = os.path.abspath(current_data_dir(root, name))
    retained = [d for d, is_active in collection_versions(root, name) if not is_active]
    protected = set(retained[-keep_last:]) if keep_last > 0 else set()
    horizon = time.time() - older_than_s
    removed = []
    for d in os.listdir(base):
        full = os.path.join(base, d)
        if not os.path.isdir(full) or os.path.abspath(full) == active:
            continue
        if d in protected:
            continue
        if d == DATA_DIR or d.startswith(DATA_DIR + "-"):
            try:
                if os.path.getmtime(full) > horizon:
                    continue
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    stale_tmp = os.path.join(base, CURRENT_POINTER + ".tmp")
    try:
        if os.path.exists(stale_tmp) and os.path.getmtime(stale_tmp) <= horizon:
            os.remove(stale_tmp)
    except OSError:
        pass
    return removed


def register_collection_view(
    spark: SparkSession, root: str, name: str, view_name: str | None = None
) -> str:
    """Expose a collection to spark.sql as a temp view (the catalog
    step the reference delegates to Chroma's client API)."""
    view = view_name or f"collection_{name}"
    read_collection(spark, root, name).createOrReplaceTempView(view)
    return view
