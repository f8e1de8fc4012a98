"""Chroma's client API over managed collections.

The reference only ever WRITES a collection (``collection.add``,
sas:177-190) and counts it (sas:134,193); retrieval is delegated to
Chroma's client API out of band (motivated but never implemented —
reference README.md:5). A user switching from the reference's Chroma
store to this engine still needs that client surface, so this module
re-expresses it Spark-first over the managed Parquet layout:

- ``collection_query``  = ``collection.query(query_embeddings=...,
  n_results=k, where=..., where_document=...)`` — filtered top-k
  similarity. The metadata/document predicates are compiled to native
  Column expressions and applied BEFORE the distance math
  (pre-filtering, the recall-exact strategy), so Catalyst prunes the
  scan first and the distance expression + TakeOrderedAndProject run
  only on survivors. No shuffle, no Python.
- ``collection_get``    = ``collection.get(ids=..., where=...,
  limit=..., offset=...)`` — point/paged reads. On a bucketed layout
  an id-list lookup filters on the ``id_bucket`` hive-partition
  column, so the scan prunes to the O(|ids|) buckets the ids hash
  into — a point read touches ~1/n_buckets of a 100 TB collection.
- ``collection_add`` / ``collection_upsert`` / ``collection_update``
  / ``collection_delete`` = Chroma's four write calls, each keeping
  the persisted indexes at its ``index_paths`` servable.

Write path. Every write door, and each batch of the CDC loop
(``streaming/cdc_stream.py``), runs the same steps:

1. ``_index_targets`` lists each ``index_paths`` entry once and,
   before any write, refuses a path that holds none of
   ``ivf_index.json`` / ``ivf_pq_index.json`` / ``band_index.json``
   (several may share a directory), or that holds a graph index,
   which no write door maintains.
2. The collection commits: hydrate's append, or the atomic swap of
   the ``_current`` pointer to a fresh versioned dir. Readers see the
   collection before the write or after it, never in between.
3. Each index then takes the change and is re-stamped to the new
   collection etag: inserts through ``_indexes_insert``, deletes as
   tombstones, updates as a surgical cell upsert or a band text
   apply / deferral; an index whose content the write left valid is
   only re-stamped. With no ``index_paths`` a door is the plain
   collection write.

``fence`` picks the etag each index mutation expects the index to
record. ``"collection"`` (default) pins it to the collection etag
read before step 2, so a foreign mutation since the index's last
stamp raises ``StaleIndexError``. ``"recorded"`` pins it to the etag
the index itself records. That exists for WAL-recorded replays (the
CDC loop): a retry after a crash between steps 2 and 3 finds the
collection etag moved by its own first attempt, so the default
fence would refuse forever. Self-fencing is sound ONLY when the
caller serializes all writers and holds a durable record proving
the retried write identical to the crashed one (the CDC WAL's
content-qualified tag).

Crash posture: a crash between the collection commit and an index's
commit leaves that index honestly stale — its fence refuses to
serve, so it never serves rows the collection no longer holds. Heal
it by re-running the index mutation (``ivf_delete`` /
``ivf_upsert`` with the same rows) or rebuilding it; the CDC loop's
replay heals it with ``fence="recorded"``.

``where`` compilation covers Chroma's documented operator set
(implicit equality, ``$eq/$ne/$gt/$gte/$lt/$lte/$in/$nin``, and
``$and/$or`` composition); document predicates cover ``$contains`` /
``$not_contains``. Values stored in the canonical
``MAP<STRING,STRING>`` metadata compare numerically when the query
literal is numeric (``try_cast`` to double), string-wise otherwise —
matching how Chroma compares typed metadata. Negations follow
current Chroma (0.4.x+) set-complement semantics: ``$ne``/``$nin``
DO match documents that lack the key entirely (they are "everything
not matching ``$eq``/``$in``"), while every positive operator
requires the key to be present.

Validation is deliberately more lenient than Chroma's: a key spec
with several operators (``{"k": {"$gte": 1, "$lte": 5}}``) and
``$and``/``$or`` mixed with plain keys at the same level — shapes
Chroma rejects client-side — compile here to the obvious AND of
clauses instead of erroring. Filters valid in Chroma behave
identically; this engine just accepts a superset.
"""

from __future__ import annotations

import numbers
import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import EngineError
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _cells_cols,
    _local_sidecar_path,
    _outside,
    _read_cells,
    read_sidecar,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    _buckets_for_ids,
    clone_untouched_buckets,
    collection_etag,
    current_data_dir,
    load_manifest,
    next_data_dir,
    read_collection,
    swap_data_dir,
)

_CMP_OPS = ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin")


def _is_num(v) -> bool:
    return isinstance(v, numbers.Number) and not isinstance(v, bool)


def _value_col(key: str, numeric: bool) -> Column:
    v = F.col("metadata")[key]
    return v.try_cast("double") if numeric else v


def _lit(v) -> Column:
    return F.lit(float(v)) if _is_num(v) else F.lit(v)


def _compile_cmp(key: str, op: str, v) -> Column:
    if op in ("$in", "$nin"):
        if not isinstance(v, (list, tuple)) or not v:
            raise EngineError(f"{op} on {key!r} needs a non-empty list")
        numeric = all(_is_num(x) for x in v)
        col = _value_col(key, numeric)
        hit = col.isin([float(x) if numeric else x for x in v])
        # $nin is the set complement of $in (current Chroma semantics):
        # it also matches docs where the key is missing or the value
        # fails the numeric cast — coalesce turns that NULL into a hit.
        return hit if op == "$in" else F.coalesce(~hit, F.lit(True))
    numeric = _is_num(v)
    col, lit = _value_col(key, numeric), _lit(v)
    if op == "$eq":
        return col == lit
    if op == "$ne":
        # complement of $eq — matches missing keys too (see module doc)
        return F.coalesce(col != lit, F.lit(True))
    if op == "$gt":
        return col > lit
    if op == "$gte":
        return col >= lit
    if op == "$lt":
        return col < lit
    if op == "$lte":
        return col <= lit
    raise EngineError(f"unsupported where operator {op!r}")


def compile_where(where: dict) -> Column:
    """Chroma ``where`` dict -> one boolean Column (codegen-friendly:
    plain map lookups, casts and comparisons — no UDFs)."""
    if not isinstance(where, dict) or not where:
        raise EngineError("where must be a non-empty dict")
    clauses: list[Column] = []
    for key, spec in where.items():
        if key in ("$and", "$or"):
            if not isinstance(spec, (list, tuple)) or len(spec) < 2:
                raise EngineError(f"{key} needs a list of >=2 clauses")
            parts = [compile_where(s) for s in spec]
            combined = parts[0]
            for p in parts[1:]:
                combined = (combined & p) if key == "$and" else (combined | p)
            clauses.append(combined)
        elif isinstance(spec, dict):
            if not spec:
                raise EngineError(
                    f"where key {key!r} has an empty operator dict"
                )
            for op, v in spec.items():
                clauses.append(_compile_cmp(key, op, v))
        else:
            clauses.append(_compile_cmp(key, "$eq", spec))
    out = clauses[0]
    for c in clauses[1:]:
        out = out & c
    return out


def compile_where_document(where_document: dict) -> Column:
    """Chroma ``where_document`` -> Column over the ``document`` text."""
    if not isinstance(where_document, dict) or len(where_document) != 1:
        raise EngineError("where_document must be a single-operator dict")
    [(op, v)] = where_document.items()
    if op == "$contains":
        return F.col("document").contains(v)
    if op == "$not_contains":
        return ~F.col("document").contains(v)
    raise EngineError(f"unsupported where_document operator {op!r}")


def _filtered(
    df: DataFrame,
    ids: list[str] | None,
    where: dict | None,
    where_document: dict | None,
) -> DataFrame:
    if ids is not None:
        df = df.filter(F.col("id").isin([str(i) for i in ids]))
    if where is not None:
        df = df.filter(compile_where(where))
    if where_document is not None:
        df = df.filter(compile_where_document(where_document))
    return df


def _prune_buckets_for_ids(
    spark: SparkSession, df: DataFrame, ids: list[str], n_buckets: int
) -> DataFrame:
    """Static partition pruning for an id-list lookup: filter the
    hive-partition column to the ids' bucket set (a literal IN-list,
    so the scan skips every other bucket dir)."""
    return df.filter(
        F.col("id_bucket").isin(_buckets_for_ids(spark, ids, n_buckets))
    )


_INCLUDE_MAP = {
    "documents": "document",
    "embeddings": "embedding",
    "metadatas": "metadata",
}


def _parse_include(
    include, *, default: tuple, distances_ok: bool = False
) -> tuple[list[str], bool]:
    """Chroma's literal ``include=[...]`` parameter -> (payload
    columns in canonical order, want_distance). ids always return —
    exactly Chroma's contract. Unknown entries raise; ``uris``/
    ``data`` (Chroma's multimodal loader fields) raise a typed
    not-supported error; ``distances`` is only legal where a query
    vector exists (``query``, not ``get``/``peek``)."""
    if include is None:
        include = list(default)
    want_distance = False
    cols = set()
    for item in include:
        if item == "distances":
            if not distances_ok:
                raise EngineError(
                    "include=['distances'] is only valid on query "
                    "(get/peek have no query vector to measure from)"
                )
            want_distance = True
        elif item in _INCLUDE_MAP:
            cols.add(_INCLUDE_MAP[item])
        elif item in ("uris", "data"):
            raise EngineError(
                f"include={item!r}: Chroma's multimodal loader fields "
                "are not supported by this engine (store binary "
                "payloads in a multimodal column instead)"
            )
        else:
            raise EngineError(
                f"unknown include entry {item!r}: expected "
                "documents/embeddings/metadatas"
                + ("/distances" if distances_ok else "")
            )
    ordered = [
        c for c in ("document", "embedding", "metadata") if c in cols
    ]
    return ordered, want_distance


def collection_get(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    ids: list[str] | None = None,
    where: dict | None = None,
    where_document: dict | None = None,
    limit: int | None = None,
    offset: int = 0,
    include: list[str] | None = None,
) -> DataFrame:
    """``collection.get``: rows in canonical schema, id-ordered when
    paginating. ``include=[...]`` is Chroma's literal
    caller-controlled column set (default ``["documents",
    "metadatas"]`` — Chroma's get default; pass ``"embeddings"`` to
    add the vector column); ids always return.

    Pagination (limit/offset) sorts by id and keeps ``offset+limit``
    rows via TakeOrderedAndProject (driver-bounded by the page end,
    never a full global sort); unpaginated gets stream unordered.
    """
    payload, _ = _parse_include(
        include, default=("documents", "metadatas")
    )
    manifest = load_manifest(root, name)
    df = read_collection(spark, root, name, include_bucket=bool(manifest.n_buckets))
    if ids is not None and manifest.n_buckets:
        df = _prune_buckets_for_ids(spark, df, ids, manifest.n_buckets)
    df = _filtered(df, ids, where, where_document).select("id", *payload)
    if limit is None and offset == 0:
        return df
    if limit is None:
        raise EngineError("offset requires limit (unbounded offset pages are a scan)")
    page_end = offset + limit
    head = df.orderBy("id").limit(page_end)
    if offset == 0:
        return head
    from pyspark.sql import Window

    w = Window.orderBy("id")  # head is <= page_end rows: single-task window is fine
    return (
        head.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > offset)
        .drop("_rn")
    )


def collection_peek(
    spark: SparkSession,
    root: str,
    name: str,
    n: int = 10,
    *,
    include: list[str] | None = None,
) -> DataFrame:
    """``collection.peek``: the first ``n`` rows by id INCLUDING the
    embedding column (Chroma's peek default include-set); narrow or
    reorder with the literal ``include=[...]``. TakeOrderedAndProject
    — never a full sort."""
    payload, _ = _parse_include(
        include, default=("documents", "embeddings", "metadatas")
    )
    df = read_collection(spark, root, name)
    return df.orderBy("id").limit(n).select("id", *payload)


def collection_query(
    spark: SparkSession,
    root: str,
    name: str,
    query_vector: list[float],
    n_results: int = 10,
    *,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
    include: list[str] | None = None,
) -> DataFrame:
    """``collection.query`` for one query embedding: pre-filter by
    metadata/document predicates, then exact top-k by the manifest's
    metric. Plan: Scan -> Filter (pushed ahead of the distance
    expression) -> Project(score) -> TakeOrderedAndProject. Returns
    ``(id, document, metadata, score)`` best-first.

    ``include=[...]`` is Chroma's literal caller-controlled column
    set: any of ``documents``/``embeddings``/``metadatas``/
    ``distances`` (default documents+metadatas — Chroma's query
    default); it controls the payload columns and ORs its
    ``distances`` entry with ``include_distance``. ``score`` always
    returns (it is this engine's rank key), ids always return.

    NOTE on ``score`` vs Chroma: ``score`` is metric-native — cosine /
    dot SIMILARITY (higher is better), L2 distance (lower is better) —
    whereas ``collection.query`` in Chroma always returns DISTANCES
    ascending (cosine distance = 1 − similarity, ip distance =
    1 − dot, l2 = SQUARED Euclidean). Thresholds ported from Chroma
    should set ``include_distance=True``, which appends a ``distance``
    column in exactly those Chroma conventions (rank order is the
    same either way; ``score_decimals`` rounding applies to ``score``
    only, ``distance`` derives from the unrounded value).

    Batch query sets should use ``operators.knn.knn_join`` /
    ``knn_join_gemm`` on ``read_collection`` output instead — this is
    the interactive single-query path (shuffle-free).
    """
    payload, want_d = _parse_include(
        include, default=("documents", "metadatas"), distances_ok=True
    )
    manifest, df = _query_prologue(
        spark, root, name, [query_vector], where, where_document
    )
    return _serve_topk(
        df,
        manifest.metric,
        query_vector,
        n_results,
        score_decimals=score_decimals,
        include_distance=include_distance or want_d,
        payload_cols=tuple(payload),
    )


def _distance(metric: str, raw: Column) -> Column:
    """Chroma's distance for a metric-native score (hnswlib spaces):
    cosine -> 1 - similarity, ip -> 1 - dot, l2 -> squared L2."""
    return raw * raw if metric == "l2" else F.lit(1.0) - raw


def _serve_topk(
    df,
    metric: str,
    query_vector: list[float],
    n_results: int,
    *,
    score_decimals: int | None,
    include_distance: bool,
    payload_cols: tuple = ("document", "metadata"),
) -> DataFrame:
    """Shared exact-rerank tail of the single-query paths
    (``collection_query``'s full scan and the filtered ANN doors'
    candidates): Project(score) -> TakeOrderedAndProject,
    metric-native ``score`` plus optional Chroma-convention
    ``distance``. ``payload_cols`` is the include-resolved column
    set between ``id`` and ``score``."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        _score_vs_literal,
    )

    raw, asc = _score_vs_literal(metric, F.col("embedding"), query_vector)
    score = F.round(raw, score_decimals) if score_decimals is not None else raw
    scored = df.withColumn("score", score)
    cols = ["id", *payload_cols, "score"]
    if include_distance:
        scored = scored.withColumn("distance", _distance(metric, raw))
        cols.append("distance")
    order = [F.col("score").asc() if asc else F.col("score").desc(), F.col("id").asc()]
    return scored.orderBy(*order).limit(n_results).select(*cols)


def _order_key(score, asc: bool):
    """A double's position in Spark's ``asc()`` / ``desc()`` order as
    a Python sort key: NaN above every number, null first ascending
    and last descending."""
    if score is None:
        return (0, 0.0) if asc else (2, 0.0)
    if score != score:  # NaN
        return (2, 0.0) if asc else (0, 0.0)
    return (1, score if asc else -score)


def _best_first(scored, asc: bool, width: int | None = None) -> list:
    """``(id, score)`` pairs best-first by (score, id), Spark's order
    for the serve tails; the first ``width`` when given."""
    out = sorted(scored, key=lambda r: (_order_key(r[1], asc), r[0]))
    return out if width is None else out[:width]


def _serve_topk_batch(
    spark: SparkSession,
    pairs: dict,
    filtered: DataFrame,
    query_vectors: list,
    metric: str,
    n_results: int,
    *,
    score_decimals: int | None,
    include_distance: bool,
) -> DataFrame:
    """Batch twin of ``_serve_topk``, the rerank tail of the batch ANN
    doors: ``pairs`` maps a qid to its candidate ids. One collect
    joins the pairs to their filtered collection rows and query
    vectors and scores them with the Spark ``_score`` expression
    (doubles, like the single doors' literal query vector, so a batch
    score equals its single-query twin's exactly); the driver then
    ranks each qid by (score, id) in Spark's order. Output ``(qid,
    rank, id, document, metadata, score[, distance])`` ordered (qid,
    rank), as an Arrow-built local relation."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        _score,
    )

    cols = ["qid", "id", "document", "metadata", "score"]
    if include_distance:
        cols.append("distance")
    ids = sorted({i for v in pairs.values() for i in v})
    got = []
    if ids:
        # the <= |ids| candidate rows are the broadcast side; the
        # pairs stream from _query_pairs, so the plan carries each
        # query vector once
        rows = _query_pairs(spark, query_vectors, pairs, "id", pa.string()).join(
            F.broadcast(
                filtered.filter(F.col("id").isin(ids)).select(
                    "id", "document", "metadata", "embedding"
                )
            ),
            "id",
        )
        raw, _ = _score(metric, F.col("embedding"), F.col("q_embedding"))
        rows = rows.withColumn(
            "score",
            F.round(raw, score_decimals) if score_decimals is not None else raw,
        )
        if include_distance:
            rows = rows.withColumn("distance", _distance(metric, raw))
        # bounded: one row per candidate pair, <= sum of |pairs[q]|
        # (|pending| * width on the IVF / IVF-PQ doors); the plan holds
        # |queries| * dim doubles plus the pair ids, the broadcast the
        # candidate rows
        got = rows.select(*cols).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], {})[r["id"]] = r
    out: dict = {c: [] for c in ["qid", "rank", *cols[1:]]}
    for q in sorted(by_q):
        ranked = _best_first(
            ((i, r["score"]) for i, r in by_q[q].items()),
            metric == "l2",
            int(n_results),
        )
        for rank, (i, _) in enumerate(ranked, 1):
            r = by_q[q][i]
            out["qid"].append(q)
            out["rank"].append(rank)
            for c in cols[1:]:
                v = r[c]
                out[c].append(list(v.items()) if c == "metadata" and v is not None else v)
    types = {
        "qid": pa.int32(),
        "rank": pa.int32(),
        "id": pa.string(),
        "document": pa.string(),
        "metadata": pa.map_(pa.string(), pa.string()),
        "score": pa.float64(),
        "distance": pa.float64(),
    }
    return spark.createDataFrame(
        pa.table({c: pa.array(v, types[c]) for c, v in out.items()})
    )


def _query_frame(spark: SparkSession, query_vectors: list) -> DataFrame:
    """``(qid int, q_embedding array<double>)`` for the batch doors.
    Doubles, like the single doors' literal query vector, so a batch
    score equals its single-query twin's exactly."""
    return spark.createDataFrame(
        pa.table(
            {
                "qid": pa.array(range(len(query_vectors)), pa.int32()),
                "q_embedding": pa.array(
                    [[float(x) for x in v] for v in query_vectors],
                    pa.list_(pa.float64()),
                ),
            }
        )
    )


def _query_pairs(
    spark: SparkSession, query_vectors: list, items: dict, col: str, typ
) -> DataFrame:
    """``(qid int, q_embedding array<double>, <col> typ)``, one row per
    (qid, item) of ``items`` ({qid: [item, ...]}, qid indexing
    ``query_vectors``). The local relation holds one row per query and
    the pairs come from an explode on the executors, so the plan grows
    as |queries| * dim + |pairs|, never |pairs| * dim."""
    return spark.createDataFrame(
        pa.table(
            {
                "qid": pa.array(list(items), pa.int32()),
                "q_embedding": pa.array(
                    [[float(x) for x in query_vectors[q]] for q in items],
                    pa.list_(pa.float64()),
                ),
                "_items": pa.array([list(v) for v in items.values()], pa.list_(typ)),
            }
        )
    ).select("qid", "q_embedding", F.explode("_items").alias(col))


def _query_prologue(
    spark: SparkSession,
    root: str,
    name: str,
    query_vectors: list,
    where: dict | None,
    where_document: dict | None,
    *,
    cosine_only: bool = False,
):
    """Shared prologue of the query doors: manifest load, the graph
    doors' cosine refusal (``cosine_only``), empty-batch and dimension
    checks, and the pre-filtered collection read. Returns
    ``(manifest, filtered)``."""
    manifest = load_manifest(root, name)
    if cosine_only and manifest.metric != "cosine":
        raise EngineError(
            f"collection metric {manifest.metric!r} != 'cosine': the "
            "graph index generates candidates by cosine, so serving "
            "an l2/dot collection through it would bias non-exhausted "
            "top-k for unnormalized embeddings. Use the IVF/IVF-PQ or "
            "exact doors for non-cosine collections."
        )
    if not query_vectors:
        raise EngineError("query_vectors must be non-empty")
    for i, v in enumerate(query_vectors):
        if len(v) != manifest.dim:
            raise EngineError(
                f"query vector {i} dim {len(v)} != collection dim {manifest.dim}"
            )
    filtered = _filtered(
        read_collection(spark, root, name), None, where, where_document
    )
    return manifest, filtered


_EXHAUSTIVE_EF = 2**31  # saturates any graph cell: the exact-scan round


def _kfill(
    score_round,
    orders,
    *,
    k: int,
    nprobe: int,
    width: int | None,
    asc: bool = True,
    ef: int | None = None,
    stats_out: dict | None,
) -> dict:
    """The k-fill loop of the six filtered ANN doors (single and batch
    x IVF / IVF-PQ / graph). ``orders`` holds each query's cells
    nearest-first (``(n_queries, n_cells)``, qid = row); the door
    supplies its index read and ``score_round``.

    The round contract:

    - ``score_round(work, p, ef)`` makes exactly ONE Spark action: it
      collects the scored candidates of ``work``, a list of ``(qid,
      cells)`` with ``cells`` the query's NEWLY probed cells
      ``order[lo:p]``, as ``(qid, id, key)`` rows. Its size is bounded
      by the query batch: the collect carries a comment stating the
      bound in terms of ``|pending|`` and ``width``.
    - The driver merges each query's rows, keeping its top ``width``
      by ``(key, id)`` in Spark's order (``asc`` is the key's
      direction; ``width=None`` keeps every row). An id seen twice
      keeps its first key. Each cell's rows enter once, so the merged
      set equals the top ``width`` over all of ``order[:p]``.
    - A query FILLS once it holds ``k`` rows. Filled queries settle
      and are never re-scored.
    - The next round DOUBLES ``p`` for the unfilled ones and scores
      only ``order[lo:p]``. Once every cell is probed, the graph doors
      saturate ``ef`` past the largest cell, which turns the beam into
      an exact scan of each cell; a round that changes ``ef`` scores
      ``order[:p]`` again and REPLACES the query's rows, so the final
      set equals the candidates of (final probe, final ``ef``).
    - EXHAUSTION stops the loop: every cell probed (and ``ef``
      saturated, on the graph doors). That round completes the exact
      filtered scan, so a predicate that kills whole cells widens the
      probe until it finds its matches and a door never under-fills.
      Rounds are bounded by 1 + ceil(log2(n_cells / nprobe)), plus one
      for ``ef``.
    - ``stats_out`` receives ``rounds``, ``final_probe`` and
      ``n_cells`` (and ``final_ef`` on the graph doors).

    Returns each query's finalists: ``{qid: [id, ...]}`` best-first."""
    n_cells = int(orders.shape[1])
    p = max(1, min(int(nprobe), n_cells))
    lo = 0
    pending = list(range(len(orders)))
    merged: dict = {q: {} for q in pending}
    rounds = 0
    while True:
        rounds += 1
        work = [(q, [int(c) for c in orders[q][lo:p]]) for q in pending]
        for q, i, key in score_round(work, p, ef):
            merged[q].setdefault(i, key)
        if width is not None:
            for q in pending:
                if len(merged[q]) > width:
                    merged[q] = dict(_best_first(merged[q].items(), asc, width))
        if p >= n_cells and (ef is None or ef >= _EXHAUSTIVE_EF):
            break
        pending = [q for q in pending if len(merged[q]) < k]
        if not pending:
            break
        if p < n_cells:
            lo, p = p, min(n_cells, p * 2)
        else:
            lo, ef = 0, _EXHAUSTIVE_EF
            for q in pending:
                merged[q] = {}
    if stats_out is not None:
        stats_out.update(rounds=rounds, final_probe=p, n_cells=n_cells)
        if ef is not None:
            stats_out["final_ef"] = ef
    return {
        q: [i for i, _ in _best_first(m.items(), asc)] for q, m in merged.items()
    }


def _check_ann_args(n_results, rerank_factor=None) -> int:
    """The ANN doors' argument check: ``n_results`` (and, on the PQ
    doors, ``rerank_factor``) must be at least 1. Returns k."""
    if int(n_results) < 1:
        raise EngineError(f"n_results must be >= 1, got {n_results!r}")
    if rerank_factor is not None and int(rerank_factor) < 1:
        raise EngineError(f"rerank_factor must be >= 1, got {rerank_factor!r}")
    return int(n_results)


def _scores_cells_directly(
    meta: dict, root: str, name: str, where, where_document, verify_source: bool
) -> bool:
    """Whether a door's rounds may score the index cells without the
    filtered collection's id semi-join: with no ``where`` and no
    ``where_document``, and the index's source stamp (naming this
    collection) just verified against its etag by ``verify_source``,
    the live index ids are a subset of the collection ids. An
    unstamped index, or ``verify_source=False``, keeps the
    semi-join. The rerank still reads the finalists from the
    collection."""
    src = meta.get("source")
    return (
        where is None
        and where_document is None
        and verify_source
        and src is not None
        and src["name"] == name
        and os.path.abspath(src["root"]) == os.path.abspath(root)
    )


def _exact_round(rows: DataFrame, metric: str, query_vector, k: int, score_decimals):
    """A single IVF or graph door's round: the exact top ``k`` of
    ``rows`` (``id``, ``embedding``) by (score, id), scored and rounded
    as ``_serve_topk`` scores them."""
    top = _serve_topk(
        rows, metric, query_vector, k, score_decimals=score_decimals,
        include_distance=False, payload_cols=(),
    )
    # bounded: k rows
    return [(0, r["id"], r["score"]) for r in top.collect()]


def _restrict(index_rows: DataFrame, filtered: DataFrame) -> DataFrame:
    """The index rows whose ids survive the filter (cells layout kept)
    — one semi-join against the filtered collection's ids."""
    idx_id = _cells_cols(index_rows)[0]
    return index_rows.join(
        filtered.select(
            F.col("id").cast(dict(index_rows.dtypes)[idx_id]).alias(idx_id)
        ),
        idx_id,
        "left_semi",
    )


def _in_cells(rows: DataFrame, work) -> DataFrame:
    """``rows`` pruned to the union of a round's cells (a literal
    IN-list on the ``ivf_cell`` partition column)."""
    return rows.filter(
        F.col("ivf_cell").isin(sorted({c for _, cells in work for c in cells}))
    )


def _orders(C, query_vectors, metric: str):
    """Each query's cells nearest-first, one ``_cell_order`` row per
    query, so a query's order is the same in a single and a batch
    door."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _cell_order,
    )

    return np.vstack([_cell_order(C, v, metric)[0] for v in query_vectors])


def _ivf_index(spark: SparkSession, index_path: str, manifest, verify_source: bool):
    """``ivf_read``'s read for the IVF doors, which probe and rerank by
    the manifest's metric: an index written to serve another metric is
    refused rather than probed by one metric and ranked by another.
    Returns ``(assigned, centroids, meta)``."""
    assigned, meta = _read_cells(
        spark, index_path, "ivf_index.json", verify_source=verify_source
    )
    metric = meta["metric"]
    if metric != manifest.metric:
        raise EngineError(
            f"IVF index serve metric {metric!r} != collection metric "
            f"{manifest.metric!r}: the IVF doors probe and rank by the "
            "collection's metric. Rewrite the index with "
            f"ivf_write(..., metric={manifest.metric!r})."
        )
    return assigned, np.asarray(meta["centroids"]), meta


def collection_query_ivf(
    spark: SparkSession,
    root: str,
    name: str,
    query_vector: list[float],
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """``collection.query`` served THROUGH the persisted IVF index,
    with metadata/document pre-filters — the filtered-ANN shape
    ``collection_query`` deliberately does not take at corpus scale.

    Cells rank by centroid proximity under the manifest's metric (the
    index must serve that metric — ``EngineError`` otherwise), and the
    probe widens by the ``_kfill`` contract: each round scores only
    its newly probed cells' rows and keeps their exact top
    ``n_results``. The index side of a round is ~p / n_centroids of
    the corpus, but a filtered round still semi-joins the filtered
    collection's ids, so its candidate scan is O(collection ids +
    predicate columns); only an unfiltered query on a verified index
    scores the cells alone. The finalists rerank through
    ``collection_query``'s own tail, so the two return byte-identical
    rows whenever the probe reaches every matching cell.
    ``verify_source`` keeps ``ivf_read``'s etag fence: a stale index
    refuses rather than serving deleted rows. Returns ``(id,
    document, metadata, score[, distance])`` best-first —
    ``collection_query``'s contract."""
    k = _check_ann_args(n_results)
    manifest, filtered = _query_prologue(
        spark, root, name, [query_vector], where, where_document
    )
    assigned, C, meta = _ivf_index(spark, index_path, manifest, verify_source)
    idx_id, emb = _cells_cols(assigned)[:2]
    cells = assigned.select(
        F.col(idx_id).cast("string").alias("id"),
        F.col(emb).alias("embedding"),
        "ivf_cell",
    )
    direct = _scores_cells_directly(
        meta, root, name, where, where_document, verify_source
    )

    def score_round(work, _p, _ef):
        rows = _in_cells(cells, work)
        if not direct:
            rows = filtered.join(rows.select("id"), "id", "left_semi")
        return _exact_round(rows, manifest.metric, query_vector, k, score_decimals)

    finalists = _kfill(
        score_round, _orders(C, [query_vector], manifest.metric), k=k,
        nprobe=nprobe, width=k, asc=manifest.metric == "l2",
        stats_out=stats_out,
    )[0]
    return _serve_topk(
        filtered.filter(F.col("id").isin(finalists)),
        manifest.metric,
        query_vector,
        k,
        score_decimals=score_decimals,
        include_distance=include_distance,
    )


def collection_query_batch_ivf(
    spark: SparkSession,
    root: str,
    name: str,
    query_vectors: list[list[float]],
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """``collection.query`` with MULTIPLE query embeddings served
    through the persisted IVF index, with optional metadata/document
    pre-filters — the BATCH scale path (``collection_query_batch``
    streams the whole filtered collection once per request;
    ``collection_query_ivf`` expands one query at a time). Same
    output contract as the exact batch path:
    ``(qid, rank, id, document, metadata, score[, distance])``.

    The filtered collection semi-restricts the index's cell-assigned
    rows (cells layout kept; skipped for an unfiltered query on a
    verified index); each ``_kfill`` round runs ``ivf_knn_join``'s
    cogrouped per-cell GEMM (``ann._ivf_cells_join``) with each
    pending query assigned exactly its newly probed cells and
    collects its ``(qid, id)`` top ``n_results``, and
    ``_serve_topk_batch`` reranks the finalists under the manifest's
    metric, which the index must serve (``EngineError`` otherwise) —
    so each query's rows equal ``collection_query_ivf``'s."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _ivf_cells_join,
    )

    k = _check_ann_args(n_results)
    manifest, filtered = _query_prologue(
        spark, root, name, query_vectors, where, where_document
    )
    assigned, C, meta = _ivf_index(spark, index_path, manifest, verify_source)
    idx_id, emb = _cells_cols(assigned)[:2]
    direct = _scores_cells_directly(
        meta, root, name, where, where_document, verify_source
    )
    rows = assigned if direct else _restrict(assigned, filtered)

    def score_round(work, _p, _ef):
        # each query meets exactly its round cells, the ones its rows
        # were pruned to
        qcells = _query_pairs(
            spark, query_vectors, dict(work), "ivf_cell", pa.int32()
        ).select(
            F.col("qid").alias("_qid"), F.col("q_embedding").alias("_qe"), "ivf_cell"
        )
        nn = _ivf_cells_join(
            qcells, _in_cells(rows, work), k, id_col=idx_id,
            embedding_col=emb, metric=manifest.metric,
            score_decimals=score_decimals,
        )
        # bounded: the join keeps k rows per qid, <= |pending| * k
        return [
            (r["qid"], str(r["neighbor_id"]), r["score"])
            for r in nn.select("qid", "neighbor_id", "score").collect()
        ]

    pairs = _kfill(
        score_round, _orders(C, query_vectors, manifest.metric), k=k,
        nprobe=nprobe, width=k, asc=manifest.metric == "l2",
        stats_out=stats_out,
    )
    return _serve_topk_batch(
        spark, pairs, filtered, query_vectors, manifest.metric, k,
        score_decimals=score_decimals, include_distance=include_distance,
    )


def _pq_index(spark, root, name, index_path, filtered, query_vectors, where,
              where_document, verify_source, width):
    """The IVF-PQ doors' index read and ``_kfill`` round: each round
    ADC-scores the pending queries against their newly probed cells'
    codes that pass the filter (``pq._adc_topk``) and keeps the top
    ``width`` per query. Returns ``(C, score_round)``."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        _adc_topk,
    )

    encoded, meta = _read_cells(
        spark, index_path, "ivf_pq_index.json", verify_source=verify_source
    )
    C, books = np.asarray(meta["centroids"]), np.asarray(meta["codebooks"])
    rot = None if meta.get("rotation") is None else np.asarray(meta["rotation"])
    idx_id = _cells_cols(encoded)[0]
    direct = _scores_cells_directly(
        meta, root, name, where, where_document, verify_source
    )
    codes = encoded if direct else _restrict(encoded, filtered)

    def score_round(work, _p, _ef):
        top = _adc_topk(
            _in_cells(codes, work),
            [(q, query_vectors[q], cells) for q, cells in work],
            C, books, id_col=idx_id, width=width, rotation=rot,
        )
        # bounded: |pending| * width rows per scan task of the probed cells
        return [(r["qid"], r[idx_id], r["adc_score"]) for r in top.collect()]

    return C, score_round


def collection_query_ivf_pq(
    spark: SparkSession,
    root: str,
    name: str,
    query_vector: list[float],
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    where: dict | None = None,
    where_document: dict | None = None,
    rerank_factor: int = 8,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """``collection.query`` served through the persisted COMPRESSED
    (IVF-PQ) index with metadata/document pre-filters — the 8-bytes-
    per-row twin of ``collection_query_ivf``. Cells rank by l2
    centroid proximity (ADC is residual squared-L2 whatever the rerank
    metric — FAISS semantics) and the probe widens by the ``_kfill``
    contract. The standard IVF-PQ+refine recipe runs inside it: each
    round ADC-scores only its newly probed cells' filtered codes and
    keeps ``n_results * rerank_factor`` ids (the corpus's float
    vectors are never scanned), and the exact rerank is
    ``collection_query``'s own tail over just those finalists. A
    ``rerank_factor`` covering the filtered candidate count makes the
    result exact (the oracle-checkable configuration). Returns ``(id,
    document, metadata, score[, distance])`` best-first."""
    k = _check_ann_args(n_results, rerank_factor)
    manifest, filtered = _query_prologue(
        spark, root, name, [query_vector], where, where_document
    )
    C, score_round = _pq_index(
        spark, root, name, index_path, filtered, [query_vector], where,
        where_document, verify_source, k * int(rerank_factor),
    )
    finalists = _kfill(
        score_round, _orders(C, [query_vector], "l2"), k=k, nprobe=nprobe,
        width=k * int(rerank_factor), stats_out=stats_out,
    )[0]
    return _serve_topk(
        filtered.filter(F.col("id").isin([str(i) for i in finalists])),
        manifest.metric,
        query_vector,
        k,
        score_decimals=score_decimals,
        include_distance=include_distance,
    )


def collection_query_batch_ivf_pq(
    spark: SparkSession,
    root: str,
    name: str,
    query_vectors: list[list[float]],
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    where: dict | None = None,
    where_document: dict | None = None,
    rerank_factor: int = 8,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """``collection.query`` with MULTIPLE query embeddings served
    through the persisted COMPRESSED (IVF-PQ) index, with optional
    metadata/document pre-filters. Same output contract as the other
    batch paths: ``(qid, rank, id, document, metadata, score[,
    distance])``.

    The single door's round, for every pending query at once: one
    ADC pass over the union of the queries' newly probed cells keeps
    each query's top ``n_results * rerank_factor`` (the float vectors
    are never scanned for candidate generation), and
    ``_serve_topk_batch`` reranks the finalists exactly under the
    manifest's metric — so each query's rows equal
    ``collection_query_ivf_pq``'s, and a ``rerank_factor`` covering
    the filtered candidate count makes every row equal the exact
    batch path's."""
    k = _check_ann_args(n_results, rerank_factor)
    manifest, filtered = _query_prologue(
        spark, root, name, query_vectors, where, where_document
    )
    C, score_round = _pq_index(
        spark, root, name, index_path, filtered, query_vectors, where,
        where_document, verify_source, k * int(rerank_factor),
    )
    pairs = _kfill(
        score_round, _orders(C, query_vectors, "l2"), k=k, nprobe=nprobe,
        width=k * int(rerank_factor), stats_out=stats_out,
    )
    return _serve_topk_batch(
        spark, {q: [str(i) for i in v] for q, v in pairs.items()}, filtered,
        query_vectors, manifest.metric, k, score_decimals=score_decimals,
        include_distance=include_distance,
    )


def _graph_index(spark, root, name, index_path, query_vectors, where,
                 where_document, verify_source, ef, k):
    """The graph doors' index read: ``(cells, orders, direct, ef,
    beam)``, where ``beam(work, ef)`` runs one per-cell beam pass
    (``graph_ann._serve_cells``) for every ``(qid, cells)`` pair of a
    round and yields its live ``(qid, id)`` rows."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
        _serve_cells,
        graph_index_read,
    )

    cells, C, meta = graph_index_read(
        spark, index_path, verify_source=verify_source
    )
    direct = _scores_cells_directly(
        meta, root, name, where, where_document, verify_source
    )

    def beam(work, e):
        per_cell = _serve_cells(
            spark, index_path,
            [(str(q), query_vectors[q]) for q, _ in work],
            k=k, nprobe=1, ef=e, cells=[c for _, c in work],
            verify_source=False,  # fenced once above
        )
        return (
            per_cell.filter(F.col("neighbor_id").isNotNull())
            .select(
                F.col("qid").cast("int").alias("qid"),
                F.col("neighbor_id").alias("id"),
            )
            .dropDuplicates(["qid", "id"])
        )

    return (
        cells, _orders(C, query_vectors, "cosine"), direct,
        max(int(ef) if ef is not None else 4 * k, k), beam,
    )


def collection_query_graph(
    spark: SparkSession,
    root: str,
    name: str,
    query_vector,
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    ef: int | None = None,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """``collection.query`` served THROUGH the persisted per-cell
    GRAPH index (``operators/graph_ann.py``) with metadata/document
    pre-filters; cosine collections only (``EngineError`` otherwise —
    the graph generates candidates by cosine). Each ``_kfill`` round
    runs the per-cell beam (``ef``, default 4 * n_results) over the
    newly probed cells — ~cells * ef rows scored, the budget rather
    than the probed row count — and keeps the exact top
    ``n_results`` of the filtered rows it reached. The k-fill is
    two-dimensional here: once every cell is probed ``ef`` saturates,
    so with the filter off the exhausted answer equals
    ``collection_query`` byte-for-byte. The finalists rerank through
    the shared ``_serve_topk`` tail. Returns ``(id, document,
    metadata, score[, distance])`` — ``collection_query``'s
    contract."""
    k = _check_ann_args(n_results)
    manifest, filtered = _query_prologue(
        spark, root, name, [query_vector], where, where_document,
        cosine_only=True,
    )
    cells, orders, direct, ef0, beam = _graph_index(
        spark, root, name, index_path, [query_vector], where,
        where_document, verify_source, ef, k,
    )

    def score_round(work, _p, e):
        rows = _in_cells(cells, work).select("id", "embedding") if direct else filtered
        return _exact_round(
            rows.join(beam(work, e).select("id"), "id", "left_semi"),
            manifest.metric, query_vector, k, score_decimals,
        )

    finalists = _kfill(
        score_round, orders, k=k, nprobe=nprobe, width=k,
        asc=manifest.metric == "l2", ef=ef0, stats_out=stats_out,
    )[0]
    return _serve_topk(
        filtered.filter(F.col("id").isin(finalists)),
        manifest.metric,
        query_vector,
        k,
        score_decimals=score_decimals,
        include_distance=include_distance,
    )


def collection_query_batch_graph(
    spark: SparkSession,
    root: str,
    name: str,
    query_vectors: list,
    n_results: int = 10,
    *,
    index_path: str,
    nprobe: int = 2,
    ef: int | None = None,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
    verify_source: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """Batch ``collection.query`` through the persisted GRAPH index
    with optional pre-filters; cosine collections only. Each
    ``_kfill`` round runs one per-cell beam pass for every pending
    query over its newly probed cells (``graph_ann._serve_cells``:
    the cells union into one partition-pruned scan) and collects the
    filtered ``(qid, id)`` pairs the beams reached;
    ``_serve_topk_batch`` reranks them under the manifest's metric —
    so each query's rows equal ``collection_query_graph``'s, and
    exhausted results equal the exact batch path byte-for-byte.
    Output: ``(qid, rank, id, document, metadata, score[,
    distance])`` ordered (qid, rank)."""
    k = _check_ann_args(n_results)
    manifest, filtered = _query_prologue(
        spark, root, name, query_vectors, where, where_document,
        cosine_only=True,
    )
    _cells, orders, direct, ef0, beam = _graph_index(
        spark, root, name, index_path, query_vectors, where,
        where_document, verify_source, ef, k,
    )

    def score_round(work, _p, e):
        pairs = beam(work, e)
        if not direct:
            pairs = pairs.join(filtered.select("id"), "id", "left_semi")
        # bounded: <= |pending| * (newly probed cells) * ef pairs; the
        # saturated-ef round is the exact scan, <= |pending| * filtered rows
        return [(r["qid"], r["id"], None) for r in pairs.collect()]

    pairs = _kfill(
        score_round, orders, k=k, nprobe=nprobe, width=None, ef=ef0,
        stats_out=stats_out,
    )
    return _serve_topk_batch(
        spark, pairs, filtered, query_vectors, manifest.metric, k,
        score_decimals=score_decimals, include_distance=include_distance,
    )


def collection_query_batch(
    spark: SparkSession,
    root: str,
    name: str,
    query_vectors: list[list[float]],
    n_results: int = 10,
    *,
    where: dict | None = None,
    where_document: dict | None = None,
    score_decimals: int | None = None,
    include_distance: bool = False,
) -> DataFrame:
    """``collection.query`` with MULTIPLE query embeddings — Chroma's
    native signature (``query_embeddings`` is a list; results come
    back per query). Returns one row per (query, neighbor):
    ``(qid, rank, id, document, metadata, score[, distance])`` with
    ``qid`` the 0-based index into ``query_vectors``, mirroring
    Chroma's positional result lists.

    Plan: the query batch broadcasts (it is request-sized, never
    corpus-sized), the filtered collection streams ONCE through
    ``knn_join``'s two-level top-k (per-partition partial top-k, then
    a per-query merge of <= k x partitions candidates — the shuffle
    carries queries x k rows, not the corpus), and the payload
    columns re-attach via one equi-join on id bounded by
    queries x k rows. Same metric/distance conventions AND the same
    precision contract as ``collection_query``: ``score`` rounds when
    ``score_decimals`` is set (ranking is on the rounded value, id
    tiebreak), while ``distance`` always derives from the UNROUNDED
    score (``knn_join`` carries it through as ``raw_score``) — a
    distance threshold ported from Chroma behaves identically on both
    entry points."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_join,
    )

    manifest, corpus = _query_prologue(
        spark, root, name, query_vectors, where, where_document
    )
    nn = knn_join(
        _query_frame(spark, query_vectors),
        corpus,
        k=n_results,
        metric=manifest.metric,
        score_decimals=score_decimals,
        include_raw_score=include_distance,
    )
    out = nn.join(
        corpus.select(
            F.col("id").alias("neighbor_id"), "document", "metadata"
        ),
        "neighbor_id",
    )
    cols = ["qid", "rank", "id", "document", "metadata", "score"]
    out = out.withColumnRenamed("neighbor_id", "id")
    if include_distance:
        out = out.withColumn("distance", _distance(manifest.metric, F.col("raw_score")))
        cols.append("distance")
    return out.select(*cols).orderBy("qid", "rank")


_VECTOR_SIDECARS = ("ivf_index.json", "ivf_pq_index.json")
_BAND = "band_index.json"


def _index_targets(index_paths, who: str) -> list[tuple[str, str, set]]:
    """``(path, local dir, sidecar kinds held)`` per ``index_paths``
    entry, from one directory listing each. Raises before any write
    when a path holds no maintained sidecar, or holds a graph index."""
    targets = []
    for path in index_paths:
        p = _local_sidecar_path(path)
        held = set(os.listdir(p)) if os.path.isdir(p) else set()
        if "graph_index.json" in held:
            raise EngineError(
                f"{who}: {path!r} holds a graph index (graph_index.json), "
                "which the write doors cannot maintain; leave it out of "
                "index_paths and rebuild it with graph_index_write after "
                "the write. Nothing was written."
            )
        kinds = held.intersection((*_VECTOR_SIDECARS, _BAND))
        if not kinds:
            raise EngineError(
                f"{who}: no index sidecar found at {path!r} (expected "
                "ivf_index.json, ivf_pq_index.json or band_index.json). "
                "Nothing was written."
            )
        targets.append((path, p, kinds))
    return targets


def _fence_etag(fence: str, root: str, name: str, targets):
    """Validate ``fence`` and return the ``(local dir, sidecar) ->
    expected_prev_etag`` of the doors' index mutations (module
    docstring); ``None`` when there is no index to fence."""
    if fence not in ("collection", "recorded"):
        raise EngineError(
            f"fence must be 'collection' or 'recorded', got {fence!r}"
        )
    if not targets:
        return None
    if fence == "recorded":
        # a sidecar built without a source stamp fences nothing
        return lambda p, sc: (read_sidecar(p, sc).get("source") or {}).get("etag")
    before = collection_etag(root, name)
    return lambda p, sc: before


def collection_delete(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    ids: list[str] | None = None,
    where: dict | None = None,
    where_document: dict | None = None,
    index_paths: list[str] | tuple[str, ...] = (),
    retain_previous: bool = False,
    fence: str = "collection",
) -> int:
    """``collection.delete``: remove matching rows, return how many,
    and tombstone them in every index at ``index_paths`` (vector
    indexes via ``ann.ivf_delete``, a band index via
    ``band_index_delete``, which also retires the deleted docs'
    unshared bucket keys). ``retain_previous`` keeps the pre-delete
    data dir readable as a version (``read_collection(version=...)``)
    until vacuum.

    Bucketed layout + id-list: rewrites only the buckets the ids hash
    into; cost scales with touched buckets, not collection size. The
    touched buckets' survivors are written to a fresh versioned dir,
    untouched buckets are hardlink-cloned forward (O(files) metadata
    ops, no data rewrite), and the ``_current`` pointer swap commits —
    a bucket whose rows are ALL deleted is simply never written or
    cloned. Predicate deletes (and flat layouts) rewrite survivors
    into a fresh versioned dir and swap the same pointer. Every path
    counts the deleted rows inside its rewrite job; a delete that
    matched nothing drops its staging dir and leaves the pointer (and
    so the etag) where it was, and the indexes still take the ids (a
    replay heals an index a crashed call left stale).

    With indexes, an id-list delete hands each index the list as is
    (dedupe, the tombstone anti-join and the Bloom prescreen run on
    the driver, then one pushed ``IN`` probe of the cells' id column);
    a predicate delete first captures the doomed ids in one
    checkpointed scan, before the rows vanish."""
    if ids is None and where is None and where_document is None:
        raise EngineError("delete needs ids and/or a where predicate")
    targets = _index_targets(index_paths, "collection_delete")
    manifest = load_manifest(root, name)
    fenced = _fence_etag(fence, root, name, targets)
    bucketed = bool(manifest.n_buckets)
    df = read_collection(spark, root, name, include_bucket=bucketed)

    cond = F.lit(True)
    if ids is not None:
        cond = cond & F.col("id").isin([str(i) for i in ids])
    if where is not None:
        cond = cond & compile_where(where)
    if where_document is not None:
        cond = cond & compile_where_document(where_document)
    # NULL predicate (missing metadata key) means "not matched": keep.
    doomed = F.coalesce(cond, F.lit(False))

    id_list = where is None and where_document is None
    if id_list:
        gone = [str(i) for i in ids]
    elif targets:
        gone = df.filter(doomed).select("id").localCheckpoint(eager=True)
    touched = None
    if bucketed and id_list:
        touched = _buckets_for_ids(spark, ids, manifest.n_buckets)
        df = df.filter(F.col("id_bucket").isin(touched))
    staging = next_data_dir(root, manifest.name)
    obs = Observation("delete_doomed")
    writer = (
        df.observe(obs, F.sum(doomed.cast("long")).alias("n"))
        .filter(~doomed)
        .write.mode("overwrite")
    )
    # touched buckets left empty write no data file (a partitioned
    # write of zero rows creates no partition dir)
    if bucketed:
        writer = writer.partitionBy("id_bucket")
    writer.parquet(staging)
    deleted = int(obs.get["n"] or 0)
    if deleted == 0:
        shutil.rmtree(staging, ignore_errors=True)
    else:
        if touched is not None:
            clone_untouched_buckets(
                current_data_dir(root, manifest.name), staging, set(touched)
            )
        swap_data_dir(root, manifest.name, staging, retain=retain_previous)
    if not targets:
        return deleted
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_delete,
    )

    for path, p, kinds in targets:
        for sc in _VECTOR_SIDECARS:
            if sc in kinds:
                ivf_delete(
                    spark, path, gone, sidecar=sc,
                    expected_prev_etag=fenced(p, sc),
                )
        if _BAND in kinds:
            band_index_delete(
                spark, path, gone, expected_prev_etag=fenced(p, _BAND)
            )
    return deleted


def collection_update(
    spark: SparkSession,
    root: str,
    name: str,
    updates: DataFrame,
    *,
    index_paths: list[str] | tuple[str, ...] = (),
    retain_previous: bool = False,
    fence: str = "collection",
    band_text_mode: str = "refuse",
) -> int:
    """``collection.update``: overwrite document / metadata /
    embedding for EXISTING ids; ids not present in the collection are
    ignored (Chroma logs-and-skips rather than inserting — use the
    hydrate ``on_duplicate='upsert'`` path for insert-or-update).
    Returns how many rows were updated.

    ``updates`` must have an ``id`` column plus any subset of
    ``document`` / ``metadata`` / ``embedding``; unmentioned fields
    keep their stored values (per-row coalesce after a left join), and
    so do NULL fields. Embedding updates are dim-validated against the
    manifest before any rewrite. Bucketed layouts rewrite only the
    buckets the updated ids hash into, hardlink-clone the untouched
    buckets into the same fresh versioned dir, and swap the
    ``_current`` pointer; flat layouts rewrite the whole set into a
    fresh dir and swap.

    Indexes at ``index_paths`` take exactly the rows the collection
    took: one per held id, after the id dedupe. IVF / IVF-PQ indexes
    upsert the non-NULL embeddings surgically (``ann.ivf_upsert`` /
    ``pq.ivf_pq_upsert``); an index whose content the update leaves
    valid is only re-stamped. Changed text on a path holding a BAND
    index invalidates the doc's shingle/band rows, and the id-free
    layout's honest unit of change is a part rewrite;
    ``band_text_mode`` picks the posture:

    - ``"refuse"`` (default): raise UP FRONT, no mutation performed.
    - ``"apply_now"``: route the ``(id, document)`` pairs through
      ``band_index_apply`` — ONE atomic part rewrite (compact-cost,
      however many updates ride along); the index serves the new
      text immediately and prior tombstones purge as a side effect.
    - ``"defer"``: queue the pairs via ``band_index_defer_updates``
      (tiny recording + sidecar swap) and re-stamp; the index serves
      the PRE-update bands until the next ``band_index_compact``
      drains the queue — ``band_index_audit`` reports the queue and
      flips ``compact_recommended``, so a maintenance loop bounds
      the window. The streaming CDC posture."""
    if band_text_mode not in ("refuse", "apply_now", "defer"):
        raise EngineError(
            "band_text_mode must be 'refuse', 'apply_now' or 'defer', "
            f"got {band_text_mode!r}"
        )
    targets = _index_targets(index_paths, "collection_update")
    upd_cols = set(updates.columns)
    if "document" in upd_cols and band_text_mode == "refuse":
        for path, _, kinds in targets:
            if _BAND in kinds:
                raise EngineError(
                    "collection_update_indexed: the updates carry a "
                    f"'document' column and {path!r} holds a band "
                    "index — changed text invalidates its shingle/"
                    "band rows and the id-free serving layout has no "
                    "surgical row replacement; pass "
                    "band_text_mode='apply_now' (one atomic part "
                    "rewrite) or 'defer' (queue, drained at compact "
                    "cadence), or run band_index_refresh. No mutation "
                    "was performed."
                )
    manifest = load_manifest(root, name)
    fenced = _fence_etag(fence, root, name, targets)
    bucketed = bool(manifest.n_buckets)
    if "id" not in upd_cols:
        raise EngineError("updates needs an 'id' column")
    payload = [c for c in ("document", "metadata", "embedding") if c in upd_cols]
    if not payload:
        raise EngineError("updates needs document, metadata and/or embedding")

    u = updates.select(
        F.col("id").cast("string").alias("id"),
        *[F.col(c).alias(f"_u_{c}") for c in payload],
    ).dropDuplicates(["id"])
    if "embedding" in payload:
        bad = (
            u.filter(
                F.col("_u_embedding").isNotNull()
                & (F.size("_u_embedding") != manifest.dim)
            ).limit(1).count()
        )
        if bad:
            raise EngineError(
                f"update embeddings must have dim {manifest.dim}"
            )
        u = u.withColumn("_u_embedding", F.col("_u_embedding").cast("array<float>"))

    df = read_collection(spark, root, name, include_bucket=bucketed)
    scoped = df
    if bucketed:
        # Distributed bucket pruning: hash each update id to its bucket
        # ON THE UPDATE FRAME and collect only the DISTINCT bucket set
        # (bounded by n_buckets, never O(updates)) — a bulk update with
        # millions of ids ships a few hundred ints to the driver, not
        # the id list. The literal IN-list on the hive-partition column
        # keeps static partition pruning.
        buckets = [
            r["b"]
            for r in u.select(
                F.pmod(F.xxhash64("id"), F.lit(manifest.n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ]
        scoped = df.filter(F.col("id_bucket").isin(buckets))

    if targets:
        # the held, deduplicated rows: the rewrite and every index
        # take this one checkpoint (read before the swap retires the
        # scanned files), and its job counts the non-NULL fields
        held_obs = Observation("update_held")
        u = (
            u.join(scoped.select("id"), "id", "left_semi")
            .observe(
                held_obs,
                F.count("*").alias("n"),
                *[F.count(f"_u_{c}").alias(c) for c in payload],
            )
            .localCheckpoint(eager=True)
        )
        held = held_obs.get
        matched = held["n"] > 0
    else:
        # Cheap existence probe only — the exact matched count is
        # observed inside the rewrite job itself (below)
        matched = scoped.join(u, "id", "left_semi").limit(1).count() > 0

    n = 0
    if matched:
        obs = Observation("update_matched")
        matched_flag = F.col("_u_hit").isNotNull()
        merged = (
            scoped.join(u.withColumn("_u_hit", F.lit(True)), "id", "left")
            .observe(obs, F.sum(matched_flag.cast("long")).alias("matched"))
            .select(
                "id",
                *[
                    (
                        F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c)
                        if c in payload
                        else F.col(c)
                    )
                    for c in ("document", "embedding", "metadata")
                ],
                *(["id_bucket"] if bucketed else []),
            )
        )
        staging = next_data_dir(root, manifest.name)
        if bucketed:
            merged.write.mode("overwrite").partitionBy("id_bucket").parquet(staging)
            clone_untouched_buckets(
                current_data_dir(root, manifest.name), staging, set(buckets)
            )
        else:
            merged.write.mode("overwrite").parquet(staging)
        swap_data_dir(root, manifest.name, staging, retain=retain_previous)
        n = int(obs.get["matched"])
    if not targets:
        return n
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_delete,
        ivf_upsert,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_apply,
        band_index_defer_updates,
        band_index_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_upsert,
    )

    def held_rows(c: str):
        # None when no held row carries a value for this field
        if not held.get(c):
            return None
        return u.filter(F.col(f"_u_{c}").isNotNull()).select(
            "id", F.col(f"_u_{c}").alias(c)
        )

    vecs, docs = held_rows("embedding"), held_rows("document")
    for path, p, kinds in targets:
        for sc, upsert in zip(_VECTOR_SIDECARS, (ivf_upsert, ivf_pq_upsert)):
            if sc not in kinds:
                continue
            if vecs is not None:
                upsert(
                    spark, path, vecs, id_col="id", embedding_col="embedding",
                    expected_prev_etag=fenced(p, sc),
                )
            else:
                # content untouched: re-stamp only (the delete's
                # fence-guarded empty-batch path)
                ivf_delete(
                    spark, path, [], sidecar=sc,
                    expected_prev_etag=fenced(p, sc),
                )
        if _BAND not in kinds:
            continue
        band_fence = fenced(p, _BAND)
        if docs is None:
            band_index_delete(spark, path, [], expected_prev_etag=band_fence)
        elif band_text_mode == "apply_now":
            band_index_apply(
                spark, path, upserts=docs, id_col="id", text_col="document",
                expected_prev_etag=band_fence,
            )
        else:
            band_index_defer_updates(
                spark, path, docs, id_col="id", text_col="document",
                expected_prev_etag=band_fence,
            )
    return n


collection_delete_indexed = collection_delete
collection_update_indexed = collection_update


def collection_diff(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    from_version: str,
    to_version: str | None = None,
) -> DataFrame:
    """CDC-style diff between two readable collection versions (the
    change-data-feed a lakehouse exposes): rows present only in the
    newer state are ``added``, only in the older ``removed``, and rows
    whose (document, metadata, embedding) payload differs ``changed``;
    unchanged rows are dropped. ``to_version=None`` means the current
    state. One full-outer join on id — cost scales with the two
    versions, not with history, because every version is a complete
    dir (no log replay). Maps are compared as sorted entry arrays
    (MapType itself is not comparable in Spark)."""

    def state(version: str | None) -> DataFrame:
        df = read_collection(spark, root, name, version=version)
        return df.select(
            F.col("id"),
            F.struct(
                F.col("document"),
                F.sort_array(F.map_entries(F.col("metadata"))).alias("_meta"),
                F.col("embedding"),
            ).alias("_payload"),
        )

    a = state(from_version).select(
        F.col("id").alias("_id_a"), F.col("_payload").alias("_pa")
    )
    b = state(to_version).select(
        F.col("id").alias("_id_b"), F.col("_payload").alias("_pb")
    )
    j = a.join(b, a["_id_a"] == b["_id_b"], "full_outer")
    change = (
        F.when(F.col("_id_b").isNull(), F.lit("removed"))
        .when(F.col("_id_a").isNull(), F.lit("added"))
        .when(~(F.col("_pa").eqNullSafe(F.col("_pb"))), F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce(F.col("_id_a"), F.col("_id_b")).alias("id"),
            change.alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )


def _chroma_items_df(
    spark: SparkSession,
    ids,
    embeddings,
    documents,
    metadatas,
) -> DataFrame:
    """Chroma's parallel-list item shape -> one canonical-column
    DataFrame. ``ids`` is required and sets the length; the optional
    lists must match it (the literal client-side validation). Typed
    metadata values stringify into the canonical
    ``map<string,string>`` — the query side compares them numerically
    when the predicate literal is numeric (``compile_where``), which
    is how the round-trip preserves Chroma's typed comparisons."""
    n = len(ids)
    for nm, lst in (
        ("embeddings", embeddings),
        ("documents", documents),
        ("metadatas", metadatas),
    ):
        if lst is not None and len(lst) != n:
            raise EngineError(
                f"collection add/upsert: {nm} has {len(lst)} entries "
                f"for {n} ids"
            )
    if embeddings is None:
        raise EngineError(
            "collection add/upsert: embeddings are required (this "
            "engine has no server-side embedding function)"
        )
    dims = {len(e) for e in embeddings}
    if len(dims) > 1:
        raise EngineError(
            "collection add/upsert: embeddings have mixed dimensions "
            f"{sorted(dims)} — Chroma rejects the call, nothing was "
            "written"
        )
    metas = metadatas if metadatas is not None else [None] * n
    return spark.createDataFrame(
        pa.table(
            {
                "id": pa.array([str(i) for i in ids], pa.string()),
                "document": pa.array(
                    documents if documents is not None else [None] * n,
                    pa.string(),
                ),
                "embedding": pa.array(
                    [[float(x) for x in e] for e in embeddings],
                    pa.list_(pa.float32()),
                ),
                "metadata": pa.array(
                    [
                        [(str(k), str(v)) for k, v in m.items()]
                        if m is not None
                        else []
                        for m in metas
                    ],
                    pa.map_(pa.string(), pa.string()),
                ),
            }
        )
    )


def _check_dim_vs_manifest(root, name, embeddings, who: str) -> int | None:
    """Raise BEFORE any write when the batch's (uniform) dimension
    contradicts an existing collection's manifest — Chroma rejects
    the whole call; hydrate's lake-scan null policy would silently
    drop the rows instead, which is wrong for literal client
    input. Returns the batch's dimension for ``HydrationConfig.dim``
    (``None`` for an empty batch: hydrate then takes the manifest's)."""
    batch_dim = (len(embeddings[0]) if len(embeddings) else 0) or None
    try:
        dim = load_manifest(root, name).dim
    except Exception:
        return batch_dim  # new collection: created at the batch's dim
    bad = {len(e) for e in embeddings} - {dim}
    if bad:
        raise EngineError(
            f"{who}: embeddings have dimension {sorted(bad)} but "
            f"collection {name!r} stores dim {dim} — nothing was "
            "written"
        )
    return batch_dim


def _indexes_insert(
    spark: SparkSession,
    targets,
    batch: DataFrame,
    *,
    id_col: str,
    text_col: str,
    embedding_col: str,
    replace_text: bool,
    tag: str | None = None,
) -> None:
    """The insert fan-out of add, upsert and the CDC loop's net
    inserts, after the rows landed in the collection. Vector sidecars
    take the batch through their surgical upsert (add-or-replace; it
    also resurrects ids a previous delete tombstoned). A band sidecar
    takes the whole batch through ``band_index_apply``'s part rewrite
    when held ids' text may change (``replace_text``, the upsert);
    otherwise it appends the batch (``tag`` names a stream batch's
    append for its replay) and then re-adds the band-tombstoned ids
    through ``band_index_apply``, since the id-free layout has no
    surgical band upsert."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_upsert,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_append,
        band_index_apply,
        band_index_tombstoned_ids,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_upsert,
    )

    docs = batch.select(id_col, text_col)
    for path, _, kinds in targets:
        for sc, upsert in zip(_VECTOR_SIDECARS, (ivf_upsert, ivf_pq_upsert)):
            if sc in kinds:
                upsert(
                    spark, path, batch.select(id_col, embedding_col),
                    id_col=id_col, embedding_col=embedding_col,
                )
        if _BAND not in kinds:
            continue
        if replace_text:
            band_index_apply(
                spark, path, upserts=docs, id_col=id_col, text_col=text_col
            )
            continue
        ts = band_index_tombstoned_ids(spark, path)
        # bounded by the batch
        dead = [
            r[0]
            for r in docs.join(
                ts, F.col(id_col) == F.col("_ts_id"), "left_semi"
            ).select(id_col).collect()
        ]
        # append FIRST: a torn-append replay heals its pending marker
        # here, and band_index_apply refuses to run over a torn index
        band_index_append(
            spark, path, docs.filter(_outside(F.col(id_col), dead)),
            id_col=id_col, text_col=text_col, tag=tag,
        )
        if dead:
            band_index_apply(
                spark, path, upserts=docs.filter(F.col(id_col).isin(dead)),
                id_col=id_col, text_col=text_col,
            )


def _collection_write(
    spark, root, name, ids, embeddings, documents, metadatas, index_paths,
    on_duplicate: str,
) -> int:
    """The one body of ``collection_add`` (``on_duplicate='error'``)
    and ``collection_upsert`` (``'upsert'``)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )

    who = "collection_add" if on_duplicate == "error" else "collection_upsert"
    targets = _index_targets(index_paths, who)
    items = _chroma_items_df(spark, ids, embeddings, documents, metadatas)
    dim = _check_dim_vs_manifest(root, name, embeddings, who)
    if any(_BAND in kinds for _, _, kinds in targets) and (
        documents is None or any(d is None for d in documents)
    ):
        raise EngineError(
            "a band (near-dup) index cohabits at this index_path "
            "but the batch carries missing documents "
            "(documents=None or null entries are legal Chroma, "
            "but every row indexed by a band index needs text to "
            "minhash). Pass documents for all rows, or drop the "
            "band index from index_paths for document-less "
            "collections."
        )
    cfg = HydrationConfig(
        collection_name=name,
        root=root,
        id_col="id",
        text_col="document",
        embedding_col="embedding",
        metadata_col="metadata",
        on_duplicate=on_duplicate,
        dim=dim,
    )
    report = hydrate(spark, items, cfg)
    _indexes_insert(
        spark, targets, items, id_col="id", text_col="document",
        embedding_col="embedding", replace_text=on_duplicate == "upsert",
    )
    return report.rows_written


def collection_add(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    ids,
    embeddings,
    documents=None,
    metadatas=None,
    index_paths: list[str] | tuple[str, ...] = (),
) -> int:
    """``collection.add(ids=..., embeddings=..., documents=...,
    metadatas=...)`` — the literal Chroma client front door the
    reference's script reaches for first (sas:177-190 calls it in
    bulk). Signature-faithful thin wrapper over the hydrate path with
    ``on_duplicate='error'``: a duplicate id — in-batch or already
    held — raises ``DuplicateIdError`` before anything lands, exactly
    Chroma's add semantics (ids a previous ``collection.delete``
    removed are NOT duplicates and insert normally). Embeddings are
    dim-validated strictly; an invalid vector raises instead of
    silently dropping (lists are literal client input, not a lake
    scan with a null policy). Per-row ``metadatas`` dicts land whole
    in the canonical ``map<string,string>``. Every persisted index at
    ``index_paths`` is kept servable through its surgical
    upsert/append path. Returns the number of rows added.

    Per-call cost: O(batch) on the driver plus one id-column probe.
    The batch is a local Arrow relation, so its ids, buckets and hash
    pairs are computed on the driver with no Spark job: the in-batch
    duplicate check, the id-guard Bloom prescreen and the filter
    extend run in Python. Stored ids are read by one pushed
    ``id IN (batch)`` probe of the collection (pruned to the batch's
    buckets) and, for Bloom-positive ids only, one of each index's id
    column. Then the collection append and each index's cell write.

    Driver-side note: the parallel-list signature is for
    client-SIZED batches (it builds one local DataFrame); bulk loads
    keep using ``operators.hydrate.hydrate`` on a distributed frame —
    same machinery, no collect anywhere."""
    return _collection_write(
        spark, root, name, ids, embeddings, documents, metadatas,
        index_paths, "error",
    )


def collection_upsert(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    ids,
    embeddings,
    documents=None,
    metadatas=None,
    index_paths: list[str] | tuple[str, ...] = (),
) -> int:
    """``collection.upsert(...)`` — insert-or-replace, the other
    Chroma write front door. Same signature and item handling as
    ``collection_add``; underneath it is the hydrate path with
    ``on_duplicate='upsert'`` (held ids' rows are REPLACED whole —
    bucketed layouts rewrite only the touched buckets). Persisted
    vector indexes take the batch through their surgical upsert; a
    cohabiting band index takes it through ``band_index_apply``
    (held ids' text may have changed, and the id-free band layout's
    honest replacement unit is the atomic part rewrite — compact-
    cost per call; batch upserts accordingly). Returns the number of
    rows written.

    Per-call cost: O(batch) on the driver plus one id-column probe
    per index, as in ``collection_add``. The touched buckets are
    folded from the ids on the driver, and their rewrite drops the
    batch ids with a literal filter."""
    return _collection_write(
        spark, root, name, ids, embeddings, documents, metadatas,
        index_paths, "upsert",
    )
