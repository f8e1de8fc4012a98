"""Streaming vector retrieval: a stream of query embeddings served
against a STATIC corpus/collection.

Topology choice, made deliberately: per-query top-k needs a rank or
sort within each query's candidate set, and neither a window function
nor a sort is streaming-legal after a stream-static join; expressing
top-k as ``collect_list`` aggregation would be legal but holds every
query's FULL per-corpus score list in the state store — O(|corpus|)
state per in-flight query, which is exactly the thing that cannot
survive a 100 TB corpus. ``foreachBatch`` is the scale-honest shape:
each micro-batch is a plain batch DataFrame, so the whole existing
batch retrieval stack applies unchanged — ``knn_join`` (broadcast
queries, map-side top-k, shuffle bounded by queries×k, never the
corpus) or any ANN index over the static side — and the state store
holds NOTHING. This is the same reuse-the-batch-writer pattern as
``stream_hydrate`` (hydrate_stream.py), applied to the read path.

Parity contract: the micro-batch function IS the batch operator, so
streaming results equal the batch twin row-for-row
(tests/test_streaming.py drives both); the oracle-checkable batch
twin in the registry is ``knn_join_top3``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_databases___hydrate_chroma_db_collection_spark.operators._cache import (
    release_cache,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
    knn_join,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    read_parquet,
)


def stream_knn_serve(
    query_stream: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 3,
    query_id_col: str = "qid",
    query_embedding_col: str = "q_embedding",
    corpus_id_col: str = "id",
    corpus_embedding_col: str = "embedding",
    metric: str = "cosine",
    score_decimals: int | None = 4,
    retrieval_fn=None,
    sink_path: str | None = None,
    sink_table: str = "stream_knn_results",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Serve a STREAM of query embeddings against a static corpus:
    every micro-batch of queries runs the batch ``knn_join`` (the
    corpus plan is re-used each batch, like the static side of a
    stream-static join) and publishes (qid, neighbor_id, score, rank)
    rows to a Parquet sink directory partitioned by micro-batch.

    Exactly-once is REAL here, not assumed: ``foreachBatch`` is
    at-least-once (a crash between the write and the checkpoint
    commit replays the batch), so each batch writes with
    ``mode("overwrite")`` into the DETERMINISTIC subdirectory
    ``<sink_path>/batch_id=<id>`` — a replayed attempt overwrites its
    own previous files and the sink converges to exactly one copy of
    every (qid, rank) row regardless of attempt count. This is the
    same replay-idempotence contract as ``stream_hydrate``'s
    deterministic publish names, using partition-directory overwrite
    instead of file renames because each batch owns a whole partition.

    ``retrieval_fn`` swaps the per-batch retrieval plan: a callable
    ``(batch_queries: DataFrame) -> DataFrame`` replacing the default
    exact ``knn_join`` — pass e.g. a partial over ``ivf_knn_join``
    with a pre-built index to serve the stream from an ANN index (the
    static side is built ONCE outside the stream and reused every
    micro-batch, exactly like a stream-static join's static plan;
    tests/test_streaming.py drives this with IVF). The exactly-once
    sink contract is independent of the retrieval plan.

    ``sink_path`` defaults to ``<checkpoint_dir>/../<sink_table>_data``
    when a checkpoint is given, else ``<sink_table>_data`` under the
    session's ``spark.sql.warehouse.dir`` (NOT the process CWD — a
    driver launched from a read-only or ephemeral working directory
    must still have a writable default sink).
    ``sink_table`` names a TEMP VIEW over the sink directory, so
    callers can ``spark.table(sink_table)``; it is registered (empty,
    with the retrieval plan's schema plus the ``batch_id`` partition
    column) BEFORE the stream starts — a consumer that reads before
    the first batch, or a stream whose batches are all empty, sees an
    empty result instead of TABLE_OR_VIEW_NOT_FOUND — and re-pointed
    at the parquet directory after each batch (file listings snapshot
    at view creation, so re-registration is what makes new batch
    partitions visible). Pass a unique name per concurrent stream.
    For production swap the writer for Kafka/Delta — the retrieval
    plan is unchanged.
    """

    # The view must land in the CALLER's session catalog: foreachBatch
    # hands the batch a CLONED session whose temp-view registry is
    # invisible to the original, so batch_df.sparkSession would
    # register a view nobody can read.
    origin_session = query_stream.sparkSession

    if sink_path is not None:
        base = sink_path
    elif checkpoint_dir is not None:
        base = os.path.join(
            os.path.dirname(os.path.abspath(checkpoint_dir)),
            f"{sink_table}_data",
        )
    else:
        warehouse = origin_session.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:") :]
        base = os.path.join(warehouse, f"{sink_table}_data")

    # Register the sink view up front with the retrieval plan's
    # schema: build the plan over a ZERO-ROW frame of the stream's
    # schema (plan construction is lazy — nothing executes) and add
    # the batch_id partition column the parquet reader will discover.
    import inspect

    def _call_retrieval(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # retrieval_fn may accept (batch_df) or (batch_df, batch_id) —
        # the batch id is the replay-detection token for ingesting
        # retrieval plans (stream_novelty_ingest tags its index
        # appends with it); plain serving plans don't need it.
        params = [
            q
            for q in inspect.signature(retrieval_fn).parameters.values()
            if q.kind
            in (q.POSITIONAL_ONLY, q.POSITIONAL_OR_KEYWORD, q.VAR_POSITIONAL)
        ]
        if len(params) >= 2:
            return retrieval_fn(batch_df, batch_id)
        return retrieval_fn(batch_df)

    empty_queries = origin_session.createDataFrame([], query_stream.schema)
    if retrieval_fn is not None:
        proto = _call_retrieval(empty_queries, -1)
    else:
        proto = knn_join(
            empty_queries,
            corpus,
            k=k,
            query_id_col=query_id_col,
            query_embedding_col=query_embedding_col,
            corpus_id_col=corpus_id_col,
            corpus_embedding_col=corpus_embedding_col,
            metric=metric,
            score_decimals=score_decimals,
        )
    proto.limit(0).withColumn(
        "batch_id", F.lit(0).cast("int")
    ).createOrReplaceTempView(sink_table)
    # The proto plan exists only for its schema; if the retrieval fn
    # attached persisted intermediates (never materialized — plan
    # construction is lazy), drop the registrations now.
    release_cache(proto)

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = origin_session
        if batch_df.isEmpty():
            return
        if retrieval_fn is not None:
            out = _call_retrieval(batch_df, batch_id)
        else:
            out = knn_join(
                batch_df,
                corpus,
                k=k,
                query_id_col=query_id_col,
                query_embedding_col=query_embedding_col,
                corpus_id_col=corpus_id_col,
                corpus_embedding_col=corpus_embedding_col,
                metric=metric,
                score_decimals=score_decimals,
            )
        # Deterministic per-batch partition dir; overwrite makes the
        # replayed attempt idempotent (see module docstring).
        out.write.mode("overwrite").parquet(
            os.path.join(base, f"batch_id={batch_id}")
        )
        # Retrieval plans that persist intermediates (e.g. the
        # novelty gate's shingle cache) attach them to the result;
        # release per batch or a long stream pins one cache entry per
        # micro-batch. No-op for plans without attached caches.
        release_cache(out)
        read_parquet(spark, base).createOrReplaceTempView(sink_table)

    writer = query_stream.writeStream.foreachBatch(serve_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
