"""Streaming sketch maintenance — mergeable CMS state via foreachBatch.

A count-min sketch is LINEAR: the sketch of a union is the cell-wise
sum of the sketches. That makes it the natural streaming frequency
state — each micro-batch contributes a bounded depth×width counter
delta, merged into the running state by one tiny aggregation, and the
state NEVER grows with the key cardinality (contrast a per-key
`applyInPandasWithState` running count, whose state is O(distinct
keys); see ``windows.stateful_user_totals`` for that shape).

State durability follows the collection layer's versioned-dir +
pointer protocol (``plans/collection.py::swap_data_dir`` reasoning):
each merge writes a fresh ``v{batch}`` dir and atomically renames a
pointer file, so readers always see a complete sketch and a crashed
merge leaves the previous version live. Replays are idempotent on
BOTH sides of the commit point: a crash before the pointer swap
re-runs the merge from the previous version, and a crash AFTER the
swap but before the streaming checkpoint records the batch (Spark's
at-least-once foreachBatch contract) is caught by the batch-id guard
in ``stream_cms_counters`` — the pointer already names ``v{batch}``,
so the replay is a no-op instead of a double count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators.sketch import (
    cms_counters,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    read_parquet,
)

_POINTER = "_current"


def _read_pointer(state_dir: str) -> tuple[str, str] | None:
    """(version, run_token) from the pointer file, or None."""
    ptr = os.path.join(state_dir, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        lines = f.read().splitlines()
    return (lines[0], lines[1] if len(lines) > 1 else "")


def read_cms_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current merged counters, or None before the first commit."""
    head = _read_pointer(state_dir)
    if head is None:
        return None
    return read_parquet(spark, os.path.join(state_dir, head[0]))


def _version_name(batch_id: int, run_token: str) -> str:
    """Version dir name is unique per (batch, run): a fresh run whose
    batch ids restart at 0 writes v0-<newtok>, never overwriting the
    v0-<oldtok> dir its own merge is reading from (overwriting a path
    being read is both an AnalysisException and, if forced, data
    loss)."""
    import hashlib

    tok8 = hashlib.md5(run_token.encode()).hexdigest()[:8] if run_token else "local"
    return f"v{batch_id}-{tok8}"


def _commit_cms_state(
    df: DataFrame, state_dir: str, batch_id: int, run_token: str = ""
) -> None:
    version = _version_name(batch_id, run_token)
    out = os.path.join(state_dir, version)
    df.write.mode("overwrite").parquet(out)
    tmp = os.path.join(state_dir, f"{_POINTER}.tmp.{batch_id}")
    with open(tmp, "w") as f:
        f.write(f"{version}\n{run_token}")
    os.replace(tmp, os.path.join(state_dir, _POINTER))  # atomic commit
    # GC superseded versions AFTER the commit point: a continuous
    # stream would otherwise leave one full sketch copy per
    # micro-batch behind forever. Readers mid-scan of the retired dir
    # keep their open files (local-FS unlink semantics — same
    # contract as plans/collection.swap_data_dir).
    import shutil

    for d in os.listdir(state_dir):
        if d.startswith("v") and d != version:
            shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def stream_cms_counters(
    stream: DataFrame,
    key_col: str,
    *,
    state_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    trigger_once: bool = True,
):
    """Maintain a CMS over a stream -> StreamingQuery.

    Each micro-batch: sketch the batch (bounded aggregation), union
    with the current state, re-aggregate to ≤ depth·width rows, commit
    a new version. The merge cost is O(sketch), independent of both
    the batch's and the stream's key cardinality — the 100 TB/day
    frequency-tracking shape. Estimates over the merged state use
    ``operators.sketch.cms_estimate`` unchanged (linearity means the
    merged sketch IS the batch sketch of everything seen)."""
    os.makedirs(state_dir, exist_ok=True)

    # The run token ties the replay guard to THIS stream's checkpoint:
    # batch ids restart at 0 when a state_dir is reused with a fresh
    # checkpoint, and without the token the guard would mistake the
    # new run's first real batch for a replay and silently drop it.
    run_token = os.path.abspath(checkpoint_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard (foreachBatch is at-least-once): if the pointer
        # already names this batch's version FROM THIS CHECKPOINT, the
        # previous attempt crashed after its commit — merging again
        # would double-count every key in the batch, so the replay is
        # a no-op. A matching version under a DIFFERENT checkpoint is
        # a fresh run's genuine batch and merges normally.
        head = _read_pointer(state_dir)
        if head is not None and head == (
            _version_name(batch_id, run_token),
            run_token,
        ):
            return
        delta = cms_counters(batch_df, key_col, depth=depth, width=width)
        prev = read_cms_state(batch_df.sparkSession, state_dir)
        merged = (
            delta
            if prev is None
            else prev.unionByName(delta)
            .groupBy("hash_row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        _commit_cms_state(merged, state_dir, batch_id, run_token)

    writer = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
