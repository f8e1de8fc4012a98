"""Two-writer optimistic-concurrency fence (r13 verdict item 5):
interleaved writers against one source-stamped IVF index — exactly
one winner at a contested etag, the loser gets the typed retryable
``StaleIndexError``, the sidecar is never torn, and the loser's
retry through the composed front door converges. Plus kill-point
coverage inside the delete commit sequence."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.errors import (
    StaleIndexError,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_append,
    ivf_build,
    ivf_delete,
    ivf_read,
    ivf_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
    collection_delete_indexed,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    collection_etag,
    read_collection,
)

N = 24


def _setup(spark, tmp_path):
    root = str(tmp_path / "root")
    docs = [
        (str(i), f"doc {i}", [float((i * 7 + j) % 11) for j in range(4)])
        for i in range(N)
    ]
    cfg = HydrationConfig(
        collection_name="w", root=root, id_col="id",
        text_col="text", embedding_col="embedding",
    )
    hydrate(
        spark,
        spark.createDataFrame(
            docs, "id string, text string, embedding array<float>"
        ),
        cfg,
    )
    coll = read_collection(spark, root, "w")
    assigned, C = ivf_build(coll, n_centroids=2, seed=3)
    idx = str(tmp_path / "ivf")
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "w"),
        build={"metric": "l2", "seed": 3, "sample_fraction": None},
    )
    return root, cfg, idx


def test_two_writer_delete_one_winner_loser_retries(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    etag0 = collection_etag(root, "w")
    # writer A wins the race: full composed delete commits
    assert collection_delete_indexed(
        spark, root, "w", ids=["1", "2"], index_paths=[idx]
    ) == 2
    # writer B planned against etag0 — its index mutation must LOSE
    # with the typed retryable error, not half-apply
    with pytest.raises(StaleIndexError):
        ivf_delete(spark, idx, ["3"], expected_prev_etag=etag0)
    # the sidecar is not torn: readable, fence passes, B's id is NOT
    # tombstoned, A's deletes hold
    a, _, _ = ivf_read(spark, idx)
    assert a.count() == N - 2
    assert a.filter(F.col("id") == "3").count() == 1
    # B retries through the composed front door (re-observes state)
    assert collection_delete_indexed(
        spark, root, "w", ids=["3"], index_paths=[idx]
    ) == 1
    a2, _, _ = ivf_read(spark, idx)
    assert a2.count() == N - 3
    assert a2.filter(F.col("id").isin(["1", "2", "3"])).count() == 0


def test_two_writer_append_fence_loses_then_retries(spark, tmp_path):
    root, cfg, idx = _setup(spark, tmp_path)
    etag0 = collection_etag(root, "w")
    # A commits a composed delete first
    collection_delete_indexed(
        spark, root, "w", ids=["5"], index_paths=[idx]
    )
    # B: hydrate new rows (collection append moves the etag again),
    # then tries to index them pinned to the STALE etag0 — refused
    newrows = spark.createDataFrame(
        [("100", "new", [1.0] * 4)],
        "id string, text string, embedding array<float>",
    )
    hydrate(spark, newrows, cfg)
    with pytest.raises(StaleIndexError):
        ivf_append(spark, idx, newrows, expected_prev_etag=etag0)
    # index untouched by the refused append (read unfenced: the
    # collection legitimately moved past the stamp, which is exactly
    # what the refused append did NOT launder)
    a, _, _ = ivf_read(spark, idx, verify_source=False)
    assert a.filter(F.col("id") == "100").count() == 0
    # retry pinned to the etag B NOW observes converges
    assert ivf_append(spark, idx, newrows) == 1
    a2, _, _ = ivf_read(spark, idx)
    assert a2.filter(F.col("id") == "100").count() == 1
    assert a2.count() == N  # 24 - 1 deleted + 1 appended


def test_delete_kill_point_before_sidecar_swap_replays(
    spark, tmp_path, monkeypatch
):
    # crash INSIDE ivf_delete after the tombstone recording lands but
    # before the atomic sidecar swap: readers keep the old complete
    # index; the replay re-runs the whole delete and converges; the
    # orphan recording dir is GC'd by the replay's commit.
    import sys

    root, cfg, idx = _setup(spark, tmp_path)
    store = sys.modules[
        "vector_databases___hydrate_chroma_db_collection_spark.operators.store"
    ]
    real = store._atomic_sidecar_write
    calls = {"n": 0}

    def boom(p, fname, meta):
        calls["n"] += 1
        raise RuntimeError("injected crash before sidecar swap")

    monkeypatch.setattr(store, "_atomic_sidecar_write", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ivf_delete(spark, idx, ["4"])
    monkeypatch.setattr(store, "_atomic_sidecar_write", real)
    assert calls["n"] == 1
    # old sidecar intact: id 4 still served (the delete never commits)
    a, _, _ = ivf_read(spark, idx)
    assert a.filter(F.col("id") == "4").count() == 1
    orphans = [
        d for d in os.listdir(idx) if d.startswith("ivf_tombstones_v")
    ]
    assert orphans, "the crashed attempt should have left a recording"
    # replay converges and GC's every superseded/orphan recording
    assert ivf_delete(spark, idx, ["4"]) == 1
    a2, _, _ = ivf_read(spark, idx)
    assert a2.filter(F.col("id") == "4").count() == 0
    with open(os.path.join(idx, "ivf_index.json")) as f:
        meta = json.load(f)
    kept = meta["tombstones"]["location"]
    leftover = [
        d
        for d in os.listdir(idx)
        if d.startswith("ivf_tombstones_v") and d != kept
    ]
    assert leftover == []


def test_writer_lock_mutual_exclusion_across_processes(tmp_path):
    """The r15 cross-process writer lock at syscall level, no Spark:
    two processes each do 50 read-modify-write cycles on one sidecar
    under ``_writer_lock``. Without mutual exclusion interleaved
    read->write cycles lose updates with near-certainty; with it the
    counter must land at exactly 100 and the JSON is never torn."""
    import subprocess
    import sys as _sys

    p = str(tmp_path)
    os.makedirs(p, exist_ok=True)
    with open(os.path.join(p, "ivf_index.json"), "w") as f:
        json.dump({"counter": 0}, f)
    worker = r"""
import json, os, sys
sys.path.insert(0, %r)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _writer_lock,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
    _atomic_sidecar_write,
)
p = sys.argv[1]
for _ in range(50):
    with _writer_lock(p, "ivf_index.json"):
        with open(os.path.join(p, "ivf_index.json")) as f:
            meta = json.load(f)
        meta["counter"] += 1
        _atomic_sidecar_write(p, "ivf_index.json", meta)
print("done")
""" % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", worker, p],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for _ in range(2)
    ]
    for pr in procs:
        out, err = pr.communicate(timeout=120)
        assert pr.returncode == 0, err.decode()[-2000:]
        assert b"done" in out
    with open(os.path.join(p, "ivf_index.json")) as f:
        assert json.load(f)["counter"] == 100


def test_writer_lock_reentrant_same_thread(tmp_path):
    # the pq-delete-delegates-to-ivf_delete nesting must not
    # self-deadlock: nested acquisition on one thread is re-entrant
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _writer_lock,
    )

    p = str(tmp_path)
    with _writer_lock(p, "ivf_index.json"):
        with _writer_lock(p, "ivf_index.json"):
            pass
    # and a SECOND process cannot enter while we hold it
    import subprocess
    import sys as _sys
    import time as _time

    probe = r"""
import os, sys, time
sys.path.insert(0, %r)
from vector_databases___hydrate_chroma_db_collection_spark.operators.store import _writer_lock
open(os.path.join(sys.argv[1], "ready"), "w").close()
t0 = time.time()
with _writer_lock(sys.argv[1], "ivf_index.json"):
    pass
print("waited", time.time() - t0)
""" % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with _writer_lock(p, "ivf_index.json"):
        pr = subprocess.Popen(
            [_sys.executable, "-c", probe, p], stdout=subprocess.PIPE
        )
        t0 = _time.time()
        while not os.path.exists(os.path.join(p, "ready")):
            _time.sleep(0.05)
            assert _time.time() - t0 < 60, "probe child never started"
        _time.sleep(1.0)  # child is at the lock attempt; we still hold
        assert pr.poll() is None, "second process entered a held lock"
    out, _ = pr.communicate(timeout=60)
    waited = float(out.split()[-1])
    assert waited >= 0.9, out


def test_two_process_append_delete_race_converges(spark, tmp_path):
    """The true two-process stress (r14 verdict item 6): two separate
    Spark sessions hammer append+delete on ONE IVF index under real
    OS interleaving. The writer lock serializes whole mutations, so
    every committed op derives from the committed state before it:
    afterwards every appended id serves exactly once, every deleted
    id is tombstoned, no writer's tombstones or id-guard segments
    were lost (replays of BOTH writers' batches return 0), and the
    sidecar is never torn."""
    import subprocess
    import sys as _sys

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_tombstoned_ids,
    )

    root, cfg, idx = _setup(spark, tmp_path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = r"""
import sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession, functions as F
from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_append, ivf_delete,
)
idx, base, iters = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = (
    SparkSession.builder.master("local[2]")
    .appName("fence-worker-%%d" %% base)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
vec = F.transform(
    F.sequence(F.lit(1), F.lit(4)),
    lambda j: (F.pmod(F.col("id") * j, F.lit(11))).cast("float"),
)
for k in range(iters):
    lo = base + k * 3
    batch = spark.range(lo, lo + 3).select(
        F.col("id").cast("string").alias("id"), vec.alias("embedding")
    )
    n = ivf_append(spark, idx, batch, id_col="id", embedding_col="embedding")
    assert n == 3, (k, n)
    assert ivf_delete(spark, idx, [str(lo)]) == 1
print("worker-ok")
spark.stop()
""" % repo
    iters = 5
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", worker, idx, str(base), str(iters)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for base in (1000, 2000)
    ]
    for pr in procs:
        out, err = pr.communicate(timeout=900)
        assert pr.returncode == 0, err.decode()[-3000:]
        assert b"worker-ok" in out
    # converged state: N initial + 2*iters*3 appended - 2*iters deleted
    a, _, _ = ivf_read(spark, idx)
    assert a.count() == N + 2 * iters * 3 - 2 * iters
    dead = {
        r[0] for r in ivf_tombstoned_ids(spark, idx).collect()
    }
    want_dead = {str(1000 + k * 3) for k in range(iters)} | {
        str(2000 + k * 3) for k in range(iters)
    }
    assert dead == want_dead  # NO writer's tombstones were lost
    # no lost id-guard state either: replays of both writers' batches
    # are recognized and refused (0 appended)
    from pyspark.sql import functions as F2

    vec = F.transform(
        F.sequence(F.lit(1), F.lit(4)),
        lambda j: (F.pmod(F.col("id") * j, F.lit(11))).cast("float"),
    )
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        TombstonedIdError,
    )

    for base in (1000, 2000):
        replay = spark.range(base + 4, base + 6).select(
            F.col("id").cast("string").alias("id"), vec.alias("embedding")
        )
        assert ivf_append(
            spark, idx, replay, id_col="id", embedding_col="embedding"
        ) == 0
        # and a replay carrying a tombstoned id is REFUSED (typed) —
        # that writer's tombstone demonstrably survived the race
        dead_replay = spark.range(base + 3, base + 4).select(
            F.col("id").cast("string").alias("id"), vec.alias("embedding")
        )
        with pytest.raises(TombstonedIdError):
            ivf_append(
                spark, idx, dead_replay,
                id_col="id", embedding_col="embedding",
            )
    # sidecar parses and the fence re-read passes
    with open(os.path.join(idx, "ivf_index.json")) as f:
        json.load(f)
