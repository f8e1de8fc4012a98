"""Corpus-independent double-ingest guard: a Bloom filter over an
index's indexed-id set, kept as a binary sidecar next to the index's
JSON sidecar.

Why: ``band_index_append`` and ``ivf_append`` guard replays by
anti-joining each incoming batch against the FULL persisted id set —
one column, but corpus-sized: at 10^9 indexed docs that is a multi-GB
scan per 2k-doc micro-batch, the same cost class the bucket_keys
append shed in r10. With the Bloom sidecar the guard becomes:

1. probe the batch's ids against the filter (one Arrow-batched pass
   over the BATCH — the filter rides along as a Spark broadcast,
   corpus IO: zero; a client batch whose ids the driver holds is
   probed on the driver by the same bit test, ``_bloom_maybe``);
2. ids the filter rejects are DEFINITELY new (a Bloom filter has no
   false negatives) — no exact check needed;
3. ids the filter accepts (true replays + false positives) fall back
   to the exact anti-join, restricted to that accepted subset.

At steady state (genuinely new ids) the accepted set is ~fp_rate *
|batch| ~ 0 and the append touches no corpus data at all; a full
replay pays one exact scan — rare by construction and always correct.

Durability contract (why the filter is written BEFORE the data):
correctness requires the committed filter to be a SUPERSET of the
indexed ids — a missing id would make its replay skip the exact check
and double-ingest. Supersets are safe (extra bits only cause false
positives, absorbed by the exact fallback), so every append merges
the WHOLE batch's ids into the filter and persists it before the
first data write: a crash at any later point leaves the replayed
batch bloom-positive, which routes it into the exact/heal path the
appends already have.

Filter math: standard Bloom with double hashing (Kirsch &
Mitzenmacher 2006): positions ``(h1 + i*h2) mod m`` for ``i < k``,
with ``h1 = xxhash64(id)``, ``h2 = xxhash64(id, salt)`` — both
computed JVM-side by Catalyst on BOTH the build and probe paths, so
there is exactly one hash implementation to keep consistent. The
driver only ORs 64-bit words. At 10 bits/id the false-positive rate
is ~0.8% (k=7); sizing is recorded in the index sidecar and the
filter is resized from the current id count at compaction.

Scale note: filter bytes are proportional to CAPACITY, not to the
batch — 10^9 ids at 10 bits/id is ~1.2 GB, which is driver-memory
and broadcast-sized, not scan-sized. The probe cost per batch is
|batch| rows through one vectorized pandas UDF.

Sharded appends (r15): the r14 100M probe named the per-append
merge+fsync of that corpus-sized artifact as the LAST corpus-linear
term on the append path (~125 MB per 2k-doc batch at 100M ids). The
guard is now a main filter plus a DELTA LOG: an append persists only
a segment of the batch's raw ``(xxhash64(id), xxhash64(id, salt))``
pairs (16 bytes/id — batch-proportional), probes test main bits OR
delta membership in the same single pandas pass, and segments FOLD
into a fresh main filter — pure driver-side hash arithmetic, since
every (m, k) bit position derives from the raw pair — once they
exceed capacity/64 ids or 64 files. The corpus-sized rewrite is thus
paid once per ~64 appends instead of per batch, and nothing on the
append path scales with the corpus anymore.

Reference provenance: the reference's hydration step (sas:126-193)
re-runs are guarded only by Chroma's upsert semantics; a Spark
ingest loop owns its own exactly-once story, and this is the piece
that keeps it corpus-independent.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_MAGIC = b"SGIDBLM1"
_DMAGIC = b"SGIDDLT1"
_SALT = "spark-graft-idguard-h2"
HASH_SPEC = "xxhash64-double-v1"
# design density of every id-guard filter (bloom_params default, the
# audit's capacity math, and the oracle's documented sizing formula
# all derive from this one constant)
BITS_PER_ID = 10
# Delta-segment fold policy (r15): an append normally persists only a
# SEGMENT (the batch's raw 128-bit id-hash pairs, ~16 bytes/id) and
# leaves the main filter untouched; segments fold into the main
# filter — pure driver-side hash arithmetic, no corpus IO — once
# their id total passes capacity/DELTA_FOLD_CAP_FRACTION (or the
# segment list passes DELTA_MAX_SEGMENTS), so the corpus-sized main
# rewrite is amortized over ~DELTA_FOLD_CAP_FRACTION appends instead
# of being paid per batch (the r14 100M probe's last corpus-linear
# append term).
DELTA_FOLD_MIN_IDS = 4096
DELTA_FOLD_CAP_FRACTION = 64
DELTA_MAX_SEGMENTS = 64


def batch_digest(df: DataFrame, id_col: str) -> str:
    """Order-independent content identity of a batch's id set (count
    + xor of per-id hashes under TWO independent seeds) — one tiny
    aggregation, stable across replay attempts. Streaming callers
    fold this into their append tags so a tag can never collide
    across DIFFERENT content: a restarted stream (fresh checkpoint,
    same sink/batch ids) must gate as a FRESH batch, not as a replay
    of the old run's batch — replay-as-equality-of-(tag, content),
    never tag alone. A single xor is a weak set hash (two disjoint
    pairs with equal pairwise xor collide — constructible); colliding
    BOTH independently-seeded xors simultaneously is not. Two xors
    rather than a modular sum because BIGINT sums overflow-raise
    under ANSI; xor cannot."""
    r = (
        df.select(F.col(id_col).cast("string").alias("_s"))
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(_s))").alias("x"),
            F.expr(
                "bit_xor(xxhash64(_s, 'spark-graft-digest-h2'))"
            ).alias("x2"),
        )
        .first()
    )
    return f"{r['c']}:{r['x']}:{r['x2']}"


def bloom_params(
    expected_ids: int, *, bits_per_id: int | None = None
) -> tuple[int, int]:
    """Size a filter for ``expected_ids`` at ``bits_per_id``: returns
    (m bits, k hashes) with m rounded up to whole 64-bit words and k
    the optimal ``m/n * ln 2`` clamped to [1, 8]. The floor (2^16
    bits = 8 KiB) keeps tiny test indexes honest without special
    cases."""
    if bits_per_id is None:
        bits_per_id = BITS_PER_ID
    expected = max(int(expected_ids), 1)
    m = max(1 << 16, expected * bits_per_id)
    m = (m + 63) // 64 * 64
    k = max(1, min(8, round(m / expected * 0.6931)))
    return m, k


def _bit_positions(id_str: Column, m: int, k: int) -> list[Column]:
    """The k probe positions for one id, as Catalyst expressions —
    the single source of truth for the hash family (build and probe
    both call this; the pandas probe only tests bits). ``h1``/``h2``
    are reduced mod m BEFORE combining so ``b1 + i*step < 9m`` never
    overflows a BIGINT (ANSI mode raises on overflow)."""
    b1 = F.pmod(F.xxhash64(id_str), F.lit(m))
    step = F.pmod(F.xxhash64(id_str, F.lit(_SALT)), F.lit(m))
    return [F.pmod(b1 + F.lit(i) * step, F.lit(m)) for i in range(k)]


def bloom_build(df: DataFrame, id_str: Column, m: int, k: int) -> np.ndarray:
    """Aggregate a DataFrame's ids into filter words: explode each
    id's k bit positions, fold them into (word index, OR of bit
    values) with one map-side-combinable ``bit_or`` groupBy, and
    assemble the (sparse) result into a dense word array on the
    driver. The collect is bounded by the FILTER size (m/64 words),
    never by the row count."""
    pos = df.select(
        F.explode(F.array(*_bit_positions(id_str, m, k))).alias("pos")
    )
    # Arrow transfer, not .collect(): the result is up to m/64 rows
    # (625k words for a 4M-id filter), and row-at-a-time py4j
    # deserialization of that was the write path's single biggest
    # line item (~4 s at 1M ids; ~1 s via Arrow).
    pdf = (
        pos.select(
            F.shiftright("pos", 6).alias("w"),
            # SQL form: pyspark's shiftleft() only takes a literal count
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("v"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(v)").alias("v"))
        .toPandas()
    )
    words = np.zeros(m // 64, dtype=np.uint64)
    if len(pdf):
        idx = pdf["w"].to_numpy(dtype=np.int64)
        vals = pdf["v"].to_numpy(dtype=np.int64).view(np.uint64)
        words[idx] = vals
    return words


def bloom_or(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.shape != b.shape:
        raise ValueError(
            f"cannot merge Bloom filters of different sizes "
            f"({a.shape} vs {b.shape}); rebuild with one capacity"
        )
    return np.bitwise_or(a, b)


def bloom_write(p: str, fname: str, words: np.ndarray, m: int, k: int) -> None:
    """Durable binary write (temp + fsync + rename), same discipline
    as the JSON sidecar writer: a reader never sees a torn filter."""
    tmp = os.path.join(p, fname + ".tmp")
    header = _MAGIC + np.array([m, k], dtype="<u8").tobytes()
    with open(tmp, "wb") as f:
        f.write(header)
        f.write(words.astype("<u8").tobytes())
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
        pass


def bloom_read(p: str, fname: str) -> tuple[np.ndarray, int, int]:
    with open(os.path.join(p, fname), "rb") as f:
        raw = f.read()
    if raw[:8] != _MAGIC:
        raise ValueError(f"{fname!r} is not an id-guard Bloom sidecar")
    m, k = (int(x) for x in np.frombuffer(raw[8:24], dtype="<u8"))
    words = np.frombuffer(raw[24:], dtype="<u8").astype(np.uint64)
    if words.size != m // 64:
        raise ValueError(
            f"{fname!r} is truncated: {words.size} words for m={m}"
        )
    return words, m, k


def delta_write(p: str, fname: str, h1: np.ndarray, h2: np.ndarray) -> None:
    """Durable write of one delta segment: the batch's raw
    ``(xxhash64(id), xxhash64(id, salt))`` pairs. 16 bytes/id —
    corpus-independent, and sufficient to (a) probe membership by h1
    and (b) later FOLD into any main filter geometry, since the k bit
    positions for any (m, k) derive from the raw pair alone."""
    tmp = os.path.join(p, fname + ".tmp")
    header = _DMAGIC + np.array([h1.size], dtype="<u8").tobytes()
    with open(tmp, "wb") as f:
        f.write(header)
        f.write(h1.astype("<i8").tobytes())
        f.write(h2.astype("<i8").tobytes())
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
        pass


def delta_read(p: str, fname: str) -> tuple[np.ndarray, np.ndarray]:
    with open(os.path.join(p, fname), "rb") as f:
        raw = f.read()
    if raw[:8] != _DMAGIC:
        raise ValueError(f"{fname!r} is not an id-guard delta segment")
    n = int(np.frombuffer(raw[8:16], dtype="<u8")[0])
    if len(raw) != 16 + 16 * n:
        raise ValueError(f"{fname!r} is truncated: {len(raw)} bytes for n={n}")
    h1 = np.frombuffer(raw[16 : 16 + 8 * n], dtype="<i8").astype(np.int64)
    h2 = np.frombuffer(raw[16 + 8 * n :], dtype="<i8").astype(np.int64)
    return h1, h2


def fresh_delta_file(p: str, segments: list | None) -> str:
    """Next monotonic delta segment name (``ids_delta_v1.bin``, ...)
    — monotonic past the LIVE segment list so GC'd versions are never
    recycled under a reader holding an older sidecar."""
    v = 0
    for s in segments or []:
        loc = s.get("location", "")
        try:
            v = max(v, int(loc.rsplit("_v", 1)[1].split(".")[0]))
        except (IndexError, ValueError):
            pass
    v += 1
    while os.path.exists(os.path.join(p, f"ids_delta_v{v}.bin")):
        v += 1
    return f"ids_delta_v{v}.bin"


def _batch_hash_pairs(
    batch_ids: DataFrame, bcol: Column
) -> tuple[np.ndarray, np.ndarray]:
    """The batch's raw hash pairs, computed by the SAME Catalyst
    expressions the filter build uses (one hash family, one
    implementation) and brought to the driver — bounded by the BATCH
    size, never the corpus. A client batch (a LocalRelation) is
    folded on the driver with no Spark job; any other frame is
    collected through Arrow. De-duplicated on the FULL (h1, h2)
    pair, not h1 alone: two distinct ids colliding on 64-bit h1
    produce different h2 values, and dropping either pair would leave
    that id's fold-time bit positions incomplete — after a segment
    fold a replay of the dropped id could probe 'definitely new' and
    double-ingest. Keeping both pairs costs 16 bytes and preserves
    the superset invariant unconditionally (duplicate IDs still
    collapse: identical ids produce identical pairs)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _driver_rows,
    )

    proj = batch_ids.select(
        F.xxhash64(bcol).alias("h1"),
        F.xxhash64(bcol, F.lit(_SALT)).alias("h2"),
    )
    rows = _driver_rows(proj)
    if rows is None:
        pdf = proj.toPandas()
        pairs = np.stack(
            [pdf["h1"].to_numpy(dtype=np.int64), pdf["h2"].to_numpy(dtype=np.int64)],
            axis=1,
        )
    else:
        pairs = np.array([(r[0], r[1]) for r in rows], dtype=np.int64).reshape(-1, 2)
    uniq = np.unique(pairs, axis=0)
    return np.ascontiguousarray(uniq[:, 0]), np.ascontiguousarray(uniq[:, 1])


def _fold_into(
    words: np.ndarray, m: int, k: int, h1: np.ndarray, h2: np.ndarray
) -> None:
    """OR a delta segment's ids into main-filter words IN PLACE by
    hash arithmetic alone: ``b1 = h1 pmod m``, ``step = h2 pmod m``,
    ``pos_i = (b1 + i*step) pmod m`` — bit-identical to the Catalyst
    build expressions (``_bit_positions``), verified by
    ``test_numpy_fold_matches_catalyst_build``. Chunked so a
    multi-million-id fold never materializes an (n, k) position
    matrix bigger than ~8M cells."""
    if h1.size == 0:
        return
    ks = np.arange(k, dtype=np.int64)[None, :]
    chunk = max(1, 8_000_000 // max(k, 1))
    for lo in range(0, h1.size, chunk):
        b1 = np.mod(h1[lo : lo + chunk], m)[:, None]
        step = np.mod(h2[lo : lo + chunk], m)[:, None]
        P = np.mod(b1 + ks * step, m)
        np.bitwise_or.at(
            words,
            P >> 6,
            np.left_shift(np.uint64(1), (P & 63).astype(np.uint64)),
        )


def _segments_h1(p: str, segments: list | None) -> np.ndarray:
    """Sorted h1 union of the live delta segments, for the probe's
    broadcast. h1-only membership is probe-sufficient: a replayed id
    reproduces its h1 exactly (no false negatives), and a 64-bit h1
    collision is a ~2^-64 false POSITIVE routed to the exact
    fallback like any Bloom positive."""
    parts = [delta_read(p, s["location"])[0] for s in segments or []]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def bloom_might_contain(
    df: DataFrame,
    id_str: Column,
    words: np.ndarray,
    m: int,
    k: int,
    *,
    broadcast=None,
) -> Column:
    """Boolean membership-probe column: true = the id MIGHT be
    indexed (replay or false positive — confirm with the exact
    fallback), false = DEFINITELY new. Bit positions are computed
    JVM-side by the same expressions the build used; the filter ships
    to executors once as a Spark broadcast and the test itself is one
    vectorized numpy pass per Arrow batch — over the BATCH, never the
    corpus. Pass ``broadcast`` (a ``sc.broadcast`` of
    ``words.tobytes()``) to keep the broadcast's lifecycle in the
    caller's hands — ``bloom_split`` does, and unpersists it as soon
    as its eager checkpoint has materialized, so a long-running
    ingest loop never accumulates one filter-sized broadcast per
    micro-batch (at the module's 10^9-id design point each is
    ~1.2 GB)."""
    bc = (
        broadcast
        if broadcast is not None
        else df.sparkSession.sparkContext.broadcast(words.tobytes())
    )

    @pandas_udf("boolean")
    def _mc(pos: pd.Series) -> pd.Series:
        w = np.frombuffer(bc.value, dtype=np.uint64)
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        P = np.stack(pos.to_numpy())  # (n, k) int64, all in [0, m)
        bits = (w[P >> 6] >> (P & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return _mc(F.array(*_bit_positions(id_str, m, k)))


def _maybe_hits(
    h1: np.ndarray, h2: np.ndarray, words: np.ndarray, m: int, k: int,
    d1: np.ndarray,
) -> np.ndarray:
    """The one bit test of the sharded guard, per id from its raw hash
    pair: main-filter bits (the k positions derived by the same
    arithmetic as ``_bit_positions``, equivalence pinned by
    ``test_numpy_fold_matches_catalyst_build``) OR h1 membership in
    the sorted delta union ``d1``. Run by the executor-side pandas UDF
    and by the driver-side ``_bloom_maybe``."""
    b1 = np.mod(h1, m)[:, None]
    step = np.mod(h2, m)[:, None]
    P = np.mod(b1 + np.arange(k, dtype=np.int64)[None, :] * step, m)
    bits = (words[P >> 6] >> (P & 63).astype(np.uint64)) & np.uint64(1)
    hit = bits.all(axis=1)
    if d1.size:
        idx = np.clip(np.searchsorted(d1, h1), 0, d1.size - 1)
        hit = hit | (d1[idx] == h1)
    return hit


def _might_contain_sharded(id_str: Column, bc) -> Column:
    """Membership-probe column over the SHARDED guard (``_maybe_hits``
    per Arrow batch). ``bc`` broadcasts ``(words_bytes, m, k,
    delta_h1_bytes)``."""

    @pandas_udf("boolean")
    def _mc(hs: pd.Series) -> pd.Series:
        wb, m, k, d1b = bc.value
        if len(hs) == 0:
            return pd.Series([], dtype=bool)
        H = np.stack(hs.to_numpy()).astype(np.int64)  # (n, 2)
        return pd.Series(
            _maybe_hits(
                H[:, 0], H[:, 1], np.frombuffer(wb, dtype=np.uint64), m, k,
                np.frombuffer(d1b, dtype=np.int64),
            )
        )

    return _mc(
        F.array(F.xxhash64(id_str), F.xxhash64(id_str, F.lit(_SALT)))
    )


def _bloom_maybe(spark, p: str, bloom_meta: dict | None, ids: list) -> list:
    """Driver twin of ``bloom_split`` for ids the caller already holds
    as a list: the ids that MIGHT be indexed, in input order — all of
    them when the filter is unusable. The hash pairs fold on the
    driver over a LocalRelation and the bit test is ``_maybe_hits``,
    the function the executor probe runs: no Spark job."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _id_frame,
    )

    if not ids or not filter_usable(bloom_meta):
        return list(ids)
    words, m, k = bloom_read(p, bloom_meta["location"])
    d1 = _segments_h1(p, bloom_meta.get("segments"))
    # a projection of a LocalRelation: collected with no job, one row
    # per id
    rows = (
        _id_frame(spark, ids, "_s")
        .select(F.xxhash64("_s"), F.xxhash64("_s", F.lit(_SALT)))
        .collect()
    )
    H = np.array([(r[0], r[1]) for r in rows], dtype=np.int64)
    hit = _maybe_hits(H[:, 0], H[:, 1], words, m, k, d1)
    return [i for i, h in zip(ids, hit) if h]


def bloom_split(
    df: DataFrame, p: str, bloom_meta: dict, id_name: str
) -> tuple[DataFrame, DataFrame | None, tuple]:
    """Prescreen a (deduplicated) batch against the persisted guard —
    main filter PLUS live delta segments: returns ``(definitely_new,
    maybe, state)``. ``definitely_new`` rows are negative everywhere
    — indexable with zero corpus IO; ``maybe`` (None when EVERY id is
    negative, the steady-state common case) is the positive subset
    the caller must settle with its exact anti-join; ``state =
    (words, m, k)`` feeds ``bloom_extend``. The batch is materialized
    once (localCheckpoint) so the probe never re-executes upstream
    lineage."""
    from pyspark.sql import Observation

    words, m, k = bloom_read(p, bloom_meta["location"])
    d1 = _segments_h1(p, bloom_meta.get("segments"))
    bc = df.sparkSession.sparkContext.broadcast(
        (words.tobytes(), m, k, d1.tobytes())
    )
    # the positives are counted inside the checkpoint job
    obs = Observation("bloom_split")
    probed = (
        df.withColumn(
            "_ig_maybe",
            _might_contain_sharded(F.col(id_name).cast("string"), bc),
        )
        .observe(obs, F.sum(F.col("_ig_maybe").cast("long")).alias("n"))
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint has materialized every probe result — drop
    # the filter-sized broadcast NOW, or a foreachBatch loop
    # accumulates one per micro-batch until Python GC
    bc.unpersist()
    maybe = probed.filter("_ig_maybe").drop("_ig_maybe")
    if not obs.get["n"]:
        return probed.drop("_ig_maybe"), None, (words, m, k)
    return (
        probed.filter(~F.col("_ig_maybe")).drop("_ig_maybe"),
        maybe,
        (words, m, k),
    )


def bloom_extend(
    p: str,
    meta: dict,
    state: tuple | None,
    batch_ids: DataFrame,
    fallback_ids: DataFrame | None = None,
) -> None:
    """Fold a batch's WHOLE id set into the index's guard and persist
    it, setting ``meta['id_bloom']`` (the caller commits the
    sidecar). Call BEFORE the first data write: the committed guard
    must stay a superset of the indexed ids — supersets are safe
    (false positives fall back to the exact check), a subset would
    let a replay double-ingest. ``state`` is ``bloom_split``'s loaded
    filter; for an index without a usable filter pass ``state=None``
    and ``fallback_ids`` (the existing indexed ids) — the one scan
    that makes every later append corpus-independent.
    Both id frames must be single-column, string-typed.

    Sharded-append contract (r15): the steady-state append persists
    ONLY a delta segment — the batch's raw hash pairs, ~16 bytes/id,
    fsync cost proportional to the BATCH — and leaves the
    corpus-sized main filter file untouched. Once the segments' id
    total passes ``capacity/DELTA_FOLD_CAP_FRACTION`` (or the list
    passes ``DELTA_MAX_SEGMENTS``), this call folds every segment
    plus the batch into a fresh main filter by driver-side hash
    arithmetic (no corpus IO, no id re-scan) and clears the list —
    the big rewrite is amortized over ~DELTA_FOLD_CAP_FRACTION
    appends instead of paid per batch."""
    bcol = F.col(batch_ids.columns[0])
    prev_bloom = meta.get("id_bloom") or {}
    if state is None:
        all_ids = (
            fallback_ids.toDF(batch_ids.columns[0])
            .unionByName(batch_ids)
            .distinct()
        )
        capacity = max(4 * all_ids.count(), 1)
        m, k = bloom_params(capacity)
        words = bloom_build(all_ids, bcol, m, k)
        fname = fresh_bloom_file(p, prev_bloom.get("location"))
        bloom_write(p, fname, words, m, k)
        meta["id_bloom"] = {
            "location": fname,
            "m": m,
            "k": k,
            "capacity": capacity,
            "hash": HASH_SPEC,
            "segments": [],
            "delta_ids": 0,
        }
        return
    words, m, k = state
    # same (m, k) carries forward: capacity is a property of the
    # sizing moment
    capacity = int(prev_bloom["capacity"])
    h1, h2 = _batch_hash_pairs(batch_ids, bcol)
    segs = list(prev_bloom.get("segments") or [])
    delta_total = int(prev_bloom.get("delta_ids") or 0) + int(h1.size)
    fold_at = max(DELTA_FOLD_MIN_IDS, capacity // DELTA_FOLD_CAP_FRACTION)
    if len(segs) >= DELTA_MAX_SEGMENTS or delta_total >= fold_at:
        for s in segs:
            sh1, sh2 = delta_read(p, s["location"])
            _fold_into(words, m, k, sh1, sh2)
        _fold_into(words, m, k, h1, h2)
        fname = fresh_bloom_file(p, prev_bloom.get("location"))
        bloom_write(p, fname, words, m, k)
        meta["id_bloom"] = {
            "location": fname,
            "m": m,
            "k": k,
            "capacity": capacity,
            "hash": HASH_SPEC,
            "segments": [],
            "delta_ids": 0,
        }
    else:
        fname = fresh_delta_file(p, segs)
        delta_write(p, fname, h1, h2)
        segs.append({"location": fname, "n": int(h1.size)})
        meta["id_bloom"] = {
            "location": prev_bloom.get("location"),
            "m": m,
            "k": k,
            "capacity": capacity,
            "hash": HASH_SPEC,
            "segments": segs,
            "delta_ids": delta_total,
        }


def fresh_bloom_file(
    p: str, prev: str | None = None, base: str = "ids_bloom"
) -> str:
    """Next versioned filter file name (``ids_bloom_v1.bin``, ...) —
    appends never overwrite the filter a concurrent reader may be
    loading; the sidecar's pointer is swapped by the caller's commit.
    ``prev`` (the sidecar's CURRENT location) makes versions
    MONOTONIC: GC removes superseded files, so a filesystem scan
    alone would recycle version names and a reader holding an older
    sidecar could open a same-named file with different content."""
    v = 0
    if prev:
        try:
            v = int(prev.rsplit("_v", 1)[1].split(".")[0])
        except (IndexError, ValueError):
            v = 0
    v += 1
    while os.path.exists(os.path.join(p, f"{base}_v{v}.bin")):
        v += 1
    return f"{base}_v{v}.bin"


# every index sidecar that may reference an id-guard filter: an IVF,
# an IVF-PQ, a band and a graph index can legally cohabit one
# directory — each has its own sidecar name and collision-free
# versioned data dirs — so GC must keep EVERY sidecar's committed
# filter AND delta segments, not just the calling index's. (r15
# regression pinned by test_gc_respects_graph_sidecar: graph_index
# was missing here, so gc_bloom_files deleted a delta segment the
# just-committed graph sidecar referenced and the next append's
# probe crashed on the missing file.)
_SIDECARS = (
    "ivf_index.json",
    "ivf_pq_index.json",
    "band_index.json",
    "graph_index.json",
)


def filter_usable(bloom_meta: dict | None) -> bool:
    """A filter is only probe-safe when its recorded hash spec matches
    this module's: probing a filter built by a DIFFERENT hash family
    yields false NEGATIVES — ids wrongly classified 'definitely new'
    skip the exact check and double-ingest, the one failure mode the
    durability contract forbids. Callers treat an unusable filter
    exactly like a missing one (exact path now, fresh filter rebuilt
    by the next append/compact)."""
    return bool(bloom_meta) and bloom_meta.get("hash") == HASH_SPEC


def rebuild_filter(
    ids_df: DataFrame,
    id_str: Column,
    p: str,
    prev_location: str | None,
    *,
    expected_ids: int | None = None,
) -> dict:
    """Build-from-scratch path shared by every index write and
    compaction: size a fresh filter from the id count (4x headroom
    for appends unless ``expected_ids`` overrides), aggregate, write
    it durably under the next monotonic version after
    ``prev_location``, and return the sidecar ``id_bloom`` dict —
    ONE implementation, so sizing or hash-spec changes cannot drift
    between the band / IVF / IVF-PQ lifecycles. The id count the
    filter was SIZED for is recorded as ``capacity`` — audits report
    consumption against it directly, instead of re-deriving it from
    the global density constant (wrong for ``expected_ids``-sized
    filters, whose m/k no longer follow that density)."""
    capacity = (
        int(expected_ids) if expected_ids else max(4 * ids_df.count(), 1)
    )
    m, k = bloom_params(capacity)
    words = bloom_build(ids_df, id_str, m, k)
    fname = fresh_bloom_file(p, prev_location)
    bloom_write(p, fname, words, m, k)
    return {
        "location": fname,
        "m": m,
        "k": k,
        "capacity": capacity,
        "hash": HASH_SPEC,
        "segments": [],
        "delta_ids": 0,
    }


def gc_bloom_files(p: str, keep: set, base: str = "ids_bloom") -> None:
    """Remove superseded guard files — main filters under ``base``
    AND delta segments under ``ids_delta`` — that neither the
    caller's keep set NOR any committed sidecar in the directory
    references (two index kinds can cohabit one directory; deleting a
    sibling's filter or segment would brick its appends). Run only
    after a sidecar commit; a crash before it leaks a file, never
    breaks a reader. Sidecars of any format count: GC must not break
    an index that still awaits its rebuild."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        _read_unchecked,
    )

    keep = set(keep)
    for sc in _SIDECARS:
        if os.path.exists(os.path.join(p, sc)):
            try:
                ib = _read_unchecked(p, sc).get("id_bloom") or {}
            except (OSError, ValueError):
                continue
            if ib.get("location"):
                keep.add(ib["location"])
            for s in ib.get("segments") or []:
                if s.get("location"):
                    keep.add(s["location"])
    for fname in os.listdir(p):
        if (
            (fname.startswith(base + "_v") or fname.startswith("ids_delta_v"))
            and fname.endswith(".bin")
            and fname not in keep
        ):
            try:
                os.remove(os.path.join(p, fname))
            except OSError:
                pass


__all__ = [
    "BITS_PER_ID",
    "DELTA_FOLD_CAP_FRACTION",
    "DELTA_FOLD_MIN_IDS",
    "DELTA_MAX_SEGMENTS",
    "HASH_SPEC",
    "batch_digest",
    "bloom_params",
    "bloom_build",
    "bloom_or",
    "bloom_read",
    "bloom_write",
    "bloom_might_contain",
    "bloom_split",
    "bloom_extend",
    "delta_read",
    "delta_write",
    "filter_usable",
    "rebuild_filter",
    "fresh_bloom_file",
    "fresh_delta_file",
    "gc_bloom_files",
]
