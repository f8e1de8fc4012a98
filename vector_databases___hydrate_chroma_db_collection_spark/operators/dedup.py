"""Deduplication family for training-data pipelines.

The reference's only dedup concern is that Chroma rejects duplicate
ids (reference README.md:73); a 100 TB corpus needs content dedup:

- ``exact_dedup``      — normalized-text grouping. One hash shuffle
  on the normalized key (or its md5, same cardinality); survivor =
  min id per group.
- ``jaccard_pairs``    — exact n-gram-Jaccard pairs via an inverted
  shingle index (explode distinct shingles, self-join on shingle,
  count shared). Quadratic only within a shingle's posting list —
  fine when no shingle is extremely common; the LSH path below is
  the guard against that.
- ``minhash_lsh_pairs``— MinHash signatures banded for LSH: docs
  sharing any band bucket become candidates (shuffle on band hash,
  posting lists bounded by band selectivity), then candidates are
  verified with exact Jaccard. This is the scale path: cost is
  O(corpus) signatures + O(candidates) verification, never O(n^2).
- ``simhash_pairs``    — 16-bit SimHash; candidate = identical
  simhash value (a single equi-join), catching token-permutation
  near-dups cheaply.
- ``embedding_neardup_pairs`` — semantic near-dup by cosine over the
  embedding column; exact (block-nested) form here, ANN-accelerated
  form in ``ann.py``.

Everything is expression-level (no UDFs); with ``portable=True`` the
hash math is md5-based and every operator is DuckDB-oracle-checkable.

Cache lifecycle: ``jaccard_pairs`` and ``minhash_lsh_pairs`` cache the
flat shingle rows (several consumers share them within one result
plan). The cached handle rides on the returned DataFrame; call
``release_cache(result)`` once the result is materialized to free the
executors' storage memory — repeated dedup runs in a long session
otherwise accumulate cached partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
    simhash16,
    word_shingles,
)
from vector_databases___hydrate_chroma_db_collection_spark.functions.text import (
    normalize_text,
)
from vector_databases___hydrate_chroma_db_collection_spark.functions.vector import (
    cosine_similarity,
)


# shared cache-lifecycle helpers (re-exported here for back-compat:
# dedup was the first operator family with a deterministic release
# hook; sketch.py uses the same ones)
from vector_databases___hydrate_chroma_db_collection_spark.operators._cache import (  # noqa: E402
    attach_cache as _attach_cache,
    release_cache,
)


def exact_dedup(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Group by normalized text; survivor is the minimum id.
    Output: (keep_id, dup_count, fingerprint)."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.md5(normalize_text(text_col).cast("binary")).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def remove_common_segments(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int = 3,
) -> DataFrame:
    """CROSS-document boilerplate removal (the C4 rule, Raffel et al.
    2020 §2.2: drop any line that occurs in >= 3 documents): rewrite
    every document with the segments whose corpus-wide document
    frequency is below ``min_docs`` removed — navigation chrome,
    cookie banners, and license headers disappear from every page at
    once, where the WITHIN-document pass
    (``functions.text.remove_repeated_segments``) only collapses
    repeats inside one page. A document whose every segment is
    corpus-common comes back with ``cleaned = ''`` (and is a candidate
    for dropping downstream).

    Output: one row per input document —
    ``(id_col, n_segments, n_kept, cleaned)``, segment order
    preserved.

    Scale shape: posexplode -> per-(segment, doc) distinct ->
    map-side-combinable segment count -> equi-join back -> per-doc
    ordered reassembly (``sort_array`` over a collect_list bounded by
    the document's own length). Two segment-keyed shuffles and one
    doc-keyed shuffle; the hot segment (boilerplate in millions of
    docs) is exactly the AQE-skew-splittable equi-join case — the
    same partial-agg discipline as ``dup_ngram_fraction``, never a
    window over the segment key. No UDF."""
    import re as _re

    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would drop every segment)")
    segs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("_pos", "_seg"),
    )
    seg_df = (
        segs.select("_seg", "_id")
        .distinct()
        .groupBy("_seg")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
    )
    kept = segs.join(
        seg_df.filter(F.col("_n_docs") >= min_docs).select("_seg"),
        "_seg",
        "left_anti",
    )
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_seg"))),
                lambda s: s["_seg"],
            ),
            sep,
        ).alias("cleaned"),
    )
    totals = segs.groupBy("_id").agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )


def _shingle_arrow_fn(n: int):
    """mapInArrow body for the shingle pass: (_id, _norm) batches in,
    distinct (_id, shingle) rows out.

    The input column is ALREADY normalized (Spark-side
    ``normalize_text``: lowercase, ASCII whitespace collapsed to
    single spaces, trimmed), so tokenization is a split on the
    literal space and a short document's single shingle is the
    normalized text itself. All per-shingle work is vectorized
    Arrow/numpy — no per-row Python objects. Contract mirrored from
    the ``word_shingles`` expression bit-for-bit (asserted by
    ``tests/test_shingle_arrow.py``):

    - empty / whitespace-only text -> zero shingles;
    - NULL text -> one empty-string shingle (``concat_ws`` over a
      null slice yields "");
    - 1 <= tokens < n -> one shingle of all tokens;
    - otherwise the usual count - n + 1 full shingles, distinct.
    """

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            norm = rb.column(1)
            if isinstance(norm, pa.ChunkedArray):
                norm = norm.combine_chunks()
            toks = pc.split_pattern(norm, " ")
            offs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = toks.values
            lens = np.diff(offs)
            is_null = (
                pc.is_null(norm).to_numpy(zero_copy_only=False)
                if norm.null_count
                else np.zeros(rb.num_rows, dtype=bool)
            )
            is_empty = pc.fill_null(
                pc.equal(norm, ""), False
            ).to_numpy(zero_copy_only=False)
            # lens is undefined (0) for null rows; make the masks exact
            cnt = np.where(
                is_null | is_empty, 0, np.maximum(lens - (n - 1), 1)
            ).astype(np.int64)
            full = (~is_null) & (~is_empty) & (lens >= n)
            short = (~is_null) & (~is_empty) & (lens < n) & (lens >= 1)

            pieces_idx: list[np.ndarray] = []
            pieces_sh: list[pa.Array] = []

            if full.any():
                c_full = np.where(full, cnt, 0)
                total = int(c_full.sum())
                doc_idx = np.repeat(np.arange(rb.num_rows), c_full)
                row_ends = np.cumsum(c_full)
                intra = np.arange(total) - np.repeat(row_ends - c_full, c_full)
                gstart = np.repeat(offs[:-1], c_full) + intra
                parts = [vals.take(pa.array(gstart + k)) for k in range(n)]
                sh = pc.binary_join_element_wise(*parts, " ")
                pieces_idx.append(doc_idx)
                pieces_sh.append(sh)
            if short.any():
                srows = np.flatnonzero(short)
                pieces_idx.append(srows)
                pieces_sh.append(norm.take(pa.array(srows)))
            if is_null.any():
                nrows = np.flatnonzero(is_null)
                pieces_idx.append(nrows)
                pieces_sh.append(pa.array([""] * len(nrows), type=pa.string()))

            if not pieces_idx:
                continue
            all_idx = pa.array(np.concatenate(pieces_idx))
            all_sh = pa.concat_arrays(
                [p.cast(pa.string()) for p in pieces_sh]
            )
            distinct = (
                pa.table({"i": all_idx, "s": all_sh})
                .group_by(["i", "s"], use_threads=False)
                .aggregate([])
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(distinct.column("i").combine_chunks()),
                    distinct.column("s").combine_chunks(),
                ],
                names=["_id", "shingle"],
            )

    return fn


# engine="auto" crossover for the shingle/window passes (guide §4:
# the Python/Arrow boundary has a near-constant per-invocation cost —
# worker spin-up + Arrow serializer init across ~target tasks — that
# only amortizes on corpus-scale inputs). Interleaved A/B at HEAD
# (idle, min-of-3, 24-token docs): 5k docs expr 4.4 cpu-s vs arrow
# 16.4; 20k expr ~9 vs arrow ~17.5; 50k a wash (17-20 vs 16.4); 200k
# arrow 26 vs expr 70. Below this row count the interpreted
# higher-order-function expression is the cheaper engine; at or above
# it the vectorized Arrow pass wins and keeps winning (25 vs 320
# cpu-s per 1M docs, tools/probe_r15_minhash.py). Both engines are
# row-identical (tests/test_shingle_arrow.py), so the choice can
# never move an oracle hash.
_ARROW_MIN_ROWS = 50_000


def _resolve_engine(df: DataFrame, engine: str) -> tuple[str, int | None]:
    """Resolve engine="auto" by input size: one count() picks the
    cheaper boundary for this corpus. Returns (engine, n_rows|None) so
    callers can reuse the count for task sizing.

    COST CONTRACT (r15 ADVICE): the count is metadata-only on plain
    parquet scans and trivial on cached inputs — but on a DERIVED,
    uncached input (filters, joins, generated text) it executes the
    full upstream plan once at operator-construction time, and
    operators that call it per pass (the two exact-substring passes)
    pay it per pass. Callers with an expensive upstream should either
    cache the input first or pass an explicit ``engine=`` — every
    corpus operator exposes the kwarg — which skips the count
    entirely. It also makes construction of the default-``auto``
    operators eager (one job at construction); micro-batch serve paths
    pin ``engine="expr"`` precisely so their construction stays lazy
    and count-free."""
    if engine != "auto":
        return engine, None
    n = df.count()
    return ("arrow" if n >= _ARROW_MIN_ROWS else "expr"), n


def _spread_for_arrow(df: DataFrame, target: int) -> DataFrame:
    """Round-robin repartition to ``target`` ONLY when the input is
    under-partitioned (single-file parquet, a coalesced upstream):
    the exchange exists so the heavy Arrow pass cannot serialize onto
    a couple of cores — but a corpus already spread over >= target/2
    partitions pays a full exchange of its TEXT for nothing (r16 A/B
    at 1M docs: 44.0 vs 37.4 cpu-s, −15% off the whole shingle+hash
    pass). Partition-count probe only; a pathologically SKEWED
    many-partition input keeps its layout — callers with such inputs
    should repartition explicitly."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        n = 0
    return df if n >= max(8, target // 2) else df.repartition(target)


def _window_arrow_fn(k: int):
    """mapInArrow body for the positional k-token window pass:
    (_id, _t token arrays) batches in, (_id, _pos0, _w) window rows
    out — ``_pos0`` the 0-based window start, ``_w`` the k-token
    window string, exactly the rows
    ``posexplode(transform(sequence(1, n-k+1), i -> concat_ws(' ',
    slice(_t, i, k))))`` produced, minus the interpreted per-element
    lambda (same profile story as ``_shingle_arrow_fn``). Callers
    filter to ``size(_t) >= k`` upstream and hash ``_w`` JVM-side."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            toks = rb.column(1)
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            offs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = toks.values
            c = np.maximum(np.diff(offs) - (k - 1), 0)
            total = int(c.sum())
            if total == 0:
                continue
            doc_idx = np.repeat(np.arange(rb.num_rows), c)
            ends = np.cumsum(c)
            intra = np.arange(total) - np.repeat(ends - c, c)
            gstart = np.repeat(offs[:-1], c) + intra
            parts = [vals.take(pa.array(gstart + j)) for j in range(k)]
            w = pc.binary_join_element_wise(*parts, " ")
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(doc_idx)),
                    pa.array(intra.astype(np.int32)),
                    w,
                ],
                names=["_id", "_pos0", "_w"],
            )

    return fn


def _window_rows(toks: DataFrame, k: int, engine: str = "arrow") -> DataFrame:
    """(_id, _pos0, _wh) hashed positional k-token windows from the
    tokenized ``(_id, _t, n_tokens)`` frame, md5 as a flat JVM
    projection either way. ``engine="arrow"`` (corpus passes): the
    vectorized Arrow window pass. ``engine="expr"`` (small inputs,
    picked by the callers' ``_resolve_engine`` crossover): the
    original posexplode/transform/slice expression — for a few
    thousand docs the interpreted HOF beats spinning the Python
    boundary (coverage at 5k docs: 16 vs 26 cpu-s). Values identical
    either way (tests/test_shingle_arrow.py). Shared by the
    ExactSubstr coverage and removal operators."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        hash64,
    )

    if engine == "expr":
        return (
            toks.filter(F.col("n_tokens") >= k)
            .select(
                "_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("n_tokens") - F.lit(k - 1)),
                        lambda i: F.concat_ws(" ", F.slice("_t", i, k)),
                    )
                ).alias("_pos0", "_w"),
            )
            .select("_id", "_pos0", hash64(F.col("_w")).alias("_wh"))
        )
    id_type = toks.schema["_id"].dataType.simpleString()
    return (
        toks.filter(F.col("n_tokens") >= k)
        .select("_id", "_t")
        .mapInArrow(
            _window_arrow_fn(k), schema=f"_id {id_type}, _pos0 int, _w string"
        )
        .select("_id", "_pos0", hash64(F.col("_w")).alias("_wh"))
    )


def _shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    portable: bool = True,
    with_hash: bool = True,
    engine: str = "arrow",
    cache: bool = True,
) -> DataFrame:
    """(_id, shingle, h) — one row per (doc, distinct shingle), with
    the base hash reduced mod 2^31-1, computed ONCE and cached.

    Shape choices (r15-profiled):
    - repartition BEFORE the heavy work so a single-file input does
      not serialize it onto one core;
    - ``engine="arrow"`` (corpus passes): normalization stays a Spark
      codegen projection, then shingle assembly + per-doc distinct +
      explode run in ONE vectorized ``mapInArrow``
      (`_shingle_arrow_fn`): the previous
      ``transform(sequence, concat_ws(slice))`` higher-order chain is
      CodegenFallback — interpreted per element with a fresh array
      allocation per shingle — and profiled at ~320 cpu-s per 1M docs
      vs ~25 cpu-s for the Arrow path (tools/probe_r15_minhash.py);
    - ``engine="expr"`` (micro-batch serve/append passes): the
      original whole-stage ``explode(array_distinct(word_shingles))``
      expression. For a ~2k-doc batch the interpreted HOF costs
      almost nothing, while spinning the Python/Arrow boundary costs
      a near-constant ~15 cpu-s / +0.7 s wall per invocation
      (interleaved A/B on the 50k novelty gate: 29 -> 13.5 cpu-s).
      Values are identical either way (tests/test_shingle_arrow.py
      pins the row-for-row parity), so the band tables interjoin;
    - the hash stays a flat Spark projection AFTER the boundary: the
      codegen'd md5 measured ~2 cpu-s per 22M shingles, and keeping
      it JVM-side preserves oracle parity bit-for-bit.
    Every consumer (signatures, posting lists, sizes, verification)
    reuses this cache instead of re-deriving from text.
    """
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        MINHASH_P,
        fast_hash64,
        hash64,
        word_shingles,
    )

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    h = hash64 if portable else fast_hash64
    engine, n_rows = _resolve_engine(df, engine)
    if engine == "expr":
        base = df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        # Explicit engine="expr" callers (micro-batch gates/appends)
        # get NO repartition: for a ~2k-row probe the 32-task exchange
        # is pure fixed overhead (factor A/B on the 50k gate: the
        # repartition alone added ~7-10 cpu-s / +0.5 s wall to a
        # 13 cpu-s serve). Auto-resolved expr inputs can be up to
        # _ARROW_MIN_ROWS rows from a single parquet file, so they get
        # a SIZED spread — enough tasks to parallelize the HOF, never
        # the full fan-out a micro-batch would waste.
        if n_rows is not None and n_rows > 4096:
            base = base.repartition(min(target, max(8, n_rows // 512)))
        flat = base.select(
            "_id",
            F.explode(
                F.array_distinct(word_shingles("_text", n))
            ).alias("shingle"),
        )
    else:
        id_type = df.select(
            F.col(id_col).alias("_id")
        ).schema["_id"].dataType.simpleString()
        flat = _spread_for_arrow(
            df.select(
                F.col(id_col).alias("_id"),
                normalize_text(F.col(text_col)).alias("_norm"),
            ),
            target,
        ).mapInArrow(
            _shingle_arrow_fn(n), schema=f"_id {id_type}, shingle string"
        )
    if with_hash:
        # consumers that never read ``h`` (exact Jaccard) pass
        # with_hash=False and skip the md5 projection
        flat = flat.withColumn("h", F.pmod(h(F.col("shingle")), F.lit(MINHASH_P)))
    # cache=False: single-consumer serve paths (the plain novelty
    # gates read the shingles exactly once) skip the cache write —
    # multi-consumer callers (pairs, verified gate, band appends)
    # keep it
    return flat.cache() if cache else flat


def dup_ngram_fraction(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    decimals: int = 4,
) -> DataFrame:
    """Per-document duplicated n-gram fraction: the share of a
    document's DISTINCT n-gram shingles that also occur in at least
    one OTHER document (the train-set memorization signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — their substring-dup fraction, at shingle
    granularity). Output: (id, n_shingles, dup_shingles, dup_frac).
    Documents shorter than ``n`` tokens still contribute one short
    shingle (word_shingles' contract), so every document with at
    least one token appears in the output; only EMPTY documents are
    absent — left-join and coalesce if the corpus contains them.

    Plan shape: explode distinct shingles ONCE into a cached flat
    stream (``_shingle_rows`` — the ``minhash_lsh_pairs`` economy),
    then ``groupBy(shingle).count()`` for the per-shingle document
    frequency and an equi-join back onto the same cached stream,
    then the per-doc hash-agg. The frequency aggregate is MAP-SIDE
    COMBINABLE: a corpus-common shingle (license boilerplate carried
    by millions of documents) is reduced to partial counts inside
    every task before the shuffle, and the join back is an ordinary
    equi-join AQE's skew-join splits. The previous form — a COUNT
    window partitioned by the shingle key — shuffled every occurrence
    of a hot shingle into ONE task with no partial aggregation, and
    AQE cannot split a window exchange; at 100x that is billions of
    rows through a single task. The cached stream means the second
    branch of the join re-reads cached rows, not the tokenize
    pipeline. Call ``release_cache(result)`` once materialized.
    Hot-key probe: bench.py ``synth200k_dup_ngram_hotkey`` (one
    boilerplate shingle run planted across 10k of 200k docs)."""
    sh = _shingle_rows(df, id_col, text_col, n, with_hash=False, engine="auto")
    doc_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_docs"))
    out = (
        sh.join(doc_freq, "shingle")
        .groupBy(F.col("_id").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_docs") >= 2).cast("bigint")).alias("dup_shingles"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("dup_shingles") / F.col("n_shingles").cast("double"),
                decimals,
            ),
        )
    )
    return _attach_cache(out, sh)


def exact_substring_coverage(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """ExactSubstr dedup signal (Lee et al. 2022, §4.1 — their
    suffix-array pass finds verbatim >=50-token spans shared across
    documents; this is the distributed equivalent at k-token window
    granularity): for every document, the fraction of its TOKEN
    POSITIONS covered by at least one k-token window whose exact
    token sequence also occurs in a DIFFERENT document. Unlike
    ``dup_ngram_fraction`` (share of distinct shingles that are
    duplicated anywhere), this is positional — overlapping duplicated
    windows are union-merged, so the output is the actual fraction of
    text an ExactSubstr-style cut would remove.

    Output: (id, n_tokens, dup_windows, covered_tokens, coverage) —
    one row per document with >= 1 token; docs shorter than ``k``
    tokens have zero windows and coverage 0.

    Plan shape, 100 TB honest:
    1. one tokenize + positional-window explode (rows = total tokens,
       same order as the corpus scan — no all-pairs stage anywhere);
       windows carry the md5-derived 64-bit hash of the k-token
       string, not the string (8-byte shuffle keys);
    2. cross-document windows are detected with a MAP-SIDE-COMBINABLE
       hash aggregate: ``groupBy(hash).agg(min(id), max(id))`` — a
       boilerplate hash that occurs a billion times collapses to one
       row per map task BEFORE the shuffle (partial_min/partial_max),
       so no single reducer ever sees all occurrences of a common
       window. ``min != max``  <=>  >= 2 distinct docs (no distinct,
       no self-join, no posting-list collection). The surviving hash
       set then left-semi-joins back onto the window rows keyed on the
       same 8-byte hash — and a join on a skewed key IS what AQE's
       skew mitigation splits at runtime (OptimizeSkewedJoin covers
       joins, NOT window exchanges, which is why this is a groupBy +
       join rather than ``min over (partition by hash)``);
    3. per-document interval union by the classic gaps-and-islands
       running ``max(end)`` — one window sort WITHIN each document
       (bounded by document length, never corpus length);
    4. hash-agg per document + one 1:1 join back for token counts.
    Mega-common windows (boilerplate) therefore cost one combined row
    per map task plus an AQE-splittable join probe; they produce NO
    candidate pairs because nothing here enumerates pairs."""
    from pyspark.sql import Window

    from vector_databases___hydrate_chroma_db_collection_spark.functions.text import (
        tokens,
    )

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    toks = (
        _spread_for_arrow(
            df.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
            ),
            target,
        )
        .select("_id", tokens(normalize_text("_text")).alias("_t"))
        .filter(F.size("_t") > 0)
        .select("_id", "_t", F.size("_t").alias("n_tokens"))
        # lazy localCheckpoint, NOT persist(): two consumers (the
        # window explode and the final token-count join) share the
        # tokenized corpus, and RDD-level checkpoint blocks are freed
        # by the ContextCleaner once the result plan is GC'd — a
        # CacheManager persist() would pin executor storage until an
        # explicit unpersist that registry callers never issue.
        .localCheckpoint(eager=False)
    )
    win = _window_rows(toks, k, engine=_resolve_engine(df, "auto")[0])
    # cross-doc test: min(id) != max(id) <=> >= 2 distinct docs.
    # groupBy (partial-aggregated map-side) + semi-join back, NOT a
    # window over _wh: a corpus-common hash partial-aggregates to one
    # row per map task, and the join back is AQE-skew-splittable.
    cross_hashes = (
        win.groupBy("_wh")
        .agg(F.min("_id").alias("_min_id"), F.max("_id").alias("_max_id"))
        .filter(F.col("_min_id") != F.col("_max_id"))
        .select("_wh")
    )
    dup = win.join(cross_hashes, "_wh", "semi")
    # gaps-and-islands union of [start, end] = [pos0+1, pos0+k] per doc
    wd = (
        Window.partitionBy("_id")
        .orderBy("_pos0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("_pos0") + 1
    end = F.col("_pos0") + k
    prev_end = F.coalesce(F.max(end).over(wd), F.lit(0))
    per_doc = (
        dup.withColumn(
            "_inc", F.greatest(end - F.greatest(start - 1, prev_end), F.lit(0))
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("dup_windows"),
            F.sum("_inc").alias("covered_tokens"),
        )
    )
    out = (
        toks.select("_id", "n_tokens")
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias("id"),
            "n_tokens",
            F.coalesce(F.col("dup_windows"), F.lit(0)).alias("dup_windows"),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias(
                "covered_tokens"
            ),
        )
        .withColumn(
            "coverage",
            F.round(
                F.col("covered_tokens") / F.col("n_tokens").cast("double"),
                decimals,
            ),
        )
    )
    return out


def exact_substring_removal(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """The CUT half of ExactSubstr dedup (Lee et al. 2022 §4.1 remove
    all-but-one occurrence of every duplicated >= k-token span; doc
    granularity here): a token position is removed when it sits in a
    k-token window whose exact sequence ALSO occurs in an EARLIER
    document (``min(id) over the window hash < this id``) — so the
    earliest document keeps its text verbatim and later copies lose
    exactly the spans that already exist upstream. Deterministic and
    order-free: ownership is a pure function of ids, not of execution
    order.

    Output: (id, n_tokens, kept_tokens, cleaned_text) — one row per
    non-empty doc; a fully-duplicated doc keeps 0 tokens and an empty
    string (downstream filters drop it, which IS the dedup).

    Plan shape on top of ``exact_substring_coverage``'s stages: the
    cut intervals explode to covered POSITIONS (fan-out k per dup
    window, bounded by dup density), the token stream posexplodes
    once (rows = corpus tokens, the same cardinality the tokenizer
    already produced), the kept set is one anti-join on (id, pos),
    and the text rebuilds with an order-free
    ``sort_array(collect_list(struct(pos, tok)))`` per doc — grouped
    by doc, so the collected list is bounded by DOCUMENT length,
    never corpus length."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.text import (
        tokens,
    )

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    toks = (
        _spread_for_arrow(
            df.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
            ),
            target,
        )
        .select("_id", tokens(normalize_text("_text")).alias("_t"))
        .filter(F.size("_t") > 0)
        .select("_id", "_t", F.size("_t").alias("n_tokens"))
        .localCheckpoint(eager=False)
    )
    win = _window_rows(toks, k, engine=_resolve_engine(df, "auto")[0])
    # earliest-owner test via map-side-combinable groupBy + join back
    # (NOT a window over _wh — see exact_substring_coverage's plan
    # notes: partial_min collapses boilerplate hashes per map task and
    # the join on _wh is AQE-skew-splittable). Hashes confined to one
    # doc (min == max) can never satisfy min < id, so they are pruned
    # before the join.
    owners = (
        win.groupBy("_wh")
        .agg(F.min("_id").alias("_min_id"), F.max("_id").alias("_max_id"))
        .filter(F.col("_min_id") != F.col("_max_id"))
        .select("_wh", "_min_id")
    )
    owned_elsewhere = win.join(owners, "_wh").filter(
        F.col("_min_id") < F.col("_id")
    )
    covered = owned_elsewhere.select(
        "_id",
        F.explode(
            F.sequence(F.col("_pos0") + 1, F.col("_pos0") + F.lit(k))
        ).alias("_p"),
    ).distinct()
    positions = toks.select(
        "_id", F.posexplode("_t").alias("_p0", "_tok")
    ).select("_id", (F.col("_p0") + 1).alias("_p"), "_tok")
    kept = positions.join(covered, ["_id", "_p"], "anti")
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        toks.select("_id", "n_tokens")
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias("id"),
            "n_tokens",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    decimals: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing >=1 shingle.
    Output: (id_a, id_b, jaccard) with id_a < id_b."""
    sh = _shingle_rows(df, id_col, text_col, n, with_hash=False, engine="auto")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("shared").cast("double")
        / (F.col("na") + F.col("nb") - F.col("shared")),
        decimals,
    )
    return _attach_cache(
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        sh,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    decimals: int = 4,
    portable: bool = True,
    max_bucket_size: int = 256,
) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification.

    With 16 hashes in 8 bands of 2 rows, the candidate-recall curve
    is 1-(1-j^2)^8 (~0.93 at j=0.5, ~0.9996 at j=0.8). Candidates
    come from ONE aggregation over the banded rows: each bucket's
    sorted member list is collected per (band-folded) 8-byte key and
    pairs explode positionally from it — no bucket-stats pass, no
    annotate join, no self-join (the r15 shape; the r16 probe
    measured the old chain at 2.2x this one's CPU for the identical
    candidate set). Verification recomputes Jaccard only for
    candidate pairs, over the hashed shingle sets (8-byte join keys,
    not shingle strings), with the corpus-scale shingle cache pruned
    ONCE by a broadcast semi-join on the candidate doc ids before any
    verify join — the corpus is scanned, never corpus-wide shuffled,
    to verify a candidate set bounded by LSH selectivity.

    Mega-bucket guard: a band bucket holding near-identical
    boilerplate (s docs) would emit s^2/2 candidate pairs and skew
    the pair stage. Buckets larger than ``max_bucket_size`` switch to
    STAR expansion — every member pairs with the bucket's minimum id
    only (s-1 candidates, linear) — so one boilerplate cluster cannot
    dominate a stage. Members of a mega bucket are still verified (vs
    the representative) with exact Jaccard; buckets at or under the
    cap behave exactly as before, so results on non-pathological
    corpora are unchanged.
    """
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        hash64,
    )

    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes must be <= {len(MINHASH_A)} (frozen hash family)"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}) — trailing hash functions would be silently "
            "dropped and the 1-(1-j^r)^b recall curve would not match"
        )
    rows_per_band = num_hashes // bands
    # Narrow the shared cache to (_id, h): every consumer below — the
    # 16-perm signature aggregate, both verify join sides, and the
    # per-doc size aggregate — reads only the 8-byte hash, never the
    # shingle STRING, which is ~70% of the cached bytes at typical
    # shingle widths (guide §2.3: project before the heavy reuse).
    # engine="auto": small corpora shingle through the interpreted
    # expression, corpus-scale through the vectorized Arrow pass —
    # row-identical either way (tests/test_shingle_arrow.py).
    # (A per-document Arrow variant that also computed the permutation
    # minimums and base-hash arrays in Python was built and A/B'd at
    # 1M docs in r15: interleaved same-session trials measured it a
    # wash — 692-859 vs 637-895 cpu-s — so the simpler flat pipeline
    # stays; the bottleneck is the band/bucket stage, not the
    # signature derivation.)
    sh = _shingle_rows(
        df, id_col, text_col, n, portable, engine="auto", cache=False
    ).select("_id", "h").cache()
    perms = [
        F.min(
            F.pmod(
                F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j]),
                F.lit(MINHASH_P),
            )
        ).alias(f"_s{j}")
        for j in range(num_hashes)
    ]
    # The signature aggregate feeds exactly ONE consumer now (the
    # bucket-member aggregate below), so the r15 sig cache is gone —
    # one less cache to build, store and release.
    sig = sh.groupBy("_id").agg(*perms)

    # Bands: hash the concatenated slice values (identical string form
    # to functions.hashes.lsh_bands, so the SQL oracle is unchanged),
    # then fold (band, h) into ONE bigint bucket key: h is a 60-bit
    # md5 prefix and bands <= 16 is enforced above, so
    # ``shiftleft(h, 4) | band`` is injective — same buckets, one
    # 8-byte shuffle key instead of an (int, bigint) pair (guide
    # §2.3; r16 probe: the fold alone is ~10% off the candidate
    # stage, the restructure below is the rest).
    band_keys = []
    for b in range(bands):
        piece = [
            F.col(f"_s{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_keys.append(
            F.shiftleft(hash64(F.concat_ws(",", *piece)), 4).bitwiseOR(
                F.lit(b)
            )
        )
    # Null ids can never form an output pair (the r15 self-join's
    # x._id < y._id comparison dropped them); exclude them up front so
    # bucket sizes count only pair-capable members.
    buckets = (
        sig.filter(F.col("_id").isNotNull())
        .select("_id", F.explode(F.array(*band_keys)).alias("_bk"))
    )
    # Candidate pairs from ONE aggregation (r16, guide §2.4/§2.1): the
    # r15 shape ran bucket stats (exchange), an annotate join back
    # onto the band rows (second exchange of the full band table) and
    # a self-join on the bucket key (two more sorted branches) — the
    # probe measured that chain at 135 cpu-s per 1M docs where this
    # single groupBy(collect_list) + pair explode measures 60 for the
    # IDENTICAL candidate set. Each id emits each band key at most
    # once (the signature aggregate is per id, so a repeated input id
    # collapses to one member); the sorted array makes (id_a < id_b) a
    # positional property (posexplode + tail slice), never a join
    # condition, and the strict filter keeps a self-pair out even if
    # a member ever repeated. Mega-bucket guard unchanged: buckets
    # over ``max_bucket_size`` STAR-expand — every member pairs with
    # the bucket minimum only (element 1 of the sorted array), linear
    # in the bucket. Memory note: the transient agg state is one
    # bucket's member list — O(bucket size), the same order as the
    # star-candidate rows the bucket emits downstream; the sort-based
    # aggregation fallback holds ONE group at a time, and corpora
    # whose boilerplate buckets reach that scale should pass through
    # remove_common_segments first (module doc).
    members = (
        buckets.groupBy("_bk")
        .agg(F.sort_array(F.collect_list("_id")).alias("_m"))
        .select("_m", F.size("_m").alias("_sz"))
        .filter(F.col("_sz") >= 2)
        # lazy local checkpoint: two pair branches (small + star) read
        # this; without it each branch re-runs the signature + band
        # aggregation chain (the shuffle is ReusedExchange either way,
        # but the reduce-side member aggregation would run twice)
        .localCheckpoint(eager=False)
    )
    small_pairs = (
        members.filter(F.col("_sz") <= max_bucket_size)
        .select("_m", F.posexplode("_m").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_m"), F.col("_i") + 2, F.size("_m"))
            ).alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    star_pairs = (
        members.filter(F.col("_sz") > max_bucket_size)
        .select(
            F.element_at("_m", 1).alias("id_a"),
            F.explode("_m").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    # Lazy local checkpoint: the candidate set feeds TWO consumers
    # (the broadcast id-set below and the verify join) — without it
    # the whole band pipeline would run twice. Blocks are freed by the
    # ContextCleaner once the result plan is GC'd (the
    # exact_substring_coverage discipline).
    candidates = (
        small_pairs.unionByName(star_pairs)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Verify candidates with Jaccard over the HASHED shingle rows:
    # count shared shingles via an equi-join on (candidate id, h).
    # Joining on the 8-byte hash instead of the shingle string keeps
    # the verify exchange narrow — at corpus scale the string payload
    # dominates. The hash is the same md5-mod-P value the oracle
    # computes, so a (cosmically rare, ~2^-31 per shingle pair)
    # collision is DETERMINISTIC and reproduced bit-for-bit by the
    # SQL twin — parity is unaffected.
    #
    # r16 restructure (guide §3.2): the r15 verify joined the FULL
    # shingle cache on both sides — planned as sort-merge, each side
    # exchanged the whole corpus-scale table to verify a candidate set
    # bounded by LSH selectivity (101 cpu-s of the 1M entry's 565).
    # Now the candidate doc-id set (<= 2 ids per candidate pair — the
    # same cardinality the operator already materializes as output)
    # broadcast-SEMI-prunes the cache ONCE, and every verify join runs
    # over the pruned slice: one corpus scan, no corpus-wide exchange.
    # Per-doc sizes are computed on the pruned slice too — identical
    # values (the semi join keeps every shingle of a kept doc).
    cand_ids = (
        candidates.select(F.col("id_a").alias("_cid"))
        .unionByName(candidates.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    sh_cand = sh.join(
        F.broadcast(cand_ids), F.col("_id") == F.col("_cid"), "left_semi"
    ).localCheckpoint(eager=False)
    sizes_tbl = sh_cand.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_cand.select(F.col("_id").alias("id_a"), F.col("h").alias("h_a"))
    b = sh_cand.select(F.col("_id").alias("b_id"), F.col("h").alias("h_b"))
    shared = (
        candidates.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("b_id")) & (F.col("h_a") == F.col("h_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes_tbl.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes_tbl.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("shared").cast("double")
        / (F.col("na") + F.col("nb") - F.col("shared")),
        decimals,
    )
    return _attach_cache(
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        sh,
    )


def _simhash_values(
    df: DataFrame, id_col: str, text_col: str, portable: bool
) -> DataFrame:
    """(_id, simhash) with token-less documents EXCLUDED: every
    empty/whitespace doc hashes to 0, so keeping them would put all
    of them into one quadratic candidate bucket of meaningless
    "near-duplicates" in both the equi-join and the Hamming-band
    paths."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.text import (
        normalize_text as _norm,
        tokens as _toks,
    )

    return df.filter(F.size(_toks(_norm(text_col))) > 0).select(
        F.col(id_col).alias("_id"), simhash16(text_col, portable).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame, *, id_col: str, text_col: str, portable: bool = True
) -> DataFrame:
    """Documents with identical 16-bit SimHash — the cheap
    permutation-robust near-dup candidate set (one equi-join)."""
    s = _simhash_values(df, id_col, text_col, portable)
    a, b = s.alias("a"), s.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a.simhash").alias("simhash"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    portable: bool = True,
) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= ``max_distance``
    — the permutation-robust middle ground between exact-SimHash
    equality (``simhash_pairs``) and shingle-verified MinHash.

    Pigeonhole banding: the 16-bit fingerprint splits into
    ``max_distance + 1`` contiguous bands, so any pair within the
    distance budget agrees EXACTLY on at least one band (at most
    ``max_distance`` bits differ, and they can spoil at most that
    many bands). Candidates come from per-band equi-joins on the band
    value — the same bounded-bucket shuffle shape as MinHash LSH,
    never an all-pairs scan — and are verified with
    ``bit_count(xor)`` (one codegen expression per candidate).

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    bands = max_distance + 1
    if not 1 <= bands <= 16:
        raise ValueError("max_distance must be in [0, 15]")
    s = _simhash_values(df, id_col, text_col, portable).withColumnRenamed(
        "simhash", "sim"
    )
    base, rem = divmod(16, bands)
    band_structs = []
    off = 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("sim"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
        off += width
    bucketed = s.select(
        "_id", "sim", F.explode(F.array(*band_structs)).alias("b")
    ).select("_id", "sim", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    x, y = bucketed.alias("x"), bucketed.alias("y")
    hamming = F.bit_count(F.col("x.sim").bitwiseXOR(F.col("y.sim")))
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    embedding_col: str,
    threshold: float = 0.9,
    decimals: int = 4,
) -> DataFrame:
    """Semantic near-dup: pairs with cosine >= threshold. Exact
    block-nested form — O(n^2) distance evaluations but only
    above-threshold pairs survive the filter, so nothing quadratic is
    ever shuffled or materialized. For corpora where even the
    evaluation is too wide, use ann.ivf_neardup_pairs (same output
    contract, candidate-pruned)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(embedding_col).alias("e_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(embedding_col).alias("e_b"))
    cos = F.round(cosine_similarity(F.col("e_a"), F.col("e_b")), decimals)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_gemm(
    df: DataFrame,
    *,
    id_col: str,
    embedding_col: str,
    threshold: float = 0.9,
    decimals: int = 4,
    max_broadcast_rows: int = 1_000_000,
    max_broadcast_bytes: int = 512 * 2**20,
) -> DataFrame:
    """Semantic near-dup via broadcast GEMM: the (normalized) corpus
    matrix is broadcast to executors; each partition's batch computes
    one float64 matrix multiply against it and emits only the
    above-threshold (id_a < id_b) pairs.

    The expression form (embedding_neardup_pairs) evaluates 3 array
    folds per PAIR; this evaluates one BLAS op per batch — orders of
    magnitude faster at the same exactness. The broadcast side must
    fit in executor memory, so the guard is a BYTE budget, not a row
    count: the embedding dim is probed from one row and the row cap
    is ``min(max_broadcast_rows, max_broadcast_bytes // (dim * 8))``
    — at dim 64 the default 512 MB budget admits the full 1M-row cap,
    at dim 768 it caps near 87k rows (a 1M-row×768 float64 broadcast
    would be ~5.9 GB). Corpora above the cap automatically take the
    cell-bucketed scale path, ``ann.ivf_neardup_pairs`` — same output
    contract, candidate-pruned, nothing driver-materialized (its
    recall contract is documented there; pairs across distant cells
    cannot pass a high cosine threshold).
    """
    import numpy as np
    import pandas as pd

    # Dim-aware byte budget, probed in ONE bounded scan: count rows
    # and min/max embedding width over the first max_broadcast_rows+1
    # rows (limit() pushes down — the upstream plan is never executed
    # twice just to size the guard), then shrink the row cap so
    # rows * dim * 8 bytes stays inside max_broadcast_bytes. The GEMM
    # requires a FIXED dim (np.asarray of ragged rows would build an
    # object array and the BLAS call would fail obscurely), so a
    # ragged or all-null probe is a typed error, not a silently
    # skipped byte cap.
    probe_row = (
        df.select(F.size(F.col(embedding_col)).alias("_w"))
        .limit(max_broadcast_rows + 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("_w").alias("w_max"),
            F.min("_w").alias("w_min"),
            # NULL arrays must be counted EXPLICITLY: F.size(NULL) is
            # NULL (not -1) under Spark 4's default ANSI mode, and
            # min/max aggregates skip NULLs, so a null row mixed with
            # valid rows would otherwise sail through the width check
            # and die obscurely inside np.asarray.
            F.count(F.when(F.col("_w").isNull(), 1)).alias("n_null"),
        )
        .first()
    )
    probe = probe_row["n"]
    dim = probe_row["w_max"] or 0
    if probe > 0 and (
        dim <= 0 or probe_row["w_min"] != dim or probe_row["n_null"] > 0
    ):
        raise ValueError(
            "embedding_neardup_pairs_gemm requires a fixed-dimension, "
            f"non-null embedding column; probed widths "
            f"[{probe_row['w_min']}, {dim}] with {probe_row['n_null']} "
            f"NULL rows in column {embedding_col!r}"
        )
    row_cap = max_broadcast_rows
    if dim > 0:
        row_cap = min(row_cap, max(1, max_broadcast_bytes // (dim * 8)))

    if probe > row_cap:
        from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
            ivf_neardup_pairs,
        )

        return ivf_neardup_pairs(
            df,
            id_col=id_col,
            embedding_col=embedding_col,
            threshold=threshold,
            decimals=decimals,
        )

    rows = df.select(id_col, embedding_col).collect()
    ids = np.asarray([r[0] for r in rows])
    M = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(Mn)

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def run(batches):
        all_ids = b_ids.value
        mat = b_mat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.asarray(
                [np.asarray(e, dtype=np.float64) for e in pdf[embedding_col]]
            )
            En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-300)
            from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
                np_round_half_up,
            )

            sims = np_round_half_up(En @ mat.T, decimals)  # (n, corpus)
            batch_ids = pdf[id_col].to_numpy()
            # only id_a < id_b pairs above threshold
            mask = sims >= threshold
            mask &= batch_ids[:, None] < all_ids[None, :]
            ii, jj = np.nonzero(mask)
            if len(ii) == 0:
                continue
            yield pd.DataFrame(
                {
                    "id_a": batch_ids[ii],
                    "id_b": all_ids[jj],
                    "cosine": sims[ii, jj],
                }
            )

    return df.select(id_col, embedding_col).mapInPandas(run, schema=out_schema)


def lsh_band_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = True,
    engine: str = "auto",
    cache: bool = True,
) -> DataFrame:
    """Per-document LSH band keys as flat rows ``(id, band, h)``.

    The first half of ``minhash_lsh_pairs`` (shingle -> signature ->
    bands) exposed as its own operator, because two consumers need
    the band table WITHOUT the pair self-join:

    - building a persisted corpus band index once (write it out
      partitioned/bucketed by ``(band, h)``; incremental ingest
      appends only the new docs' rows), and
    - probing that index with a small batch of incoming docs
      (``novelty_gate``), where materializing candidate PAIRS is
      wasted work — membership is enough.

    Shape: one explode to (doc, distinct shingle) rows (md5 per
    shingle computed ONCE, in codegen, not inside a per-permutation
    lambda), one map-side-combinable hash aggregate for the 16
    permutation minima, then a pure projection into ``bands`` rows
    per doc. One shuffle total, keyed by doc id. Documents with zero
    shingles (empty/whitespace text) produce NO rows — the same
    contract as ``minhash_lsh_pairs`` (see ``word_shingles``).

    The band hash uses the identical string form as
    ``functions.hashes.lsh_bands``, so rows produced here join
    exactly against any other band table in the repo and against the
    DuckDB oracle family.
    """
    sh = _shingle_rows(
        df, id_col, text_col, n, portable, engine=engine, cache=cache
    )
    out = _band_rows_from_shingles(sh, id_col, num_hashes, bands)
    return _attach_cache(out, sh) if cache else out


def _band_rows_from_shingles(
    sh: DataFrame, id_out: str, num_hashes: int, bands: int
) -> DataFrame:
    """(_id, h) shingle rows -> (id_out, band, h) band rows: one
    map-side-combinable aggregate for the permutation minima, then a
    pure projection. Shared by ``lsh_band_rows`` and the verified
    gate (which reuses ONE shingle pass for bands + sizes + the
    exact-Jaccard join)."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        hash64,
    )

    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes must be <= {len(MINHASH_A)} (frozen hash family)"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    perms = [
        F.min(
            F.pmod(
                F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j]),
                F.lit(MINHASH_P),
            )
        ).alias(f"_s{j}")
        for j in range(num_hashes)
    ]
    sig = sh.groupBy("_id").agg(*perms)
    band_structs = []
    for b in range(bands):
        piece = [
            F.col(f"_s{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                hash64(F.concat_ws(",", *piece)).alias("h"),
            )
        )
    return sig.select("_id", F.explode(F.array(*band_structs)).alias("b")).select(
        F.col("_id").alias(id_out),
        F.col("b.band").alias("band"),
        F.col("b.h").alias("h"),
    )


def novelty_gate(
    incoming: DataFrame,
    reference_bands: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = True,
) -> DataFrame:
    """Near-duplicate NOVELTY gate: which incoming documents look new
    relative to an already-ingested corpus?

    ``reference_bands`` is a prebuilt ``(band, h)`` table (the output
    of ``lsh_band_rows`` over the corpus — persist it once, append
    increments). Each incoming doc's bands probe it with one
    equi-join; a doc whose bands all miss is *novel* (no corpus doc
    is a MinHash near-duplicate candidate), a doc with hits is a
    suspect for the usual exact-Jaccard verification.

    Output: one row per incoming doc —
    ``(id_col, n_hit_bands, novel)`` with ``n_hit_bands`` counting
    how many of its ``bands`` band-buckets exist in the corpus
    (0..bands; a soft evidence score) and ``novel = (n_hit_bands
    == 0)``. Docs with no shingles (empty text) gate as novel with 0
    hits.

    Scale shape: the corpus side is arbitrary size — the probe is a
    LEFT SEMI equi-join on ``(band, h)`` (AQE handles skewed
    boilerplate buckets), the aggregate is map-side combinable, and
    nothing is ever broadcast or collected from the corpus. The
    incoming side is a micro-batch in the streaming deployment
    (``streaming.neardup_stream.stream_novelty_serve``), so per-batch
    work is |batch| * bands rows, independent of corpus size. SEMI
    means membership, not multiplicity: each probe band row matches
    at most once however many duplicate key rows the reference holds,
    so the reference needs NO distinct — neither per serve, nor at
    index-append time (``band_index_append`` exploits exactly that to
    keep incremental appends corpus-independent; duplicate keys cost
    only reference bytes until ``band_index_compact`` re-distincts).
    """
    inc = lsh_band_rows(
        incoming,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        portable=portable,
        # micro-batch contract: the JVM expression shingles beat the
        # Arrow pass for serve-sized inputs, and the single-consumer
        # probe plan needs neither the repartition nor the shingle
        # cache (see _shingle_rows)
        engine="expr",
        cache=False,
    )
    hits = (
        inc.join(reference_bands.select("band", "h"), ["band", "h"], "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_bands"))
    )
    out = (
        incoming.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_bands"), F.lit(0).cast("bigint")).alias(
                "n_hit_bands"
            ),
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) == 0).alias("novel"),
        )
    )
    return _attach_cache(out, *getattr(inc, "_spark_graft_cached_deps", ()))


def novelty_gate_excluding(
    incoming: DataFrame,
    reference_band_rows: DataFrame,
    *,
    ref_id_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = True,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Replay-stable novelty gate: same verdict contract as
    ``novelty_gate`` (one row per incoming doc, ``(id, n_hit_bands,
    novel)``), but probed against an id-CARRYING corpus band table
    with the EXCLUDED contributor rows removed before counting —
    by default every row whose id is in the incoming batch itself;
    when ``exclude_ids`` (a single-column DataFrame of reference ids,
    possibly empty) is given, exactly those ids instead.

    Pass ``exclude_ids`` when the caller KNOWS which rows the batch's
    own earlier attempt contributed (``band_index_append`` records
    the post-guard appended id set per tagged append —
    ``band_index_appended_ids``). Excluding the whole batch id set is
    only correct when no batch id was contributed by a DIFFERENT
    batch: a same-id redelivery (doc ingested by batch N, re-emitted
    in batch N+1) would have its batch-N rows wrongly discounted and
    flip to novel on a batch-N+1 replay — the recorded set keeps the
    verdict identical to the first attempt's.

    Why this exists: the streaming ingest loop
    (``streaming.neardup_stream.stream_novelty_ingest``) gates a
    batch, hydrates the novel docs, and appends them to the index —
    and a ``foreachBatch`` body can be REPLAYED after a crash between
    the append and the sink commit. A plain ``novelty_gate`` replay
    would then find the batch's own rows already in the index and
    republish its novel docs as duplicates. Excluding the batch's id
    set makes the verdict a pure function of (batch, index MINUS
    batch) — identical on first run (the batch isn't indexed yet, the
    anti-join drops nothing) and on every replay.

    Scale shape: the exclusion is one broadcast anti-join of the
    (small) batch id set against the corpus band table — it preserves
    the table's (band, h) bucketing, so the membership probe that
    follows is still exchange-free on the corpus side. The membership
    probe is LEFT SEMI (each incoming band row matches at most once),
    so the undistincted multiplicity of the full band table never
    inflates ``n_hit_bands``. Cost vs the ``bucket_keys`` fast path:
    the corpus scan carries the id column and pre-distinct rows —
    that is the price of attribution; serve paths that never append
    (no replay hazard) should keep probing ``bucket_keys``.
    """
    inc = lsh_band_rows(
        incoming,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        portable=portable,
        # micro-batch contract: the JVM expression shingles beat the
        # Arrow pass for serve-sized inputs, and the single-consumer
        # probe plan needs neither the repartition nor the shingle
        # cache (see _shingle_rows)
        engine="expr",
        cache=False,
    )
    ref_type = dict(reference_band_rows.dtypes)[ref_id_col]
    if exclude_ids is not None:
        xc = exclude_ids.columns[0]
        batch_ids = exclude_ids.select(
            F.col(xc).cast(ref_type).alias("_x_id")
        ).distinct()
    else:
        batch_ids = incoming.select(
            F.col(id_col).cast(ref_type).alias("_x_id")
        ).distinct()
    ref = reference_band_rows.join(
        F.broadcast(batch_ids), F.col(ref_id_col) == F.col("_x_id"), "left_anti"
    ).select("band", "h")
    hits = (
        inc.join(ref, ["band", "h"], "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_bands"))
    )
    out = (
        incoming.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit_bands"), F.lit(0).cast("bigint")).alias(
                "n_hit_bands"
            ),
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) == 0).alias("novel"),
        )
    )
    return _attach_cache(out, *getattr(inc, "_spark_graft_cached_deps", ()))


def neardup_gate_verified(
    incoming: DataFrame,
    reference_bands: DataFrame,
    reference_shingles: DataFrame,
    reference_sizes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    decimals: int = 4,
    portable: bool = True,
) -> DataFrame:
    """The FULL serving-path dedup decision: LSH candidates from a
    persisted corpus index, then exact-Jaccard verification, then one
    verdict row per incoming document —

        (id_col, best_match_id, best_jaccard, is_dup)

    ``best_match_id``/``best_jaccard`` name the corpus document with
    the highest verified Jaccard among this doc's LSH candidates
    (ties broken by ascending match id; NULL when no band collides),
    and ``is_dup = best_jaccard >= threshold``. Where
    ``novelty_gate`` answers "does anything LOOK similar" from band
    membership alone, this answers the question an ingest pipeline
    actually gates on: "IS this a near-duplicate, of what, how near"
    — without ever touching corpus text at serve time.

    The three reference tables are the persisted index
    (``operators.band_index.band_index_write(...,
    include_shingles=True)``): band rows ``(id, band, h)``, shingle
    posting rows ``(id, h)``, and per-doc shingle-set sizes
    ``(id, n_sh)``. All three are plain datasets; sizes are persisted
    because recomputing them would be a full corpus-shingle pass per
    serve call.

    Scale shape: ONE shingle pass over the incoming batch feeds
    bands, sizes, and the verify join (the ``minhash_lsh_pairs``
    economy, applied cross-corpus); candidates come from an equi-join
    on ``(band, h)`` (AQE-skew-splittable — a boilerplate bucket with
    s corpus members yields s candidates for the colliding doc, never
    s^2); verification joins candidate pairs on the 8-byte shingle
    hash. Per-batch cost is bounded by |batch| x bucket occupancy,
    independent of corpus size.
    """
    inc_sh = _shingle_rows(incoming, id_col, text_col, n, portable, engine="expr")
    inc_bands = _band_rows_from_shingles(inc_sh, "_inc_id", num_hashes, bands)

    ref_id_t = dict(reference_bands.dtypes)[
        [c for c in reference_bands.columns if c not in ("band", "h")][0]
    ]
    ref_id = [c for c in reference_bands.columns if c not in ("band", "h")][0]

    cand = (
        inc_bands.join(
            reference_bands.select(
                F.col(ref_id).alias("_ref_id"), "band", "h"
            ),
            ["band", "h"],
        )
        .select("_inc_id", "_ref_id")
        .distinct()
    )
    ref_sh_id = [c for c in reference_shingles.columns if c != "h"][0]
    a = inc_sh.select(F.col("_id").alias("_inc_id"), F.col("h").alias("h_a"))
    b = reference_shingles.select(
        F.col(ref_sh_id).alias("_b_id"), F.col("h").alias("h_b")
    )
    shared = (
        cand.join(a, "_inc_id")
        .join(b, (F.col("_ref_id") == F.col("_b_id")) & (F.col("h_a") == F.col("h_b")))
        .groupBy("_inc_id", "_ref_id")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    inc_sizes = inc_sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_na"))
    ref_size_id = [c for c in reference_sizes.columns if c != "n_sh"][0]
    jac = (
        shared.join(inc_sizes.withColumnRenamed("_id", "_inc_id"), "_inc_id")
        .join(
            reference_sizes.select(
                F.col(ref_size_id).alias("_ref_id"), F.col("n_sh").alias("_nb")
            ),
            "_ref_id",
        )
        .select(
            "_inc_id",
            "_ref_id",
            F.round(
                F.col("_shared").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_shared")),
                decimals,
            ).alias("_j"),
        )
    )
    from pyspark.sql import Window

    best = (
        jac.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_inc_id").orderBy(
                    F.col("_j").desc(), F.col("_ref_id").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = (
        incoming.select(F.col(id_col))
        .join(best.withColumnRenamed("_inc_id", id_col), id_col, "left")
        .select(
            id_col,
            F.col("_ref_id").cast(ref_id_t).alias("best_match_id"),
            F.col("_j").alias("best_jaccard"),
            F.coalesce(F.col("_j") >= threshold, F.lit(False)).alias("is_dup"),
        )
    )
    return _attach_cache(out, inc_sh)
