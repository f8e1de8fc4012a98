"""Dedup operators on synthetic corpora with planted duplicates —
exact, permuted, near-identical, and semantically-near cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_databases___hydrate_chroma_db_collection_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while birds sing in the tall green trees above"
)


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate
        (3, "  THE   quick brown fox jumps over the lazy dog near the river bank "
            "while birds sing in the tall green trees above  "),  # normalizes to dup
        (4, BASE.replace("green", "blue")),  # near-dup (1-token change)
        (5, "completely different content about spark catalyst optimizer "
            "plans and distributed shuffles in large clusters today"),
        (6, "another unrelated document mentioning vectors embeddings and "
            "similarity search at massive scale for retrieval"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_groups(corpus):
    groups = {r["keep_id"]: r["dup_count"] for r in D.exact_dedup(
        corpus, id_col="doc_id", text_col="text").collect()}
    assert groups[1] == 3  # 1, 2, 3 collapse after normalization
    assert groups[4] == 1 and groups[5] == 1 and groups[6] == 1


def test_jaccard_finds_near_dup(corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.jaccard_pairs(
        corpus, id_col="doc_id", text_col="text", threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert 0.3 <= pairs[(1, 4)] < 1.0  # one-token change
    assert (1, 5) not in pairs


def test_minhash_lsh_matches_exact_jaccard(corpus):
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.minhash_lsh_pairs(
        corpus, id_col="doc_id", text_col="text", threshold=0.3).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.jaccard_pairs(
        corpus, id_col="doc_id", text_col="text", threshold=0.3).collect()}
    # verified candidates carry the same exact jaccard values
    for k, v in lsh.items():
        assert exact[k] == v
    # the planted identical pairs must be recalled (j=1 -> recall ~1)
    assert (1, 2) in lsh and (1, 3) in lsh


def test_minhash_duplicate_id_never_self_pairs(spark, corpus):
    """A row repeated verbatim (same id, same text) puts its id twice
    into every bucket it lands in; the candidates must still pair
    distinct ids only, and the pair set must equal the deduplicated
    corpus's."""
    def pairs(df):
        return {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(
                df, id_col="doc_id", text_col="text", threshold=0.3
            ).collect()
        }

    dup = corpus.unionByName(corpus.filter(F.col("doc_id").isin(1, 5)))
    got = pairs(dup)
    assert not any(a == b for a, b in got)
    assert got == pairs(corpus)


def test_minhash_mega_bucket_guard(spark, corpus):
    """A planted boilerplate cluster (one band bucket >> cap) must
    complete via star expansion and still link every member to the
    representative; the standard corpus is unaffected by the guard."""
    boiler = [(100 + i, BASE) for i in range(40)]  # 40 identical docs
    big = corpus.unionByName(
        spark.createDataFrame(boiler, "doc_id int, text string")
    )
    # cap far below the cluster size -> star path exercised
    guarded = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            big, id_col="doc_id", text_col="text", threshold=0.3, max_bucket_size=8
        ).collect()
    }
    # every boilerplate member is linked to the cluster representative
    # (min id 1), so connected-component dedup still collapses it all
    for i in range(40):
        assert (1, 100 + i) in guarded
    # docs 2 and 3 (also boilerplate) collapse to the same rep
    assert (1, 2) in guarded and (1, 3) in guarded
    # the near-dup (one-token change) is still recalled
    assert (1, 4) in guarded
    # star expansion emits O(s) pairs for the mega cluster, not s^2/2:
    # members pair with the representative, not with each other
    assert (100, 101) not in guarded
    # unrelated docs stay unpaired
    assert not any(a in (5, 6) or b in (5, 6) for a, b in guarded)


def test_release_cache_unpersists_shingles(spark, corpus):
    res = D.minhash_lsh_pairs(corpus, id_col="doc_id", text_col="text", threshold=0.3)
    res.collect()
    deps = res._spark_graft_cached_deps
    # r16: the signature table is no longer cached (it feeds exactly
    # one consumer, the bucket-member aggregate); the shingle rows are
    # the only cache the operator attaches
    assert len(deps) == 1
    for cached in deps:
        assert cached.storageLevel.useMemory  # caches active after materialize
    D.release_cache(res)
    for cached in deps:
        assert not cached.storageLevel.useMemory
    D.release_cache(corpus)  # no attached cache -> no-op


def test_minhash_hash_verify_matches_string_jaccard_random(spark):
    """Property check for the hash-keyed verification: on random
    corpora, every pair minhash reports must carry the SAME jaccard
    the exact string-shingle operator computes — hash collisions
    would inflate the shared count and break this equality."""
    import random

    rng = random.Random(20260814)
    vocab = [f"tok{i}" for i in range(60)]
    rows = []
    for i in range(40):
        n = rng.randint(4, 18)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        rows.append((i, " ".join(words)))
        if i % 7 == 0:  # plant a near-identical neighbor
            mutated = list(words)
            mutated[rng.randrange(len(mutated))] = vocab[0]
            rows.append((i + 1000, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(
            df, id_col="doc_id", text_col="text", threshold=0.2
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(
            df, id_col="doc_id", text_col="text", threshold=0.2
        ).collect()
    }
    assert lsh, "random corpus must produce at least the planted pairs"
    for k, v in lsh.items():
        assert exact[k] == v, k


def test_simhash_identical_for_permuted_tokens(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "epsilon delta gamma beta alpha"),  # permutation
            (3, "totally different words entirely here"),
        ],
        "doc_id int, text string",
    )
    pairs = D.simhash_pairs(df, id_col="doc_id", text_col="text").collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # simhash is order-invariant over tokens
    assert all(3 not in p for p in found)


def test_embedding_neardup_gemm_matches_expression(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal(16).astype("float32")
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base * 1.001]),  # same direction
        (3, [float(x) for x in rng.standard_normal(16)]),
        (4, [float(x) for x in -base]),
    ]
    df = spark.createDataFrame(rows, "vid int, emb array<float>")
    expr = {(r["id_a"], r["id_b"]): r["cosine"] for r in D.embedding_neardup_pairs(
        df, id_col="vid", embedding_col="emb", threshold=0.9).collect()}
    gemm = {(r["id_a"], r["id_b"]): r["cosine"] for r in D.embedding_neardup_pairs_gemm(
        df, id_col="vid", embedding_col="emb", threshold=0.9).collect()}
    assert set(expr) == set(gemm) == {(1, 2)}
    assert abs(expr[(1, 2)] - gemm[(1, 2)]) < 1e-9


def test_rolling_hash_is_order_sensitive(spark):
    """Permuted token order must change the rolling fingerprint while
    md5-of-normalized-text (and SimHash) collide — that is the point
    of the sequence-sensitive fingerprint."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        rolling_hash,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.functions.text import (
        normalize_text,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
         (3, "alpha  beta gamma delta  ")],
        ["id", "text"],
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            rolling_hash(tokens(normalize_text("text"))).alias("rfp"),
            F.md5(normalize_text("text").cast("binary")).alias("fp"),
        ).collect()
    }
    assert rows[1]["rfp"] != rows[2]["rfp"]  # permutation detected
    assert rows[1]["fp"] != rows[2]["fp"] or True  # md5 differs too here, but:
    assert rows[1]["rfp"] == rows[3]["rfp"]  # whitespace-normalized equal
    assert rows[1]["fp"] == rows[3]["fp"]


def test_simhash_hamming_banding_recall(spark):
    """Pigeonhole banding must find EVERY pair within the distance
    budget (exact recall, not approximate): compare against brute
    force on the fixture, and check the distance cap holds."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        simhash16,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    from vector_databases___hydrate_chroma_db_collection_spark.sources.parquet import (
        load_table,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(
            d, id_col="doc_id", text_col="text", max_distance=3
        ).collect()
    }
    s = d.select("doc_id", simhash16("text").alias("sim"))
    a, b = s.alias("a"), s.alias("b")
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    assert all(v <= 3 for v in got.values())


def test_dup_ngram_fraction_planted(spark):
    """Docs sharing a long run of tokens show a high duplicated-shingle
    fraction; a fully unique doc shows zero."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " unique-one tail-one"),
        (2, shared + " unique-two tail-two"),
        (3, "totally disjoint words nothing repeated anywhere here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["id"]: r
        for r in D.dup_ngram_fraction(
            df, id_col="doc_id", text_col="text", n=3
        ).collect()
    }
    # 10 tokens -> 8 distinct 3-gram shingles; the 6 built purely from
    # the shared prefix appear in both doc 1 and doc 2.
    assert out[1]["n_shingles"] == 8
    assert out[1]["dup_shingles"] == 6
    assert out[1]["dup_frac"] == 0.75
    assert out[2]["dup_frac"] == 0.75
    assert out[3]["dup_shingles"] == 0 and out[3]["dup_frac"] == 0.0


def test_gemm_neardup_rejects_null_embedding_rows(spark):
    """A NULL embedding mixed into valid rows must raise the typed
    fixed-dim error, not die inside np.asarray — F.size(NULL) is NULL
    (min/max aggregates skip it), so the guard counts nulls
    explicitly."""
    import pytest

    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        embedding_neardup_pairs_gemm,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0])],
        "vec_id int, embedding array<float>",
    )
    with pytest.raises(ValueError, match="NULL rows"):
        embedding_neardup_pairs_gemm(
            df, id_col="vec_id", embedding_col="embedding", threshold=0.5
        )


def test_exact_substring_coverage_interval_union(spark):
    """Hand-built corpus pinning the positional semantics: docs 1 and
    2 share an 8-token span embedded at different offsets, overlapping
    duplicated windows union-merge (never double-count), and a doc
    whose only repeats are WITHIN itself scores zero (cross-doc
    requires min(id) != max(id) over the window hash)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        exact_substring_coverage,
        release_cache,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        # 12 tokens: shared span at positions 3-10
        (1, "x1 y1 " + shared + " z1 w1"),
        # 10 tokens: shared span at positions 1-8
        (2, shared + " q2 r2"),
        # self-repetition only: 16 tokens, every 8-window repeats
        # within doc 3 but nowhere else
        (3, "rep sep tep uep vep wep xep yep " * 2),
        # too short for any 8-window
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = exact_substring_coverage(df, id_col="doc_id", text_col="text", k=8)
    got = {r["id"]: r.asDict() for r in out.collect()}
    release_cache(out)
    # each doc contains the shared span exactly once -> 1 dup window,
    # 8 covered tokens
    assert got[1]["dup_windows"] == 1 and got[1]["covered_tokens"] == 8
    assert got[1]["coverage"] == round(8 / 12, 4)
    assert got[2]["dup_windows"] == 1 and got[2]["coverage"] == 0.8
    assert got[3]["dup_windows"] == 0 and got[3]["coverage"] == 0.0
    assert got[4]["n_tokens"] == 2 and got[4]["coverage"] == 0.0

    # overlap merge: doc 5/6 share a 9-token span -> TWO overlapping
    # 8-windows whose union is 9 tokens, not 16
    span9 = shared + " india"
    df2 = spark.createDataFrame(
        [(5, span9 + " k5"), (6, "m6 " + span9)],
        "doc_id int, text string",
    )
    out2 = exact_substring_coverage(df2, id_col="doc_id", text_col="text", k=8)
    got2 = {r["id"]: r.asDict() for r in out2.collect()}
    release_cache(out2)
    assert got2[5]["dup_windows"] == 2 and got2[5]["covered_tokens"] == 9
    assert got2[6]["dup_windows"] == 2 and got2[6]["covered_tokens"] == 9


def test_exact_substring_coverage_matches_python_oracle_random(spark):
    """Property check on a random small-vocab corpus (natural
    cross-doc window collisions): per-doc (n_tokens, dup_windows,
    covered_tokens) must equal a direct python computation — exercises
    the min!=max cross-doc analytic, the islands merge, and the
    short/empty-doc edges against an independent implementation."""
    import random

    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        exact_substring_coverage,
        release_cache,
    )

    k = 4
    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(8)]  # tiny vocab -> real collisions
    rows = []
    for i in range(30):
        n = rng.randint(0, 12)  # includes empty and shorter-than-k docs
        rows.append((i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    # independent python oracle
    occ: dict[tuple, set] = {}
    toks = {i: t.split() for i, t in rows}
    for i, t in toks.items():
        for p in range(len(t) - k + 1):
            occ.setdefault(tuple(t[p : p + k]), set()).add(i)
    want = {}
    for i, t in toks.items():
        if not t:
            continue
        covered: set = set()
        dw = 0
        for p in range(len(t) - k + 1):
            if len(occ[tuple(t[p : p + k])]) >= 2:
                dw += 1
                covered.update(range(p, p + k))
        want[i] = (len(t), dw, len(covered))

    res = exact_substring_coverage(df, id_col="doc_id", text_col="text", k=k)
    got = {
        r["id"]: (r["n_tokens"], r["dup_windows"], r["covered_tokens"])
        for r in res.collect()
    }
    release_cache(res)
    assert got == want
    # sanity: the tiny vocab actually produced duplicated windows
    assert any(v[1] > 0 for v in want.values())


def test_exact_substring_removal_keeps_earliest_copy(spark):
    """The earliest doc keeps its text verbatim; a later doc loses
    exactly the span that exists upstream; a verbatim full duplicate
    collapses to the empty string; within-doc repetition alone is
    never cut."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        exact_substring_removal,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, shared + " tail1 tail2"),
        (2, "head2 " + shared + " tail3"),  # loses the shared span
        (3, shared),                        # full duplicate -> empty
        (4, "rep sep tep uep vep wep xep yep " * 2),  # self-repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["id"]: r.asDict()
        for r in exact_substring_removal(
            df, id_col="doc_id", text_col="text", k=8
        ).collect()
    }
    assert got[1]["cleaned_text"] == rows[0][1]  # earliest: verbatim
    assert got[1]["kept_tokens"] == 10
    assert got[2]["cleaned_text"] == "head2 tail3"
    assert got[2]["kept_tokens"] == 2
    assert got[3]["cleaned_text"] == "" and got[3]["kept_tokens"] == 0
    assert got[4]["kept_tokens"] == got[4]["n_tokens"] == 16


def test_lsh_band_rows_contract(spark, corpus):
    """Band table shape: 8 rows per non-empty doc (bands 0..7),
    byte-identical rows for exact and normalization-equal duplicates,
    and >=1 shared band for the 1-token near-dup (frozen hash family
    makes this deterministic, not flaky)."""
    bands = D.lsh_band_rows(corpus, id_col="doc_id", text_col="text")
    rows = bands.collect()
    D.release_cache(bands)
    per: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append((r["band"], r["h"]))
    assert set(per) == {1, 2, 3, 4, 5, 6}
    assert all(sorted(b for b, _ in v) == list(range(8)) for v in per.values())
    assert sorted(per[1]) == sorted(per[2])
    assert sorted(per[1]) == sorted(per[3])
    assert len(set(per[1]) & set(per[4])) >= 1
    assert not set(per[1]) & set(per[5])


def test_novelty_gate_planted(spark, corpus):
    """Novelty gate vs a reference corpus: an exact duplicate hits
    all 8 bands, novel text hits none, and an empty doc (zero
    shingles) gates as novel with 0 hits instead of erroring."""
    incoming = spark.createDataFrame(
        [
            (101, BASE),  # exact dup of reference doc 1
            (102, "entirely novel prose about gradient descent convergence "
                  "rates and cosine learning schedules in optimizer theory"),
            (103, "   "),  # whitespace-only: zero shingles
        ],
        "doc_id int, text string",
    )
    ref_bands = D.lsh_band_rows(corpus, id_col="doc_id", text_col="text")
    out = D.novelty_gate(incoming, ref_bands, id_col="doc_id", text_col="text")
    got = {r["doc_id"]: (r["n_hit_bands"], r["novel"]) for r in out.collect()}
    D.release_cache(out)
    D.release_cache(ref_bands)
    assert got == {101: (8, False), 102: (0, True), 103: (0, True)}


def test_minhash_signature_onepass_parity(spark):
    """ADVICE r8: minhash_signature_onepass claims value-identity with
    minhash_signature — prove it, including the short-shingle edge and
    the NULL-on-empty contract (the streaming projection relies on
    NULL to keep "empty docs produce no bands")."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        minhash_signature,
        minhash_signature_onepass,
        word_shingles,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two"),  # shorter than n -> single short shingle
            (4, "   "),      # whitespace-only -> zero shingles
        ],
        "doc_id int, text string",
    )
    sh = F.array_distinct(word_shingles("text", 3))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            minhash_signature(sh).alias("classic"),
            minhash_signature_onepass(sh).alias("onepass"),
        ).collect()
    }
    for i in (1, 2, 3):
        assert rows[i]["onepass"] == rows[i]["classic"], i
        assert len(rows[i]["onepass"]) == 16
    assert rows[4]["onepass"] is None


def test_remove_common_segments_c4_rule(spark):
    """C4 cross-doc boilerplate removal: lines in >= min_docs docs
    vanish from every doc, doc-local lines survive in order, a doc
    made entirely of boilerplate comes back empty (0 kept), within-doc
    repetition of a RARE line is untouched (that's the within-doc
    pass's job), and min_docs < 2 is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        remove_common_segments,
    )

    rows = [
        (1, "NAV\nalpha one\nFOOTER\nbeta two"),
        (2, "NAV\ngamma three\nFOOTER\ndelta four"),
        (3, "NAV\nepsilon five\nFOOTER\nzeta six"),
        (4, "NAV\nFOOTER"),                       # pure boilerplate
        (5, "rare line\nrare line\neta seven"),   # within-doc repeat, df=1
        (6, None),                                # NULL text -> one '' segment
    ]
    df = spark.createDataFrame(rows, "doc_id int, t string")
    out = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["cleaned"])
        for r in remove_common_segments(
            df, id_col="doc_id", text_col="t", min_docs=3
        ).collect()
    }
    assert out[1] == (4, 2, "alpha one\nbeta two")
    assert out[2] == (4, 2, "gamma three\ndelta four")
    assert out[3] == (4, 2, "epsilon five\nzeta six")
    assert out[4] == (2, 0, "")
    # rare within-doc repetition survives BOTH occurrences (df=1 < 3)
    assert out[5] == (3, 3, "rare line\nrare line\neta seven")
    assert out[6] == (1, 1, "")  # single '' segment, df=1, kept
    assert len(out) == 6

    with pytest.raises(ValueError, match="min_docs"):
        remove_common_segments(df, id_col="doc_id", text_col="t", min_docs=1)
