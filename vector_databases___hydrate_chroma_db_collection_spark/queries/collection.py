"""Collection lifecycle: hydrate, sources, layout, time travel, Chroma API.

Split from the original single-file registry (r8); every query keeps
its exact name, body, and oracle — `tools/parity_local.py` guards the
registry contract across the split.
"""

from __future__ import annotations

from vector_databases___hydrate_chroma_db_collection_spark.queries._shared import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _COS_SQL,
    _HASH64,
    _ZORDER_SQL_X,
    _ZORDER_SQL_Y,
    _hydrate_docs_collection,
    knn_query,
    load_table,
    query,
)


@query(
    "hydrate_canonical_shape",
    """
    SELECT CAST(d.doc_id AS VARCHAR) AS id,
           d.text AS document,
           len(e.embedding) AS dim,
           d.lang AS metadata_value
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def hydrate_canonical_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire pipeline (sas:126-193) as one declarative
    plan: join documents to embeddings, project to canonical collection
    schema (id stringified per quirk Q2; metadata keyed by column)."""
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        build_hydration_input,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    canon = build_hydration_input(
        joined,
        HydrationConfig(
            collection_name="docs",
            root="/tmp/unused",
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    return canon.select(
        "id",
        "document",
        F.size("embedding").alias("dim"),
        F.element_at("metadata", "lang").alias("metadata_value"),
    )


@query(
    "collection_knn_end_to_end",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '3'),
    scored AS (
        SELECT c.id,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '3'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_knn_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full story in one query: hydrate a collection
    (join docs+embeddings -> canonical schema -> Parquet dataset with
    manifest), read it back as a table, answer a top-5 cosine query
    from the stored embeddings. Every run uses a fresh temp dir, so
    the driver's repeated invocations stay idempotent."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_query,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_e2e_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="e2e",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "e2e")
    qvec = list(coll.filter(F.col("id") == "3").first()["embedding"])
    return knn_query(
        coll.filter(F.col("id") != "3"),
        qvec,
        k=5,
        id_col="id",
        embedding_col="embedding",
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "collection_ivf_knn_end_to_end",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_ivf_knn_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed retrieval end-to-end: hydrate a collection, build an
    IVF index over it, PERSIST the index (cell-partitioned parquet +
    centroids), read it back, and answer a top-5 cosine query through
    it. nprobe = n_centroids makes the search exhaustive, so the
    oracle is the exact brute-force SQL — the plumbing (index build,
    persisted layout, pruned scan path) is what's under test; recall
    tradeoffs of nprobe < n_cells are covered by pytest recall tests."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_query,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_ivf_e2e_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="e2e_ivf",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "e2e_ivf")
    assigned, centroids = ivf_build(coll, n_centroids=8, seed=42)
    ivf_write(assigned, centroids, f"{root}/e2e_ivf/_ivf", metric="cosine")
    assigned2, centroids2, _metric = ivf_read(spark, f"{root}/e2e_ivf/_ivf")
    qvec = list(coll.filter(F.col("id") == "7").first()["embedding"])
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_search,
    )

    return ivf_search(
        assigned2.filter(F.col("id") != "7"),
        centroids2,
        qvec,
        k=5,
        nprobe=8,
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "collection_ivf_knn_stale_rebuild",
    """
    WITH base AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), donor AS (SELECT emb FROM base WHERE id = '7'),
    corpus AS (
        SELECT b.id,
               CASE WHEN b.id = '3' THEN donor.emb ELSE b.emb END AS emb
        FROM base b, donor
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_ivf_knn_stale_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-staleness contract, end-to-end and LOAD-BEARING:
    hydrate a collection, persist an IVF index stamped with the
    collection's etag (``ivf_write(source=...)``), then
    ``collection_update`` one document's embedding (id '3' takes id
    '7''s vector — the mutation an un-invalidated index would miss).
    ``ivf_read`` must now raise ``StaleIndexError``; the query
    REQUIRES it (no exception => EngineError), rebuilds via the
    one-call remedy ``ivf_refresh`` (which replays the sidecar's
    RECORDED build parameters against the current collection and
    re-stamps), and answers top-5 through the fresh index. The oracle
    scores the UPDATED corpus brute-force, so the result only matches
    if the rebuild actually served the new vector (id '3' surfaces at
    cos_sim 1.0)."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_refresh,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "stale_ivf")
    coll = read_collection(spark, root, "stale_ivf")
    assigned, centroids = ivf_build(coll, n_centroids=8, seed=42)
    idx_path = f"{root}/stale_ivf/_ivf"
    ivf_write(
        assigned,
        centroids,
        idx_path,
        metric="cosine",
        source=(root, "stale_ivf"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    qvec = list(coll.filter(F.col("id") == "7").first()["embedding"])

    # Mutate: id '3' takes id '7''s embedding (SQL-expressible so the
    # oracle can reproduce it), swapping the _current data dir. A
    # plain call + raise, NOT an assert — the mutation is load-bearing
    # and must survive python -O.
    donor = coll.filter(F.col("id") == "7").select(F.col("embedding"))
    upd = donor.select(F.lit("3").alias("id"), F.col("embedding"))
    n_upd = collection_update(spark, root, "stale_ivf", upd)
    if n_upd != 1:
        raise EngineError(f"expected exactly 1 updated row, got {n_upd}")

    try:
        ivf_read(spark, idx_path)
    except StaleIndexError:
        pass  # the contract under test
    else:
        raise EngineError(
            "persisted IVF index served a mutated collection without "
            "raising StaleIndexError"
        )

    # One-call remedy: rebuild from the CURRENT collection with the
    # recorded build params, re-stamp, serve.
    assigned3, centroids3, _metric = ivf_refresh(spark, idx_path)
    return ivf_search(
        assigned3.filter(F.col("id") != "7"),
        centroids3,
        qvec,
        k=5,
        nprobe=8,
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "collection_filtered_query",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, d.text, d.lang,
               e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '3'),
    scored AS (
        SELECT c.id,
               round(list_sum(list_transform(c.emb,
                   x -> CAST(x AS DOUBLE))), 4) AS emb_sum,
               len(c.emb) AS dim, {_COS_SQL} AS score
        FROM corpus c, q
        WHERE c.lang IN ('en', 'de') AND contains(c.text, 'data')
    )
    SELECT id, emb_sum, dim, score
    FROM scored ORDER BY score DESC, id LIMIT 5
    """,
)
def collection_filtered_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma ``collection.query(where=..., where_document=...,
    include=[...])``: metadata + document predicates compiled to
    native Columns and applied BEFORE the distance expression
    (pre-filtering — exact recall, and the filter prunes the scan
    ahead of the math), then top-5 cosine via TakeOrderedAndProject.
    Shuffle-free. The literal ``include`` list (r15) controls the
    payload columns — here ``["embeddings"]``, Chroma's non-default
    vector-returning case, so the oracle checks the include
    machinery end-to-end."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "apiq")
    coll = read_collection(spark, root, "apiq")
    qvec = list(coll.filter(F.col("id") == "3").first()["embedding"])
    served = collection_query(
        spark,
        root,
        "apiq",
        qvec,
        n_results=5,
        where={"lang": {"$in": ["en", "de"]}},
        where_document={"$contains": "data"},
        score_decimals=4,
        include=["embeddings"],
    )
    assert served.columns == ["id", "embedding", "score"]
    # oracle-safe scalars DERIVED from the included vector (the
    # driver's hash compare wants scalar cells; the projection still
    # fails loudly if include ever stops carrying the column)
    return served.select(
        "id",
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, x: a + x.cast("double")
            ),
            4,
        ).alias("emb_sum"),
        F.size("embedding").cast("long").alias("dim"),
        "score",
    )


@query(
    "collection_delete_where",
    """
    SELECT lang, count(*) AS n
    FROM documents
    WHERE lang <> 'de'
    GROUP BY lang
    """,
)
def collection_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma ``collection.delete(where=...)`` on a bucketed layout:
    survivors rewritten into a fresh versioned dir, ``_current``
    pointer swapped atomically; the remaining per-language counts
    prove exactly the matching rows died."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "apid", n_buckets=8)
    collection_delete(spark, root, "apid", where={"lang": "de"})
    return (
        read_collection(spark, root, "apid")
        .groupBy(F.col("metadata")["lang"].alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "collection_get_page",
    """
    SELECT CAST(d.doc_id AS VARCHAR) AS id, d.text AS document,
           len(e.embedding) AS dim
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ORDER BY id
    LIMIT 10 OFFSET 5
    """,
)
def collection_get_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma ``collection.get(limit=, offset=, include=[...])``:
    id-ordered page via TakeOrderedAndProject over offset+limit rows
    (driver cost bounded by the page end, not the collection). The
    literal ``include`` list (r15) widens the page past get's
    documents+metadatas default to carry the embedding column, so
    the oracle checks both pagination and the include machinery."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_get,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "apig")
    page = collection_get(
        spark, root, "apig", limit=10, offset=5,
        include=["documents", "embeddings"],
    )
    assert page.columns == ["id", "document", "embedding"]
    return page.select(
        "id", "document", F.size("embedding").cast("long").alias("dim")
    )


@query(
    "collection_update_bucketed",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id,
           CASE WHEN doc_id % 10 = 0 THEN 'REDACTED' ELSE text END AS document
    FROM documents
    """,
)
def collection_update_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma ``collection.update`` end-to-end on a bucketed layout:
    every 10th document redacted in place. Exercises the crash-atomic
    bucketed rewrite (touched buckets written to a fresh versioned
    dir, untouched buckets hardlink-cloned, pointer swap) and the
    distributed bucket pruning (driver sees bucket numbers, never the
    id list); the oracle is the expected final state."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "apiup", n_buckets=8)
    d = load_table(spark, sf_dir, "documents")
    updates = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit("REDACTED").alias("document"),
    )
    collection_update(spark, root, "apiup", updates)
    return read_collection(spark, root, "apiup").select("id", "document")


# --------------------------------------------------------------------------
# Round-4 third batch: training-order shuffle/sharding and corpus
# vocabulary — the data-ordering half of a training-data pipeline.
# --------------------------------------------------------------------------


@query(
    "shard_interleave_documents",
    f"""
    WITH hashed AS (
        SELECT doc_id, lang,
               {_HASH64.format(x="concat('shuffle42:', CAST(doc_id AS VARCHAR))")} AS h
        FROM documents
    )
    SELECT doc_id, lang,
           h % 8 AS shard,
           row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
    FROM hashed
    """,
)
def shard_interleave_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training order: a
    seeded engine-portable hash gives every document a pseudorandom
    rank, the shard is hash mod n_shards, and the within-shard
    position is the rank order — the reproducible replacement for
    rand()-shuffling a 100 TB corpus before writing training shards.
    One shuffle on the shard key; each shard sorts independently (the
    inherent cost of a defined training order), no global sort, no
    driver state. Changing the seed string reshuffles everything
    deterministically."""
    from pyspark.sql import Window

    from vector_databases___hydrate_chroma_db_collection_spark.functions.hashes import (
        hash64,
    )

    d = load_table(spark, sf_dir, "documents")
    h = hash64(F.concat(F.lit("shuffle42:"), F.col("doc_id").cast("string")))
    hashed = d.select("doc_id", "lang", h.alias("h"))
    shard = F.pmod(F.col("h"), F.lit(8))
    w = Window.partitionBy(shard).orderBy("h", "doc_id")
    return hashed.select(
        "doc_id",
        "lang",
        shard.alias("shard"),
        F.row_number().over(w).alias("pos"),
    ).withColumn("pos", F.col("pos").cast("bigint"))


@query(
    "collection_pq_knn_end_to_end",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_pq_knn_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed indexed retrieval end-to-end: hydrate a collection,
    build an IVF-PQ index over it (coarse cells + residual uint8
    codes), PERSIST the index (cell-partitioned codes + JSON sidecar),
    read it back, and answer a top-5 cosine query through ADC
    prescreen + exact rerank. Full probe + a prescreen wider than the
    corpus make the result exactly the brute-force oracle — the
    plumbing (residual encode, persisted compressed layout, per-cell
    LUT scoring, rerank join) is what's under test; the recall/probe
    tradeoff is covered by `test_pq.py`."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_build,
        ivf_pq_read,
        ivf_pq_search,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_pq_e2e_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="e2e_pq",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "e2e_pq").filter(F.col("id") != "7")
    qvec = list(
        read_collection(spark, root, "e2e_pq")
        .filter(F.col("id") == "7")
        .first()["embedding"]
    )
    enc, cents, cbs = ivf_pq_build(
        coll, id_col="id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    ivf_pq_write(enc, cents, cbs, f"{root}/e2e_pq/_ivfpq")
    enc2, cents2, cbs2 = ivf_pq_read(spark, f"{root}/e2e_pq/_ivfpq")
    return ivf_pq_search(
        enc2,
        cents2,
        cbs2,
        qvec,
        k=5,
        id_col="id",
        nprobe=8,
        rerank_corpus=coll,
        embedding_col="embedding",
        rerank_factor=100,  # 500-candidate prescreen covers the corpus
        metric="cosine",
        score_decimals=4,
    ).withColumnsRenamed({"score": "cos_sim"})


@query(
    "collection_export_import",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '5'),
    scored AS (
        SELECT c.id,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '5'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot portability roundtrip: hydrate a BUCKETED collection,
    ``export_collection`` it to a self-contained flat snapshot
    (manifest + canonical parquet — readable by anything), then
    ``import_collection`` the snapshot under a new root/name and
    serve a top-5 cosine query from the IMPORTED copy. The oracle is
    the brute-force scan of the original corpus, so the whole
    export->import->query path is value-checked; both data moves are
    distributed scan->write jobs, never driver-side file copies
    (plans/collection.py::export_collection/import_collection)."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.knn import (
        knn_query,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        export_collection,
        import_collection,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_exp_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="src",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
            n_buckets=4,
        ),
    )
    snap = export_collection(
        spark, root, "src", tempfile.mkdtemp(prefix="vdb_snap_")
    )
    root2 = tempfile.mkdtemp(prefix="vdb_imp_")
    import_collection(spark, snap, root2, name="restored")
    coll = read_collection(spark, root2, "restored")
    qvec = list(coll.filter(F.col("id") == "5").first()["embedding"])
    return knn_query(
        coll.filter(F.col("id") != "5"),
        qvec,
        k=5,
        id_col="id",
        embedding_col="embedding",
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "layout_partitioned_write_prune",
    """
    SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           count(*) AS n_clicks,
           round(sum(value), 2) AS click_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def layout_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned DISK LAYOUT as an operator: events are
    written ``partitionBy(event_type)`` (the standard coarse
    first-level layout under Z-order's intra-file clustering,
    functions/layout.py), then read back with an event_type filter —
    which Spark satisfies by LISTING only the matching partition
    directory: the scan's PartitionFilters prune 4/5 of the data
    before any file is opened (asserted in tests/test_plans.py). The
    oracle aggregates the original table, so the roundtrip through
    the partitioned layout is value-checked, not just plan-checked.
    Every run writes a fresh temp dir (driver re-invocations stay
    idempotent)."""
    import tempfile

    e = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="vdb_layout_")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    return back.groupBy(
        F.date_format(F.date_trunc("day", "ts").cast("date"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    )


@query(
    "collection_query_batch_top3",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, d.text AS document,
               e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    q AS (
        SELECT 0 AS qid, emb AS qe FROM corpus WHERE id = '7'
        UNION ALL
        SELECT 1 AS qid, emb AS qe FROM corpus WHERE id = '11'
    ),
    scored AS (
        SELECT q.qid, c.id, c.document,
               round(
                   list_sum(list_transform(list_zip(c.emb, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(c.emb,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS score
        FROM corpus c, q
    ),
    ranked AS (
        SELECT qid, id, document, score,
               row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, id) AS rank
        FROM scored
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, id, document, score
    FROM ranked WHERE rank <= 3
    """,
)
def collection_query_batch_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma's NATIVE multi-embedding ``collection.query`` signature
    (``query_embeddings`` is a list; results are positional per
    query): hydrate a collection, then answer a 2-query batch with
    payload columns attached, via
    plans/chroma_api.py::collection_query_batch — the query batch
    broadcasts through knn_join's two-level top-k (shuffle carries
    queries x k rows, never the corpus) and documents re-attach by
    one bounded equi-join. Oracle replays both queries brute-force."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_qb_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="qb",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in e.filter(F.col("vec_id").isin([7, 11])).collect()
    }
    return collection_query_batch(
        spark,
        root,
        "qb",
        [vecs[7], vecs[11]],
        n_results=3,
        score_decimals=4,
    ).select(
        "qid", F.col("rank").cast("long").alias("rank"), "id", "document", "score"
    )


@query(
    "layout_zorder_events",
    f"""
    SELECT event_id,
           {{z}} AS zval,
           CAST(floor({{z}} / {1 << 26}) AS BIGINT) AS zbucket
    FROM events
    """.format(
        z=__import__(
            "vector_databases___hydrate_chroma_db_collection_spark.functions.layout",
            fromlist=["zorder_key_sql"],
        ).zorder_key_sql([_ZORDER_SQL_X, _ZORDER_SQL_Y], bits=16)
    ),
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, value-cents) —
    the multi-dimensional file-clustering technique behind
    OPTIMIZE ZORDER BY / Iceberg zorder rewrites: write files sorted
    by zval and footer min/max stats prune scans filtered on EITHER
    dimension. The key (functions/layout.py::zorder_key) is a pure
    shift/mask/add projection — whole-stage codegen, zero shuffle to
    compute; zbucket (top bits) is what a writer would range-
    partition on. The oracle embeds the IDENTICAL arithmetic via
    zorder_key_sql, proving the key is engine-portable (a layout job
    and a reader written in different engines must agree on the
    clustering)."""
    from vector_databases___hydrate_chroma_db_collection_spark.functions.layout import (
        zorder_key,
    )

    e = load_table(spark, sf_dir, "events")
    z = zorder_key(
        [F.col("user_id"), F.round(F.col("value") * 100).cast("bigint")],
        bits=16,
    )
    return e.select("event_id", z.alias("zval")).withColumn(
        "zbucket", F.floor(F.col("zval") / F.lit(1 << 26)).cast("bigint")
    )


@query(
    "source_csv_json_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_csv,
           CAST(count(*) AS BIGINT) AS n_json,
           CAST(round(sum(CAST(round(value * 100) AS BIGINT)), 0) / 100.0
                AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def source_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format round-trip: the events table is exported to CSV
    (header, ISO timestamps) and JSON-lines, re-read through
    explicit-schema readers (schema inference is forbidden at scale —
    it costs an extra full pass and can flip types between runs), and
    re-aggregated from EACH format. The oracle is the parquet truth:
    per-type counts from the CSV copy and the JSON copy must both
    equal the parquet count, and the value sum (order-independent
    integer cents) must survive both text round-trips — the
    CSV/JSON quoting, timestamp formatting, and float printing are
    what's under test. Readers are single-pass, splittable scans; no
    inference jobs appear in the plan."""
    import tempfile

    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="vdb_src_")
    csv_dir, json_dir = f"{root}/csv", f"{root}/json"
    out = e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    out.write.option("header", True).mode("overwrite").csv(csv_dir)
    out.write.mode("overwrite").json(json_dir)
    schema = (
        "event_id bigint, ts string, user_id bigint, "
        "event_type string, value double, props string"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    csv_agg = (
        spark.read.option("header", True).schema(schema).csv(csv_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_csv"),
            F.sum(cents).alias("_c_cents"),
        )
    )
    json_agg = (
        spark.read.schema(schema).json(json_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_json"),
            F.sum(cents).alias("_j_cents"),
        )
    )
    return (
        csv_agg.join(json_agg, "event_type")
        .filter(F.col("_c_cents") == F.col("_j_cents"))
        .select(
            "event_type",
            "n_csv",
            "n_json",
            (F.round(F.col("_c_cents"), 0) / 100.0)
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "collection_time_travel",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id,
           lang AS metadata_before,
           'updated' AS metadata_after
    FROM documents
    WHERE doc_id < 50 AND doc_id % 7 = 0
    """,
)
def collection_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel end-to-end: hydrate a collection, UPDATE a slice of
    its metadata with ``retain_previous=True`` (the pointer-swap
    protocol keeps the retired dir as a readable version instead of
    deleting it — the lakehouse VACUUM-retention contract), then read
    the CURRENT and PREVIOUS versions side by side and return the
    changed rows' before/after metadata. The previous version is a
    complete, immutable dir — no log replay, no copy — because every
    rewrite already goes through versioned-dir + atomic pointer
    commit; retention just skips the post-swap delete, and
    ``vacuum_collection``'s horizon bounds how long versions
    accumulate."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    root = tempfile.mkdtemp(prefix="vdb_tt_")
    hydrate(
        spark,
        joined,
        HydrationConfig(
            collection_name="tt",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    updates = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(F.lit("lang"), F.lit("updated")).alias("metadata"),
    )
    collection_update(spark, root, "tt", updates, retain_previous=True)
    prev_name = [v for v, active in collection_versions(root, "tt") if not active][0]
    cur = read_collection(spark, root, "tt").select(
        "id", F.col("metadata")["lang"].alias("metadata_after")
    )
    prev = read_collection(spark, root, "tt", version=prev_name).select(
        "id", F.col("metadata")["lang"].alias("metadata_before")
    )
    return (
        prev.join(cur, "id")
        .filter(F.col("metadata_before") != F.col("metadata_after"))
        .select("id", "metadata_before", "metadata_after")
    )


@query(
    "source_schema_evolution",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_batch_tag
    FROM events GROUP BY 1
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a growing dataset: an old batch written
    WITHOUT a column and a new batch written WITH an added
    ``batch_tag`` column are read together under ``mergeSchema`` —
    the widened schema applies to both, old rows surface NULL for the
    added column, and nothing is rewritten (schema-on-read, the only
    viable evolution at 100 TB; a backfill rewrite is a choice, not a
    requirement). The oracle derives the same counts from the
    original table: rows that came through the tagged batch are
    exactly the rows whose tag is non-null."""
    import tempfile

    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="vdb_evo_")
    old = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type"
    )
    new = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", F.lit("b1").alias("batch_tag")
    )
    old.write.parquet(f"{root}/b0")
    new.write.parquet(f"{root}/b1")
    merged = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(root)
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("batch_tag").isNotNull().cast("bigint")).alias(
            "n_with_batch_tag"
        ),
    )


@query(
    "collection_vacuum_retention",
    """
    WITH base AS (SELECT doc_id, lang FROM documents WHERE doc_id < 40),
    v1 AS (
        SELECT CASE WHEN doc_id % 5 = 0 THEN 'v2' ELSE lang END AS lang
        FROM base
    ),
    v2 AS (
        SELECT CASE WHEN doc_id % 10 = 0 THEN 'v3'
                    WHEN doc_id % 5 = 0 THEN 'v2'
                    ELSE lang END AS lang
        FROM base
    )
    SELECT 1 AS version_idx, lang, count(*) AS n FROM v1 GROUP BY 2
    UNION ALL
    SELECT 2 AS version_idx, lang, count(*) AS n FROM v2 GROUP BY 2
    """,
)
def collection_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention policy over the time-travel store:
    hydrate, apply TWO retained updates (three on-disk versions), then
    ``vacuum_collection(older_than_s=0, keep_last=1)`` — the newest
    retained version survives regardless of age (the lakehouse
    ``VACUUM ... RETAIN`` contract), the older one is swept. The
    query returns per-lang counts for EVERY surviving version
    oldest-first, so the oracle proves both halves of the policy: the
    kept version's state (post-update-1) is readable, and the swept
    version's state (the original) is GONE — had vacuum kept it, a
    third version_idx would appear and the row counts would mismatch."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
        read_collection,
        vacuum_collection,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    root = tempfile.mkdtemp(prefix="vdb_vac_")
    hydrate(
        spark,
        joined,
        HydrationConfig(
            collection_name="vac",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    for modulus, tag in ((5, "v2"), (10, "v3")):
        updates = d.filter(F.col("doc_id") % modulus == 0).select(
            F.col("doc_id").cast("string").alias("id"),
            F.create_map(F.lit("lang"), F.lit(tag)).alias("metadata"),
        )
        collection_update(spark, root, "vac", updates, retain_previous=True)
    vacuum_collection(root, "vac", older_than_s=0.0, keep_last=1)

    surviving = collection_versions(root, "vac")  # oldest-first
    per_version = [
        read_collection(spark, root, "vac", version=ver).select(
            F.lit(idx).alias("version_idx"),
            F.col("metadata")["lang"].alias("lang"),
        )
        for idx, (ver, _active) in enumerate(surviving, start=1)
    ]
    from functools import reduce

    return (
        reduce(DataFrame.unionByName, per_version)
        .groupBy("version_idx", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "collection_version_diff",
    """
    SELECT CAST(doc_id AS VARCHAR) AS id, 'removed' AS change
    FROM documents WHERE doc_id < 50 AND doc_id % 13 = 0
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'changed'
    FROM documents WHERE doc_id < 50 AND doc_id % 7 = 0 AND doc_id % 13 <> 0
    UNION ALL
    SELECT CAST(doc_id + 1000 AS VARCHAR), 'added'
    FROM documents WHERE doc_id < 10
    """,
)
def collection_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between collection versions: hydrate, then
    update metadata (%7, retaining the original version), delete ids
    (%13), and upsert 10 re-keyed new docs — then ``collection_diff``
    classifies every id as added / removed / changed against the
    retained original (delete wins over update for ids hit by both,
    e.g. id 0). One full-outer join of two complete version dirs — no
    log replay, the same reason time travel is O(1) here. The oracle
    derives the expected change set straight from the base table."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete,
        collection_diff,
        collection_update,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_versions,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_diff_")

    def cfg(on_duplicate: str = "error") -> HydrationConfig:
        return HydrationConfig(
            collection_name="vd",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
            on_duplicate=on_duplicate,
        )

    hydrate(spark, d.join(e, d.doc_id == e.vec_id), cfg())
    updates = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.create_map(F.lit("lang"), F.lit("updated")).alias("metadata"),
    )
    collection_update(spark, root, "vd", updates, retain_previous=True)
    doomed = [str(r["doc_id"]) for r in d.filter(F.col("doc_id") % 13 == 0).collect()]
    collection_delete(spark, root, "vd", ids=doomed)
    newbies = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text", "lang")
    )
    hydrate(
        spark,
        newbies.join(
            e.select((F.col("vec_id") + 1000).alias("doc_id"), "embedding"),
            "doc_id",
        ),
        cfg(on_duplicate="upsert"),
    )
    original = [v for v, active in collection_versions(root, "vd") if not active][0]
    return collection_diff(spark, root, "vd", from_version=original)


from vector_databases___hydrate_chroma_db_collection_spark.queries._shared import (  # noqa: F401,E402
    _BAND_H,
    _MINHASH_BASE,
    _MINHASH_SIG,
    _NORM,
    _TOKS,
)


@query(
    "collection_neardup_gate",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS.format(x=_NORM)} AS t FROM documents
    ),
    shsets AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh_list
        FROM toks WHERE len(t) > 0
    ),
    bases AS (SELECT doc_id, {_MINHASH_BASE} AS base FROM shsets),
    sigs AS (SELECT doc_id, {_MINHASH_SIG} AS sig FROM bases),
    buckets AS (
        SELECT doc_id, b, {_BAND_H} AS h
        FROM sigs, unnest(range(0, 8)) AS bt(b)
    ),
    ref AS (
        SELECT DISTINCT bu.b, bu.h
        FROM buckets bu JOIN embeddings e ON e.vec_id = bu.doc_id
        WHERE bu.doc_id % 7 <> 0
    ),
    inc AS (SELECT doc_id, b, h FROM buckets WHERE doc_id % 7 = 0),
    hits AS (
        SELECT i.doc_id, count(*) AS c
        FROM inc i JOIN ref r ON i.b = r.b AND i.h = r.h
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit_bands,
           coalesce(h.c, 0) = 0 AS novel
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 7 = 0
    """,
)
def collection_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-duplicate gate served FROM a persisted
    band index over a hydrated collection: hydrate the corpus (docs
    with embeddings, doc_id % 7 != 0) into a collection, build its
    MinHash band table from the DOCUMENT column, persist it with a
    source-collection etag stamp (``band_index_write``), load it back
    through the staleness check (``band_index_read``), and gate the
    incoming docs (doc_id % 7 == 0) against it. The oracle recomputes
    the same gate brute-force from the raw tables, so the result only
    matches if the index round-trip preserved the band family
    bit-for-bit. Staleness -> StaleIndexError -> refresh is driven in
    tests/test_band_index.py (the collection-mutation path is not
    SQL-expressible in one statement)."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_bucket_keys,
        band_index_read,
        band_index_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        lsh_band_rows,
        novelty_gate,
        release_cache,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    corpus_in = d.filter(F.col("doc_id") % 7 != 0)
    root = tempfile.mkdtemp(prefix="vdb_bandgate_")
    hydrate(
        spark,
        corpus_in.join(e, corpus_in.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="band_gate",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "band_gate")
    bands_tbl = lsh_band_rows(coll, id_col="id", text_col="document")
    idx_path = f"{root}/band_gate/_bands"
    band_index_write(
        bands_tbl,
        idx_path,
        id_col="id",
        text_col="document",
        source=(root, "band_gate"),
    )
    release_cache(bands_tbl)
    band_index_read(spark, idx_path)  # staleness gate (fresh here)
    # pure novelty needs only bucket MEMBERSHIP: serve from the
    # pre-distincted key table, skipping the per-serve distinct
    ref_keys = band_index_bucket_keys(spark, idx_path)
    incoming = d.filter(F.col("doc_id") % 7 == 0)
    return novelty_gate(incoming, ref_keys, id_col="doc_id", text_col="text")


from vector_databases___hydrate_chroma_db_collection_spark.queries._shared import (  # noqa: F401,E402
    MINHASH_P,
    _SHINGLES_CTE,
)


@query(
    "collection_neardup_gate_verified",
    f"""
    WITH {_SHINGLES_CTE},
    shsets AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh_list
        FROM toks WHERE len(t) > 0
    ),
    bases AS (SELECT doc_id, {_MINHASH_BASE} AS base FROM shsets),
    sigs AS (SELECT doc_id, {_MINHASH_SIG} AS sig FROM bases),
    buckets AS (
        SELECT doc_id, b, {_BAND_H} AS h
        FROM sigs, unnest(range(0, 8)) AS bt(b)
    ),
    corp AS (
        SELECT d.doc_id FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id % 7 <> 0
    ),
    cand AS (
        SELECT DISTINCT i.doc_id AS inc_id, r.doc_id AS ref_id
        FROM buckets i
        JOIN buckets r ON i.b = r.b AND i.h = r.h
        JOIN corp c ON c.doc_id = r.doc_id
        WHERE i.doc_id % 7 = 0
    ),
    shared AS (
        SELECT c.inc_id, c.ref_id, count(*) AS cs
        FROM cand c
        JOIN shing a ON a.doc_id = c.inc_id
        JOIN shing b ON b.doc_id = c.ref_id
         AND ({_HASH64.format(x='b.s')} % {MINHASH_P})
           = ({_HASH64.format(x='a.s')} % {MINHASH_P})
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT inc_id, ref_id,
               round(cs::DOUBLE / (s1.n_sh + s2.n_sh - cs), 4) AS j
        FROM shared
        JOIN sizes s1 ON s1.doc_id = inc_id
        JOIN sizes s2 ON s2.doc_id = ref_id
    ),
    best AS (
        SELECT inc_id, ref_id, j,
               row_number() OVER (
                   PARTITION BY inc_id
                   ORDER BY j DESC, CAST(ref_id AS VARCHAR) ASC
               ) AS rn
        FROM jac
    )
    SELECT d.doc_id,
           CAST(b.ref_id AS VARCHAR) AS best_match_id,
           b.j AS best_jaccard,
           coalesce(b.j >= 0.5, FALSE) AS is_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.inc_id = d.doc_id
    WHERE d.doc_id % 7 = 0
    """,
)
def collection_neardup_gate_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full serving-path dedup DECISION from a persisted index:
    hydrate the corpus collection, build the verification-capable
    band index in one shingle pass (``band_index_build(...,
    include_shingles=True)`` persists bands + shingle postings +
    sizes), then answer, for every incoming doc, "is it a near-dup,
    of which corpus doc, at what exact Jaccard" — never touching
    corpus text at serve time. The oracle recomputes candidates AND
    the exact Jaccard brute-force from the raw tables, so the result
    only matches if the persisted posting/size tables carry the
    complete verification state."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_build,
        band_index_read_verified,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        neardup_gate_verified,
        release_cache,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    corpus_in = d.filter(F.col("doc_id") % 7 != 0)
    root = tempfile.mkdtemp(prefix="vdb_bandgate_v_")
    hydrate(
        spark,
        corpus_in.join(e, corpus_in.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="band_gate_v",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "band_gate_v")
    idx_path = f"{root}/band_gate_v/_bands"
    band_index_build(
        coll,
        idx_path,
        id_col="id",
        text_col="document",
        include_shingles=True,
        source=(root, "band_gate_v"),
    )
    bands_t, sh_t, sizes_t, _meta = band_index_read_verified(spark, idx_path)
    incoming = d.filter(F.col("doc_id") % 7 == 0)
    out = neardup_gate_verified(
        incoming,
        bands_t,
        sh_t,
        sizes_t,
        id_col="doc_id",
        text_col="text",
        threshold=0.5,
    )
    return out


@query(
    "collection_ivf_append_serve",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id, {_COS_SQL} AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_ivf_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VECTOR ingest end-to-end, load-bearing at every
    step: hydrate 4/5 of the corpus, persist a stamped IVF index,
    hydrate the remaining fifth (the index MUST now raise
    ``StaleIndexError``), then ``ivf_append`` the new vectors under
    the ``expected_prev_etag`` fence — nearest-EXISTING-centroid
    assignment, no k-means rebuild — which re-stamps the index
    fresh; serve top-5 for doc 7's vector probing ALL cells (exact
    within the index). The oracle scores the FULL corpus brute-force,
    so the result only matches if the appended fifth is genuinely
    servable through the incrementally-extended index. The vector
    twin of the band index's append path (stream_novelty_ingest_loop
    covers the text side)."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_ivf_append_")
    cfg = HydrationConfig(
        collection_name="ivf_app",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    first = d.filter(F.col("doc_id") % 5 != 0)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "ivf_app")
    assigned, centroids = ivf_build(coll, n_centroids=8, seed=42)
    idx_path = f"{root}/ivf_app/_ivf"
    ivf_write(
        assigned,
        centroids,
        idx_path,
        metric="cosine",
        source=(root, "ivf_app"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    etag0 = collection_etag(root, "ivf_app")

    nxt = d.filter(F.col("doc_id") % 5 == 0)
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg)
    try:
        ivf_read(spark, idx_path)
    except StaleIndexError:
        pass  # the contract under test
    else:
        raise EngineError(
            "persisted IVF index served a mutated collection without "
            "raising StaleIndexError"
        )
    new_vecs = (
        read_collection(spark, root, "ivf_app")
        .filter(F.col("id").cast("bigint") % 5 == 0)
        .select("id", "embedding")
    )
    n_expected = new_vecs.count()
    n = ivf_append(spark, idx_path, new_vecs, expected_prev_etag=etag0)
    if n != n_expected:
        raise EngineError(f"expected {n_expected} vectors appended, got {n}")

    assigned2, centroids2, _metric = ivf_read(spark, idx_path)  # fresh
    qvec = list(
        read_collection(spark, root, "ivf_app")
        .filter(F.col("id") == "7")
        .first()["embedding"]
    )
    return ivf_search(
        assigned2.filter(F.col("id") != "7"),
        centroids2,
        qvec,
        k=5,
        nprobe=8,
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "collection_ivf_compact_serve",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id, {_COS_SQL} AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_ivf_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL incremental-vector-ingest lifecycle, compaction
    included (the dedup_neardup_gate_compacted pattern on the vector
    side): build a stamped IVF index over 3/5 of the corpus, append
    the remaining two fifths in two separate id-guarded batches (each
    ``mode('append').partitionBy('ivf_cell')`` write lands one file
    per touched cell — the small-files growth ``ivf_compact``
    exists to bound), compact behind the atomic sidecar swap
    (asserting the file count actually shrank and content row count
    held), and serve top-5 for doc 7's vector probing ALL cells
    through the compacted index. The oracle scores the full corpus
    brute-force, so the result only matches if both appends AND the
    compaction preserved every vector byte-exactly."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_compact,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_ivf_compact_")
    cfg = HydrationConfig(
        collection_name="ivf_cpt",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    hydrate(spark, d.join(e, d.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "ivf_cpt")
    first = coll.filter(F.col("id").cast("bigint") % 5 < 3)
    assigned, centroids = ivf_build(first, n_centroids=8, seed=42)
    idx_path = f"{root}/ivf_cpt/_ivf"
    ivf_write(
        assigned,
        centroids,
        idx_path,
        metric="cosine",
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    for r in (3, 4):  # two id-guarded append batches -> file growth
        batch = coll.filter(F.col("id").cast("bigint") % 5 == r).select(
            "id", "embedding"
        )
        n = ivf_append(spark, idx_path, batch)
        if n != batch.count():
            raise EngineError(f"append batch %5=={r} short: {n}")
    n_before = ivf_read(spark, idx_path)[0].count()
    files_before, files_after = ivf_compact(spark, idx_path)
    if files_after >= files_before:
        raise EngineError(
            f"ivf_compact did not shrink the file count "
            f"({files_before} -> {files_after})"
        )
    assigned2, centroids2, _m = ivf_read(spark, idx_path)
    if assigned2.count() != n_before:
        raise EngineError("compaction changed the row count")
    qvec = list(coll.filter(F.col("id") == "7").first()["embedding"])
    return ivf_search(
        assigned2.filter(F.col("id") != "7"),
        centroids2,
        qvec,
        k=5,
        nprobe=8,
        metric="cosine",
        score_decimals=4,
    ).withColumnRenamed("score", "cos_sim")


@query(
    "collection_ivf_balance_audit",
    """
    WITH e2 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 400
    ),
    drifted AS (
        SELECT vec_id,
               list_transform(emb,
                   x -> CAST(CAST(x * 5.0 AS FLOAT) AS DOUBLE)) AS emb,
               TRUE AS is_drift
        FROM e2 WHERE vec_id % 4 = 0
    ),
    allrows AS (
        SELECT vec_id, emb, FALSE AS is_drift FROM e2 WHERE vec_id % 4 <> 0
        UNION ALL SELECT * FROM drifted
    ),
    a AS (
        SELECT vec_id, is_drift,
               CAST(list_position(list_slice(emb, 1, 4),
                                  list_max(list_slice(emb, 1, 4))) - 1
                    AS INT) AS ivf_cell,
               sqrt(list_sum(list_transform(
                   range(1, len(emb) + 1),
                   i -> pow(emb[i] - (CASE WHEN i = list_position(
                                list_slice(emb, 1, 4),
                                list_max(list_slice(emb, 1, 4)))
                            THEN 1.0 ELSE 0.0 END), 2)))) AS dist
        FROM allrows
    ),
    cur AS (
        SELECT ivf_cell, count(*) AS n_rows, avg(dist) AS md
        FROM a GROUP BY 1
    ),
    tr AS (
        SELECT ivf_cell, count(*) AS tn, avg(dist) AS tmd
        FROM a WHERE NOT is_drift GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n FROM a)
    SELECT t.ivf_cell,
           coalesce(c.n_rows, 0) AS n_rows,
           round(coalesce(c.n_rows, 0) * 4.0 / greatest(tot.n, 1), 4)
               AS occupancy_ratio,
           round(c.md, 4) AS mean_dist,
           t.tn AS trained_n_rows,
           round(t.tmd, 4) AS trained_mean_dist,
           (coalesce(c.n_rows, 0) * 4.0 / greatest(tot.n, 1) > 4.0
            OR (t.tmd > 0 AND c.md > 1.5 * t.tmd)) AS refresh_recommended,
           -- mean occupancy grew 400/300 = 1.33x since build: a full
           -- decade (10x) is the re-cell trigger (auto_n_centroids)
           FALSE AS recell_recommended
    FROM tr t LEFT JOIN cur c ON c.ivf_cell = t.ivf_cell, tot
    """,
)
def collection_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift/balance audit that closes ``ivf_append``'s open loop
    ("refresh when recall or balance audits say so"): build an IVF
    index with KNOWN centroids (the first four basis vectors — chosen
    so the oracle can recompute nearest-centroid assignment in pure
    SQL: under l2 to a basis vector, argmin distance == argmax of the
    first four dims), record build-time per-cell training stats in
    the sidecar, ``ivf_append`` a DRIFTED batch (vectors scaled 5x —
    same cell assignment, ~5x the assignment distance), and return
    ``ivf_balance_audit``'s per-cell report. The drifted append must
    flip ``refresh_recommended`` on every cell it touches purely via
    the distance-drift test (occupancy stays balanced by
    construction); the oracle recomputes every column — counts,
    occupancy ratios, both mean distances, and the flag logic — from
    the raw embeddings table."""
    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_append,
        ivf_balance_audit,
        ivf_write,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    dim = len(e.select("embedding").first()[0])
    C = np.eye(4, dim)  # basis-vector centroids: SQL-recomputable
    corpus = e.filter(F.col("vec_id") % 4 != 0).select("vec_id", "embedding")
    assigned = _assign_to_centroids(
        corpus, C, id_col="vec_id", embedding_col="embedding", metric="l2"
    )
    import tempfile

    idx_path = tempfile.mkdtemp(prefix="vdb_ivf_audit_") + "/_ivf"
    ivf_write(
        assigned,
        C,
        idx_path,
        metric="l2",
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    drifted = e.filter(F.col("vec_id") % 4 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(5.0)).alias("embedding"),
    )
    ivf_append(spark, idx_path, drifted)
    return ivf_balance_audit(spark, idx_path, drift_threshold=1.5)


@query(
    "collection_semantic_gate",
    """
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id % 3 <> 0
    ),
    incoming AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id,
               CASE WHEN d.doc_id % 2 = 0
                    THEN (SELECT e2.embedding FROM embeddings e2
                          WHERE e2.vec_id = d.doc_id + 1)
                    ELSE e.embedding END AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id % 3 = 0
    ),
    best AS (
        SELECT i.id,
               max(
                   list_sum(list_transform(list_zip(i.emb, c.emb),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / greatest(
                       sqrt(list_sum(list_transform(i.emb,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(c.emb,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                       1e-300)
               ) AS s
        FROM incoming i, corpus c
        GROUP BY i.id
    )
    SELECT id FROM corpus
    UNION ALL
    SELECT id FROM best WHERE s < 0.99
    """,
)
def collection_semantic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-side dedup-on-ingest through the hydration front
    door (the vector twin of the r9 text band-index gate): hydrate
    2/3 of the corpus, persist a stamped IVF index over it, then
    hydrate the remaining third where every EVEN doc carries the
    STORED embedding of its doc_id+1 neighbor under different text —
    a paraphrase/re-encode the text gate cannot see. With
    ``semantic_dup_index`` set, ``hydrate`` probes each incoming
    vector's nearest cells (nprobe = all cells here, so the gate is
    exact and oracle-checkable), and cosine >= 0.99 rows are skipped.
    Returns the final collection id set; the oracle recomputes the
    brute-force max-cosine of every incoming vector against the
    stored corpus and keeps only the sub-threshold ones."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_semgate_")
    cfg = HydrationConfig(
        collection_name="sem_gate",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    hydrate(spark, corpus.join(e, corpus.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "sem_gate")
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    idx_path = f"{root}/sem_gate/_ivf"
    ivf_write(
        assigned, C, idx_path, metric="cosine", source=(root, "sem_gate"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )

    inc = (
        d.filter(F.col("doc_id") % 3 == 0)
        .join(
            e.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("_own")),
            "doc_id",
        )
        .join(
            e.select(
                (F.col("vec_id") - 1).alias("doc_id"),
                F.col("embedding").alias("_plant"),
            ),
            "doc_id",
            # LEFT: a boundary doc_id whose +1 neighbor has no
            # embedding must still flow through with its OWN vector
            # when odd (the oracle's scalar subquery keeps it; an
            # inner join here would silently drop it and break
            # parity on fixtures whose max id % 3 == 0)
            "left",
        )
        .select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") % 2 == 0, F.col("_plant"))
            .otherwise(F.col("_own"))
            .alias("embedding"),
        )
    )
    from dataclasses import replace

    gated_cfg = replace(
        cfg,
        semantic_dup_index=idx_path,
        semantic_dup_policy="skip",
        semantic_dup_threshold=0.99,
        semantic_dup_nprobe=8,  # == n_centroids: exhaustive, exact
    )
    hydrate(spark, inc, gated_cfg)
    return read_collection(spark, root, "sem_gate").select("id")


@query(
    "collection_ivfpq_append_compact_serve",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id, {_COS_SQL} AS cos_sim
        FROM corpus c, q
        WHERE c.id <> '7'
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_ivfpq_append_compact_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COMPRESSED index's full incremental-ingest lifecycle (the
    8-byte-codes twin of collection_ivf_compact_serve): build a
    stamped IVF-PQ index over 4/5 of the corpus, hydrate the
    remaining fifth (index goes stale), ``ivf_pq_append`` the new
    vectors under the ``expected_prev_etag`` fence — nearest-EXISTING
    coarse centroid + residual encode with the EXISTING codebooks, no
    retraining — then ``ivf_pq_compact`` the append-grown code table
    (file bound asserted) and serve top-5 through ADC prescreen +
    exact rerank over the compacted codes. Full probe + a prescreen
    wider than the corpus make the result exactly the brute-force
    oracle, so the hash only matches if the appended fifth was
    residual-encoded servably AND compaction was code-lossless."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        ivf_pq_append,
        ivf_pq_build,
        ivf_pq_compact,
        ivf_pq_read,
        ivf_pq_search,
        ivf_pq_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_pq_acs_")
    cfg = HydrationConfig(
        collection_name="pq_acs",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    first = d.filter(F.col("doc_id") % 5 != 0)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "pq_acs")
    enc, cents, cbs = ivf_pq_build(
        coll, id_col="id", n_centroids=8, m=16, n_codes=32, seed=7
    )
    idx = f"{root}/pq_acs/_ivfpq"
    ivf_pq_write(enc, cents, cbs, idx, source=(root, "pq_acs"))
    etag0 = collection_etag(root, "pq_acs")

    nxt = d.filter(F.col("doc_id") % 5 == 0)
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg)
    new_vecs = (
        read_collection(spark, root, "pq_acs")
        .filter(F.col("id").cast("bigint") % 5 == 0)
        .select("id", "embedding")
    )
    n = ivf_pq_append(
        spark, idx, new_vecs, id_col="id", expected_prev_etag=etag0
    )
    if n != new_vecs.count():
        raise EngineError(f"ivf_pq_append short: {n}")
    files_before, files_after = ivf_pq_compact(spark, idx)
    if files_after >= files_before:
        raise EngineError(
            f"ivf_pq_compact did not shrink files "
            f"({files_before} -> {files_after})"
        )
    full = read_collection(spark, root, "pq_acs")
    qvec = list(full.filter(F.col("id") == "7").first()["embedding"])
    enc2, cents2, cbs2 = ivf_pq_read(spark, idx)  # stale check: re-stamped
    return ivf_pq_search(
        enc2.filter(F.col("id") != "7"),
        cents2,
        cbs2,
        qvec,
        k=5,
        id_col="id",
        nprobe=8,
        rerank_corpus=full.filter(F.col("id") != "7"),
        embedding_col="embedding",
        rerank_factor=120,  # 600-candidate prescreen covers the corpus
        metric="cosine",
        score_decimals=4,
    ).withColumnsRenamed({"score": "cos_sim"})


@query(
    "collection_ivf_recall_audit",
    f"""
    WITH a AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 400
    ),
    cells AS (
        SELECT vec_id, emb,
               CAST(list_position(list_slice(emb, 1, 8),
                                  list_max(list_slice(emb, 1, 8))) - 1
                    AS INT) AS cell
        FROM a
    ),
    q AS (
        SELECT vec_id AS qid, emb AS qe
        FROM cells
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    probes AS (
        SELECT qid, CAST(i - 1 AS INT) AS cell
        FROM (
            SELECT q.qid, t.i,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY q.qe[CAST(t.i AS INT)] DESC, t.i
                   ) AS pr
            FROM q, range(1, 9) t(i)
        )
        WHERE pr <= 2
    ),
    scored AS (
        SELECT q.qid, c.vec_id AS neighbor_id, c.cell,
               {_COS_SQL} AS s
        FROM q JOIN cells c ON TRUE
    ),
    exact AS (
        SELECT qid, neighbor_id FROM (
            SELECT qid, neighbor_id,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY s DESC, neighbor_id
                   ) AS r
            FROM scored
        ) WHERE r <= 5
    ),
    approx AS (
        SELECT qid, neighbor_id FROM (
            SELECT s.qid, s.neighbor_id,
                   row_number() OVER (
                       PARTITION BY s.qid ORDER BY s.s DESC, s.neighbor_id
                   ) AS r
            FROM scored s
            JOIN probes p ON p.qid = s.qid AND p.cell = s.cell
        ) WHERE r <= 5
    ),
    per AS (
        SELECT e.qid,
               CAST(count(*) AS BIGINT) AS k_eff,
               CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM exact e
        LEFT JOIN approx ap
          ON ap.qid = e.qid AND ap.neighbor_id = e.neighbor_id
        GROUP BY e.qid
    )
    SELECT qid, n_hits, k_eff,
           round(CAST(n_hits AS DOUBLE) / k_eff, 4) AS recall_at_k,
           round(avg(CAST(n_hits AS DOUBLE) / k_eff) OVER (), 4)
               AS mean_recall,
           (avg(CAST(n_hits AS DOUBLE) / k_eff) OVER () < 0.9)
               AS refresh_recommended
    FROM per
    """,
)
def collection_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIRECT index-health measure the r11 geometry audits defer
    to (``ivf_append``: "refresh when recall ... audits say so"):
    build an IVF index with KNOWN basis-vector centroids (the
    ``collection_ivf_balance_audit`` trick — under l2 to a basis
    vector, nearest-centroid assignment is argmax of the first 8
    dims, so the oracle recomputes it in pure SQL), then run
    ``ivf_recall_audit``: 16 queries drawn by the deterministic
    md5-rank sample, each served top-5 through the index at nprobe=2
    AND exhaustively (ground truth), per-query recall = overlap/5.
    The oracle replays BOTH serving paths — probe-cell selection (top
    2 of the first 8 dims by value, ties to the lower index — the
    stable-argsort contract), cosine scoring, rounded-(score, id)
    rank, the hit counts, and the global-mean flag — from the raw
    embeddings table. Scale shape: the sample is a
    TakeOrderedAndProject (never a full sort), ground truth costs one
    corpus pass against 16 vectors, and the report's global window
    moves <= n_queries rows."""
    import tempfile

    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
        ivf_recall_audit,
        ivf_write,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    dim = len(e.select("embedding").first()[0])
    C = np.eye(8, dim)  # basis-vector centroids: SQL-recomputable
    assigned = _assign_to_centroids(
        e.select("vec_id", "embedding"),
        C,
        id_col="vec_id",
        embedding_col="embedding",
        metric="l2",
    )
    idx_path = tempfile.mkdtemp(prefix="vdb_ivf_recall_") + "/_ivf"
    ivf_write(
        assigned,
        C,
        idx_path,
        metric="cosine",
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    return ivf_recall_audit(
        spark,
        idx_path,
        k=5,
        n_queries=16,
        nprobe=2,
        recall_threshold=0.9,
        score_decimals=4,
    )


# Synthetic grid corpus for the IVF-PQ recall audit's oracle: vectors
# derived from vec_id alone (10 on the home dim + a 0..0.4 modular
# grid residual), identically in Spark and SQL. The residual grid is
# FINITE, so codebooks that enumerate it quantize EXACTLY — ADC then
# equals squared l2 and the whole compressed serving path becomes
# SQL-replayable.
_PQGRID_PRIMES = (3, 7, 11, 13, 17, 19, 23, 29)
_PQGRID_EMB_SQL = "[" + ", ".join(
    f"CAST(CASE WHEN vec_id % 4 = {j} THEN 10 ELSE 0 END AS DOUBLE)"
    f" + CAST((vec_id * {p}) % 5 AS DOUBLE) * CAST(0.1 AS DOUBLE)"
    for j, p in enumerate(_PQGRID_PRIMES)
) + "]"


@query(
    "collection_ivfpq_recall_audit",
    f"""
    WITH corpus AS (
        SELECT vec_id, {_PQGRID_EMB_SQL} AS emb,
               CAST(vec_id % 4 AS INT) AS cell
        FROM embeddings WHERE vec_id < 200
    ),
    q AS (
        SELECT vec_id AS qid, emb AS qe
        FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    probes AS (
        SELECT qid, CAST(i - 1 AS INT) AS cell
        FROM (
            SELECT q.qid, t.i,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY q.qe[CAST(t.i AS INT)] DESC, t.i
                   ) AS pr
            FROM q, range(1, 5) t(i)
        )
        WHERE pr <= 2
    ),
    dist AS (
        SELECT q.qid, c.vec_id AS neighbor_id, c.cell,
               list_sum(list_transform(range(1, 9),
                   i -> pow(q.qe[CAST(i AS INT)]
                            - c.emb[CAST(i AS INT)], 2))) AS d2
        FROM q JOIN corpus c ON TRUE
    ),
    exact AS (
        SELECT qid, neighbor_id FROM (
            SELECT qid, neighbor_id,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY round(sqrt(d2), 4), neighbor_id
                   ) AS r
            FROM dist
        ) WHERE r <= 5
    ),
    approx AS (
        SELECT qid, neighbor_id FROM (
            SELECT d.qid, d.neighbor_id,
                   row_number() OVER (
                       PARTITION BY d.qid
                       ORDER BY round(d.d2, 4), d.neighbor_id
                   ) AS r
            FROM dist d
            JOIN probes p ON p.qid = d.qid AND p.cell = d.cell
        ) WHERE r <= 5
    ),
    per AS (
        SELECT e.qid,
               CAST(count(*) AS BIGINT) AS k_eff,
               CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM exact e
        LEFT JOIN approx ap
          ON ap.qid = e.qid AND ap.neighbor_id = e.neighbor_id
        GROUP BY e.qid
    )
    SELECT qid, n_hits, k_eff,
           round(CAST(n_hits AS DOUBLE) / k_eff, 4) AS recall_at_k,
           round(avg(CAST(n_hits AS DOUBLE) / k_eff) OVER (), 4)
               AS mean_recall,
           (avg(CAST(n_hits AS DOUBLE) / k_eff) OVER () < 0.9)
               AS refresh_recommended
    FROM per
    """,
)
def collection_ivfpq_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall audit of the COMPRESSED serving path, fully
    oracle-replayed — the audit that exists because
    ``ivf_pq_balance_audit``'s saturation signal is hull-bounded
    (codes cannot express out-of-hull drift; a 10x drift measures
    ~1.13x, test-pinned). ADC scoring is normally not
    SQL-expressible, so the index is built to quantize EXACTLY: the
    corpus is a synthetic grid derived from vec_id (10 on the home
    dim + modular 0..0.4 residuals), the coarse centroids are the
    scaled basis vectors, and the codebooks ENUMERATE every possible
    residual subvector (5^4 entries per subspace) — every residual
    encodes at distance zero, so ADC == squared l2 and the oracle
    replays the whole compressed path: probe selection (top-2 home
    dims, stable ties), per-cell ADC rank (round(d2, 4), id), exact
    ground truth (round(sqrt(d2), 4), id), per-query hit counts, and
    the global-mean flag. ``ivf_pq_recall_audit`` runs 16 md5-drawn
    queries at nprobe=2 of 4 against exhaustive ground truth
    (``knn_join`` l2) — recall < 1 is expected and both engines must
    agree on exactly how much."""
    import tempfile

    import numpy as np

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        _assign_to_centroids,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
        _encode_assigned,
        ivf_pq_recall_audit,
        ivf_pq_write,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    parts = [
        F.when(F.col("vec_id") % 4 == j, F.lit(10.0)).otherwise(F.lit(0.0))
        + ((F.col("vec_id") * F.lit(p)) % 5).cast("double") * F.lit(0.1)
        for j, p in enumerate(_PQGRID_PRIMES)
    ]
    corpus = e.select("vec_id", F.array(*parts).alias("embedding"))
    C = np.eye(4, 8) * 10.0
    grid = np.array(
        [
            [0.1 * k0, 0.1 * k1, 0.1 * k2, 0.1 * k3]
            for k0 in range(5)
            for k1 in range(5)
            for k2 in range(5)
            for k3 in range(5)
        ]
    )
    books = np.stack([grid, grid])  # m=2 subspaces, 625 codes, dsub=4
    assigned = _assign_to_centroids(
        corpus, C, id_col="vec_id", embedding_col="embedding", metric="l2"
    )
    encoded = _encode_assigned(
        assigned, C, books, id_col="vec_id", embedding_col="embedding"
    )
    idx_path = tempfile.mkdtemp(prefix="vdb_pq_recall_") + "/_ivfpq"
    ivf_pq_write(encoded, C, books, idx_path)
    return ivf_pq_recall_audit(
        spark,
        idx_path,
        corpus=corpus,
        id_col="vec_id",
        embedding_col="embedding",
        k=5,
        n_queries=16,
        nprobe=2,
        recall_threshold=0.9,
        score_decimals=4,
        slack=64,  # >= the ~50-row cells: no unrounded cell-level cut
    )


# Oracles shared by the filtered serving doors' queries: doc 7's
# lang='fr' neighbours (single doors) and docs 3, 7 and 11's (batch
# doors), over-asked at 100 so every door's k-fill walks to exhaustion.
_FR_TOP100_SQL = f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, d.lang, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    scored AS (
        SELECT c.id, {_COS_SQL} AS score
        FROM corpus c, q
        WHERE c.lang = 'fr'
    )
    SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 100
    """
_FR_BATCH_TOP100_SQL = f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, d.lang, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    q AS (
        SELECT CASE vec_id WHEN 3 THEN 0 WHEN 7 THEN 1 ELSE 2 END AS qid,
               embedding AS qe
        FROM embeddings WHERE vec_id IN (3, 7, 11)
    ),
    scored AS (
        SELECT q.qid, c.id, {_COS_SQL} AS score
        FROM q JOIN corpus c ON c.lang = 'fr'
    ),
    ranked AS (
        SELECT qid, id, score,
               CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, id
               ) AS INT) AS rank
        FROM scored
    )
    SELECT qid, rank, id, score FROM ranked WHERE rank <= 100
    """


def _doc_vectors(spark, sf_dir, vec_ids) -> list:
    """The raw ``embeddings`` rows of ``vec_ids``: the batch doors'
    query vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    return [
        list(e.filter(F.col("vec_id") == v).first()["embedding"])
        for v in vec_ids
    ]


def _collection_vector(spark, root, name, doc_id: str) -> list:
    """Row ``doc_id``'s embedding as hydrated into collection ``name``:
    the single doors' query vector."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    coll = read_collection(spark, root, name)
    return list(coll.filter(F.col("id") == doc_id).first()["embedding"])


def _door_index(spark, root, name, kind, *, opq=False) -> str:
    """A seeded 8-cell ``kind`` index ("ivf", "ivf_pq" or "graph")
    persisted over collection ``name`` and stamped to it, for the
    serving doors' queries (``opq`` rotates the IVF-PQ residuals).
    Returns the index path."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    coll = read_collection(spark, root, name)
    idx = f"{root}/{name}/_{kind.replace('_', '')}"
    if kind == "ivf":
        from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
            ivf_build,
            ivf_write,
        )

        assigned, C = ivf_build(coll, n_centroids=8, seed=42)
        ivf_write(
            assigned, C, idx, metric="cosine", source=(root, name),
            build={"metric": "l2", "seed": 42, "sample_fraction": None},
        )
    elif kind == "ivf_pq":
        from vector_databases___hydrate_chroma_db_collection_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_write,
        )

        enc, C, books, *rot = ivf_pq_build(
            coll, n_centroids=8, m=8, n_codes=16, seed=42, opq=opq
        )
        ivf_pq_write(
            enc, C, books, idx, source=(root, name),
            rotation=rot[0] if rot else None,
        )
    else:
        from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
            graph_index_build,
            graph_index_write,
        )

        assigned, C = graph_index_build(coll, n_centroids=8, M=6, seed=42)
        graph_index_write(
            assigned, C, idx, M=6, source=(root, name),
            build={"seed": 42},
        )
    return idx


@query("collection_query_filtered_ivf", _FR_TOP100_SQL)
def collection_query_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN served THROUGH the persisted IVF index —
    the r11 verdict's missing filtered-serving shape
    (``plans/chroma_api.py::collection_query_ivf``): hydrate the
    corpus with ``lang`` metadata, persist a stamped 8-cell IVF index,
    and run a Chroma-style ``where={{"lang": "fr"}}`` query for doc
    7's vector at ``nprobe=2`` asking for MORE results than matches
    exist (n_results=100 vs 64 'fr' docs) — so the k-fill expansion
    provably walks to exhaustion (every cell probed, predicate
    evaluated only on probed candidates each round) and the served
    rows must equal the ORACLE's exact filtered scan byte-for-byte.
    The selective-predicate equality at partial probing plus the
    whole-cell-killed k-fill guarantee are pinned in
    tests/test_chroma_api.py; this driver query pins the exhaustion
    contract against SQL."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_ivf,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "fivf")
    idx = _door_index(spark, root, "fivf", "ivf")
    qvec = _collection_vector(spark, root, "fivf", "7")
    return collection_query_ivf(
        spark,
        root,
        "fivf",
        qvec,
        n_results=100,
        index_path=idx,
        nprobe=2,
        where={"lang": "fr"},
        score_decimals=4,
    ).select("id", "score")


from vector_databases___hydrate_chroma_db_collection_spark.queries._shared import (  # noqa: F401,E402
    _BAND_H,
    _MINHASH_BASE,
    _MINHASH_SIG,
    _SHINGLES_CTE,
)


@query(
    "collection_export_import_with_index",
    f"""
    WITH {_SHINGLES_CTE},
    shsets AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh_list
        FROM toks WHERE len(t) > 0
    ),
    bases AS (SELECT doc_id, {_MINHASH_BASE} AS base FROM shsets),
    sigs AS (SELECT doc_id, {_MINHASH_SIG} AS sig FROM bases),
    buckets AS (
        SELECT doc_id, b, {_BAND_H} AS h
        FROM sigs, unnest(range(0, 8)) AS bt(b)
    ),
    corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.doc_id % 3 <> 0
    ),
    q AS (SELECT emb AS qe FROM corpus WHERE id = '7'),
    knn AS (
        SELECT 'knn' AS kind, c.id, {_COS_SQL} AS value,
               CAST(NULL AS BOOLEAN) AS novel
        FROM corpus c, q
        WHERE c.id <> '7'
        ORDER BY value DESC, c.id
        LIMIT 5
    ),
    ref AS (SELECT DISTINCT b, h FROM buckets WHERE doc_id % 3 <> 0),
    inc AS (
        SELECT doc_id, b, h FROM buckets WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, b, h FROM buckets
        WHERE doc_id % 3 = 1
    ),
    hits AS (
        SELECT i.doc_id, count(*) AS c
        FROM inc i JOIN ref r ON i.b = r.b AND i.h = r.h
        GROUP BY 1
    ),
    incids AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id % 3 = 1
    ),
    gate AS (
        SELECT 'novel' AS kind, CAST(i.doc_id AS VARCHAR) AS id,
               CAST(coalesce(h.c, 0) AS DOUBLE) AS value,
               coalesce(h.c, 0) = 0 AS novel
        FROM incids i LEFT JOIN hits h ON h.doc_id = i.doc_id
    )
    SELECT * FROM knn UNION ALL SELECT * FROM gate
    """,
)
def collection_export_import_with_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-aware snapshot export/import (the r11 growth item):
    hydrate a collection from 2/3 of the corpus, persist BOTH its
    serving indexes (LSH band index + IVF, each source-stamped),
    ``export_collection(include_indexes=['_bands', '_ivf'])``, import
    the snapshot under a DIFFERENT root, and serve from the imported
    indexes with ZERO rebuild — the etag fences hold because the
    import re-stamped the shipped sidecars to the new collection's
    identity and current etag (without the re-stamp both reads below
    raise StaleIndexError, which is what stranded pre-r12 snapshots
    did). Two serving paths are exercised and oracle-replayed:

    - ``kind='knn'``: exhaustive-probe ``ivf_search`` top-5 for doc
      7's vector through the imported IVF index (verified read),
      vs the oracle's brute-force cosine over the exported corpus;
    - ``kind='novel'``: the novelty gate over a batch of genuinely
      new docs (%3 == 0) plus VERBATIM COPIES of stored docs
      (%3 == 1, ids +1000000) through the imported band index's
      verified bucket keys, vs the oracle's band-arithmetic replay —
      every copy must hit all 8 bands, proving the shipped index
      bytes serve the same verdicts the source index would."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.band_index import (
        band_index_bucket_keys,
        band_index_build,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.dedup import (
        novelty_gate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        export_collection,
        import_collection,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root1 = tempfile.mkdtemp(prefix="vdb_ximp_src_")
    cfg = HydrationConfig(
        collection_name="xsrc",
        root=root1,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
    )
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    hydrate(spark, corpus.join(e, corpus.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root1, "xsrc")
    band_index_build(
        coll,
        f"{root1}/xsrc/_bands",
        id_col="id",
        text_col="document",
        source=(root1, "xsrc"),
    )
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    ivf_write(
        assigned,
        C,
        f"{root1}/xsrc/_ivf",
        metric="cosine",
        source=(root1, "xsrc"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )

    snap = tempfile.mkdtemp(prefix="vdb_ximp_snap_")
    export_collection(
        spark, root1, "xsrc", snap, include_indexes=["_bands", "_ivf"]
    )
    root2 = tempfile.mkdtemp(prefix="vdb_ximp_dst_")
    import_collection(spark, snap, root2)

    # kNN through the imported IVF index — verified read: a missing or
    # wrong re-stamp raises StaleIndexError here, failing the query
    assigned2, C2, _m = ivf_read(spark, f"{root2}/xsrc/_ivf")
    qvec = list(
        read_collection(spark, root2, "xsrc")
        .filter(F.col("id") == "7")
        .first()["embedding"]
    )
    knn = ivf_search(
        assigned2.filter(F.col("id") != "7"),
        C2,
        qvec,
        k=5,
        nprobe=8,
        metric="cosine",
        score_decimals=4,
    ).select(
        F.lit("knn").alias("kind"),
        F.col("id"),
        F.col("score").alias("value"),
        F.lit(None).cast("boolean").alias("novel"),
    )

    incoming = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    keys = band_index_bucket_keys(spark, f"{root2}/xsrc/_bands")
    gate = novelty_gate(
        incoming, keys, id_col="doc_id", text_col="text"
    ).select(
        F.lit("novel").alias("kind"),
        F.col("doc_id").cast("string").alias("id"),
        F.col("n_hit_bands").cast("double").alias("value"),
        F.col("novel"),
    )
    return knn.unionByName(gate)


@query("collection_query_filtered_ivfpq", _FR_TOP100_SQL)
def collection_query_filtered_ivfpq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-filtered ANN through the persisted COMPRESSED index
    (``plans/chroma_api.py::collection_query_ivf_pq`` — completing
    the filtered serving matrix: exact scan / IVF /
    collection_query_filtered_ivf / this): same lang='fr' predicate
    and over-asking n_results=100 as the IVF twin, so the k-fill
    expansion walks to exhaustion and the ADC prescreen budget
    (100 * rerank_factor) covers every filtered candidate — the
    serve path then exercises cell expansion over the 8-byte code
    table, the candidate-restricted ADC scorer, and the shared exact
    rerank, and MUST still equal the oracle's brute-force filtered
    cosine scan byte-for-byte. The partial-probe k-fill case (filter
    kills whole cells) is pinned in tests/test_chroma_api.py."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_ivf_pq,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "fpq")
    idx = _door_index(spark, root, "fpq", "ivf_pq")
    qvec = _collection_vector(spark, root, "fpq", "7")
    return collection_query_ivf_pq(
        spark,
        root,
        "fpq",
        qvec,
        n_results=100,
        index_path=idx,
        nprobe=2,
        where={"lang": "fr"},
        rerank_factor=2,
        score_decimals=4,
    ).select("id", "score")


@query("collection_query_batch_filtered_ivf", _FR_BATCH_TOP100_SQL)
def collection_query_batch_filtered_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH filtered ANN through the persisted IVF index
    (``plans/chroma_api.py::collection_query_batch_ivf`` — the scale
    path when many queries share a filter): three query embeddings
    (docs 3, 7, 11) against the lang='fr' slice, over-asking
    n_results=100 vs 64 matches so EVERY query's per-query k-fill
    expansion walks to exhaustion and the batch result must equal the
    oracle's per-query brute-force filtered cosine ranking —
    including the (rounded score, id) rank column. The mixed case
    (one query settling early while another expands) is pinned in
    tests/test_chroma_api.py."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_ivf,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "bfivf")
    idx = _door_index(spark, root, "bfivf", "ivf")
    return collection_query_batch_ivf(
        spark,
        root,
        "bfivf",
        _doc_vectors(spark, sf_dir, (3, 7, 11)),
        n_results=100,
        index_path=idx,
        nprobe=2,
        where={"lang": "fr"},
        score_decimals=4,
    ).select("qid", "rank", "id", "score")


@query(
    "collection_ivf_delete_serve",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, d.lang, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT c.id, {_COS_SQL} AS score
        FROM corpus c, q
        WHERE c.lang <> 'fr'
    )
    SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 10
    """,
)
def collection_ivf_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DELETE on the persisted IVF index — the r12 CRUD
    completion of the append story (``operators/ann.py::ivf_delete``):
    hydrate the corpus, persist a stamped 8-cell IVF index, delete
    every 'fr' document THROUGH the index
    (``plans/chroma_api.py::collection_delete_indexed`` — the doomed
    ids are tombstoned in O(batch), never a k-means rebuild), and
    serve doc 7's vector from the index with the ETAG FENCE ON: the
    read succeeds only because the delete re-stamped the sidecar to
    the post-delete etag (without it this exact call raises
    StaleIndexError — pinned in tests/test_ivf_delete.py), and the
    tombstone mask plus exhaustive probing (nprobe = n_cells ==
    exact, the ``ivf_search`` contract) must reproduce the oracle's
    brute-force top-10 over the surviving corpus byte-for-byte — any
    tombstoned row leaking into the top-k breaks the hash."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
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
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_delivf_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="delivf",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "delivf")
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    idx = f"{root}/delivf/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "delivf"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    collection_delete_indexed(
        spark, root, "delivf", where={"lang": "fr"}, index_paths=[idx]
    )
    # verified read: passes ONLY because the delete re-stamped
    assigned2, C2, metric = ivf_read(spark, idx)
    qvec = list(e.filter(F.col("vec_id") == 7).first()["embedding"])
    return ivf_search(
        assigned2, C2, qvec, k=10, nprobe=8, metric=metric,
        score_decimals=4,
    )


@query(
    "collection_ivf_delete_compact_lifecycle",
    """
    WITH corpus AS (
        SELECT d.doc_id, d.lang
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    tot AS (SELECT count(*) AS n FROM corpus),
    fr AS (SELECT count(*) AS n FROM corpus WHERE lang = 'fr')
    SELECT 'delete' AS stage, 'rows_deleted' AS metric,
           CAST(fr.n AS DOUBLE) AS value FROM fr
    UNION ALL SELECT 'delete', 'ids_tombstoned', CAST(fr.n AS DOUBLE)
    FROM fr
    UNION ALL SELECT 'maintenance', 'tombstone_fraction',
           round(CAST(fr.n AS DOUBLE) / tot.n, 4) FROM fr, tot
    UNION ALL SELECT 'maintenance', 'compacted', 1.0
    UNION ALL SELECT 'compact', 'logical_rows',
           CAST(tot.n - fr.n AS DOUBLE) FROM tot, fr
    UNION ALL SELECT 'compact', 'tombstones_left', 0.0
    UNION ALL SELECT 'reappend', 'rows_indexed', 1.0
    UNION ALL SELECT 'serve', 'reappended_served', 1.0
    UNION ALL SELECT 'serve', 'other_deleted_served', 0.0
    """,
)
def collection_ivf_delete_compact_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full delete -> audit -> auto-compact -> re-append
    lifecycle on one persisted IVF index, each stage's facts checked
    against SQL: delete all 'fr' docs through the index (tombstoned,
    masked), a maintenance tick (``streaming/maintenance.py::
    ivf_maintenance``) sees the tombstone fraction over threshold and
    compacts — physically purging the rows, clearing the recording,
    re-sizing the id-guard filter — after which the SMALLEST deleted
    fr id becomes re-appendable (``ivf_append`` refuses tombstoned
    ids with TombstonedIdError until the purge; pinned in
    tests/test_ivf_delete.py) and is served again while every OTHER
    deleted id stays gone. Each row is one observable fact
    ``(stage, metric, value)`` the oracle recomputes from the
    fixture tables."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_read,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        read_sidecar,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.streaming.maintenance import (
        MaintenancePolicy,
        ivf_maintenance,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_dellife_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="dellife",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "dellife")
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    idx = f"{root}/dellife/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "dellife"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    fr = d.filter(F.col("lang") == "fr")
    reapp_id = str(fr.agg(F.min("doc_id")).first()[0])
    reapp_emb = list(
        e.filter(F.col("vec_id").cast("string") == reapp_id)
        .first()["embedding"]
    )
    n_del = collection_delete_indexed(
        spark, root, "dellife", where={"lang": "fr"}, index_paths=[idx]
    )
    meta = read_sidecar(idx, "ivf_index.json")
    n_ts = int(meta["tombstones"]["n"])
    # every fr doc is tombstoned -> fraction = fr/total; threshold
    # far below it so the tick MUST compact (file budget neutralized
    # to isolate the tombstone trigger)
    tick = ivf_maintenance(
        spark,
        idx,
        MaintenancePolicy(
            every=1,
            compact=True,
            tombstone_threshold=0.01,
            files_per_cell_threshold=1e9,
        ),
        audit=False,
    )
    meta2 = read_sidecar(idx, "ivf_index.json")
    ts_left = int((meta2.get("tombstones") or {}).get("n") or 0)
    logical_rows = ivf_read(spark, idx)[0].count()
    # the purge cleared the mask AND the id-guard filter: the deleted
    # id re-appends as a genuinely new row
    batch = spark.createDataFrame(
        [(reapp_id, reapp_emb)], "id string, embedding array<float>"
    )
    n_reapp = ivf_append(spark, idx, batch)
    served, _, _ = ivf_read(spark, idx)
    fr_ids = [str(r[0]) for r in fr.select("doc_id").collect()]
    n_back = served.filter(F.col("id") == reapp_id).count()
    n_other = served.filter(
        F.col("id").isin([i for i in fr_ids if i != reapp_id])
    ).count()
    rows = [
        ("delete", "rows_deleted", float(n_del)),
        ("delete", "ids_tombstoned", float(n_ts)),
        (
            "maintenance",
            "tombstone_fraction",
            round(float(tick["tombstone_fraction"]), 4),
        ),
        ("maintenance", "compacted", 1.0 if tick["compacted"] else 0.0),
        ("compact", "logical_rows", float(logical_rows)),
        ("compact", "tombstones_left", float(ts_left)),
        ("reappend", "rows_indexed", float(n_reapp)),
        ("serve", "reappended_served", float(n_back)),
        ("serve", "other_deleted_served", float(n_other)),
    ]
    return spark.createDataFrame(
        rows, "stage string, metric string, value double"
    )


@query(
    "collection_ivf_upsert_serve",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id,
               CASE WHEN d.lang = 'fr' THEN list_reverse(e.embedding)
                    ELSE e.embedding END AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT c.id, {_COS_SQL} AS score
        FROM corpus c, q
    )
    SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 10
    """,
)
def collection_ivf_upsert_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical vector UPDATE through the persisted IVF index — the
    CRUD middle (``operators/ann.py::ivf_upsert``): hydrate the
    corpus, persist a stamped 8-cell IVF index, REPLACE every 'fr'
    document's embedding with its reverse through
    ``collection_update_indexed`` (collection rewrite + surgical cell
    rewrite: only the cells holding the updated ids' old rows are
    rewritten, every other cell dir hardlink-clones forward, one
    sidecar swap commits delete+add together — inode-equality pinned
    in tests/test_ivf_upsert.py), and serve doc 7's ORIGINAL vector
    with the etag fence ON: the read passes only because the upsert
    re-stamped, and exhaustive probing must reproduce the oracle's
    brute-force top-10 over the post-update corpus byte-for-byte —
    any stale (pre-update) vector surviving in the index moves 'fr'
    docs' scores and breaks the hash."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_update_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_upivf_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="upivf",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
            metadata_col="lang",
        ),
    )
    coll = read_collection(spark, root, "upivf")
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    idx = f"{root}/upivf/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "upivf"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    updates = (
        d.filter(F.col("lang") == "fr")
        .join(e, d.doc_id == e.vec_id)
        .select(
            F.col("doc_id").cast("string").alias("id"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
    )
    collection_update_indexed(
        spark, root, "upivf", updates, index_paths=[idx]
    )
    assigned2, C2, metric = ivf_read(spark, idx)  # re-stamped: fence passes
    qvec = list(e.filter(F.col("vec_id") == 7).first()["embedding"])
    return ivf_search(
        assigned2, C2, qvec, k=10, nprobe=8, metric=metric,
        score_decimals=4,
    )


@query(
    "collection_cdc_apply_indexed",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id,
               CASE WHEN d.doc_id % 7 = 1 THEN list_reverse(e.embedding)
                    ELSE e.embedding END AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.lang <> 'fr'
    ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT c.id, {_COS_SQL} AS score
        FROM corpus c, q
    )
    SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 10
    """,
)
def collection_cdc_apply_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index-CRUD capstone: one persisted IVF index carried
    through INSERTS, UPDATES and DELETES entirely by the incremental
    front doors — never a rebuild — with the etag fence held at every
    step. Hydrate 4/5 of the corpus and stamp an 8-cell index; INSERT
    the remaining fifth (hydrate + ``ivf_append`` under the fence —
    nearest-existing-centroid, the r10 path); UPDATE every
    ``doc_id % 7 == 1`` embedding to its reverse
    (``collection_update_indexed`` -> surgical cell rewrite, r12);
    DELETE every 'fr' document (``collection_delete_indexed`` ->
    tombstones, r12). The final verified read passes only because
    each mutation re-stamped, and exhaustive probing must reproduce
    the oracle's brute-force top-10 over the FINAL state — original
    vectors for most ids, reversed for the %7==1 slice, nothing for
    'fr' — which catches a stale vector from any of the three steps.
    The three mutations commute onto the same final state, so the
    oracle recomputes it declaratively."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_delete_indexed,
        collection_update_indexed,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        collection_etag,
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_cdc_")
    cfg = HydrationConfig(
        collection_name="cdc",
        root=root,
        id_col="doc_id",
        text_col="text",
        embedding_col="embedding",
        metadata_col="lang",
    )
    first = d.filter(F.col("doc_id") % 5 != 0)
    hydrate(spark, first.join(e, first.doc_id == e.vec_id), cfg)
    coll = read_collection(spark, root, "cdc")
    assigned, C = ivf_build(coll, n_centroids=8, seed=42)
    idx = f"{root}/cdc/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "cdc"),
        build={"metric": "l2", "seed": 42, "sample_fraction": None},
    )
    # -- INSERT the remaining fifth --------------------------------
    etag0 = collection_etag(root, "cdc")
    nxt = d.filter(F.col("doc_id") % 5 == 0)
    hydrate(spark, nxt.join(e, nxt.doc_id == e.vec_id), cfg)
    ivf_append(
        spark,
        idx,
        read_collection(spark, root, "cdc")
        .filter(F.col("id").cast("bigint") % 5 == 0)
        .select("id", "embedding"),
        expected_prev_etag=etag0,
    )
    # -- UPDATE the %7==1 slice to reversed embeddings -------------
    upd = d.filter(F.col("doc_id") % 7 == 1)
    collection_update_indexed(
        spark,
        root,
        "cdc",
        upd.join(e, upd.doc_id == e.vec_id).select(
            F.col("doc_id").cast("string").alias("id"),
            F.reverse(F.col("embedding")).alias("embedding"),
        ),
        index_paths=[idx],
    )
    # -- DELETE the 'fr' slice --------------------------------------
    collection_delete_indexed(
        spark, root, "cdc", where={"lang": "fr"}, index_paths=[idx]
    )
    assigned2, C2, metric = ivf_read(spark, idx)  # fence passed 3x
    qvec = list(e.filter(F.col("vec_id") == 7).first()["embedding"])
    return ivf_search(
        assigned2, C2, qvec, k=10, nprobe=8, metric=metric,
        score_decimals=4,
    )


@query("collection_query_batch_filtered_ivfpq", _FR_BATCH_TOP100_SQL)
def collection_query_batch_filtered_ivfpq(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH filtered ANN through the persisted COMPRESSED index —
    the last cell of the serving matrix (single/batch x IVF/IVF-PQ x
    filtered; ``plans/chroma_api.py::collection_query_batch_ivf_pq``):
    the same three queries (docs 3, 7, 11) against the lang='fr'
    slice as the uncompressed batch twin, over-asking n_results=100
    vs 64 matches so every query's k-fill walks to ADC exhaustion,
    with ``rerank_factor`` covering the whole filtered slice (800 >=
    64) so the ADC prescreen truncates nothing and the exact rerank
    over the surviving float rows must reproduce the oracle's
    brute-force filtered cosine ranking — (rounded score, id)
    tie-breaks included. The codes-only candidate generation (float
    vectors touched only at rerank) is the scale point; the equality
    here proves the compressed path degrades to exact under the
    oracle-checkable configuration."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_ivf_pq,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "bfpq")
    idx = _door_index(spark, root, "bfpq", "ivf_pq")
    return collection_query_batch_ivf_pq(
        spark,
        root,
        "bfpq",
        _doc_vectors(spark, sf_dir, (3, 7, 11)),
        n_results=100,
        index_path=idx,
        nprobe=2,
        where={"lang": "fr"},
        rerank_factor=8,
        score_decimals=4,
    ).select("qid", "rank", "id", "score")


@query(
    "collection_add_upsert_api",
    """
    WITH joined AS (
        SELECT d.doc_id, d.text, d.lang, e.embedding
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    base AS (  -- hydrated seed: ids NOT divisible by 5
        SELECT CAST(doc_id AS VARCHAR) AS id, text AS document,
               'base' AS src, embedding AS emb
        FROM joined WHERE doc_id % 5 <> 0
    ),
    added AS (  -- collection.add of absent ids (% 10 = 0), reversed vectors
        SELECT CAST(doc_id AS VARCHAR) AS id, text AS document,
               'add' AS src, list_reverse(embedding) AS emb
        FROM joined WHERE doc_id % 10 = 0 AND doc_id < 200
    ),
    ups AS (  -- collection.upsert: held (% 10 = 1) + absent (% 10 = 5)
        SELECT CAST(doc_id AS VARCHAR) AS id,
               'upserted ' || text AS document,
               'upsert' AS src, list_reverse(embedding) AS emb
        FROM joined
        WHERE doc_id % 10 IN (1, 5) AND doc_id < 200
    ),
    final AS (
        SELECT * FROM base WHERE id NOT IN (SELECT id FROM ups)
        UNION ALL SELECT * FROM added
        UNION ALL SELECT * FROM ups
    )
    SELECT id, document, src,
           ROUND(CAST(emb[1] AS DOUBLE), 4) AS e0
    FROM final
    """,
)
def collection_add_upsert_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal Chroma write front doors
    (``plans/chroma_api.py::collection_add`` / ``collection_upsert``,
    the client methods the reference's script calls at sas:177-190)
    driven end-to-end against a membership-arithmetic oracle: hydrate
    a seed collection (ids % 5 != 0), ``add`` absent ids (% 10 == 0 —
    Chroma add errors on held ids, these are all new) with REVERSED
    vectors and typed metadata dicts, then ``upsert`` a mix of held
    (% 10 == 1: whole-row replacement, document prefixed and vector
    reversed) and absent (% 10 == 5: plain insert) ids. The final
    collection read must reproduce set arithmetic exactly — any add
    leaking into held ids, upsert failing to replace whole rows, or
    metadata dict mangling breaks membership, document text, the
    ``src`` tag, or the vector checksum. The parallel-list signature
    is client-sized by contract (bounded collect of <60 fixture rows
    to build the literal lists — the API shape under test; bulk loads
    use the distributed hydrate path)."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_add,
        collection_upsert,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    root = tempfile.mkdtemp(prefix="vdb_addups_")
    hydrate(
        spark,
        joined.filter(F.col("doc_id") % 5 != 0),
        HydrationConfig(
            collection_name="capi",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    add_rows = (
        joined.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 200))
        .select("doc_id", "text", "embedding")
        .collect()
    )
    collection_add(
        spark,
        root,
        "capi",
        ids=[str(r["doc_id"]) for r in add_rows],
        embeddings=[list(reversed(r["embedding"])) for r in add_rows],
        documents=[r["text"] for r in add_rows],
        metadatas=[{"src": "add"} for _ in add_rows],
    )
    ups_rows = (
        joined.filter(
            (F.col("doc_id") % 10).isin([1, 5]) & (F.col("doc_id") < 200)
        )
        .select("doc_id", "text", "embedding")
        .collect()
    )
    collection_upsert(
        spark,
        root,
        "capi",
        ids=[str(r["doc_id"]) for r in ups_rows],
        embeddings=[list(reversed(r["embedding"])) for r in ups_rows],
        documents=[f"upserted {r['text']}" for r in ups_rows],
        metadatas=[{"src": "upsert"} for _ in ups_rows],
    )
    coll = read_collection(spark, root, "capi")
    return coll.select(
        "id",
        "document",
        F.coalesce(
            F.element_at("metadata", "src"), F.lit("base")
        ).alias("src"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
    )


@query(
    "collection_query_graph",
    f"""
    WITH corpus AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS id, e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
    scored AS (
        SELECT c.id, {_COS_SQL} AS score
        FROM corpus c, q
    )
    SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 10
    """,
)
def collection_query_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell GRAPH ANN end-to-end (``operators/graph_ann.py`` —
    the HNSW-parity structure, r13 verdict item 4; Chroma's actual
    backing store is hnswlib, sas:126-128): hydrate the corpus, build
    the graph index (8 spherical cells, an exact M=6 kNN graph inside
    each, the medoid flagged as the beam's entry node), persist it
    through the versioned-dir + atomic-sidecar lifecycle, and serve
    doc 7's vector with EXHAUSTIVE settings (every cell probed,
    ``ef`` saturating every cell — the documented exact-degradation
    contract), which must reproduce the oracle's brute-force cosine
    top-10 byte-for-byte. The pruned beam's recall-vs-budget story is
    measured by ``graph_recall_audit`` (tests/test_graph_ann.py
    asserts graph recall >= IVF recall at a matched candidates-scored
    budget) and the bench's graph rows."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.operators.graph_ann import (
        graph_index_build,
        graph_index_write,
        graph_search,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
        HydrationConfig,
        hydrate,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
        read_collection,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_graph_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id),
        HydrationConfig(
            collection_name="g",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "g")
    assigned, C = graph_index_build(
        coll, id_col="id", embedding_col="embedding",
        n_centroids=8, M=6, seed=42,
    )
    idx = f"{root}/g/_graph"
    graph_index_write(
        assigned, C, idx, M=6, source=(root, "g"),
        build={"seed": 42, "n_centroids": 8},
    )
    qvec = list(e.filter(F.col("vec_id") == 7).first()["embedding"])
    return graph_search(
        spark, idx, qvec, k=10, nprobe=8, ef=10**6, score_decimals=4
    )


@query(
    "collection_two_writer_fence",
    """
    SELECT CAST(d.doc_id AS VARCHAR) AS id,
           d.doc_id % 5 = 4 AS was_contested
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.doc_id % 3 <> 0
      AND d.doc_id % 5 NOT IN (1, 2)
    """,
)
def collection_two_writer_fence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-writer optimistic-concurrency story end-to-end (r13
    verdict item 5): two writers plan composed deletes against ONE
    source-stamped IVF index from the SAME observed collection etag.
    Writer A's composed delete (ids % 5 == 1) commits first and moves
    the etag; writer B's index mutation — pinned to the stale etag —
    must LOSE with the typed retryable ``StaleIndexError`` (the query
    body asserts the raise and that the sidecar is not torn: the
    physical rows are intact, B's ids untombstoned), after which B
    re-observes state and retries through the composed front door
    (ids % 5 == 2), which converges. The returned membership is pure
    set arithmetic the oracle replays: base (ids % 3 != 0) minus
    BOTH writers' delete sets — any half-applied loser mutation,
    laundered etag, or torn sidecar breaks membership or the final
    fenced read."""
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
        StaleIndexError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
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

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="vdb_fence_")
    hydrate(
        spark,
        d.join(e, d.doc_id == e.vec_id).filter(F.col("doc_id") % 3 != 0),
        HydrationConfig(
            collection_name="race",
            root=root,
            id_col="doc_id",
            text_col="text",
            embedding_col="embedding",
        ),
    )
    coll = read_collection(spark, root, "race")
    assigned, C = ivf_build(coll, n_centroids=4, seed=9)
    idx = f"{root}/race/_ivf"
    ivf_write(
        assigned, C, idx, metric="cosine", source=(root, "race"),
        build={"metric": "l2", "seed": 9, "sample_fraction": None},
    )
    ids_a = [
        r["id"] for r in coll.filter(F.col("id").cast("long") % 5 == 1)
        .select("id").collect()
    ]
    ids_b = [
        r["id"] for r in coll.filter(F.col("id").cast("long") % 5 == 2)
        .select("id").collect()
    ]
    # both writers observe the same pre-race etag
    etag0 = collection_etag(root, "race")
    # writer A wins: full composed delete commits, etag moves
    collection_delete_indexed(
        spark, root, "race", ids=ids_a, index_paths=[idx]
    )
    # writer B's index mutation pinned to the stale etag must lose
    # with the TYPED retryable error — and must not half-apply
    try:
        ivf_delete(spark, idx, ids_b, expected_prev_etag=etag0)
    except StaleIndexError:
        pass
    else:  # pragma: no cover - contract violation surface
        raise EngineError(
            "two-writer fence: the stale writer's mutation was "
            "accepted — the optimistic-concurrency fence is broken"
        )
    a_mid, _, _ = ivf_read(spark, idx)  # fence passes: A re-stamped
    if a_mid.filter(F.col("id").isin(ids_b)).count() != len(ids_b):
        raise EngineError(
            "two-writer fence: the LOSING writer half-applied — "
            "sidecar torn"
        )
    # writer B re-observes and retries through the composed door
    collection_delete_indexed(
        spark, root, "race", ids=ids_b, index_paths=[idx]
    )
    final, _, _ = ivf_read(spark, idx)  # converged: fence passes
    return final.select(
        "id",
        (F.col("id").cast("long") % 5 == 4).alias("was_contested"),
    )


@query("collection_query_opq", _FR_TOP100_SQL)
def collection_query_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``collection_query_filtered_ivfpq``'s OPQ twin (r13 verdict
    item 8; Ge et al. 2013, public): the IVF-PQ index is built with
    ``opq=True`` — an orthogonal rotation of the residual space
    learned on the same bounded training sample, persisted in the
    sidecar, applied by every encode and every serve-time LUT
    transparently — at IDENTICAL bytes/row (same m smallint codes).
    The SAME oracle as the non-OPQ twin must hold byte-for-byte,
    which is exactly the "parity with the non-OPQ oracle path"
    criterion: the rotation changes which candidates the ADC
    prescreen ranks well (recall up on correlated spaces —
    tests/test_opq.py asserts the ivf_pq_recall_audit delta), never
    the exact-reranked answer. A rotation desync between encode and
    serve (the bug class this query gates) garbles ADC scores and
    starves the prescreen, breaking the hash."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_ivf_pq,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "opq")
    idx = _door_index(spark, root, "opq", "ivf_pq", opq=True)
    qvec = _collection_vector(spark, root, "opq", "7")
    return collection_query_ivf_pq(
        spark,
        root,
        "opq",
        qvec,
        n_results=100,
        index_path=idx,
        nprobe=2,
        where={"lang": "fr"},
        rerank_factor=2,
        score_decimals=4,
    ).select("id", "score")


@query("collection_query_filtered_graph", _FR_TOP100_SQL)
def collection_query_filtered_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-filtered ANN through the persisted per-cell GRAPH
    index (``plans/chroma_api.py::collection_query_graph``) —
    completing the filtered serving matrix's fourth column (exact
    scan / IVF / IVF-PQ / graph, r14). Same lang='fr' predicate and
    over-asking n_results=100 as the other twins, so the
    TWO-dimensional k-fill walks to exhaustion: the probe set doubles
    to every cell, then ``ef`` saturates past the largest cell, which
    by the beam's documented degradation makes the final round an
    EXACT filtered scan — byte-identical to the oracle's brute-force
    filtered cosine. The stats contract (rounds / final_probe /
    final_ef) is asserted in the query body."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_graph as query_graph_door,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "fgr")
    idx = _door_index(spark, root, "fgr", "graph")
    qvec = _collection_vector(spark, root, "fgr", "7")
    st: dict = {}
    out = query_graph_door(
        spark,
        root,
        "fgr",
        qvec,
        n_results=100,
        index_path=idx,
        nprobe=2,
        ef=16,
        where={"lang": "fr"},
        score_decimals=4,
        stats_out=st,
    ).select("id", "score")
    res = out.localCheckpoint(eager=True)
    # the fill contract walked both dimensions to exhaustion (the
    # 'fr' slice is ~13% of ~500 docs: fewer than 100 matches exist)
    if not (st["final_probe"] == st["n_cells"] and st["final_ef"] >= 2**31):
        raise EngineError(f"graph k-fill did not exhaust: {st}")
    return res


@query("collection_query_batch_filtered_graph", _FR_BATCH_TOP100_SQL)
def collection_query_batch_filtered_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH metadata-filtered ANN through the persisted GRAPH index
    (``plans/chroma_api.py::collection_query_batch_graph``, r14) —
    the last cell of the single/batch x {IVF, IVF-PQ, graph} filtered
    serving matrix. Three queries, the shared lang='fr' predicate,
    over-asked n_results=100: every query's two-dimensional k-fill
    (probe doubling, then ef saturation = per-query exact filtered
    scan) walks to exhaustion, so the per-qid rank/score table must
    reproduce the oracle's brute-force filtered cosine byte-for-byte;
    settled queries never re-score (the batch discipline shared with
    the IVF twin)."""
    from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
        collection_query_batch_graph,
    )

    root = _hydrate_docs_collection(spark, sf_dir, "bfgr")
    idx = _door_index(spark, root, "bfgr", "graph")
    return collection_query_batch_graph(
        spark,
        root,
        "bfgr",
        _doc_vectors(spark, sf_dir, (3, 7, 11)),
        n_results=100,
        index_path=idx,
        nprobe=2,
        ef=16,
        where={"lang": "fr"},
        score_decimals=4,
    ).select("qid", "rank", "id", "score")


@query(
    "collection_sharded_guard_append",
    f"""
    WITH corpus AS (
        SELECT vec_id, embedding AS emb FROM embeddings WHERE vec_id < 300
    ), q AS (SELECT emb AS qe FROM corpus WHERE vec_id = 7),
    scored AS (
        SELECT c.vec_id AS id, {_COS_SQL} AS cos_sim
        FROM corpus c, q
        WHERE c.vec_id <> 7
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def collection_sharded_guard_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARDED id-guard append lifecycle end-to-end (r15: the
    r14 100M probe named the per-append merge+fsync of the
    corpus-sized Bloom artifact as the last corpus-linear append
    term). Build an IVF index over 2/3 of the vectors, then append
    the rest in TWO batches: each must persist only a DELTA SEGMENT
    (raw hash pairs, batch-proportional) while the main filter file
    stays byte-identical; a replay of batch one must be recognized
    THROUGH the segments (0 appended — no lost guard state); serving
    top-5 exhaustively over the extended index must equal the
    oracle's brute-force over the full corpus. Every contract is
    asserted in the body; the driver's hash gate checks the serve."""
    import os as _os
    import tempfile

    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_write,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        read_sidecar,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    assigned, C = ivf_build(
        base, n_centroids=8, id_col="vec_id",
        embedding_col="embedding", seed=42,
    )
    idx = tempfile.mkdtemp(prefix="vdb_shard_guard_") + "/idx"
    ivf_write(assigned, C, idx, metric="cosine",
              build={"metric": "l2", "seed": 42, "sample_fraction": None})
    main_loc = read_sidecar(idx, "ivf_index.json")["id_bloom"]["location"]
    main_bytes = open(_os.path.join(idx, main_loc), "rb").read()

    batches = [
        e.filter(F.col("vec_id").between(200, 249)),
        e.filter(F.col("vec_id").between(250, 299)),
    ]
    for i, b in enumerate(batches, start=1):
        n = ivf_append(
            spark, idx, b.select("vec_id", "embedding"),
            id_col="vec_id", embedding_col="embedding",
        )
        if n != 50:
            raise EngineError(f"append {i}: expected 50 rows, got {n}")
        ib = read_sidecar(idx, "ivf_index.json")["id_bloom"]
        if len(ib.get("segments") or []) != i:
            raise EngineError(
                f"append {i}: expected {i} delta segments, got "
                f"{ib.get('segments')}"
            )
        if ib["location"] != main_loc or (
            open(_os.path.join(idx, main_loc), "rb").read() != main_bytes
        ):
            raise EngineError(
                "sharded append rewrote the main filter (the "
                "corpus-linear term the delta log removes)"
            )
    # replay recognized through the SEGMENTS (main filter unchanged)
    if ivf_append(
        spark, idx, batches[0].select("vec_id", "embedding"),
        id_col="vec_id", embedding_col="embedding",
    ) != 0:
        raise EngineError("replayed batch re-ingested: guard lost")
    a2, C2, _m = ivf_read(spark, idx)
    qvec = list(
        e.filter(F.col("vec_id") == 7).first()["embedding"]
    )
    return ivf_search(
        a2.filter(F.col("vec_id") != 7), C2, qvec, k=5,
        id_col="vec_id", nprobe=8, metric="cosine", score_decimals=4,
    ).select(
        F.col("vec_id").alias("id"),
        F.col("score").alias("cos_sim"),
    )


@query(
    "knn_ivf_auto_cells",
    f"""
    WITH corpus AS (
        SELECT vec_id, embedding AS emb FROM embeddings
    ), q AS (SELECT emb AS qe FROM corpus WHERE vec_id = 11),
    scored AS (
        SELECT c.vec_id AS id, {_COS_SQL} AS cos_sim
        FROM corpus c, q
        WHERE c.vec_id <> 11
    )
    SELECT id, cos_sim FROM scored ORDER BY cos_sim DESC, id LIMIT 5
    """,
)
def knn_ivf_auto_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-occupancy cell sizing end-to-end (r15):
    ``ivf_build(n_centroids="auto")`` resolves the cell count from
    the corpus size (rows/TARGET_CELL_ROWS clamped to the 16 floor at
    fixture scale — asserted in the body), and exhaustive serving
    through the auto-sized index reproduces brute-force top-5
    exactly. At production decades the same knob is what holds the
    probed volume flat (250 cells at 10M rows, 2500 at 100M — the
    100M probe's third-decade row)."""
    from vector_databases___hydrate_chroma_db_collection_spark.errors import (
        EngineError,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
        ivf_build,
        ivf_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned, C = ivf_build(
        e.select("vec_id", "embedding"), n_centroids="auto",
        id_col="vec_id", embedding_col="embedding", seed=42,
    )
    if C.shape[0] != 16:
        raise EngineError(
            f"auto sizing at fixture scale must hit the 16-cell "
            f"floor, got {C.shape[0]}"
        )
    qvec = list(e.filter(F.col("vec_id") == 11).first()["embedding"])
    return ivf_search(
        assigned.filter(F.col("vec_id") != 11), C, qvec, k=5,
        id_col="vec_id", nprobe=16, metric="cosine", score_decimals=4,
    ).select(
        F.col("vec_id").alias("id"),
        F.col("score").alias("cos_sim"),
    )
