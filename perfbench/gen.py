"""Seeded inputs for every workload (numpy + pyarrow -> Parquet).

Nothing here imports Spark or the engine. The program under test sees
only the Parquet files written here and the query/write lists
returned; the same seed always gives the same inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# serve_filtered: the reference's wide table, clustered so IVF cells
# mean something. The topic filter's value is picked once the index
# exists (``oracle.pick_topic``), so that it kills every probed cell.
SERVE_ROWS = 4000
SERVE_DIM = 128  # > 100 columns: past spark.sql.codegen.maxFields
SERVE_CLUSTERS = 32  # one topic per cluster
SERVE_RATINGS = 20  # uniform: a rating filter keeps ~5% of rows, enough to fill k without doubling
SERVE_BATCH_SIZE = 8

# churn_indexed: a clustered document corpus and its round of writes
CHURN_DOCS = 4000
CHURN_WORDS = 24
CHURN_VOCAB = 50_000
CHURN_DIM = 16
CHURN_CLUSTERS = 16
CHURN_ADD, CHURN_UPSERT, CHURN_DELETE = 200, 100, 100

_FILLER = "good bad slow fast cheap sturdy broken lovely noisy quiet".split()


def serve_inputs(seed: int, path: str) -> dict:
    """Write the wide Parquet table and return what the oracles need.

    Columns: ``__unique_id_`` (double), ``Text_Review``, ``rating`` and
    ``_Col1.._Col{SERVE_DIM}`` doubles. About 0.1% of rows carry one
    null cell; they are never row 0, so the dimension the engine infers
    from the first row is the full one."""
    rng = np.random.default_rng(seed)
    n, d = SERVE_ROWS, SERVE_DIM
    centers = rng.normal(size=(SERVE_CLUSTERS, d))
    cluster = rng.integers(0, SERVE_CLUSTERS, n)
    X = centers[cluster] + 0.35 * rng.normal(size=(n, d))
    topic = cluster
    rating = rng.integers(0, SERVE_RATINGS, n)
    null_rows = np.sort(rng.choice(np.arange(n // 2, n), max(2, n // 1000), replace=False))
    null_cols = rng.integers(0, d, null_rows.size)
    words = rng.choice(_FILLER, size=(n, 4))
    text = [
        f"review {i} topic{topic[i]:02d} " + " ".join(words[i]) for i in range(n)
    ]
    cols = {
        "__unique_id_": pa.array(np.arange(1, n + 1, dtype=np.float64)),
        "Text_Review": pa.array(text),
        "rating": pa.array(rating),
    }
    null_at = {int(c): [] for c in null_cols}
    for r, c in zip(null_rows, null_cols):
        null_at[int(c)].append(int(r))
    XT = np.ascontiguousarray(X.T)
    for j in range(d):
        mask = np.zeros(n, dtype=bool)
        mask[null_at.get(j, [])] = True
        cols[f"_Col{j + 1}"] = pa.array(XT[j], mask=mask)
    pq.write_table(pa.table(cols), path)

    valid = np.ones(n, dtype=bool)
    valid[null_rows] = False
    ids = [repr(float(i + 1)) for i in range(n)]

    def perturbed(row: int) -> list[float]:
        return [float(v) for v in X[row] + 0.05 * rng.normal(size=d)]

    pool = np.flatnonzero(valid)
    # one round of the mix; the topic query gets its where_document later
    queries = {kind: {"kind": kind, "vector": perturbed(int(rng.choice(pool)))}
               for kind in ("warm_up", "plain", "rating", "topic")}
    queries["rating"]["where"] = {"rating": int(rng.integers(0, SERVE_RATINGS))}
    batch = [perturbed(int(rng.choice(pool))) for _ in range(SERVE_BATCH_SIZE)]
    return dict(
        X=X.astype(np.float32), ids=ids, valid=valid, rating=rating,
        topic=topic, text=text, queries=queries, batch=batch,
        n_null=int(null_rows.size),
    )


def topic_filter(topic: int) -> dict:
    return {"$contains": f"topic{topic:02d}"}


def _doc(tokens) -> str:
    return " ".join(f"w{t}" for t in tokens)


def churn_inputs(seed: int, corpus_path: str) -> dict:
    """Write the document corpus; return it and one round of writes.

    Two fresh reads follow the writes. One queries the vector of an
    added row (``added_probe``), which must come back at rank 1. The
    other queries the first deleted row's vector (``deleted_probe``):
    that row must be gone, and the added row ``probe``, planted next
    to it, must come back at rank 1 in its place."""
    rng = np.random.default_rng(seed)
    n, L = CHURN_DOCS, CHURN_WORDS
    centers = rng.normal(size=(CHURN_CLUSTERS, CHURN_DIM))

    def vecs(m):
        c = rng.integers(0, CHURN_CLUSTERS, m)
        return (centers[c] + 0.3 * rng.normal(size=(m, CHURN_DIM))).astype(np.float32)

    def docs(m):
        return [_doc(t) for t in rng.integers(0, CHURN_VOCAB, (m, L))]

    X = vecs(n)
    ids = [f"d{i}" for i in range(n)]
    pq.write_table(
        pa.table({
            "doc_id": ids, "text": docs(n),
            "embedding": pa.array(list(X), type=pa.list_(pa.float32())),
        }),
        corpus_path,
    )

    # upserts and deletes touch disjoint corpus ids
    chunk = rng.permutation(n)[: CHURN_UPSERT + CHURN_DELETE]
    dels = chunk[CHURN_UPSERT:]
    probe, added_probe = (int(i) for i in rng.choice(CHURN_ADD, 2, replace=False))
    add_v, up_v = vecs(CHURN_ADD), vecs(CHURN_UPSERT)
    add_v[probe] = X[dels[0]] + 0.01 * rng.normal(size=CHURN_DIM)
    writes = dict(
        add_ids=[f"a{i}" for i in range(CHURN_ADD)],
        add_vecs=add_v.tolist(),
        add_docs=docs(CHURN_ADD),
        up_ids=[ids[i] for i in chunk[:CHURN_UPSERT]],
        up_vecs=up_v.tolist(),
        up_docs=docs(CHURN_UPSERT),
        del_ids=[ids[i] for i in dels],
        probe=probe,
        added_probe=added_probe,
        deleted_probe=X[dels[0]].tolist(),
    )
    return dict(ids=ids, X=X, writes=writes)
