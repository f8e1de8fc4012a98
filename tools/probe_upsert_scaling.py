"""Upsert cost vs touched-cell locality — the r12 surgical-rewrite
claim, measured.

``ivf_upsert`` rewrites ONLY the cell partitions holding the updated
ids' old rows and hardlink-clones the rest, so its cost is
O(touched cells' data + batch), not O(corpus). The touched-cell count
is the whole story: a batch whose ids cluster in few cells rewrites a
sliver; a batch scattered across every cell degenerates to a full
rewrite (at 256 cells a random 2k-id batch touches ~all of them).
This probe builds a 1M x 16-dim index at 256 cells and times three
2k-row upserts, min-of-3 each:

- scattered: ids 0..1999 (pseudo-random cell spread — near-worst)
- clustered: the 2k ids of ONE cell, re-upserted with their own
  vectors (touches exactly that cell ± new-assignment cells)
- plus a 100k twin of the scattered case for the corpus-size slope

Same synthetic corpus and session discipline as bench.py. Prints JSON
lines; does not touch BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from vector_databases___hydrate_chroma_db_collection_spark.operators import (
        ann,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.operators.store import (
        read_sidecar,
    )
    from vector_databases___hydrate_chroma_db_collection_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="probe-upsert-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def synth_vecs(n: int):
        return (
            spark.range(n)
            .repartition(cpus)
            .select(
                F.col("id").cast("string").alias("id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(16)),
                    lambda j: (
                        F.pmod(F.col("id") * j + j * j, F.lit(97)).cast(
                            "float"
                        )
                        / F.lit(97.0)
                    ),
                ).alias("embedding"),
            )
        )

    out = {}
    for n, tag in ((100_000, "100k"), (1_000_000, "1m")):
        root = tempfile.mkdtemp(prefix=f"probe_up_{tag}_")
        vecs = synth_vecs(n).localCheckpoint(eager=True)
        assigned, C = ann.ivf_build(vecs, n_centroids=256, seed=42)
        path = os.path.join(root, "ivf")
        ann.ivf_write(assigned, C, path, metric="cosine")
        # scattered: low contiguous ids land across many cells
        times = []
        for k in range(3):
            batch = vecs.filter(
                (F.col("id").cast("bigint") >= k * 2000)
                & (F.col("id").cast("bigint") < (k + 1) * 2000)
            )
            t0 = time.time()
            nu, na = ann.ivf_upsert(spark, path, batch)
            times.append(time.time() - t0)
            assert (nu, na) == (2000, 0), (nu, na)
        out[f"ivf_upsert_2k_scattered_{tag}"] = round(min(times), 3)
        if tag == "1m":
            # clustered: all 2k ids from ONE cell (locality best case)
            cells = spark.read.parquet(
                os.path.join(
                    path, read_sidecar(path, "ivf_index.json")["location"]
                )
            )
            big_cell = (
                cells.groupBy("ivf_cell")
                .count()
                .orderBy(F.desc("count"))
                .first()["ivf_cell"]
            )
            cell_ids = [
                r["id"]
                for r in cells.filter(F.col("ivf_cell") == big_cell)
                .select("id")
                .limit(2000)
                .collect()
            ]
            times = []
            for _ in range(3):
                batch = vecs.filter(F.col("id").isin(cell_ids))
                t0 = time.time()
                nu, na = ann.ivf_upsert(spark, path, batch)
                times.append(time.time() - t0)
                assert na == 0 and nu == len(cell_ids), (nu, na)
            out["ivf_upsert_2k_clustered_1m"] = round(min(times), 3)
        print(json.dumps({k: v for k, v in out.items() if tag in k}))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
