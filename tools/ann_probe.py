"""ANN probe: time and digest the four top-k plans of ``operators/ann.py``.

The collection is the ``embeddings`` table repeated as 20 jittered copies
(copy c adds seeded noise of scale 0.01 to every component, ids offset by
c * n), held in 8 partitions.  The queries are the first 100 and 1,000
collection ids, run with k = 5 and ``exclude_self=True``.  For each plan
and query count it prints one JSON line: the best wall time over 3 calls
(training included) and a digest of the sorted rows, so two checkouts run
on the same data can be compared row for row.

    python tools/ann_probe.py <sf_dir>   # the directory holding embeddings.parquet
"""

from __future__ import annotations

import hashlib
import json
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from sis_spark.operators import ann  # noqa: E402
from sis_spark.session import get_spark  # noqa: E402

PLANS = ("brute_topk", "pq_topk_df", "ivf_topk_df", "ivf_pq_topk_df")
COPIES, PARTS, K, QUERIES, RUNS = 20, 8, 5, (100, 1000), 3


def collection(spark, sf_dir):
    base = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(base["embedding"].to_numpy()).astype(np.float32)
    n = len(V)
    ids, vecs, labels = [], [], []
    for c in range(COPIES):
        noise = np.random.default_rng(c).normal(0.0, 0.01, V.shape)
        vecs.append(np.clip(V + (noise if c else 0.0), -1, 1).astype(np.float32))
        ids.append(base["vec_id"].to_numpy(np.int64) + c * n)
        labels.append(base["label"].to_numpy(np.int32))
    pdf = pd.DataFrame({
        "vec_id": np.concatenate(ids),
        "embedding": list(np.concatenate(vecs)),
        "label": np.concatenate(labels),
    })
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int")
    return df.repartition(PARTS, "vec_id").localCheckpoint()


def run_plan(plan, vectors, nq):
    if plan == "brute_topk":
        return ann.brute_topk(vectors, list(range(nq)), K)
    queries = vectors.filter(F.col("vec_id") < nq)
    return getattr(ann, plan)(vectors, queries, K, exclude_self=True)


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1]
    spark = get_spark("ann_probe")
    vectors = collection(spark, sf_dir)
    n = vectors.count()
    for plan in PLANS:
        for nq in QUERIES:
            best, rows = np.inf, None
            for _ in range(RUNS):
                t0 = time.perf_counter()
                rows = run_plan(plan, vectors, nq).collect()
                best = min(best, time.perf_counter() - t0)
            print(json.dumps({
                "plan": plan, "vectors": n, "queries": nq, "k": K,
                "cpus": spark.sparkContext.defaultParallelism,
                "runs": RUNS, "best_s": round(best, 3),
                "rows": len(rows), "digest": digest(rows),
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
