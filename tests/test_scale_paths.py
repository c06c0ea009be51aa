"""Scale-path operators: k-ring kNN exactness, LSH ANN recall, hot-cell
sampling, simhash near-dups, and the Structured-Streaming ingestion demo
(the reference has no streaming — SURVEY §2.9 — this is the engine's own
late-data-capable ingestion shape)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_knn_cells_equals_brute(spark, sf_dir):
    from sis_spark.functions.spark_exprs import point_lonlat_cols, query_lonlat_cols
    from sis_spark.operators.knn import knn_join, knn_join_cells

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = point_lonlat_cols("event_id")
    cand = ev.select(F.col("event_id").alias("cand_id"), lon.alias("lon"), lat.alias("lat"))
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("query_id"), qlon.alias("qlon"), qlat.alias("qlat")
    )
    a = (
        knn_join(cand, queries, 5).select("query_id", "rank", "cand_id")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        knn_join_cells(cand, queries, 5).select("query_id", "rank", "cand_id")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a.astype("int64"), b.astype("int64"))


def test_hot_cells_sampling(spark, sf_dir):
    from sis_spark.functions import cells as C
    from sis_spark.queries import _events_points
    from sis_spark.operators.spatial_join import hot_cells_with_counts
    from sis_spark import synth

    pts = _events_points(spark, sf_dir)
    hot = hot_cells_with_counts(pts, "lon", "lat", res=5, sample_fraction=0.5, threshold=40)
    assert len(hot) >= 4  # the 8 seeded clusters (some share coarse cells)
    # every detected hot cell contains a seeded hot center
    centers = np.asarray(synth.HOT_CENTERS)
    center_cells = set(C.encode_cell(centers[:, 0], centers[:, 1], 5).tolist())
    assert center_cells.issuperset(set(hot) - center_cells) or set(hot) & center_cells


def test_ann_lsh_recall(spark, sf_dir):
    from sis_spark.operators.ann import brute_topk, lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    exact = brute_topk(emb, qids, 5).select("query_id", "cand_id").toPandas()
    approx = lsh_topk(emb, qids, 5).select("query_id", "cand_id").toPandas()
    exact_set = set(map(tuple, exact.to_numpy()))
    approx_set = set(map(tuple, approx.to_numpy()))
    recall = len(exact_set & approx_set) / len(exact_set)
    # sign-random-projection buckets on weakly-clustered vectors: recall is
    # data-dependent; assert it's functioning (non-trivial overlap) and
    # record the value for the report
    assert recall >= 0.3, recall


def test_simhash_near_dups_find_planted_pair(spark):
    from sis_spark.operators.dedup import simhash, simhash_near_dups

    base = "spark shuffle partition broadcast join filter aggregate window sort"
    rows = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1
        (3, "completely different words entirely unrelated content here now"),
        (4, base),                      # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sims = simhash(docs)
    pairs = simhash_near_dups(sims, max_hamming=16).toPandas()
    got = set(map(tuple, pairs[["a", "b"]].to_numpy()))
    assert (1, 4) in got  # identical text -> hamming 0
    assert (1, 2) in got and (2, 4) in got  # near-dup
    assert (1, 3) not in got and (3, 4) not in got


def test_streaming_windowed_ingestion(spark, sf_dir):
    """Structured Streaming: file source -> watermark -> tumbling-window
    counts per event_type, driven to completion synchronously."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # restrict to the events file via pathGlobFilter; parquet stores NTZ
    # timestamps, watermarks need TimestampType
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("ev_counts").start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM ev_counts").toPandas()
    finally:
        q.stop()
    # totals must equal the batch aggregation
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    got = out.groupby("event_type")["n"].sum().sort_index()
    exp = batch.set_index("event_type")["n"].sort_index()
    pd.testing.assert_series_equal(got, exp, check_names=False)


def test_banded_near_dup_subset_of_exact(spark, sf_dir):
    """Banded pairs are exactly the exact pairs restricted to band-sharing
    candidates: every banded pair appears in the all-pairs baseline with the
    identical qcos, and recall is material (>0.3 at this threshold)."""
    from sis_spark.operators.ann import near_dup_pairs_banded, near_dup_pairs_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.35
    exact = {(r.a, r.b): r.qcos for r in near_dup_pairs_exact(emb, thr).collect()}
    banded = {(r.a, r.b): r.qcos for r in near_dup_pairs_banded(emb, thr).collect()}
    assert set(banded) <= set(exact)
    for k, v in banded.items():
        assert v == exact[k]  # bit-identical quantized cosine
    if exact:
        assert len(banded) / len(exact) > 0.3


def test_knn_cells_degenerate_high_res(spark):
    """Fewer candidates than k at a high resolution: routes straight to the
    brute fallback instead of building a globe-sized ring meshgrid
    (ADVICE r1 item 3), and still returns every candidate ranked."""
    import pandas as pd

    from sis_spark.operators.knn import knn_join_cells

    cand = spark.createDataFrame(
        pd.DataFrame({"cand_id": [1, 2, 3],
                      "lon": [0.0, 10.0, 20.0], "lat": [0.0, 5.0, -5.0]}),
        schema="cand_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [7], "qlon": [1.0], "qlat": [1.0]}),
        schema="query_id long, qlon double, qlat double",
    )
    rows = knn_join_cells(cand, q, k=5, res=14).collect()
    assert sorted(r["cand_id"] for r in rows) == [1, 2, 3]
    assert sorted(r["rank"] for r in rows) == [1, 2, 3]


def test_jaccard_df_cap_prunes_hot_shingles(spark):
    """max_shingle_df: a stop-shingle shared by every doc no longer feeds
    the self-join; rare-shingle pairs keep their exact common counts."""
    import pandas as pd

    from sis_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            # every doc contains 'the common stop phrase'; docs 1/2 share a
            # rare tail
            "text": [
                "the common stop phrase alpha beta gamma",
                "the common stop phrase alpha beta gamma",
                "the common stop phrase delta",
                "the common stop phrase epsilon",
            ],
        }),
        schema="doc_id long, text string",
    )
    exact = {(r.a, r.b): r.common for r in jaccard_pairs(docs, min_common=1).collect()}
    capped = {(r.a, r.b): r.common
              for r in jaccard_pairs(docs, min_common=1, max_shingle_df=2).collect()}
    # the all-docs stop shingles are pruned: 3-4 style pairs disappear,
    # 1-2 keeps its rare shingles
    assert (1, 2) in capped and capped[(1, 2)] <= exact[(1, 2)]
    assert (3, 4) not in capped and (3, 4) in exact


def test_ann_ivf_full_probe_equals_brute(spark, sf_dir):
    # nprobe == nlist means every posting list is searched -> the IVF result
    # must equal the exact brute-force top-k bit for bit (same tie-break)
    from sis_spark.operators.ann import brute_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(8))
    exact = (
        brute_topk(emb, qids, 5).select("query_id", "rank", "cand_id")
        .orderBy("query_id", "rank").toPandas()
    )
    full = (
        ivf_topk(emb, qids, 5, nlist=8, nprobe=8).select("query_id", "rank", "cand_id")
        .orderBy("query_id", "rank").toPandas()
    )
    assert exact.to_numpy().tolist() == full.to_numpy().tolist()


def test_ann_ivf_recall(spark, sf_dir):
    from sis_spark.operators.ann import brute_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    exact = brute_topk(emb, qids, 5).select("query_id", "cand_id").toPandas()
    approx = ivf_topk(emb, qids, 5, nlist=16, nprobe=4).select(
        "query_id", "cand_id"
    ).toPandas()
    exact_set = set(map(tuple, exact.to_numpy()))
    approx_set = set(map(tuple, approx.to_numpy()))
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 4/16 lists over weakly-clustered synthetic vectors; assert the
    # index is functioning (well above the 25% a random probe would give)
    assert recall >= 0.4, recall


def test_ann_ivf_empty_clusters(spark):
    # all-identical vectors: every point lands in list 0 after init, clusters
    # 1..n stay empty and must keep their init centroids without error
    from sis_spark.operators.ann import ivf_topk

    rows = [(i, [0.5] * 8) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_topk(emb, [0, 1], 3, nlist=4, nprobe=2).toPandas()
    assert len(out) == 6
    assert (out["qcos"] == 1.0).all()
