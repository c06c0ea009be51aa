"""Incremental (append-shape) dedup: batch-vs-history band matching plus the
full exact in-batch pipeline (operators/dedup.incremental_dedup)."""

import pandas as pd
import pytest

from sis_spark.operators.dedup import doc_bands, incremental_dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string",
    )


def _texts(k, n=40):
    # long distinct token streams; near-dups made by copying
    return " ".join(f"tok{k}x{i}" for i in range(n))


def test_first_batch_matches_batch_pipeline(spark):
    rows = [(i, _texts(i)) for i in range(8)]
    rows += [(100, rows[0][1]), (101, rows[1][1] + " extra")]  # dup of 0, near-dup of 1
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    dec, kept = incremental_dedup(_docs(spark, rows), None)
    d = {r["doc_id"]: (r["keep"], r["reason"]) for r in dec.collect()}
    assert cache.numCachedEntries() == cached  # the band table is not cached
    assert d[100] == (False, "batch") and d[0] == (True, None)
    assert d[101][0] is False
    n_kept = sum(1 for k, _ in d.values() if k)
    assert kept.select("doc_id").distinct().count() == n_kept


def test_replay_is_fully_dropped_and_new_kept(spark):
    b1 = [(i, _texts(i)) for i in range(6)]
    dec1, kept1 = incremental_dedup(_docs(spark, b1), None)
    hist = kept1.localCheckpoint()
    assert all(r["keep"] for r in dec1.collect())

    # batch 2: replays two batch-1 docs, adds three fresh ones
    b2 = [(10, b1[2][1]), (11, b1[3][1])] + [(12 + j, _texts(50 + j)) for j in range(3)]
    dec2, kept2 = incremental_dedup(_docs(spark, b2), hist)
    d = {r["doc_id"]: (r["keep"], r["reason"]) for r in dec2.collect()}
    assert d[10] == (False, "history") and d[11] == (False, "history")
    assert d[12] == (True, None) and d[13] == (True, None) and d[14] == (True, None)
    # history grows only by the kept docs' bands
    assert kept2.select("doc_id").distinct().count() == 3

    # batch 3 = batch 2 verbatim against the grown history -> all dropped
    hist2 = hist.unionByName(kept2).localCheckpoint()
    dec3, kept3 = incremental_dedup(_docs(spark, b2), hist2)
    assert not any(r["keep"] for r in dec3.collect())
    assert kept3.count() == 0


def test_history_precedence_over_batch_reason(spark):
    b1 = [(0, _texts(0))]
    _, kept1 = incremental_dedup(_docs(spark, b1), None)
    hist = kept1.localCheckpoint()
    # batch 2: two copies of doc 0 -> both must report 'history' or 'batch'
    # with the cluster survivor (lowest id) taking the history reason
    b2 = [(5, _texts(0)), (6, _texts(0))]
    dec, kept = incremental_dedup(_docs(spark, b2), hist)
    d = {r["doc_id"]: r["reason"] for r in dec.collect()}
    assert d[5] == "history"
    assert d[6] in ("history", "batch") and d[6] is not None
    assert kept.count() == 0


def test_band_count_per_doc(spark):
    b = doc_bands(_docs(spark, [(1, _texts(1))]))
    assert b.count() == 4  # N_HASHES / BAND_SIZE
