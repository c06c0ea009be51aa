"""DataFrame-native ANN query side: ivf_topk_df / pq_topk_df /
ivf_pq_topk_df accept a query DataFrame, probe selection runs in a
distributed Arrow stage and ADC tables are built per list group, so a
1e5-row query table flows with no driver-side per-query loop.  The shared
top-k core is checked against a numpy brute replica on adversarial inputs
(score ties across lists, k above a list's size, empty probed lists,
queries with fewer than k candidates) and across several query and
candidate blocks of one group."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sis_spark.operators.ann import (
    brute_topk,
    ivf_topk,
    ivf_topk_df,
    pq_topk,
    pq_topk_df,
)


def _emb(spark, n, dim, seed=5):
    rng = np.random.default_rng(seed)
    rows = [(i, rng.uniform(-1, 1, dim).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_df_matches_list_api(spark):
    df = _emb(spark, 300, 8)
    qids = [3, 77, 120]
    want = sorted(tuple(r) for r in ivf_topk(df, qids, 5, nlist=8, nprobe=3).collect())
    queries = df.filter(F.col("vec_id").isin(qids))
    got = sorted(tuple(r) for r in ivf_topk_df(
        df, queries, 5, nlist=8, nprobe=3, exclude_self=True).collect())
    assert got == want


def test_ivf_df_external_queries_exact_at_full_probe(spark):
    """External query table, nprobe == nlist: every query scores the
    whole collection -> equals brute cosine.  The last query reuses
    collection id 17 for a copy of vector 17: an external query id that
    equals a collection id must not drop that candidate (it ranks first)."""
    df = _emb(spark, 200, 8, seed=9)
    rng = np.random.default_rng(31)
    qrows = [(10_000 + i, rng.uniform(-1, 1, 8).tolist()) for i in range(4)]
    qrows.append((17, df.filter(F.col("vec_id") == 17).first()["embedding"]))
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")
    got = ivf_topk_df(df, queries, 6, nlist=5, nprobe=5).collect()
    # reference: quantized cosine vs every collection vector
    from sis_spark.operators.ann import quantize_np

    C = quantize_np(np.array([r["embedding"] for r in df.orderBy("vec_id").collect()]))
    cn = np.sqrt((C.astype(float) ** 2).sum(axis=1))
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, vec in qrows:
        v = quantize_np(np.array([vec]))[0]
        cos = (C.astype(float) @ v.astype(float)) / (
            cn * np.sqrt((v.astype(float) ** 2).sum()))
        order = np.lexsort((np.arange(len(C)), -cos))[:6]
        mine = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [r["cand_id"] for r in mine] == [int(i) for i in order]


def test_pq_df_matches_list_api(spark):
    df = _emb(spark, 120, 16, seed=2)
    qids = [0, 55]
    want = sorted(tuple(r) for r in pq_topk(df, qids, 4, m=4, ksub=8).collect())
    queries = df.filter(F.col("vec_id").isin(qids))
    got = sorted(tuple(r) for r in pq_topk_df(
        df, queries, 4, m=4, ksub=8, exclude_self=True).collect())
    assert got == want


def test_ivf_pq_df_matches_list_api(spark):
    from sis_spark.operators.ann import ivf_pq_topk, ivf_pq_topk_df

    df = _emb(spark, 150, 16, seed=8)
    qids = [1, 70, 149]
    want = sorted(tuple(r) for r in ivf_pq_topk(
        df, qids, 4, nlist=6, nprobe=2, m=4, ksub=8).collect())
    queries = df.filter(F.col("vec_id").isin(qids))
    got = sorted(tuple(r) for r in ivf_pq_topk_df(
        df, queries, 4, nlist=6, nprobe=2, m=4, ksub=8,
        exclude_self=True).collect())
    assert got == want


def test_ivf_df_handles_1e5_query_table(spark):
    """1e5 queries flow through the probe assignment and the list_id
    cogroup as DataFrames — no per-query driver work, no cartesian product
    in the plan, every sampled query gets exactly k ranked rows."""
    df = _emb(spark, 400, 8, seed=4)
    rng = np.random.default_rng(17)
    n_q = 100_000
    qpdf = spark.createDataFrame(
        [(100_000 + i, rng.uniform(-1, 1, 8).tolist()) for i in range(n_q)],
        "vec_id long, embedding array<double>",
    )
    out = ivf_topk_df(df, qpdf, 3, nlist=20, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    agg = out.groupBy("query_id").count()
    bad = agg.filter(F.col("count") != 3).count()
    n_served = agg.count()
    assert bad == 0
    assert n_served == n_q


def _collect_no_cache(spark, df):
    """Collect ``df``; the operator must leave the session's cache as it
    found it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    rows = df.collect()
    assert cache.numCachedEntries() == cached
    return rows


def _replica(V, lbl, qids, k, kind):
    """Numpy brute top-k over the quantized vectors: ``cos`` (descending,
    own row excluded), ``neg`` (cos over different labels) or ``l2``
    (ascending exact squared distance, own row excluded); ties to the
    lowest id.  Rows (query_id, rank, cand_id, score)."""
    from sis_spark.operators.ann import quantize_np

    Q = quantize_np(V)
    ids = np.arange(len(Q))
    out = []
    for q in qids:
        if kind == "l2":
            s = ((Q - Q[q]) ** 2).sum(axis=1)
            order = np.lexsort((ids, s))
        else:  # a zero vector's NaN cosine ranks last
            n = (Q * Q).sum(axis=1).astype(float)
            with np.errstate(invalid="ignore"):
                s = (Q @ Q[q]).astype(float) / np.sqrt(n * n[q])
            order = np.lexsort((ids, -np.where(np.isnan(s), -np.inf, s)))
        keep = [i for i in order if i != q and (kind != "neg" or lbl[i] != lbl[q])]
        out += [(q, r + 1, int(i), s[i].item()) for r, i in enumerate(keep[:k])]
    return sorted(out)


def test_core_adversarial_inputs_match_numpy(spark):
    """The shared top-k core against a numpy brute replica:
    * 6 distinct vectors, each stored 8 times (id i holds vector i % 6),
      rows created in shuffled order — exact score ties inside and across
      the exhaustive lists (pmod(id, 8)), settled by the lowest id at the
      k = 2 boundary;
    * k = 9 is above every exhaustive list's size (6);
    * IVF with nlist 8 over 6 distinct vectors: lists 6 and 7 start as
      copies of lists 0 and 1, keep no candidates and are still probed
      (nprobe == nlist);
    * a 5-vector collection, k = 6: every query has fewer than k
      candidates, and exhaustive lists 5..7 are empty; query 0 also has
      only 4 hard negatives;
    * pq with ksub above n: every codeword is a subvector, ADC is exact;
    * an all-zero vector: its qcos is NaN, returned as null and ranked
      last.
    Every operator leaves the session's cache unchanged."""
    from sis_spark.operators.ann import (
        hard_negative_topk,
        ivf_pq_topk,
        lsh_topk,
        mmr_select,
        pq_recon_error,
    )

    rng = np.random.default_rng(3)
    V = np.concatenate([rng.uniform(-1, 1, (6, 8))] * 8)
    n = len(V)
    lbl = np.where(np.arange(n) % 12 == 5, 1, 0)
    df = spark.createDataFrame(
        [(int(i), V[i].tolist(), int(lbl[i])) for i in rng.permutation(n)],
        "vec_id long, embedding array<double>, label int")
    qids = [0, 5, 13, 23]

    def rows(out, col):
        return sorted((r["query_id"], r["rank"], r["cand_id"], r[col]) for r in out)

    for k in (2, 9):
        want = _replica(V, lbl, qids, k, "cos")
        assert rows(_collect_no_cache(spark, brute_topk(df, qids, k)), "qcos") == want
        got = _collect_no_cache(spark, ivf_topk(df, qids, k, nlist=8, nprobe=8))
        assert rows(got, "qcos") == want
        assert rows(_collect_no_cache(spark, hard_negative_topk(df, qids, k)), "qcos") \
            == _replica(V, lbl, qids, k, "neg")
        got = _collect_no_cache(spark, pq_topk(df, qids, k, m=4, ksub=n + 2))
        assert rows(got, "adist") == _replica(V, lbl, qids, k, "l2")

    small = df.filter(F.col("vec_id") < 5)
    for q_rows, kind in (
        (brute_topk(small, [0, 4], 6), "cos"),
        (ivf_topk(small, [0, 4], 6, nlist=3, nprobe=3), "cos"),
        (pq_topk(small, [0, 4], 6, m=2, ksub=5), "l2"),
    ):
        got = rows(_collect_no_cache(spark, q_rows),
                   "adist" if kind == "l2" else "qcos")
        assert got == _replica(V[:5], lbl[:5], [0, 4], 6, kind)
        assert len(got) == 8

    # an all-zero vector (id n) scores NaN against every query: the score
    # is null and ranks last, ties to the lowest id
    zdf = df.union(spark.createDataFrame([(n, [0.0] * 8, 0)], df.schema))
    Z = np.concatenate([V, np.zeros((1, 8))])
    for zq, k in (([n], 2), ([1, 4], 48)):
        got = rows(_collect_no_cache(spark, brute_topk(zdf, zq, k)), "qcos")
        assert [r[:3] for r in got] == [r[:3] for r in _replica(Z, lbl, zq, k, "cos")]
        assert all(r[3] is None for r in got if n in (r[0], r[2]))

    for op in (ivf_pq_topk(df, qids, 3, nlist=4, nprobe=2, m=2, ksub=8),
               mmr_select(df, qids, 3, pool=6), lsh_topk(df, qids, 3),
               pq_recon_error(df, m=2, ksub=8)):
        _collect_no_cache(spark, op)


def test_core_blocks_match_numpy(spark):
    """More query rows than one query block and more candidates per list
    than one candidate block: the kept top k merge across blocks.  Each
    vector is stored 3 times (ids i, i + 2000, i + 4000), so exact ties
    span candidate blocks and lists and are settled by the lowest id."""
    from sis_spark.operators.ann import _BLOCK, _QBLOCK

    rng = np.random.default_rng(11)
    V = np.concatenate([rng.uniform(-1, 1, (2000, 8))] * 3)
    n = len(V)
    df = spark.createDataFrame(
        [(i, V[i].tolist(), 0) for i in range(n)],
        "vec_id long, embedding array<double>, label int")
    qids = list(range(n))
    assert n > _QBLOCK
    assert n // spark.sparkContext.defaultParallelism > _BLOCK // _QBLOCK
    want = _replica(V, np.zeros(n), qids, 4, "cos")
    for out in (brute_topk(df, qids, 4), ivf_topk(df, qids, 4, nlist=2, nprobe=2)):
        got = sorted((r["query_id"], r["rank"], r["cand_id"], r["qcos"])
                     for r in _collect_no_cache(spark, out))
        assert got == want


def test_exhaustive_lists_one_per_partition(spark):
    """The P exhaustive lists hash to P distinct shuffle partitions, so
    they run as P tasks (list ids 0..P-1 would share partitions)."""
    from sis_spark.operators.ann import _all_lists

    df = _emb(spark, 200, 8).select(F.col("vec_id").alias("cand_id"),
                                    F.col("embedding").alias("qv"))
    cands, probes = _all_lists(df, df.withColumnRenamed("cand_id", "query_id"))
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    P = min(spark.sparkContext.defaultParallelism, n)
    for side in (cands, probes):
        got = side.repartition(n, "list_id").select(
            F.spark_partition_id().alias("p"), "list_id").distinct().collect()
        assert len({r["list_id"] for r in got}) == len({r["p"] for r in got}) == P
