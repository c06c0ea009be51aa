"""Similarity search over embedding columns (array<float>).

Ranking uses **quantized cosine**: each component is floored to int64 at 1e7
scale, so dot products and norms are exact integer arithmetic — order-
independent, overflow-free for |x|<=3, dim<=512 — and the final
``dot / sqrt(na*nb)`` is one correctly-rounded IEEE divide+sqrt, hence
bit-identical in Spark, numpy, and DuckDB.  (Float summation order would
otherwise differ between engines and flip near-tie rankings.)

Every top-k search is one plan (``_topk``): candidate rows keyed by
``list_id`` meet the query probes of that list in one
``cogroup(...).applyInPandas``; per group one numpy scorer builds the
(n_cand x n_query) score matrix, a vectorised top-k keeps k rows per query,
and one window top-k (``_rank``) ends it, ties to the lowest cand_id.  The
plans differ only in their lists and scorer:

* ``brute_topk``, ``hard_negative_topk``, ``mmr_select``'s pool and
  ``pq_topk_df``: exhaustive — one list per core (``_all_lists``), every
  query probes every list.
* ``ivf_topk_df``: list = the nearest coarse centroid, a query probes its
  ``nprobe`` nearest.
* ``ivf_pq_topk_df``: IVF lists over PQ codes of the residuals.
* PQ plans score by ADC: each group builds the lookup tables from its probe
  rows' query vectors (minus the group's centroid for IVF-PQ).

Centroids, codebooks, code, list and probe assignment all come from one
exact int64 squared-distance kernel (``_sqdist``) run by the one Arrow
batch loop (``_map_vecs``).  ``lsh_topk`` is the sign-random-projection
bucket plan: the band keys of the near-dup path, an equi-join on bucket
and an exact re-rank in the JVM.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .buckets import DEFAULT_MAX_BUCKET

QUANT = 1e7
#: score cells per block of a group: bounds the score matrix
_BLOCK = 1 << 21
#: queries per block: a candidate block then holds >= _BLOCK / _QBLOCK rows
_QBLOCK = 1 << 12


def quantize_col(col):
    """array<float> -> array<bigint> (floor(x * 1e7), exact in both engines)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("long"))


def qnorm_col(qvec):
    return F.aggregate(qvec, F.lit(0).cast("long"), lambda acc, x: acc + x * x)


def qdot_col(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


def qcos_col(dot, na, nb):
    return dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def quantize_np(vecs: np.ndarray) -> np.ndarray:
    return np.floor(vecs.astype(np.float64) * QUANT).astype(np.int64)


def _sqdist(X: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m, sd) x (m, ksub, sd) -> (n, m, ksub) exact int64 squared
    distances |x - b|^2 = |x|^2 + |b|^2 - 2 x.b (|x|,|b| <= 3e7, dim <= 64
    -> < 2^62).  m = 1 serves list and probe assignment."""
    dots = (X.transpose(1, 0, 2) @ B.transpose(0, 2, 1)).transpose(1, 0, 2)
    return (X * X).sum(axis=2)[:, :, None] + (B * B).sum(axis=2)[None] - 2 * dots


def _map_vecs(df: DataFrame, vec_col: str, model: np.ndarray, body, schema) -> DataFrame:
    """The one Arrow batch loop: ``model`` (centroids, codebooks or planes)
    is broadcast once; each batch's ``vec_col`` decodes to one int64 matrix
    and ``body(pdf, M, model)`` returns the batch's output frame."""
    bc = df.sparkSession.sparkContext.broadcast(model)

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                yield body(pdf, np.array(list(pdf[vec_col]), dtype=np.int64), bc.value)

    return df.mapInPandas(fn, schema=schema)


def _plus(df: DataFrame, name: str, typ: T.DataType) -> T.StructType:
    return T.StructType(list(df.schema.fields) + [T.StructField(name, typ)])


def _lists(df: DataFrame, cent: np.ndarray, take: int = 1) -> DataFrame:
    """(..., qv) -> ``take`` rows (..., qv, list_id) per row: the ``take``
    nearest centroids by exact int64 distance, ties -> lowest list id
    (stable argsort; take 1 is the first argmin)."""
    take = min(take, len(cent))

    def body(pdf, M, C):
        d = _sqdist(M[:, None, :], C[None])[:, 0]
        order = np.argsort(d, axis=1, kind="stable")[:, :take]
        return pdf.loc[pdf.index.repeat(take)].assign(
            list_id=order.reshape(-1).astype(np.int32))

    return _map_vecs(df, "qv", cent, body, _plus(df, "list_id", T.IntegerType()))


def _codes(df: DataFrame, books: np.ndarray) -> DataFrame:
    """(..., qv) -> (..., qv, codes array<int>): per-subspace argmin over
    exact int64 squared distances, ties -> lowest code."""
    m, _, sd = books.shape

    def body(pdf, M, B):
        codes = _sqdist(M.reshape(len(M), m, sd), B).argmin(axis=2)
        return pdf.assign(codes=list(codes.astype(np.int32)))

    return _map_vecs(df, "qv", books, body,
                     _plus(df, "codes", T.ArrayType(T.IntegerType())))


def _qcos(Q, lid):
    """The quantized-cosine scorer of the query rows ``Q``: a candidate
    block C scores (n_cand, n_query) int64 dots over the int64 norms cast
    to double, the IEEE arithmetic of ``qcos_col``."""
    qn = (Q * Q).sum(axis=1).astype(np.float64)

    def score(C):
        cn = (C * C).sum(axis=1).astype(np.float64)
        with np.errstate(invalid="ignore"):  # a zero vector: 0 / 0 = NaN
            return (C @ Q.T).astype(np.float64) / np.sqrt(cn[:, None] * qn[None, :])

    return score


def _qdot(Q, lid):
    return lambda C: C @ Q.T


def _adc(books: np.ndarray, cent: np.ndarray | None = None):
    """ADC scorer: the tables |q_sub - codeword|^2 of the query rows are
    built once (q the residual against list ``lid``'s centroid when
    ``cent`` is given, IVF-PQ); a candidate block of codes (n_cand, m)
    scores m table lookups per query."""
    m, _, sd = books.shape

    def prep(Q, lid):
        R = Q if cent is None else Q - cent[lid]
        tabs = np.ascontiguousarray(
            _sqdist(R.reshape(len(R), m, sd), books).transpose(1, 2, 0))
        return lambda K: sum(tabs[s][K[:, s]] for s in range(m))

    return prep


def _rank_key(S, desc):
    """Ascending ranking key of scores: negated when ``desc``; a NaN score
    (a zero vector's cosine) ranks last: pandas hands it to Spark as null,
    which the window also puts last."""
    key = -S if desc else S
    return np.where(np.isnan(key), np.inf, key) if key.dtype.kind == "f" else key


def _first_k(key, cid, qi, k):
    """Indices of the k smallest (key, cid) of each ``qi``."""
    o = np.lexsort((cid, key, qi))
    qs = qi[o]
    return o[np.arange(len(o)) - np.searchsorted(qs, qs) < k]


def _rank(rows: DataFrame, k: int, col: str, desc: bool) -> DataFrame:
    """The window top-k: rank 1..k per query by ``col``, ties to the lowest
    cand_id.  Output (query_id, rank, cand_id, col)."""
    o = F.col(col).desc() if desc else F.col(col).asc()
    w = Window.partitionBy("query_id").orderBy(o, F.col("cand_id").asc())
    return rows.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k).select("query_id", "rank", "cand_id", col)


def _scan(f, C, cid, ok, k, desc, dt, step):
    """(ci, qi, score) of the top k candidate rows of ``C`` per query column
    of the scorer ``f``, one block of ``step`` rows at a time: each block's
    top k per query (an ``np.partition`` threshold) merge into the k kept
    so far, ties to the lowest cand id.  ``ok(lo, hi)`` gives the block's
    allowed pairs (None: all)."""
    worst = np.inf if dt is np.float64 else np.iinfo(np.int64).max
    ci = qi = np.empty(0, np.int64)
    sv = np.empty(0, dt)
    for lo in range(0, len(C), step):
        S = f(C[lo:lo + step])
        mask = None if ok is None else ok(lo, lo + step)
        key = _rank_key(S, desc) if mask is None else np.where(mask, _rank_key(S, desc), worst)
        sel = (np.ones(key.shape, bool) if len(key) <= k
               else key <= np.partition(key, k - 1, axis=0)[k - 1])
        if mask is not None:
            sel &= mask
        c2, q2 = np.nonzero(sel)
        ci, qi = np.concatenate([ci, lo + c2]), np.concatenate([qi, q2])
        sv = np.concatenate([sv, S[c2, q2].astype(dt)])
        j = _first_k(_rank_key(sv, desc), cid[ci], qi, k)
        ci, qi, sv = ci[j], qi[j], sv[j]
    return ci, qi, sv


def _topk(cands: DataFrame, probes: DataFrame, k: int, score, col: str = "qcos double",
          desc: bool = True, differ: tuple[str, str] | None = None) -> DataFrame:
    """The one ANN search.  ``cands`` (list_id, cand_id, qv, ...) meet the
    ``probes`` (list_id, query_id, qv, ...) of their list in one cogroup
    (qv holds the PQ codes on the candidate side of the ADC plans).  Per
    group and block of at most _QBLOCK query rows, ``score(Q, list_id)``
    prepares the scorer once (query norms, ADC tables) and ``_scan`` keeps
    the top k per query over candidate blocks of at most _BLOCK score
    cells.  ``differ`` = (cand column, query column) drops the pairs where
    the two are equal.  ``_rank`` by ``col`` ends it.

    A group holds its whole list in one Python worker: the candidate and
    probe rows as the cogroup's pandas frames plus one int64 matrix each,
    measured at ~1.8 KB per row at dim 64 (a 100,000-candidate list peaked
    at 400 MB worker RSS, a 10,000 one at 240 MB, 1,000 queries each), and
    a hot list is one task: cogroup groups cannot be split."""
    name, typ = col.split()
    dt = np.float64 if typ == "double" else np.int64

    def group(cp, qp):
        out = {"query_id": [np.empty(0, np.int64)], "cand_id": [np.empty(0, np.int64)],
               name: [np.empty(0, dt)]}
        if len(cp) and len(qp):
            C = np.array(list(cp["qv"]), dtype=np.int64)
            Q = np.array(list(qp["qv"]), dtype=np.int64)
            cid = cp["cand_id"].to_numpy(np.int64)
            qid = qp["query_id"].to_numpy(np.int64)
            a, b = (None, None) if differ is None else (
                cp[differ[0]].to_numpy()[:, None], qp[differ[1]].to_numpy()[None, :])
            step = max(1, _BLOCK // min(len(Q), _QBLOCK))
            for qlo in range(0, len(Q), _QBLOCK):
                qs = slice(qlo, qlo + _QBLOCK)
                ok = None if a is None else (lambda lo, hi: a[lo:hi] != b[:, qs])
                ci, qi, sv = _scan(score(Q[qs], int(cp["list_id"].iat[0])), C, cid, ok,
                                   k, desc, dt, step)
                out["query_id"].append(qid[qlo + qi])
                out["cand_id"].append(cid[ci])
                out[name].append(sv)
        return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    # an explicit repartition: AQE does not coalesce it, so lists that hash
    # to different partitions stay in different tasks
    n = int(cands.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = (cands.repartition(n, "list_id").groupBy("list_id")
            .cogroup(probes.repartition(n, "list_id").groupBy("list_id"))
            .applyInPandas(group, schema=f"query_id long, cand_id long, {col}"))
    return _rank(rows, k, name, desc)


@functools.lru_cache(maxsize=None)
def _list_keys(n: int, P: int) -> tuple[int, ...]:
    """keys[j]: the smallest int that Spark's hash partitioning over n
    partitions sends to partition j, for j < P (Murmur3 with a fixed seed:
    the same in every session, so computed once)."""
    rows = SparkSession.active().range(64 * n).select(
        F.col("id").cast("int").alias("key"),
        F.expr(f"pmod(hash(CAST(id AS INT)), {n})").alias("part"),
    ).filter(F.col("part") < P).groupBy("part").agg(F.min("key")).collect()
    return tuple(r[1] for r in sorted(rows))


def _all_lists(cands: DataFrame, probes: DataFrame):
    """Exhaustive lists, one per core: a candidate's list is
    keys[pmod(cand_id, P)] with P the default parallelism (at most the
    shuffle partitions), and every query probes all P lists.  The keys
    (``_list_keys``) put each list in its own partition, so in its own
    task (the ints 0..3 would not: Murmur3 sends 0, 1 and 3 to one of 4
    partitions)."""
    spark = cands.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = _list_keys(n, min(spark.sparkContext.defaultParallelism, n))
    lids = F.array(*[F.lit(x) for x in keys])
    at = F.pmod("cand_id", F.lit(len(keys))).cast("int") + 1
    return (cands.withColumn("list_id", F.element_at(lids, at)),
            probes.withColumn("list_id", F.explode(lids)))


def _queries(queries: DataFrame, qid_col: str, qvec_col: str, *extra) -> DataFrame:
    return queries.select(F.col(qid_col).alias("query_id"),
                          quantize_col(F.col(qvec_col)).alias("qv"), *extra)


def _cands(vectors: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    return vectors.select(F.col(id_col).alias("cand_id"),
                          quantize_col(F.col(vec_col)).alias("qv"), *extra)


def brute_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by quantized cosine over the exhaustive lists; each
    query's own row is excluded.  Output (query_id, rank, cand_id, qcos)."""
    queries = vectors.filter(F.col(id_col).isin(query_ids))
    cands, probes = _all_lists(_cands(vectors, id_col, vec_col),
                               _queries(queries, id_col, vec_col))
    return _topk(cands, probes, k, _qcos, differ=("cand_id", "query_id"))


def near_dup_pairs_exact(
    vectors: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All pairs with quantized cosine >= threshold (exact O(n^2) baseline;
    JVM-only arithmetic).  Output (a, b, qcos)."""
    q = vectors.select(
        F.col(id_col).alias("id"),
        quantize_col(F.col(vec_col)).alias("qv"),
    ).withColumn("nn", qnorm_col(F.col("qv")))
    a = q.select(F.col("id").alias("a"), F.col("qv").alias("va"), F.col("nn").alias("na"))
    b = q.select(F.col("id").alias("b"), F.col("qv").alias("vb"), F.col("nn").alias("nb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    dot = qdot_col(F.col("va"), F.col("vb"))
    return (
        pairs.select("a", "b", qcos_col(dot, F.col("na"), F.col("nb")).alias("qcos"))
        .filter(F.col("qcos") >= threshold)
    )


N_PLANES = 16
PLANE_QUANT = 1 << 20  # hyperplane components floored to int at 2^20 scale


def _hyperplanes(dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: digits of md5(i,j) -> U(-1,1)."""
    import hashlib

    out = np.empty((N_PLANES, dim))
    for i in range(N_PLANES):
        h = b"".join(
            hashlib.md5(f"plane:{i}:{j}".encode()).digest()
            for j in range((dim * 4 + 15) // 16)  # 4 bytes per component
        )
        u = np.frombuffer(h[: dim * 4], dtype="<u4").astype(np.float64) / 2**32
        out[i] = u * 2.0 - 1.0
    return out


def lsh_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
) -> DataFrame:
    """Approximate top-k: the banded sign-random-projection buckets of
    ``near_dup_pairs_banded`` (``_band_keys_df``), an equi-join on bucket,
    exact quantized-cosine re-rank of the bucket mates."""
    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    ).withColumn("nn", qnorm_col(F.col("qv")))
    buckets = _band_keys_df(q, n_bands)

    qb = buckets.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), "band", "bkey"
    )
    cand = (
        buckets.join(F.broadcast(qb), ["band", "bkey"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("cand_id"))
        .distinct()
    )
    scored = (
        cand.join(q.select(F.col("id").alias("cand_id"), F.col("qv").alias("vc"), F.col("nn").alias("nc")), "cand_id")
        .join(
            F.broadcast(
                q.filter(F.col("id").isin(query_ids)).select(
                    F.col("id").alias("query_id"), F.col("qv").alias("vq"), F.col("nn").alias("nq")
                )
            ),
            "query_id",
        )
        .select(
            "query_id", "cand_id",
            qcos_col(qdot_col(F.col("vc"), F.col("vq")), F.col("nc"), F.col("nq")).alias("qcos"),
        )
    )
    return _rank(scored, k, "qcos", desc=True)


# ------------------------------------------------- banded near-dup (scale path)
#
# Sign-random-projection banding with INTEGER hyperplanes so every stage —
# quantization, dot-product sign, band key, final cosine — is exact integer
# arithmetic, bit-identical between Spark (numpy int64 matmul) and the DuckDB
# oracle (list arithmetic over the same inlined literal planes).  Candidate
# generation is the single-pass bucket formulation proven by
# dedup.lsh_candidates (reference parity: the same bucketed shape SIS uses
# for its spatial index lookups, C/index/tree/QuadTree*.java) — no self-join,
# no BroadcastNestedLoopJoin anywhere in the plan.

def planes_int(dim: int) -> np.ndarray:
    """Deterministic integer hyperplanes: floor(u * 2^20), u from _hyperplanes."""
    return np.floor(_hyperplanes(dim) * PLANE_QUANT).astype(np.int64)


def _band_keys_df(q: DataFrame, n_bands: int) -> DataFrame:
    """(id, qv) -> (id, band, bkey): integer matmul signs grouped into bands.

    Exact: |qv|<=3e7, |plane|<=2^20, dim<=64 -> |dot| < 2^62; sign of an int64
    is deterministic across engines (ties broken by >= 0)."""
    dim = int(q.select(F.size("qv").alias("d")).first()["d"])
    bpb = N_PLANES // n_bands

    def body(pdf, M, pl):
        bits = ((M @ pl.T) >= 0).reshape(len(M), n_bands, bpb)
        keys = bits @ (1 << np.arange(bpb, dtype=np.int64))  # (n, n_bands)
        return pd.DataFrame({
            "id": np.tile(pdf["id"].to_numpy(), n_bands),
            "band": np.repeat(np.arange(n_bands, dtype=np.int32), len(M)),
            "bkey": keys.T.reshape(-1),
        })

    return _map_vecs(q.select("id", "qv"), "qv", planes_int(dim), body,
                     "id long, band int, bkey long")

def near_dup_pairs_banded(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs: banded candidates -> exact quantized-cosine verify.

    Output (a, b, qcos) for candidate pairs with qcos >= threshold.  This is
    the 100-TB plan: one explode->groupBy bucket shuffle for candidates (no
    all-pairs join), then two equi-joins for the verify.  Recall vs the exact
    all-pairs baseline is < 1 (standard LSH; measured in pytest) — the oracle
    replicates the identical banded semantics, so the gate checks bit-exact
    agreement of the whole pipeline."""
    q = (
        vectors.select(F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv"))
        .withColumn("nn", qnorm_col(F.col("qv")))
    )
    nparts = max(vectors.sparkSession.sparkContext.defaultParallelism, 8)
    # eager localCheckpoint, not persist: q feeds the band keys AND both
    # verify joins, and checkpoint blocks are GC-reclaimed instead of
    # pinned in the CacheManager for the session (the dedup r4 fix)
    q = q.repartition(nparts, "id").localCheckpoint()
    bands = _band_keys_df(q, n_bands)
    if max_bucket is not None:
        # q is checkpointed, so the counting pass re-derives band keys only
        from .buckets import cap_buckets
        bands = cap_buckets(bands, ["band", "bkey"], max_bucket, "near_dup_pairs_banded")
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    scored = (
        cand.join(q.select(F.col("id").alias("a"), F.col("qv").alias("va"), F.col("nn").alias("na")), "a")
        .join(q.select(F.col("id").alias("b"), F.col("qv").alias("vb"), F.col("nn").alias("nb")), "b")
        .select(
            "a", "b",
            qcos_col(qdot_col(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")).alias("qcos"),
        )
    )
    return scored.filter(F.col("qcos") >= threshold)


def near_dup_banded_sql(
    dim: int,
    threshold: float,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
) -> str:
    """DuckDB oracle replicating near_dup_pairs_banded bit-for-bit: the same
    integer hyperplanes inlined as literals, the same >=0 sign rule, band
    keys, candidate pairs, and quantized-cosine verify."""
    P = planes_int(dim)
    bits_per_band = N_PLANES // n_bands
    plane_rows = ",\n    ".join(
        f"({i}, [{', '.join(str(int(v)) for v in P[i])}])" for i in range(N_PLANES)
    )
    return f"""
WITH planes(i, pl) AS (VALUES
    {plane_rows}),
qv AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
n AS (
  SELECT id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn FROM qv),
bits AS (
  SELECT q.id, p.i,
         CASE WHEN CAST(list_sum(list_transform(list_zip(q.v, p.pl), x -> x[1] * x[2])) AS BIGINT) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM qv q, planes p),
bands AS (
  SELECT id, CAST(i // {bits_per_band} AS INT) AS band,
         CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(i % {bits_per_band} AS INT))) AS BIGINT) AS bkey
  FROM bits GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
SELECT c.a, c.b,
       CAST(CAST(list_sum(list_transform(list_zip(x.v, y.v), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
         / sqrt(CAST(x.nn AS DOUBLE) * CAST(y.nn AS DOUBLE)) AS qcos
FROM cand c JOIN n x ON x.id = c.a JOIN n y ON y.id = c.b
WHERE CAST(CAST(list_sum(list_transform(list_zip(x.v, y.v), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
        / sqrt(CAST(x.nn AS DOUBLE) * CAST(y.nn AS DOUBLE)) >= {threshold}"""


# ------------------------------------------------------------- IVF (scale path)
#
# Inverted-file index: a coarse quantizer (k-means over the quantized int64
# vectors) partitions the collection into nlist posting lists; a query probes
# only its nprobe nearest lists.  This is the second scale path the pipeline
# mandate names alongside LSH buckets ("an IVF or LSH-bucketed variant").
#
# Everything is EXACT integer arithmetic so the DuckDB oracle can replicate
# the whole pipeline — training included — bit for bit:
#   * vectors quantized to int64 (QUANT), centroids stay int64;
#   * init: the nlist lowest-id vectors (deterministic, no RNG);
#   * Lloyd update: element-wise floor-divide(sum, count) — exact integers in
#     numpy (floor_divide) and SQL ((s - posmod(s,cnt)) / cnt);
#   * assignment: argmin of int64 squared distance, ties -> lowest list id;
#   * empty cluster: keeps its previous centroid.
# Reference parity: the coarse-partition-then-refine shape mirrors SIS's
# tree-index lookup (C/index/tree/QuadTree*.java) applied to vector space.

def train_ivf(
    vectors: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> np.ndarray:
    """Deterministic k-means coarse quantizer; returns int64 (nlist, dim):
    ``train_pq`` with one subspace of nlist codes (lowest-id init, exact
    floor-divided Lloyd update; only nlist*dim scalars reach the driver
    per iteration)."""
    return train_pq(vectors, 1, nlist, id_col, vec_col, iters)[0]


def ivf_topk_df(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF top-k by quantized cosine over a query DATAFRAME.
    Output (query_id, rank, cand_id, qcos).

    Candidates are keyed by their nearest centroid and every query probes
    its nprobe nearest lists, both in map-only Arrow stages, so a query
    table of any size stays distributed; each list meets its probes in the
    ``_topk`` cogroup (no all-pairs join).  nprobe == nlist is the exact
    brute answer (asserted in pytest).  ``exclude_self=True`` drops the
    candidate whose id equals the query id — only for queries drawn from
    the collection itself."""
    cent = train_ivf(vectors, nlist, id_col, vec_col, iters)
    cands = _lists(_cands(vectors, id_col, vec_col), cent)
    probes = _lists(_queries(queries, query_id_col or id_col,
                             query_vec_col or vec_col), cent, nprobe)
    return _topk(cands, probes, k, _qcos,
                 differ=("cand_id", "query_id") if exclude_self else None)


def ivf_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """List-of-ids convenience wrapper over ivf_topk_df (few-query serving
    probes drawn from the collection itself, so each query's own row is
    excluded); identical results."""
    queries = vectors.filter(F.col(id_col).isin([int(i) for i in query_ids]))
    return ivf_topk_df(
        vectors, queries, k, nlist, nprobe, id_col, vec_col, iters,
        exclude_self=True)


def ivf_topk_sql(
    n_queries: int,
    k: int,
    dim: int,
    nlist: int = 16,
    nprobe: int = 4,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle replicating ivf_topk bit-for-bit, TRAINING INCLUDED
    (one Lloyd iteration): same lowest-id init, same int64 floor-divided
    mean update (posmod identity keeps the division exact), same argmin
    tie-break, same probe selection, same quantized-cosine ranking."""
    return f"""
WITH qv AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
n AS (
  SELECT id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn FROM qv),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, v AS cv
  FROM (SELECT id, v FROM qv ORDER BY id LIMIT {nlist})),
d1 AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c0 c),
a1 AS (
  SELECT id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d1) t WHERE rn = 1),
pos AS (SELECT CAST(range AS INT) AS p FROM range(1, {dim} + 1)),
sums AS (
  SELECT a1.list_id, pos.p,
         CAST(sum(q.v[pos.p]) AS BIGINT) AS s, COUNT(*) AS cnt
  FROM a1 JOIN qv q ON q.id = a1.id CROSS JOIN pos
  GROUP BY 1, 2),
c1upd AS (
  SELECT list_id AS j,
         list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY p) AS cv
  FROM sums GROUP BY 1),
c1 AS (
  SELECT c0.j, COALESCE(u.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN c1upd u ON u.j = c0.j),
d2 AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c1 c),
a2 AS (
  SELECT id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d2) t WHERE rn = 1),
probes AS (
  SELECT id AS query_id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d2 WHERE id < {n_queries}) t WHERE rn <= {nprobe}),
scored AS (
  SELECT p.query_id, a2.id AS cand_id,
         CAST(CAST(list_sum(list_transform(list_zip(c.v, q.v), z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
           / sqrt(CAST(c.nn AS DOUBLE) * CAST(q.nn AS DOUBLE)) AS qcos
  FROM probes p
  JOIN a2 ON a2.list_id = p.list_id AND a2.id <> p.query_id
  JOIN n c ON c.id = a2.id
  JOIN n q ON q.id = p.query_id)
SELECT query_id, rank, cand_id FROM (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cand_id ASC) AS rank
  FROM scored) t
WHERE rank <= {k} ORDER BY query_id, rank"""


# ---------------------------------------------------------------- product quantization (IVF-PQ family)
# Reference parity: compressed-domain search is our scale extension of the
# same coarse-partition-then-refine shape as ivf_topk (SIS tree index,
# C/index/tree/QuadTree*.java); the PQ construction follows the published
# ADC method (Jegou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", IEEE TPAMI 2011 — public knowledge).

def train_pq(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> np.ndarray:
    """Deterministic per-subspace k-means codebooks, int64 (m, ksub, subdim).

    Exact-integer recipe: init = subvectors of the ksub lowest-id vectors,
    one distributed assignment pass for ALL subspaces at once (``_codes``),
    centroid update = exact floor-divided means via one posexplode/groupBy
    of m*ksub*subdim cells.  Empty codes keep their previous centroid."""
    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    )
    return train_pq_quantized(q, m, ksub, iters)


def train_pq_quantized(q: DataFrame, m: int, ksub: int, iters: int = 1) -> np.ndarray:
    """train_pq over a pre-quantized (id, qv array<long>) frame — the entry
    point IVF-PQ uses to train on residuals."""
    init = q.orderBy("id").limit(ksub).collect()
    arr = np.array([r["qv"] for r in init], dtype=np.int64)
    dim = arr.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    books = arr.reshape(len(arr), m, sd).transpose(1, 0, 2).copy()  # (m, ksub, sd)
    for _ in range(iters):
        sums = (
            _codes(q.select("id", "qv"), books)
            .select("codes", F.posexplode("qv").alias("pos", "val"))
            .withColumn("sub", F.expr(f"CAST(pos DIV {sd} AS INT)"))
            .withColumn("code", F.expr(f"codes[CAST(pos DIV {sd} AS INT)]"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        new = books.copy()
        for r in sums:
            new[r["sub"], r["code"], r["pos"] % sd] = np.floor_divide(
                int(r["s"]), int(r["cnt"])
            )
        books = new
    return books


def pq_topk_df(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """PQ-compressed top-k by asymmetric distance (ADC) over a query
    DATAFRAME, all-int64 exact.  Output (query_id, rank, cand_id, adist);
    adist = sum over subspaces of |q_sub - codeword(cand)|^2 — ranking
    ascending, ties -> lowest cand_id.

    The collection is scanned as m codes per row over the exhaustive
    lists: each ``_topk`` group builds the ADC tables of its probe rows
    and scores a candidate with m table lookups per query instead of dim
    multiply-adds.  ``exclude_self`` as in ivf_topk_df."""
    books = train_pq(vectors, m, ksub, id_col, vec_col, iters)
    cands = _codes(_cands(vectors, id_col, vec_col), books).select(
        "cand_id", F.col("codes").alias("qv"))
    cands, probes = _all_lists(cands, _queries(
        queries, query_id_col or id_col, query_vec_col or vec_col))
    return _topk(cands, probes, k, _adc(books), "adist long", desc=False,
                 differ=("cand_id", "query_id") if exclude_self else None)


def pq_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """List-of-ids convenience wrapper over pq_topk_df (few-query serving
    probes drawn from the collection itself, so each query's own row is
    excluded); identical results."""
    queries = vectors.filter(F.col(id_col).isin([int(i) for i in query_ids]))
    return pq_topk_df(vectors, queries, k, m, ksub, id_col, vec_col, iters,
                      exclude_self=True)


def _pq_train_blocks(dim, m, ksub, rel="embeddings",
                     id_col="vec_id", vec_col="embedding"):
    """Shared CTE chain replaying train_pq per subspace: qv/pos + per-s
    (init c0_s, distances d1_s, assign a1_s, floor-div means c1_s,
    re-distances d2_s, final assign a2_s).  Used by pq_topk_sql and
    pq_recon_error_sql so the training text can never drift."""
    sd = dim // m
    parts = [f"""qv AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
pos AS (SELECT CAST(range AS INT) AS p FROM range(1, {sd} + 1))"""]
    for s in range(m):
        a, b = s * sd + 1, (s + 1) * sd  # DuckDB 1-based inclusive slice
        parts.append(f"""c0_{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, v[{a}:{b}] AS cv
  FROM (SELECT id, v FROM qv ORDER BY id LIMIT {ksub})),
d1_{s} AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v[{a}:{b}], c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c0_{s} c),
a1_{s} AS (
  SELECT id, j AS code FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d1_{s}) t WHERE rn = 1),
sums_{s} AS (
  SELECT a.code, pos.p, CAST(sum(q.v[{a - 1} + pos.p]) AS BIGINT) AS s, COUNT(*) AS cnt
  FROM a1_{s} a JOIN qv q ON q.id = a.id CROSS JOIN pos
  GROUP BY 1, 2),
c1u_{s} AS (
  SELECT code AS j, list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY p) AS cv
  FROM sums_{s} GROUP BY 1),
c1_{s} AS (
  SELECT c0.j, COALESCE(u.cv, c0.cv) AS cv
  FROM c0_{s} c0 LEFT JOIN c1u_{s} u ON u.j = c0.j),
d2_{s} AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v[{a}:{b}], c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c1_{s} c),
a2_{s} AS (
  SELECT id, j AS code FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d2_{s}) t WHERE rn = 1)""")
    return parts


def pq_topk_sql(
    n_queries: int,
    k: int,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle replicating pq_topk bit-for-bit, TRAINING INCLUDED:
    per subspace the same lowest-id init, one Lloyd iteration with exact
    floor-divided integer means (posmod identity), first-min code ties, and
    the identical int64 ADC sum.  One CTE chain per subspace (1-based
    DuckDB list slices v[a:b])."""
    parts = _pq_train_blocks(dim, m, ksub, rel, id_col, vec_col)
    enc_joins = "\n  ".join(
        f"JOIN a2_{s} e{s} ON e{s}.id = c.id "
        f"JOIN d2_{s} t{s} ON t{s}.id = q.query_id AND t{s}.j = e{s}.code"
        for s in range(m)
    )
    adist = " + ".join(f"t{s}.dist" for s in range(m))
    parts.append(f"""scored AS (
  SELECT q.query_id, c.id AS cand_id, ({adist}) AS adist
  FROM (SELECT id AS query_id FROM qv WHERE id < {n_queries}) q
  CROSS JOIN (SELECT id FROM qv) c
  {enc_joins}
  WHERE c.id <> q.query_id)""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT query_id, rank, cand_id, adist FROM (
  SELECT query_id, cand_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rank
  FROM scored) t
WHERE rank <= {k} ORDER BY query_id, rank"""


def ivf_pq_topk_df(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ over a query DATAFRAME: coarse posting lists (train_ivf) +
    product-quantized RESIDUALS (v - centroid[list]) — the standard
    billion-scale ANN layout (the inverted file limits the scan to
    ~nprobe/nlist of the collection; residual PQ makes what IS scanned m
    code lookups per row).  Each ``_topk`` group builds the ADC tables of
    its probe rows from the query residuals against the group's centroid.
    All arithmetic int64-exact, ties -> lowest id; nprobe == nlist and
    ksub >= n degrades to the exact brute answer (asserted in pytest).
    Output (query_id, rank, cand_id, adist); ``exclude_self`` as in
    ivf_topk_df."""
    cent = train_ivf(vectors, nlist, id_col, vec_col, iters)
    lists = _lists(_cands(vectors, id_col, vec_col), cent)

    def resid(pdf, M, C):
        return pdf.assign(qv=list(M - C[pdf["list_id"].to_numpy()]))

    # eager localCheckpoint: the residuals feed the training passes and the
    # encoding, and checkpoint blocks are not pinned in the CacheManager
    rq = _map_vecs(lists, "qv", cent, resid, lists.schema).localCheckpoint()
    books = train_pq_quantized(rq.select(F.col("cand_id").alias("id"), "qv"),
                               m, ksub, iters)
    cands = _codes(rq, books).select("list_id", "cand_id", F.col("codes").alias("qv"))
    probes = _lists(_queries(queries, query_id_col or id_col,
                             query_vec_col or vec_col), cent, nprobe)
    return _topk(cands, probes, k, _adc(books, cent), "adist long", desc=False,
                 differ=("cand_id", "query_id") if exclude_self else None)


def ivf_pq_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """List-of-ids convenience wrapper over ivf_pq_topk_df (few-query
    serving probes drawn from the collection itself, so each query's own
    row is excluded); identical results."""
    queries = vectors.filter(F.col(id_col).isin([int(i) for i in query_ids]))
    return ivf_pq_topk_df(
        vectors, queries, k, nlist, nprobe, m, ksub, id_col, vec_col, iters,
        exclude_self=True)


def ivf_pq_sql(
    n_queries: int,
    k: int,
    dim: int,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle replicating ivf_pq_topk bit-for-bit, BOTH trainings
    included: the coarse k-means (ivf_topk_sql's CTE chain verbatim),
    the residual computation v - centroid[assigned list], the
    per-subspace PQ k-means over the RESIDUALS (pq_topk_sql's chain
    re-rooted at the residual table), the nprobe probe selection, the
    per-(query, probed-list) ADC tables and the final int64 ADC ranking."""
    sd = dim // m
    parts = [f"""qv AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, v AS cv
  FROM (SELECT id, v FROM qv ORDER BY id LIMIT {nlist})),
d1 AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c0 c),
a1 AS (
  SELECT id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d1) t WHERE rn = 1),
cpos AS (SELECT CAST(range AS INT) AS p FROM range(1, {dim} + 1)),
csums AS (
  SELECT a1.list_id, cpos.p,
         CAST(sum(q.v[cpos.p]) AS BIGINT) AS s, COUNT(*) AS cnt
  FROM a1 JOIN qv q ON q.id = a1.id CROSS JOIN cpos
  GROUP BY 1, 2),
c1upd AS (
  SELECT list_id AS j,
         list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY p) AS cv
  FROM csums GROUP BY 1),
c1 AS (
  SELECT c0.j, COALESCE(u.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN c1upd u ON u.j = c0.j),
d2 AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN c1 c),
a2 AS (
  SELECT id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d2) t WHERE rn = 1),
rv AS (
  SELECT q.id, a.list_id,
         list_transform(list_zip(q.v, c.cv), z -> z[1] - z[2]) AS v
  FROM qv q JOIN a2 a ON a.id = q.id JOIN c1 c ON c.j = a.list_id),
spos AS (SELECT CAST(range AS INT) AS p FROM range(1, {sd} + 1))"""]
    for s in range(m):
        a, b = s * sd + 1, (s + 1) * sd
        parts.append(f"""p0_{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, v[{a}:{b}] AS cv
  FROM (SELECT id, v FROM rv ORDER BY id LIMIT {ksub})),
pd1_{s} AS (
  SELECT r.id, c.j,
         CAST(list_sum(list_transform(list_zip(r.v[{a}:{b}], c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM rv r CROSS JOIN p0_{s} c),
pa1_{s} AS (
  SELECT id, j AS code FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM pd1_{s}) t WHERE rn = 1),
psums_{s} AS (
  SELECT a.code, spos.p, CAST(sum(r.v[{a - 1} + spos.p]) AS BIGINT) AS s, COUNT(*) AS cnt
  FROM pa1_{s} a JOIN rv r ON r.id = a.id CROSS JOIN spos
  GROUP BY 1, 2),
pc1u_{s} AS (
  SELECT code AS j, list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY p) AS cv
  FROM psums_{s} GROUP BY 1),
pc1_{s} AS (
  SELECT p0.j, COALESCE(u.cv, p0.cv) AS cv
  FROM p0_{s} p0 LEFT JOIN pc1u_{s} u ON u.j = p0.j),
pd2_{s} AS (
  SELECT r.id, c.j,
         CAST(list_sum(list_transform(list_zip(r.v[{a}:{b}], c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM rv r CROSS JOIN pc1_{s} c),
pa2_{s} AS (
  SELECT id, j AS code FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM pd2_{s}) t WHERE rn = 1),
td_{s} AS (
  SELECT qr.query_id, qr.list_id, b.j,
         CAST(list_sum(list_transform(list_zip(qr.v[{a}:{b}], b.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qr CROSS JOIN pc1_{s} b)""")
    probes_qr = f"""probes AS (
  SELECT id AS query_id, j AS list_id FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d2 WHERE id < {n_queries}) t WHERE rn <= {nprobe}),
qr AS (
  SELECT p.query_id, p.list_id,
         list_transform(list_zip(q.v, c.cv), z -> z[1] - z[2]) AS v
  FROM probes p JOIN qv q ON q.id = p.query_id JOIN c1 c ON c.j = p.list_id)"""
    # probes/qr must precede the td_{s} CTEs that reference qr
    parts.insert(1, probes_qr)
    enc_joins = "\n  ".join(
        f"JOIN pa2_{s} e{s} ON e{s}.id = r.id "
        f"JOIN td_{s} t{s} ON t{s}.query_id = p.query_id AND t{s}.list_id = p.list_id AND t{s}.j = e{s}.code"
        for s in range(m)
    )
    adist = " + ".join(f"t{s}.dist" for s in range(m))
    parts.append(f"""scored AS (
  SELECT p.query_id, r.id AS cand_id, ({adist}) AS adist
  FROM probes p
  JOIN rv r ON r.list_id = p.list_id AND r.id <> p.query_id
  {enc_joins})""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT query_id, rank, cand_id, adist FROM (
  SELECT query_id, cand_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rank
  FROM scored) t
WHERE rank <= {k} ORDER BY query_id, rank"""


def pq_recon_error(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Per-vector PQ reconstruction error -> (id, err): the exact int64
    squared distance between each quantized vector and its product-code
    reconstruction (sum over subspaces of the min distance to the
    trained codebook).  The compression-quality audit run before
    shipping a PQ index — rising recon error is the re-train signal.

    Shape: training is ``train_pq``; the scan is one Arrow-batched pass of
    the distance kernel (n*m*ksub integer ops per batch), no shuffle."""
    books = train_pq(vectors, m, ksub, id_col, vec_col, iters)
    m_, _, sd = books.shape

    def body(pdf, M, B):
        err = _sqdist(M.reshape(len(M), m_, sd), B).min(axis=2).sum(axis=1)
        return pd.DataFrame({"id": pdf["id"].to_numpy(), "err": err})

    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    )
    return _map_vecs(q, "qv", books, body, "id long, err long")


def pq_recon_error_sql(
    dim: int,
    m: int = 8,
    ksub: int = 16,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of ``pq_recon_error`` — the shared training chain
    (_pq_train_blocks), then err = sum over subspaces of the distance at
    each vector's own final code."""
    parts = _pq_train_blocks(dim, m, ksub, rel, id_col, vec_col)
    joins = "\n  ".join(
        f"JOIN a2_{s} e{s} ON e{s}.id = q.id "
        f"JOIN d2_{s} t{s} ON t{s}.id = q.id AND t{s}.j = e{s}.code"
        for s in range(m)
    )
    err = " + ".join(f"t{s}.dist" for s in range(m))
    parts.append(f"""recon AS (
  SELECT q.id, ({err}) AS err
  FROM qv q
  {joins})""")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT id, CAST(err AS BIGINT) AS err FROM recon")


def hard_negative_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining (the contrastive-training data op): for each
    query, the exact top-k nearest candidates whose LABEL DIFFERS from
    the query's — the near-misses a contrastive loss learns most from.
    ``brute_topk``'s exhaustive plan with the label predicate applied
    inside each group before its top-k, so k never shrinks.  Output
    (query_id, rank, cand_id, qcos)."""
    lbl = F.col(label_col).alias("lbl")
    queries = vectors.filter(F.col(id_col).isin(query_ids))
    cands, probes = _all_lists(_cands(vectors, id_col, vec_col, lbl),
                               _queries(queries, id_col, vec_col, lbl))
    return _topk(cands, probes, k, _qcos, differ=("lbl", "lbl"))


def mmr_select(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    pool: int = 16,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified selection (Carbonell &
    Goldstein 1998, public literature) under an exact integer spec: per
    query, take the ``pool`` candidates with highest UNNORMALIZED
    quantized dot product rel = <q, c> (ties cand_id asc), then greedily
    pick k: first the max-rel candidate, then repeatedly
    argmax(lam_num * rel - (lam_den - lam_num) * max_{s in S} <c, s>),
    ties cand_id asc.  All scores are int64 (|dot| <= 64 * (3e7)^2 *
    lam < 2^62) — both engines replay the greedy bit-exact.

    Shape: the pool is ``brute_topk``'s exhaustive plan scored by the
    integer dot, one equi-join back for candidate vectors, then a
    per-query greedy over <= pool rows (tiny) in applyInPandas.  Output
    (query_id, pos, cand_id, rel)."""
    queries = vectors.filter(F.col(id_col).isin(query_ids))
    cand = _cands(vectors, id_col, vec_col)
    cands, probes = _all_lists(cand, _queries(queries, id_col, vec_col))
    top = _topk(cands, probes, int(pool), _qdot, "rel long",
                differ=("cand_id", "query_id"))
    withvec = top.join(
        cand.withColumnRenamed("qv", "cv"), ["cand_id"]
    ).select("query_id", "cand_id", "rel", "cv")
    ln, ld = int(lam_num), int(lam_den) - int(lam_num)
    kk = int(k)

    def greedy(key, pdf):
        pdf = pdf.sort_values(["rel", "cand_id"],
                              ascending=[False, True]).reset_index(drop=True)
        V = np.array(list(pdf["cv"]), dtype=np.int64)
        rel = pdf["rel"].to_numpy().astype(np.int64)
        ids = pdf["cand_id"].to_numpy().astype(np.int64)
        sims = V @ V.T
        chosen = [0]                      # row 0 = max rel, min id tie
        free = np.arange(len(pdf)) > 0
        msim = sims[:, 0].copy()          # max sim to the chosen set
        while free.any() and len(chosen) < kk:
            score = ln * rel - ld * msim
            rest = np.flatnonzero(free)
            i = rest[np.lexsort((ids[rest], -score[rest]))[0]]
            chosen.append(i)
            free[i] = False
            msim = np.maximum(msim, sims[:, i])
        return pd.DataFrame({
            "query_id": np.full(len(chosen), key[0], dtype=np.int64),
            "pos": np.arange(1, len(chosen) + 1, dtype=np.int64),
            "cand_id": ids[chosen],
            "rel": rel[chosen],
        })

    return withvec.groupBy("query_id").applyInPandas(
        greedy, schema="query_id long, pos long, cand_id long, rel long")
