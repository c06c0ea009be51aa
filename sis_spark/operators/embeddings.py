"""Distributed second-moment statistics and PCA over an embedding column.

The dimensionality-reduction half of an embedding pipeline (whitening /
compaction before near-dup detection or ANN indexing): one Arrow-batched
pass accumulates exact integer first/second moments of the 1e7-quantized
vectors (ann.py's QUANT convention — floor is identical in numpy and SQL,
and integer sums are order-independent, so the result is bit-stable under
any partitioning); the tiny d x d eigenproblem is solved once driver-side
and the projection runs as a broadcast matmul per Arrow batch.

Scale shape: moments = map-side partials (one emitted row group per Arrow
batch, d*(d+3)/2 + 1 rows) + one keyed aggregation — the classic
tree-aggregate second-moment pattern; nothing is ever collected except the
d x d matrix itself.  Overflow bound: |q| <= QUANT, so a pair-product sum
stays inside int64 up to ~9e18 / 1e14 = 9e4 rows per POPULATION at full
magnitude; real unit-norm embeddings (|x| ~ 0.1) give ~1e12 rows of
headroom — beyond that, raise the aggregation tree (partial sums per
partition stay exact; only the final combine needs widening).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import QUANT, quantize_np

MOMENT_SCHEMA = "i int, j int, v long"


def _moment_partials(vec_col: str):
    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = quantize_np(np.stack(pdf[vec_col].to_numpy()))
            d = q.shape[1]
            s = q.sum(axis=0)
            p = q.T @ q  # exact: int64 matmul
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "i": np.concatenate(([-1], np.arange(d), iu)).astype(np.int32),
                "j": np.concatenate(([-1], np.full(d, -1), ju)).astype(np.int32),
                "v": np.concatenate(([len(pdf)], s, p[iu, ju])),
            })

    return fn


def _cov_expr() -> str:
    """Shared Spark/DuckDB expression: covariance of quantized dims i, j from
    exact integer sums — identical association order both engines."""
    return (
        "(CAST(sp AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE) "
        "/ CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)"
    )


def embedding_covariance(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact covariance statistics of the quantized embedding dims:
    (i, j, n, si, sj, sp, cov) for every i <= j pair.

    One mapInPandas partial pass (a few thousand tiny rows per Arrow batch)
    -> one groupBy(i, j) sum -> broadcast self-join to attach the linear
    sums.  All integers exact; the derived double is shared expression
    text."""
    parts = emb.select(vec_col).mapInPandas(
        _moment_partials(vec_col), schema=MOMENT_SCHEMA
    )
    tot = parts.groupBy("i", "j").agg(F.sum("v").alias("v"))
    n = tot.filter("i = -1 AND j = -1").select(F.col("v").alias("n"))
    lin = tot.filter("i >= 0 AND j = -1").select(
        F.col("i").alias("d"), F.col("v").alias("s")
    )
    pairs = tot.filter("j >= 0").select("i", "j", F.col("v").alias("sp"))
    out = (
        pairs.join(F.broadcast(lin).withColumnRenamed("d", "i")
                   .withColumnRenamed("s", "si"), "i")
        .join(F.broadcast(lin).withColumnRenamed("d", "j")
              .withColumnRenamed("s", "sj"), "j")
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "i", "j", "n", "si", "sj", "sp", F.expr(_cov_expr()).alias("cov")
    )


def embedding_covariance_sql(rel: str = "embeddings", vec_col: str = "embedding") -> str:
    """DuckDB twin: lateral-index pair join over the same quantized integers
    (0-based dims to match numpy; DuckDB arrays are 1-based)."""
    return f"""
WITH e AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(floor(CAST({vec_col}[t.i + 1] AS DOUBLE) * {QUANT:.1f}) AS BIGINT) AS q
  FROM {rel}, UNNEST(range(0, len({vec_col}))) AS t(i)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {rel}),
lin AS (SELECT i AS d, CAST(sum(q) AS BIGINT) AS s FROM e GROUP BY i),
p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sp
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i)
SELECT p.i, p.j, n.n, la.s AS si, lb.s AS sj, p.sp,
       {_cov_expr()} AS cov
FROM p JOIN lin la ON la.d = p.i JOIN lin lb ON lb.d = p.j CROSS JOIN n"""


def fit_pca(emb: DataFrame, k: int, vec_col: str = "embedding"):
    """Fit a k-component PCA from the distributed covariance: the d x d
    matrix is the ONLY thing brought to the driver (the classic reduced-
    problem pattern); eigen-decomposition is numpy on d x d.

    Returns (components[k, d], eigenvalues[k], mean[d]) in the ORIGINAL
    float scale.  Components are sign-canonicalized (largest-|coef| entry
    positive) so the fit is deterministic."""
    rows = embedding_covariance(emb, vec_col).collect()
    d = max(r["j"] for r in rows) + 1
    cov = np.zeros((d, d))
    mean_q = np.zeros(d)
    n = rows[0]["n"]
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
        mean_q[r["i"]] = r["si"] / n
    w, v = np.linalg.eigh(cov)           # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T                 # (k, d)
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return comps, w[order] / (QUANT * QUANT), mean_q / QUANT


def pca_project(emb: DataFrame, components: np.ndarray, mean: np.ndarray,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Project embeddings onto fitted components: (id, proj array<double>).
    Broadcast matmul per Arrow batch — embarrassingly parallel."""
    comps = np.ascontiguousarray(components, dtype=np.float64)
    mu = np.ascontiguousarray(mean, dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) - mu
            proj = x @ comps.T
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "proj": list(proj),
            })

    return emb.select(id_col, vec_col).mapInPandas(
        fn, schema=f"{id_col} long, proj array<double>"
    )


# ---------------------------------------------------------------- k-means clustering
# Distributed Lloyd over the 1e7-quantized vectors — the curation clustering
# step (cluster-then-cap corpus balancing, SemDeDup-style semantic grouping).
# Reuses ann.train_ivf's exact-integer construction (lowest-id init,
# floor-divided centroid means, first-min argmin ties) so the DuckDB oracle
# can replay TRAINING ITSELF for any iteration count, not just the result.


def kmeans_assign(
    vectors: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, csize) after ``iters`` full Lloyd iterations.

    Scale shape: per iteration one mapInPandas assignment pass (broadcast
    k x dim centroids, numpy argmin per Arrow batch) + one k*dim-row
    aggregation for the centroid update — only k*dim scalars ever reach the
    driver, independent of collection size.  The final assignment adds one
    more broadcast pass; csize is a window count over k keys."""
    from pyspark.sql import Window

    from .ann import _lists, quantize_col, train_ivf

    cent = train_ivf(vectors, k, id_col, vec_col, iters=iters)
    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    )
    assigned = _lists(q, cent).select(
        F.col("id").alias(id_col), F.col("list_id").alias("cluster")
    )
    w = Window.partitionBy("cluster")
    return assigned.withColumn("csize", F.count(F.lit(1)).over(w))


def kmeans_assign_select(
    k: int,
    dim: int,
    iters: int = 2,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of kmeans_assign INCLUDING training: c0 = lowest-id
    init, then per iteration the d_i/a_i (exact int64 distance + argmin,
    ties -> lowest cluster) and sums/update (floor-divided means via the
    posmod identity, empty clusters keep their centroid) blocks, then the
    final assignment against the last centroids."""
    blocks = [
        f"""qv AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel})""",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j, v AS cv
  FROM (SELECT id, v FROM qv ORDER BY id LIMIT {k}))""",
        f"""pos AS (SELECT CAST(range AS INT) AS p FROM range(1, {dim} + 1))""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        blocks.append(f"""d{i} AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN {prev} c)""")
        blocks.append(f"""a{i} AS (
  SELECT id, j AS cluster FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d{i}) t WHERE rn = 1)""")
        blocks.append(f"""sums{i} AS (
  SELECT a.cluster, pos.p,
         CAST(sum(q.v[pos.p]) AS BIGINT) AS s, COUNT(*) AS cnt
  FROM a{i} a JOIN qv q ON q.id = a.id CROSS JOIN pos
  GROUP BY 1, 2)""")
        blocks.append(f"""c{i}upd AS (
  SELECT cluster AS j,
         list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY p) AS cv
  FROM sums{i} GROUP BY 1)""")
        blocks.append(f"""c{i} AS (
  SELECT {prev}.j, COALESCE(u.cv, {prev}.cv) AS cv
  FROM {prev} LEFT JOIN c{i}upd u ON u.j = {prev}.j)""")
        prev = f"c{i}"
    fin = iters + 1
    blocks.append(f"""d{fin} AS (
  SELECT q.id, c.j,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
  FROM qv q CROSS JOIN {prev} c)""")
    blocks.append(f"""afin AS (
  SELECT id, j AS cluster FROM (
    SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
    FROM d{fin}) t WHERE rn = 1)""")
    body = ",\n".join(blocks)
    return f"""WITH {body}
SELECT id AS {id_col}, CAST(cluster AS INTEGER) AS cluster,
       CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS csize
FROM afin"""


def cluster_balanced(
    vectors: DataFrame,
    k: int,
    cap: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced corpus selection: k-means the embeddings, keep at
    most ``cap`` rows per cluster by deterministic md5 rank — the standard
    over-represented-mode trim before pretraining.  Composition of
    kmeans_assign with sampling.group_cap (one extra window shuffle)."""
    from .sampling import group_cap

    assigned = kmeans_assign(vectors, k, iters, id_col, vec_col).select(
        id_col, "cluster"
    )
    return group_cap(assigned, "cluster", cap, id_col)


def sparse_matmul(
    a: DataFrame,
    b: DataFrame,
) -> DataFrame:
    """Distributed sparse matrix multiply C = A @ B over COO triples ->
    (i, j, v).  ``a``: (i, k, v); ``b``: (k, j, w); integer values stay
    exact.

    This IS the canonical shuffle shape: one equi-join on the contraction
    index k (the only unavoidable shuffle) followed by a map-side-combined
    (i, j) aggregation.  Skewed k rows (a dense column meeting a dense
    row) are the classic hot key — AQE skew-join handles moderate skew,
    and the caller can pre-split a pathological k by salting both sides
    with the same factor (the spatial_join_salted pattern)."""
    prod = a.join(b, "k").select(
        "i", "j", (F.col("v") * F.col("w")).alias("p")
    )
    return prod.groupBy("i", "j").agg(F.sum("p").alias("v"))


def sparse_matmul_sql(a_select: str, b_select: str) -> str:
    """DuckDB replay of ``sparse_matmul``."""
    return f"""
WITH a AS ({a_select}), b AS ({b_select})
SELECT a.i, b.j, CAST(sum(a.v * b.w) AS BIGINT) AS v
FROM a JOIN b ON b.k = a.k
GROUP BY 1, 2"""


def prefix_norms(
    emb: DataFrame,
    dims: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> DataFrame:
    """Matryoshka truncation quality -> (id, ss_<d>... ) for each prefix
    dimension d in ``dims``: the exact int64 sum of squared quantized
    components over the first d positions — truncation keeps
    ss_d / ss_full of the (quantized) energy, a pure rational.  One
    posexplode + one conditional aggregation."""
    rows = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "e"),
    ).select(
        "id", "pos",
        F.floor(F.col("e") * float(scale) + 0.12345678987)
        .cast("long").alias("q"),
    )
    aggs = [
        F.sum(
            F.when(F.col("pos") < int(d), F.col("q") * F.col("q")).otherwise(0)
        ).alias(f"ss_{d}")
        for d in dims
    ]
    return rows.groupBy("id").agg(*aggs)


def prefix_norms_sql(
    base_select: str,
    dims: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> str:
    """DuckDB replay of ``prefix_norms`` (list index 1-based: position
    i-1 corresponds to Spark's 0-based pos).  The float32 element is
    CAST to DOUBLE before the scale multiply — DuckDB otherwise runs
    FLOAT * literal in float32 and flips quantization boundaries (Spark
    promotes to double)."""
    aggs = ", ".join(
        f"CAST(sum(CASE WHEN i - 1 < {int(d)} THEN q * q ELSE 0 END)"
        f" AS BIGINT) AS ss_{d}"
        for d in dims
    )
    return f"""
WITH b AS (SELECT {id_col} AS id, {vec_col} AS v FROM ({base_select}) s),
e AS (
  SELECT id, g.i AS i,
         CAST(floor(CAST(v[g.i] AS DOUBLE) * {float(scale)}
                    + 0.12345678987) AS BIGINT) AS q
  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g)
SELECT id, {aggs} FROM e GROUP BY id"""


def class_separation(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10**4,
) -> DataFrame:
    """Between-class centroid distances -> (a, b, na, nb, d2_q): for
    every label pair, the squared euclidean distance between class
    centroids of the quantized embeddings (q^2 units), each
    per-dimension term ((sa*nb - sb*na)/(na*nb))^2 evaluated in doubles
    from EXACT int64 sums and floor-quantized BEFORE the
    order-independent per-pair sum — the class-separation audit before
    training.

    Scale shape: one posexplode + one (label, dim) aggregation (the
    embedding_covariance shape); the pair join runs on |labels| x dims
    rows only."""
    rows = emb.select(
        F.col(label_col).alias("lb"),
        F.posexplode(F.col(vec_col)).alias("pos", "e"),
    ).select(
        "lb", "pos",
        F.floor(F.col("e") * float(scale) + 0.12345678987)
        .cast("long").alias("q"),
    )
    cent = rows.groupBy("lb", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    l = cent.select(
        F.col("lb").alias("a"), "pos",
        F.col("n").alias("na"), F.col("s").alias("sa"),
    )
    r = cent.select(
        F.col("lb").alias("b"), F.col("pos").alias("pos2"),
        F.col("n").alias("nb"), F.col("s").alias("sb"),
    )
    dd = ("CAST(sa * nb - sb * na AS DOUBLE) / CAST(na AS DOUBLE) / CAST(nb AS DOUBLE)")
    term = (
        f"CAST(floor(({dd}) * ({dd}) + 0.12345678987) AS BIGINT)"
    )
    j = l.join(
        r, (F.col("pos") == F.col("pos2")) & (F.col("a") < F.col("b"))
    ).select("a", "b", "na", "nb", F.expr(term).alias("t"))
    return j.groupBy("a", "b", "na", "nb").agg(F.sum("t").alias("d2_q"))


def class_separation_sql(
    base_select: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10**4,
) -> str:
    """DuckDB replay of ``class_separation`` (float32 CAST to DOUBLE
    before the scale multiply — the prefix_norms lesson)."""
    dd = ("CAST(l.s * r.n - r.s * l.n AS DOUBLE) / CAST(l.n AS DOUBLE) / CAST(r.n AS DOUBLE)")
    term = f"CAST(floor(({dd}) * ({dd}) + 0.12345678987) AS BIGINT)"
    return f"""
WITH b AS (SELECT {label_col} AS lb, {vec_col} AS v FROM ({base_select}) s),
e AS (
  SELECT lb, g.i AS pos,
         CAST(floor(CAST(v[g.i] AS DOUBLE) * {float(scale)}
                    + 0.12345678987) AS BIGINT) AS q
  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g),
cent AS (
  SELECT lb, pos, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s
  FROM e GROUP BY 1, 2)
SELECT l.lb AS a, r.lb AS b, l.n AS na, r.n AS nb,
       CAST(sum({term}) AS BIGINT) AS d2_q
FROM cent l JOIN cent r ON r.pos = l.pos AND l.lb < r.lb
GROUP BY 1, 2, 3, 4"""


def vec_topk_dims(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> DataFrame:
    """Per-vector top-k dimensions by |quantized value| ->
    (id, rank, pos, q): the sparsification / saliency audit — which
    coordinates carry each embedding.  Deterministic ties
    (|q| desc, pos asc); one posexplode + one rank window."""
    from pyspark.sql import Window

    rows = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "e"),
    ).select(
        "id", "pos",
        F.floor(F.col("e") * float(scale) + 0.12345678987)
        .cast("long").alias("q"),
    )
    w = Window.partitionBy("id").orderBy(
        F.abs(F.col("q")).desc(), F.col("pos").asc()
    )
    return (
        rows.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("id", "rank", "pos", "q")
    )


def vec_topk_dims_sql(
    base_select: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> str:
    """DuckDB replay of ``vec_topk_dims`` (float32 CAST to DOUBLE before
    the scale multiply — the prefix_norms lesson; positions 0-based)."""
    return f"""
WITH b AS (SELECT {id_col} AS id, {vec_col} AS v FROM ({base_select}) s),
e AS (
  SELECT id, g.i - 1 AS pos,
         CAST(floor(CAST(v[g.i] AS DOUBLE) * {float(scale)}
                    + 0.12345678987) AS BIGINT) AS q
  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY id
       ORDER BY abs(q) DESC, pos ASC) AS BIGINT) AS rank
  FROM e)
SELECT id, rank, pos, q FROM r WHERE rank <= {int(k)}"""


def _rp_sign_sql(pos: str, j: str) -> str:
    """Shared Spark-SQL/DuckDB text: deterministic +-1 sign for input
    position ``pos`` and output dim ``j`` via integer multiplicative
    mixing (Knuth constant) mod a prime — full-rank w.h.p., no md5."""
    return (f"(1 - 2 * CAST((((({pos}) + 1) * (({j}) + 3) * 2654435761) "
            f"% 97) % 2 AS BIGINT))")


def random_projection(
    emb: DataFrame,
    out_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection (Achlioptas 2003,
    public literature): y_j = sum_pos sign(pos, j) * q(pos) over the
    quantized components — EXACT int64, so the distance-preserving
    sketch is reproducible bit-for-bit across engines and runs.
    Output (id, j, y), one row per output dim.

    Shape: posexplode x out_dims fan-out (a constant factor), all
    codegen, one map-side-combined aggregation; the projection matrix
    is a formula, never materialized or broadcast."""
    rows = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "e"),
    ).select(
        "id", "pos",
        F.floor(F.col("e") * float(scale) + 0.12345678987)
        .cast("long").alias("q"),
    )
    fan = rows.select(
        "id", "q",
        F.explode(F.sequence(F.lit(0), F.lit(int(out_dims) - 1))).alias("j"),
        F.col("pos"),
    )
    sgn = F.expr(_rp_sign_sql("pos", "j"))
    return (
        fan.groupBy("id", "j")
        .agg(F.sum(sgn * F.col("q")).alias("y"))
    )


def random_projection_sql(
    base_select: str,
    out_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> str:
    """DuckDB replay of ``random_projection`` (1-based list index i maps
    to Spark pos = i - 1; float32 CAST-to-DOUBLE lesson applied)."""
    sgn = _rp_sign_sql("g.i - 1", "j.j")
    return f"""
WITH b AS (SELECT {id_col} AS id, {vec_col} AS v FROM ({base_select}) s),
e AS (
  SELECT id, g.i AS i,
         CAST(floor(CAST(v[g.i] AS DOUBLE) * {float(scale)}
                    + 0.12345678987) AS BIGINT) AS q
  FROM b, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g)
SELECT id, j.j AS j, CAST(sum({sgn} * q) AS BIGINT) AS y
FROM e g, (SELECT unnest(generate_series(0, {int(out_dims) - 1})) AS j) j
GROUP BY 1, 2"""


def _fdiv_sql(a: str, b) -> str:
    """Shared Spark/DuckDB TRUE floor division text (posmod identity;
    exact because the adjusted numerator is divisible by the divisor and
    |numerator| < 2^53)."""
    return (f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) / ({b}) "
            "AS BIGINT)")


_PCA_S1 = 4096          # pre-scale of sp and si*sj (overflow headroom)
_PCA_S2 = 1 << 24       # matrix scale-down
_PCA_S = 1 << 20        # iterate magnitude target


def _pca_m_expr() -> str:
    """Scaled integer covariance-proxy matrix entry from the exact moment
    sums (n, si, sj, sp): floor-div chain keeps every intermediate well
    inside int64 for |q| <= QUANT and n <= ~1e5."""
    inner = (f"n * {_fdiv_sql('sp', _PCA_S1)} "
             f"- {_fdiv_sql('si * sj', _PCA_S1)}")
    return _fdiv_sql(inner, _PCA_S2)


def pca_power(
    emb: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Leading-eigenvector power iteration on the scaled integer
    covariance matrix (the HITS max-normalization pattern applied to
    PCA): v0 = S everywhere; each round w = M v (one equi-join + sum),
    then v = floordiv(w, floordiv(max|w|, S) + 1) — a pure-integer
    normalization that never forms w * S (no overflow).  Deterministic
    bit-exact output (i, v); the leading principal direction up to the
    iteration count's convergence.

    Shape: M is dims^2 rows (tiny); each round is one broadcast-scale
    join + aggregation; only max|w| (one scalar) touches the driver."""
    cov = embedding_covariance(emb, vec_col).select(
        "i", "j", F.expr(_pca_m_expr()).alias("m")
    )
    sym = cov.union(
        cov.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "m"
        )
    ).localCheckpoint()
    v = sym.select(F.col("i").alias("vj")).distinct().select(
        "vj", F.lit(int(_PCA_S)).cast("long").alias("v")
    ).localCheckpoint()
    for _ in range(int(iters)):
        w = (
            sym.join(v, sym["j"] == v["vj"])
            .groupBy(sym["i"].alias("wi"))
            .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
        ).localCheckpoint()
        mmax = w.agg(F.max(F.abs(F.col("w")))).first()[0] or 1
        d = int(mmax) // int(_PCA_S) + 1
        v = w.select(
            F.col("wi").alias("vj"),
            F.expr(_fdiv_sql("w", d)).alias("v"),
        ).localCheckpoint()
    return v.select(F.col("vj").alias("i"), "v")


def pca_power_sql(
    rel: str = "embeddings",
    iters: int = 3,
    dims: int = 64,
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of ``pca_power`` — rounds unrolled as chained CTEs,
    the per-round max via a scalar CROSS JOIN (all positive floor-divs
    are plain //; the signed one shares the posmod text)."""
    S = int(_PCA_S)
    blocks = [f"""e AS MATERIALIZED (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(floor(CAST({vec_col}[t.i + 1] AS DOUBLE) * {QUANT:.1f})
              AS BIGINT) AS q
  FROM {rel}, UNNEST(range(0, len({vec_col}))) AS t(i))""",
              f"nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {rel})",
              """lin AS (SELECT i AS d, CAST(sum(q) AS BIGINT) AS s
  FROM e GROUP BY i)""",
              """pr AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sp
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i)""",
              f"""mm AS MATERIALIZED (
  SELECT i, j, m FROM (
    SELECT p.i, p.j, {_pca_m_expr().replace('si', 'la.s')
                      .replace('sj', 'lb.s')
                      .replace('sp', 'p.sp')
                      .replace('n *', 'nn.n *')} AS m
    FROM pr p JOIN lin la ON la.d = p.i JOIN lin lb ON lb.d = p.j
    CROSS JOIN nn) u
  UNION ALL
  SELECT j, i, m FROM (
    SELECT p.i, p.j, {_pca_m_expr().replace('si', 'la.s')
                      .replace('sj', 'lb.s')
                      .replace('sp', 'p.sp')
                      .replace('n *', 'nn.n *')} AS m
    FROM pr p JOIN lin la ON la.d = p.i JOIN lin lb ON lb.d = p.j
    CROSS JOIN nn) u2
  WHERE i < j)""",
              f"""v0 AS (SELECT i, CAST({S} AS BIGINT) AS v
  FROM generate_series(0, {int(dims) - 1}) t(i))"""]
    for r in range(int(iters)):
        blocks.append(
            f"""w{r + 1} AS MATERIALIZED (
  SELECT mm.i AS i, CAST(sum(mm.m * v{r}.v) AS BIGINT) AS w
  FROM mm JOIN v{r} ON v{r}.i = mm.j GROUP BY 1)"""
        )
        blocks.append(
            f"""d{r + 1} AS (SELECT (max(abs(w)) // {S}) + 1 AS d
  FROM w{r + 1})"""
        )
        blocks.append(
            f"""v{r + 1} AS MATERIALIZED (
  SELECT i, {_fdiv_sql('w', 'd')} AS v FROM w{r + 1} CROSS JOIN d{r + 1})"""
        )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT i, v FROM v{int(iters)}"
    )


def semdedup(
    vectors: DataFrame,
    k: int = 8,
    threshold: float = 0.8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, public
    literature) -> (vec_id, cluster, kept): k-means-cluster the
    embeddings (exact integer Lloyd, ``kmeans_assign``), then inside
    each cluster mark every pair with quantized cosine >= ``threshold``
    and keep only the lowest id of each such pair (the deterministic
    representative rule; the paper's choice of which duplicate survives
    is arbitrary).  kept=false rows are the semantic duplicates a
    curation pipeline drops.

    Scale shape: the pair join is an equi-join ON CLUSTER (never vector
    x vector across clusters) — exactly the bucketed-candidates pattern
    of minhash_lsh; clusters bound the quadratic term and k scales with
    corpus size in real SemDeDup deployments."""
    from .ann import qcos_col, qdot_col, qnorm_col, quantize_col

    assigned = kmeans_assign(vectors, k, iters, id_col, vec_col)
    q = vectors.select(
        F.col(id_col).alias("id"),
        quantize_col(F.col(vec_col)).alias("qv"),
    ).withColumn("nn", qnorm_col(F.col("qv")))
    j = assigned.join(q, F.col(id_col) == F.col("id")).select(
        F.col(id_col), "cluster", "qv", "nn"
    )
    a = j.select(
        F.col(id_col).alias("a"), F.col("cluster").alias("ca"),
        F.col("qv").alias("va"), F.col("nn").alias("na"),
    )
    b = j.select(
        F.col(id_col).alias("b"), F.col("cluster").alias("cb"),
        F.col("qv").alias("vb"), F.col("nn").alias("nb"),
    )
    dups = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("a") < F.col("b")))
        .withColumn(
            "qcos",
            qcos_col(qdot_col(F.col("va"), F.col("vb")),
                     F.col("na"), F.col("nb")),
        )
        .filter(F.col("qcos") >= threshold)
        .select(F.col("b").alias("drop_id"))
        .distinct()
    )
    return (
        assigned.join(
            dups, F.col(id_col) == F.col("drop_id"), "left"
        )
        .select(
            id_col, "cluster",
            F.col("drop_id").isNull().alias("kept"),
        )
    )


def semdedup_sql(
    k: int = 8,
    dim: int = 64,
    threshold: float = 0.8,
    iters: int = 2,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of ``semdedup`` — composes the full kmeans training
    oracle, then the within-cluster quantized-cosine pair sweep."""
    km = kmeans_assign_select(k, dim, iters, rel, id_col, vec_col)
    dot = "CAST(list_sum(list_transform(list_zip(x.v, y.v), z -> z[1] * z[2])) AS BIGINT)"
    qcos = (f"CAST({dot} AS DOUBLE)"
            " / sqrt(CAST(x.nn AS DOUBLE) * CAST(y.nn AS DOUBLE))")
    return f"""
WITH assigned AS MATERIALIZED (SELECT * FROM ({km}) t),
qv2 AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
n2 AS (
  SELECT id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
  FROM qv2),
j AS MATERIALIZED (
  SELECT a.{id_col}, a.cluster, n2.v, n2.nn
  FROM assigned a JOIN n2 ON n2.id = a.{id_col}),
dups AS (
  SELECT DISTINCT y.{id_col} AS drop_id
  FROM j x JOIN j y ON x.cluster = y.cluster AND x.{id_col} < y.{id_col}
  WHERE {qcos} >= {threshold})
SELECT a.{id_col}, a.cluster,
       d.drop_id IS NULL AS kept
FROM assigned a LEFT JOIN dups d ON d.drop_id = a.{id_col}"""


def silhouette_simplified(
    vectors: DataFrame,
    k: int,
    iters: int = 2,
    scale: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette score per vector ->
    (vec_id, cluster, a, b, s_q): a = exact int64 squared distance to the
    own (nearest) centroid, b = min over the other centroids, s_q =
    floor((b - a) * scale / b) in [0, scale] (b >= a by construction; the
    max(a, b) of the textbook formula IS b).  The standard O(nk)
    clustering-quality diagnostic — no pairwise-point distances.

    Scale shape: training via train_ivf (k*dim scalars to the driver per
    iteration); the scoring pass is one mapInPandas with the k x dim
    centroid broadcast — identical shape to the assignment pass."""
    import numpy as np
    import pandas as pd

    from .ann import _map_vecs, _sqdist, quantize_col, train_ivf

    cent = train_ivf(vectors, k, id_col, vec_col, iters=iters)
    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    )

    def go(pdf, M, C):
        dist = _sqdist(M[:, None, :], C[None])[:, 0]
        j = dist.argmin(axis=1)
        a = dist[np.arange(len(M)), j]
        masked = dist.copy()
        masked[np.arange(len(M)), j] = np.iinfo(np.int64).max
        b = masked.min(axis=1)
        s = np.where(b > 0,
                     np.floor_divide((b - a) * int(scale), np.where(b > 0, b, 1)),
                     0)
        return pd.DataFrame({
            "vec_id": pdf["id"].to_numpy(),
            "cluster": j.astype(np.int32),
            "a": a, "b": b, "s_q": s.astype(np.int64),
        })

    return _map_vecs(q, "qv", cent, go,
                     "vec_id long, cluster int, a long, b long, s_q long")


def silhouette_sql(
    k: int,
    dim: int,
    iters: int = 2,
    scale: int = 256,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of ``silhouette_simplified``: reuses the
    kmeans_assign_select training chain (c0 init + Lloyd blocks) but
    finishes from the final all-pairs distance block d{fin} — a = min
    dist, b = second min (ties resolved exactly like the engine's masked
    argmin: the OWN cluster is the lowest-j minimum)."""
    base = kmeans_assign_select(k, dim, iters, rel, id_col, vec_col)
    # cut the final SELECT off the shared chain and re-finish from d{fin}
    fin = iters + 1
    marker = "afin AS ("
    head = base[: base.index(marker)]
    return f"""{head}r AS (
  SELECT id, j, dist,
         row_number() OVER (PARTITION BY id ORDER BY dist ASC, j ASC) AS rn
  FROM d{fin}),
ab AS (
  SELECT a.id, a.j AS cluster, a.dist AS a,
         (SELECT min(r2.dist) FROM r r2
          WHERE r2.id = a.id AND r2.j != a.j) AS b
  FROM r a WHERE a.rn = 1)
SELECT id AS {id_col}, CAST(cluster AS INTEGER) AS cluster, a, b,
       CASE WHEN b > 0 THEN ((b - a) * {int(scale)}) // b
            ELSE 0 END AS s_q
FROM ab"""


def sq_int8_stats(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar-quantization summary -> (vec_id, code_sum,
    code_ws, err_abs): per-DIMENSION min/max trained over the whole
    collection, code = (q - mn) * 255 div (mx - mn) in [0, 255] (exact
    integer on the 1e7-quantized values), recon = mn + code * (mx - mn)
    div 255, err_abs = sum |q - recon|.  The storage-compression pass of
    an ANN pipeline with its reconstruction-error audit.

    Scale shape: one posexplode + per-dim agg (k = dim groups, map-side
    combined), broadcast join of the dim-row stats table back, one
    partial agg per vector — all codegen, no Python."""
    q = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("p", "x"),
    ).select(
        "id", "p",
        F.floor(F.col("x").cast("double") * 10000000.0).cast("long").alias("v"),
    )
    stats = q.groupBy("p").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    coded = (
        q.join(F.broadcast(stats), "p")
        .withColumn(
            "code",
            F.when(F.col("mx") > F.col("mn"),
                   F.expr("((v - mn) * 255) div (mx - mn)"))
            .otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "recon",
            F.col("mn") + F.expr("(code * (mx - mn)) div 255"),
        )
    )
    return coded.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("code").alias("code_sum"),
        F.sum(F.col("code") * (F.col("p") + 1)).alias("code_ws"),
        F.sum(F.abs(F.col("v") - F.col("recon"))).alias("err_abs"),
    )


def sq_int8_sql(
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``sq_int8_stats`` (generate_subscripts explode; all
    operands positive after the (v - mn) shift, so // == div)."""
    return f"""
WITH q AS (
  SELECT {id_col} AS id,
         generate_subscripts({vec_col}, 1) AS p,
         CAST(floor(CAST(unnest({vec_col}) AS DOUBLE) * 10000000.0) AS BIGINT) AS v
  FROM {rel}),
st AS (SELECT p, min(v) AS mn, max(v) AS mx FROM q GROUP BY 1),
coded AS (
  SELECT q.id, q.p, q.v, st.mn, st.mx,
         CASE WHEN st.mx > st.mn THEN ((q.v - st.mn) * 255) // (st.mx - st.mn)
              ELSE 0 END AS code
  FROM q JOIN st ON st.p = q.p)
SELECT id AS {id_col}, sum(code) AS code_sum,
       sum(code * p) AS code_ws,
       sum(abs(v - (mn + (code * (mx - mn)) // 255))) AS err_abs
FROM coded GROUP BY 1"""


def kmedoids_swap(
    vectors: DataFrame,
    k: int = 4,
    cand_cap: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One exact PAM swap evaluation round (Kaufman & Rousseeuw, public
    literature) -> (m_out, c_in, delta): for each current medoid (the k
    lowest ids — the deterministic init), the best replacement candidate
    and the exact int64 total-cost change (ties by candidate id; delta
    may be >= 0, meaning no improving swap exists for that medoid).

    Delta uses the classic O(1)-per-point form from (d1, d2, nearest):
    swap(m, c): sum_i [nearest_i = m ? min(d2_i, d(i,c))
                                    : min(d1_i, d(i,c))] - d1_i.

    Scale shape: medoid and candidate matrices broadcast, one
    mapInPandas pass emits k x |C| partial delta rows per partition
    (the ann_topk partial/final discipline).  PAM is inherently O(n*|C|);
    the documented scale path is CLARA-style candidate sampling — the
    round itself stays exact for whatever candidate set is passed."""
    import numpy as np
    import pandas as pd

    from .ann import _map_vecs, _sqdist, quantize_col

    q = vectors.select(
        F.col(id_col).alias("id"), quantize_col(F.col(vec_col)).alias("qv")
    )
    first = q.orderBy("id").limit(int(k)).collect()
    med_ids = [int(r["id"]) for r in first]
    med = np.array([list(r["qv"]) for r in first], dtype=np.int64)
    # CLARA-style bounded candidate set (lowest ids, deterministic):
    # only the candidate CODEBOOK is ever collected, never the collection
    cand_rows = (
        q.filter(~F.col("id").isin(med_ids)).orderBy("id")
        .limit(int(cand_cap)).collect()
    )
    cand_ids = np.array([int(r["id"]) for r in cand_rows], dtype=np.int64)
    cand = np.array([list(r["qv"]) for r in cand_rows], dtype=np.int64)
    mids = np.array(med_ids, dtype=np.int64)

    def go(pdf, V, C):
        dm = _sqdist(V[:, None, :], med[None])[:, 0]
        order = np.argsort(dm, axis=1, kind="stable")
        near = order[:, 0]
        d1 = dm[np.arange(len(V)), near]
        d2 = dm[np.arange(len(V)), order[:, 1]]
        dc = _sqdist(V[:, None, :], C[None])[:, 0]
        return pd.concat([pd.DataFrame({
            "m_out": np.full(len(cand_ids), m, dtype=np.int64),
            "c_in": cand_ids,
            "part": (np.where((near == mi)[:, None],
                              np.minimum(d2[:, None], dc),
                              np.minimum(d1[:, None], dc)) - d1[:, None]).sum(axis=0),
        }) for mi, m in enumerate(mids)])

    parts = _map_vecs(q, "qv", cand, go, "m_out long, c_in long, part long")
    tot = parts.groupBy("m_out", "c_in").agg(F.sum("part").alias("delta"))
    from pyspark.sql import Window

    w = Window.partitionBy("m_out").orderBy("delta", "c_in")
    return (
        tot.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("m_out", "c_in", "delta")
    )


def kmedoids_swap_sql(
    k: int = 4,
    cand_cap: int = 128,
    rel: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of ``kmedoids_swap`` (same init, same delta form,
    same (dist, medoid-rank) nearest tie rule)."""
    dist = ("CAST(list_sum(list_transform(list_zip(a.v, b.v), "
            "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)")
    cap = int(cand_cap)
    return f"""
WITH qv AS MATERIALIZED (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
  FROM {rel}),
med AS MATERIALIZED (
  SELECT id, v, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS mi
  FROM qv ORDER BY id LIMIT {int(k)}),
dm AS MATERIALIZED (
  SELECT a.id, b.id AS mid, b.mi, {dist} AS d
  FROM qv a CROSS JOIN med b),
nearest AS MATERIALIZED (
  SELECT id, mid, d AS d1,
         (SELECT min(d2.d) FROM dm d2
          WHERE d2.id = r.id AND d2.mi != r.mi) AS d2
  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, mi) AS rn
        FROM dm) r WHERE rn = 1),
cand AS MATERIALIZED (
  SELECT id, v FROM qv WHERE id NOT IN (SELECT id FROM med)
  ORDER BY id LIMIT {cap}),
dc AS (
  SELECT a.id, b.id AS cid, {dist} AS d
  FROM qv a CROSS JOIN cand b),
delta AS (
  SELECT m.id AS m_out, dc.cid AS c_in,
         sum(CASE WHEN n.mid = m.id THEN LEAST(n.d2, dc.d)
                  ELSE LEAST(n.d1, dc.d) END - n.d1) AS delta
  FROM dc JOIN nearest n ON n.id = dc.id CROSS JOIN med m
  GROUP BY 1, 2)
SELECT m_out, c_in, delta FROM (
  SELECT *, row_number() OVER (PARTITION BY m_out ORDER BY delta, c_in) AS rn
  FROM delta) t WHERE rn = 1"""
