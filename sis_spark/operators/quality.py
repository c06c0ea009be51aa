"""Deequ-style data-quality operators: single-pass profiling + constraints.

OUR addition (reference analog: the Statistics accumulators of
U/math/Statistics.java, generalized to the table-profiling surface a
warehouse user expects).  Both ops are plain aggregations — one pass over
the table for the profile, one anti-join/agg pair per constraint — and
exact-integer, so the gates replay them bit-for-bit.

At 100-TB scale the exact count(distinct) per column becomes the HLL /
KMV sketch from operators/sketches.py (documented trade-off); everything
else is already a map-side-combined aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows


def profile_table(df: DataFrame, columns: list[tuple[str, bool]]) -> DataFrame:
    """One-pass column profile -> one row per column
    (col, n, n_null, n_distinct, min_q, max_q).

    ``columns``: (name, numeric) pairs; numeric columns report exact
    integer min/max (caller pre-quantizes), string columns report the
    min/max length.  n/n_null come from the same single aggregation;
    n_distinct is exact (the sketch variant is the scale path)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (name, numeric) in enumerate(columns):
        c = F.col(name)
        metric = c if numeric else F.length(c)
        aggs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"__null_{i}"),
            F.countDistinct(c).alias(f"__dist_{i}"),
            F.min(metric).alias(f"__min_{i}"),
            F.max(metric).alias(f"__max_{i}"),
        ]
    row = df.agg(*aggs).collect()[0]  # ONE scan; result is one tiny row
    rows = [
        (
            name, int(row["__n"]), int(row[f"__null_{i}"]),
            int(row[f"__dist_{i}"]), int(row[f"__min_{i}"]),
            int(row[f"__max_{i}"]),
        )
        for i, (name, _numeric) in enumerate(columns)
    ]
    return df.sparkSession.createDataFrame(
        rows, "col string, n long, n_null long, n_distinct long, "
              "min_q long, max_q long"
    )


def check_constraints(
    facts: DataFrame,
    dims: DataFrame,
    fact_key: str,
    dim_key: str,
    unique_col: str,
    range_col: str,
    lo: int,
    hi: int,
) -> DataFrame:
    """Constraint suite -> one row
    (n, orphans, dup_keys, out_of_range, nulls):

    - referential integrity: facts whose ``fact_key`` has no match in
      ``dims.dim_key`` (left-anti join count);
    - uniqueness: ``unique_col`` values appearing more than once;
    - range: ``range_col`` outside [lo, hi];
    - completeness: null ``range_col`` rows.
    Each check is one join or one aggregate; all counts exact."""
    n = facts.count()
    orphans = facts.join(
        dims.select(F.col(dim_key).alias(fact_key)).distinct(),
        fact_key, "left_anti",
    ).count()
    dups = (
        facts.groupBy(unique_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    r = F.col(range_col)
    agg = facts.agg(
        F.sum(F.when((r < lo) | (r > hi), 1).otherwise(0)).alias("oor"),
        F.sum(F.when(r.isNull(), 1).otherwise(0)).alias("nulls"),
    ).collect()[0]
    return facts.sparkSession.createDataFrame(
        [(n, orphans, dups, int(agg["oor"] or 0), int(agg["nulls"] or 0))],
        "n long, orphans long, dup_keys long, out_of_range long, nulls long",
    )


def k_anonymity_violations(
    df: DataFrame,
    qi_cols: list[str],
    k: int,
) -> DataFrame:
    """k-anonymity audit -> the quasi-identifier combinations with fewer
    than ``k`` rows (qi..., cnt): any such group re-identifies its
    members — the privacy gate a training-data release runs before
    publishing.  One map-side-combined aggregation + a filter."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") < int(k))
    )


def k_anonymity_sql(base_select: str, qi_cols: list[str], k: int) -> str:
    """DuckDB replay of ``k_anonymity_violations``."""
    cols = ", ".join(qi_cols)
    return f"""
SELECT {cols}, CAST(count(*) AS BIGINT) AS cnt
FROM ({base_select}) s
GROUP BY {cols} HAVING count(*) < {int(k)}"""


def benford_digits(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit (Benford 1938, public literature):
    leading-decimal-digit histogram of a positive integer measure per
    group — the classic fraud/synthetic-data smell test, one map-side
    combined aggregation.  The digit comes from the decimal string
    rendering (identical for positive BIGINTs across engines)."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.substring(F.col(value_col).cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
        .filter(F.col("digit") >= 1)
        .groupBy("grp", "digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def benford_digits_sql(base_select: str, value_col: str,
                       group_col: str) -> str:
    """DuckDB replay of ``benford_digits``; values must be positive
    BIGINTs (same decimal rendering in both engines)."""
    return f"""
SELECT {group_col} AS grp,
       CAST(substr(CAST({value_col} AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       CAST(count(*) AS BIGINT) AS cnt
FROM ({base_select}) b
WHERE CAST(substr(CAST({value_col} AS VARCHAR), 1, 1) AS BIGINT) >= 1
GROUP BY 1, 2"""


def l_diversity(
    df: DataFrame,
    qi_cols: list,
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, public
    literature): for each quasi-identifier group, the row count and the
    number of DISTINCT sensitive values; groups with fewer than ``l``
    distinct sensitive values are re-identification risks and are the
    rows reported -> (*qi, n_rows, n_sensitive).  One aggregation."""
    return (
        df.groupBy(*qi_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < l)
    )


def l_diversity_sql(
    base_select: str,
    qi_cols: list,
    sensitive_col: str,
    l: int = 2,
) -> str:
    """DuckDB replay of ``l_diversity``."""
    qi = ", ".join(qi_cols)
    return f"""
SELECT {qi}, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {sensitive_col}) AS BIGINT) AS n_sensitive
FROM ({base_select}) b
GROUP BY {qi}
HAVING count(DISTINCT {sensitive_col}) < {int(l)}"""


def t_closeness(
    df: DataFrame,
    qi_col: str,
    sensitive_col: str,
) -> DataFrame:
    """t-closeness audit for an ORDERED sensitive attribute (Li, Li &
    Venkatasubramanian 2007, public literature) -> (grp, n_g, emd_num):
    per quasi-identifier group the Earth Mover's Distance between the
    group's sensitive-value distribution and the global one — for
    equally-spaced ordered values EMD = (1/(m-1)) * sum over buckets of
    |cum_g/n_g - cum/n|.  Reported as the EXACT integer numerator
    emd_num = sum |cum_g * n - cum * n_g| so t = emd_num /
    (n_g * n * (m-1)) is derivable as a rational and the audit is
    bit-stable.

    Shape: one (grp x value) count agg, a tiny dense grid (groups x
    DISTINCT values, built by cross join so empty cells count as zero —
    cum sums need every bucket), two window cumsums over the grid, one
    final agg.  Everything after the first agg is grid-sized."""
    from pyspark.sql import Window

    b = df.select(F.col(qi_col).alias("grp"),
                  F.col(sensitive_col).alias("v"))
    cells = b.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    groups = cells.select("grp").distinct()
    vals = cells.select("v").distinct()
    z = F.lit(0).cast("long")
    grid = (
        groups.crossJoin(vals)
        .join(cells, ["grp", "v"], "left")
        .select("grp", "v", F.coalesce("c", z).alias("c"))
    )
    w_g = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # global cumulative per value: total count per value, then cumsum in
    # value order (computed on the tiny distinct-value table, then joined)
    gl = (
        cells.groupBy("v").agg(F.sum("c").alias("cv"))
        .select(
            "v",
            F.sum("cv").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
            F.sum("cv").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
    )
    ng = b.groupBy("grp").agg(F.count(F.lit(1)).alias("n_g"))
    j = (
        grid.select(
            "grp", "v", F.sum("c").over(w_g).alias("cum_g")
        )
        .join(F.broadcast(gl), "v")
        .join(F.broadcast(ng), "grp")
    )
    return j.groupBy("grp").agg(
        F.max("n_g").alias("n_g"),
        F.sum(
            F.abs(F.col("cum_g") * F.col("n") - F.col("cum") * F.col("n_g"))
        ).alias("emd_num"),
    )


def t_closeness_sql(base_select: str, qi_col: str,
                    sensitive_col: str) -> str:
    """DuckDB replay of ``t_closeness``; ``base_select`` -> (grp, v)."""
    return f"""
WITH b AS (SELECT {qi_col} AS grp, {sensitive_col} AS v
           FROM ({base_select}) s),
cells AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
grid AS (
  SELECT g.grp, vv.v, CAST(coalesce(cells.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT grp FROM cells) g
  CROSS JOIN (SELECT DISTINCT v FROM cells) vv
  LEFT JOIN cells ON cells.grp = g.grp AND cells.v = vv.v),
gl AS (
  SELECT v, CAST(sum(cv) OVER (ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(cv) OVER () AS BIGINT) AS n
  FROM (SELECT v, sum(c) AS cv FROM cells GROUP BY 1) t),
ng AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g FROM b GROUP BY 1),
cg AS (
  SELECT grp, v,
         CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum_g
  FROM grid)
SELECT cg.grp, max(ng.n_g) AS n_g,
       CAST(sum(abs(cg.cum_g * gl.n - gl.cum * ng.n_g)) AS BIGINT)
         AS emd_num
FROM cg JOIN gl ON gl.v = cg.v JOIN ng ON ng.grp = cg.grp
GROUP BY 1"""


def fd_discover(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact functional-dependency discovery over a candidate column set
    (the data-profiling primitive of the Metanome/TANE literature,
    restricted to unary FDs): for every ordered pair (A, B), A -> B holds
    iff no A-value maps to two distinct B-values.  Returns one row per
    pair: (a_col, b_col, n_lhs, n_violating, holds) where n_lhs is the
    number of distinct A-values and n_violating those with > 1 distinct B.

    Scale shape: each row emits its k*(k-1) (attr_a, val_a, attr_b,
    val_b) quadruples through ONE codegen explode (no self-join on a row
    id), then two keyed aggregations with map-side combine — one shuffle
    wide per level, output k*(k-1) rows.  NULL A-values group together;
    NULL B-values are ignored by the distinct count (the shared
    COUNT(DISTINCT) semantics of both engines)."""
    k = len(cols)
    quads = F.array(*[
        F.struct(
            F.lit(a).alias("a_col"),
            F.col(a).cast("string").alias("va"),
            F.lit(b).alias("b_col"),
            F.col(b).cast("string").alias("vb"),
        )
        for a in cols for b in cols if a != b
    ])
    m = df.select(F.explode(quads).alias("q")).select(
        "q.a_col", "q.va", "q.b_col", "q.vb"
    )
    per_lhs = m.groupBy("a_col", "b_col", "va").agg(
        F.countDistinct("vb").alias("nd")
    )
    return per_lhs.groupBy("a_col", "b_col").agg(
        F.count(F.lit(1)).alias("n_lhs"),
        F.sum((F.col("nd") > 1).cast("long")).alias("n_violating"),
        (F.max("nd") == 1).alias("holds"),
    )


def fd_discover_sql(base_select: str, cols: list[str]) -> str:
    """DuckDB replay of ``fd_discover`` — one grouped subquery per
    ordered pair, UNION ALL."""
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            parts.append(f"""
SELECT '{a}' AS a_col, '{b}' AS b_col,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       max(nd) = 1 AS holds
FROM (
  SELECT CAST({a} AS VARCHAR) AS va,
         count(DISTINCT CAST({b} AS VARCHAR)) AS nd
  FROM ({base_select}) s GROUP BY 1) g""")
    return " UNION ALL ".join(parts)


def mondrian_boxes(df: DataFrame, k: int, rounds: int,
                   a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Mondrian multidimensional k-anonymization (LeFevre et al. 2006,
    strict top-down, breadth-first): every round each box splits on its
    wider QI attribute (ties -> a) at the median (<= median goes left,
    ties share their cumulative count via a RANGE frame), but ONLY when
    both children keep >= k rows — otherwise the box survives unsplit.
    Returns the generalization table (box, n, a_min, a_max, b_min,
    b_max); every box has n >= k by construction (input must have
    >= k rows).

    Shape: the median_cut discipline with a k-guard — per round one tiny
    per-box aggregate broadcast back + window median/count passes, all
    codegen, no driver state."""
    from pyspark.sql import Window

    d = df.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
        F.lit(0).cast("long").alias("box"),
    )
    for _ in range(int(rounds)):
        wall = Window.partitionBy("box")
        # axis choice as window aggregates over the box partition — no
        # per-box join (whose box=0 first round constant-folds the equi
        # keys away and degenerates to a BroadcastNestedLoopJoin)
        ra = F.max("a").over(wall) - F.min("a").over(wall)
        rb = F.max("b").over(wall) - F.min("b").over(wall)
        d = d.withColumn("ax", F.when(ra >= rb, 0).otherwise(1))
        val = F.when(F.col("ax") == 0, F.col("a")).otherwise(F.col("b"))
        d = d.withColumn("val", val)
        wcum = Window.partitionBy("box").orderBy("val").rangeBetween(
            Window.unboundedPreceding, 0
        )
        d = (
            d.withColumn("cum", F.count(F.lit(1)).over(wcum))
            .withColumn("tot", F.count(F.lit(1)).over(wall))
        )
        med = F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("val"))
        ).over(wall)
        d = d.withColumn("side", (F.col("val") > med).cast("long"))
        nr = F.sum("side").over(wall)
        ok = ((F.col("tot") - nr) >= int(k)) & (nr >= int(k))
        d = d.withColumn(
            "box", F.col("box") * 2 + F.when(ok, F.col("side")).otherwise(F.lit(0))
        ).drop("ax", "val", "cum", "tot", "side")
    return d.groupBy("box").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("a").alias("a_min"), F.max("a").alias("a_max"),
        F.min("b").alias("b_min"), F.max("b").alias("b_max"),
    )


def mondrian_sql(base_select: str, k: int, rounds: int) -> str:
    """DuckDB replay of ``mondrian_boxes``; ``base_select`` -> (a, b)."""
    ctes = [f"d0 AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
            f"CAST(0 AS BIGINT) AS box FROM ({base_select}) s)"]
    for i in range(int(rounds)):
        ctes.append(f"""x{i} AS (
  SELECT box, CASE WHEN max(a) - min(a) >= max(b) - min(b)
              THEN 0 ELSE 1 END AS ax
  FROM d{i} GROUP BY 1)""")
        ctes.append(f"""v{i} AS (
  SELECT d.*, CASE x.ax WHEN 0 THEN d.a ELSE d.b END AS val
  FROM d{i} d JOIN x{i} x USING (box))""")
        ctes.append(f"""m{i} AS (
  SELECT *,
         count(*) OVER (PARTITION BY box ORDER BY val
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         count(*) OVER (PARTITION BY box) AS tot
  FROM v{i})""")
        ctes.append(f"""s{i} AS (
  SELECT *, CASE WHEN val > min(CASE WHEN cum * 2 >= tot THEN val END)
                        OVER (PARTITION BY box) THEN 1 ELSE 0 END AS side
  FROM m{i})""")
        ctes.append(f"""d{i + 1} AS (
  SELECT a, b,
         box * 2 + CASE WHEN tot - sum(side) OVER (PARTITION BY box) >= {int(k)}
                         AND sum(side) OVER (PARTITION BY box) >= {int(k)}
                        THEN side ELSE 0 END AS box
  FROM s{i})""")
    return f"""
WITH {", ".join(ctes)}
SELECT box, CAST(count(*) AS BIGINT) AS n,
       min(a) AS a_min, max(a) AS a_max, min(b) AS b_min, max(b) AS b_max
FROM d{int(rounds)} GROUP BY 1"""


# ---------------------------------------------------------------- DP release
# Differentially-private histogram release (Dwork et al. 2006, public
# literature) with DERANDOMIZED Laplace noise: the uniform driving the
# inverse-CDF is the md5 hash of the released key, so reruns, resumed
# checkpoints, and the SQL oracle release identical noisy counts (the
# rerun-stability requirement of an idempotent pipeline; a production
# deployment would swap the hash for a secret-seeded PRF — the plumbing
# is identical).  Sensitivity 1 counts => noise scale b = 1/epsilon.


def _laplace_expr(h: str, b: str) -> str:
    """Quantized Laplace(b) inverse-CDF of the 60-bit uniform ``h``."""
    u = f"((CAST({h} AS DOUBLE) + 5.0E-1) / 1152921504606846976.0E0)"
    return (
        f"CAST(floor((CASE WHEN {u} < 5.0E-1"
        f" THEN {b} * ln(2.0E0 * {u})"
        f" ELSE -({b}) * ln(2.0E0 - 2.0E0 * {u}) END)"
        " * 1.0E6 + 0.12345678987) AS BIGINT)"
    )


def dp_counts(
    df: DataFrame,
    key_col: str,
    b: str = "2.0E0",
    salt: str = "dp",
) -> DataFrame:
    """Per-key DP count release -> (key, n, noise_q): n the exact count,
    noise_q the 1e6-quantized Laplace(b) draw from the key's hash (the
    released value is n + noise_q/1e6; both are emitted so the gate can
    verify the mechanism — release only their sum in production).
    ``b`` is a double SQL literal (exponent-marked, bit-exactness rule
    2), b = sensitivity/epsilon.

    Shape: one partial-agg count + one codegen expression — the same
    cost as the non-private histogram at any scale."""
    from .sampling import hash_u60

    return (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("h", hash_u60(F.col("key"), salt))
        .withColumn("noise_q", F.expr(_laplace_expr("h", b)))
        .select("key", "n", "noise_q")
    )


def dp_counts_sql(
    base_select: str,
    key_col: str,
    b: str = "2.0E0",
    salt: str = "dp",
) -> str:
    """DuckDB replay of ``dp_counts``; ``base_select`` -> rows with
    ``key_col``."""
    from .sampling import hash_u60_sql

    h = hash_u60_sql(f"CAST(key AS VARCHAR)", salt)
    return f"""
WITH g AS (
  SELECT {key_col} AS key, CAST(count(*) AS BIGINT) AS n
  FROM ({base_select}) s GROUP BY 1)
SELECT key, n, {_laplace_expr(f"({h})", b)} AS noise_q FROM g"""


def randomized_response(
    df: DataFrame,
    bit_col: str,
    key_col: str,
    cohort_col: str,
    p_num: int = 3,
    p_den: int = 4,
    salt: str = "rr",
) -> DataFrame:
    """Warner randomized response (1965, public literature), DERANDOMIZED:
    each row reports its true bit with probability p = p_num/p_den and
    the flipped bit otherwise, where the "coin" is the row-key hash
    u60 < floor(p * 2^60) — a pure function of the key, so reruns and
    the oracle agree bit-for-bit.  Output per cohort: (cohort, n, n1,
    est2) with n1 = reported positives and est2 = 2 * (p_den * n1 -
    (p_den - p_num) * n) / (2 p_num - p_den)... kept integral as
    est2 = 4*n1 - n for the default p = 3/4 (twice the debiased count).

    One codegen map + one partial agg — the local-DP collection shape."""
    from .sampling import hash_u60

    if (p_num, p_den) != (3, 4):
        raise ValueError("est2 closed form is specialized to p = 3/4")
    thr = (int(p_num) << 60) // int(p_den)
    keep = hash_u60(F.col(key_col), salt) < F.lit(thr)
    rep = F.when(keep, F.col(bit_col).cast("long")) \
        .otherwise(1 - F.col(bit_col).cast("long"))
    return (
        df.withColumn("__rep", rep)
        .groupBy(F.col(cohort_col).alias("cohort"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__rep").alias("n1"))
        .select("cohort", "n", "n1",
                (4 * F.col("n1") - F.col("n")).alias("est2"))
    )


def randomized_response_sql(
    base_select: str,
    salt: str = "rr",
) -> str:
    """DuckDB twin; ``base_select`` -> (key, bit, cohort)."""
    from .sampling import hash_u60_sql

    thr = (3 << 60) // 4
    rep = (f"CASE WHEN {hash_u60_sql('key', salt)} < {thr} "
           f"THEN CAST(bit AS BIGINT) ELSE 1 - CAST(bit AS BIGINT) END")
    return f"""
WITH b AS (SELECT cohort, {rep} AS rep FROM ({base_select}) s)
SELECT cohort, count(*) AS n, sum(rep) AS n1,
       4 * sum(rep) - count(*) AS est2
FROM b GROUP BY 1"""


def inclusion_audit(pairs) -> "DataFrame":
    """Inclusion-dependency (foreign-key) audit across table pairs.

    ``pairs`` is a list of ``(label, child_df, child_col, parent_df,
    parent_col)``.  For each candidate dependency the audit reports the
    number of distinct non-null child values and how many of them have no
    match on the parent side (orphans); ``contained = orphans == 0`` is the
    inclusion-dependency verdict — the profiling primitive FK discovery,
    referential-integrity monitoring, and join-cardinality sanity checks
    all reduce to.

    Scale shape: per pair one distinct (map-side combined) on the child and
    one LEFT ANTI equi-join against the parent's distinct key set — the
    parent side of a real FK is the dimension table, so Spark broadcasts
    it; no pair ever shuffles the fact table twice.  Null child values are
    excluded (SQL FK semantics: NULL references nothing and violates
    nothing).
    """
    from pyspark.sql import functions as F

    out = None
    for label, child, ccol, parent, pcol in pairs:
        cd = (
            child.select(F.col(ccol).cast("long").alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        pd_ = parent.select(F.col(pcol).cast("long").alias("k")).distinct()
        orphans = cd.join(F.broadcast(pd_), "k", "left_anti")
        row = cd.agg(F.count("*").alias("n_distinct")).crossJoin(
            orphans.agg(F.count("*").alias("n_orphan"))
        ).select(
            F.lit(label).alias("label"),
            "n_distinct",
            "n_orphan",
            (F.col("n_orphan") == 0).alias("contained"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def inclusion_audit_sql(pairs) -> str:
    """DuckDB twin of ``inclusion_audit``; ``pairs`` holds
    ``(label, child_rel, child_col, parent_rel, parent_col)``."""
    blocks = []
    for label, crel, ccol, prel, pcol in pairs:
        blocks.append(f"""
SELECT '{label}' AS label,
       (SELECT count(*) FROM (SELECT DISTINCT CAST({ccol} AS BIGINT) AS k
          FROM {crel} WHERE {ccol} IS NOT NULL) c) AS n_distinct,
       (SELECT count(*) FROM (SELECT DISTINCT CAST({ccol} AS BIGINT) AS k
          FROM {crel} WHERE {ccol} IS NOT NULL) c
         WHERE NOT EXISTS (SELECT 1 FROM {prel} p
                           WHERE CAST(p.{pcol} AS BIGINT) = c.k)) AS n_orphan,
       (SELECT count(*) FROM (SELECT DISTINCT CAST({ccol} AS BIGINT) AS k
          FROM {crel} WHERE {ccol} IS NOT NULL) c
         WHERE NOT EXISTS (SELECT 1 FROM {prel} p
                           WHERE CAST(p.{pcol} AS BIGINT) = c.k)) = 0 AS contained""")
    return " UNION ALL ".join(blocks)


def luhn_exprs(num: str, div_op: str) -> tuple[str, str]:
    """Luhn mod-10 checksum (ISO/IEC 7812, public spec) of a 10-digit
    integer as fully unrolled per-row codegen: digit at right-position r is
    ``(num div 10^(r-1)) % 10``; even positions double-with-carry
    (2d > 9 -> 2d - 9); valid iff the sum is divisible by 10.  Returns
    (sum_sql, valid_sql); ``div_op`` is ' div ' (Spark) or ' // ' (DuckDB).
    The payment-card / national-id validity audit as a map-only pass."""
    terms = []
    for r in range(1, 11):
        d = f"((({num}){div_op}{10 ** (r - 1)}) % 10)"
        if r % 2 == 0:
            terms.append(f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END)")
        else:
            terms.append(d)
    total = "(" + " + ".join(terms) + ")"
    return total, f"({total} % 10 = 0)"


def merkle_root(
    leaves: "DataFrame",
    group_col: str = "g",
    hash_col: str = "h",
    rank_col: str = "rank",
    rounds: int = 12,
) -> "DataFrame":
    """Merkle root per group over ordered leaf hashes: each round pairs
    adjacent nodes (rank 2i-1, 2i), parent = md5(concat(left, right)) as
    hex; an unpaired trailing node is promoted unchanged (the Bitcoin-
    style odd rule, deterministic).  ``rounds`` must cover
    ceil(log2(max leaves)); extra rounds are no-ops on single roots.
    Spark md5(cast(s as binary)) == DuckDB md5(varchar) on UTF-8 text
    (playbook rule 5).

    The tamper-evident batch-integrity primitive over ingest shards —
    with ``adler32`` per document this closes the manifest-integrity
    story end to end.

    Scale shape: log2(n) keyed 2-to-1 aggregations, node counts halving
    each round; lineage cut per round (plan-shape lesson 6)."""
    from pyspark.sql import functions as F

    cur = leaves.select(
        F.col(group_col).alias("g"),
        F.col(hash_col).alias("h"),
        F.col(rank_col).cast("long").alias("rank"),
    ).localCheckpoint()
    for _ in range(rounds):
        paired = (
            cur.withColumn("pos", F.expr("(rank - 1) div 2"))
            .groupBy("g", "pos")
            .agg(
                F.min_by("h", "rank").alias("h1"),
                F.max_by("h", "rank").alias("h2"),
                F.count("*").alias("cnt"),
            )
            .select(
                "g", (F.col("pos") + 1).alias("rank"),
                F.when(F.col("cnt") == 2,
                       F.expr("md5(cast(concat(h1, h2) as binary))"))
                .otherwise(F.col("h1")).alias("h"),
            )
        )
        cur = paired.localCheckpoint()
    return cur.select("g", F.col("h").alias("root"))


def merkle_root_sql(
    leaves_select: str,
    group_col: str = "g",
    hash_col: str = "h",
    rank_col: str = "rank",
    rounds: int = 12,
) -> str:
    """DuckDB replay of ``merkle_root`` (chained pairing CTEs)."""
    blocks = [
        f"r0 AS MATERIALIZED (SELECT {group_col} AS g, {hash_col} AS h, "
        f"CAST({rank_col} AS BIGINT) AS rank FROM ({leaves_select}) lv)"
    ]
    for i in range(rounds):
        blocks.append(f"""r{i + 1} AS MATERIALIZED (
  SELECT g, pos + 1 AS rank,
         CASE WHEN cnt = 2 THEN md5(h1 || h2) ELSE h1 END AS h
  FROM (
    SELECT g, (rank - 1) // 2 AS pos, count(*) AS cnt,
           arg_min(h, rank) AS h1, arg_max(h, rank) AS h2
    FROM r{i} GROUP BY 1, 2) p)""")
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT g, h AS root FROM r{rounds}")


_SHAMIR_P = 2147483647  # Mersenne prime 2^31 - 1


def shamir_exprs(secret: str, xs=(1, 2, 3, 4, 5)) -> list:
    """Shamir (3,n) secret sharing over GF(2^31 - 1) as shared SQL text:
    share_x = (s + a1*x + a2*x^2) mod p with deterministic coefficients
    a1, a2 derived from the secret row (documented derandomization);
    returns [(name, sql), ...] for the shares plus the reconstruction
    from shares x=1,2,3 via the INTEGER Lagrange weights at 0
    (L = [3, -3, 1] — the inverses cancel for consecutive x, so no
    modular inversion is needed).  All products stay < 2^41."""
    p = _SHAMIR_P
    a1 = f"((({secret}) * 31 + 7) % {p})"
    a2 = f"((({secret}) * 57 + 11) % {p})"
    out = []
    for x in xs:
        out.append((f"y{x}",
                    f"((({secret}) + {a1} * {x} + {a2} * {x * x}) % {p})"))
    y1, y2, y3 = (o[1] for o in out[:3])
    rec = f"((((3 * {y1} - 3 * {y2} + {y3}) % {p}) + {p}) % {p})"
    out.append(("recovered", rec))
    return out


def candidate_keys(df: "DataFrame", cols: list) -> "DataFrame":
    """Candidate-key discovery over the given columns: for every single
    column and every unordered pair, compare the distinct count against
    the row count — the uniqueness half of schema profiling (the
    functional-dependency gate covers the implication half).

    Output: (combo, n_distinct, n_rows, is_key), one row per combination.
    Scale shape: one map-side-combined distinct per combo over the same
    scan; combos are metadata-sized."""
    from pyspark.sql import functions as F

    total = df.count()
    out = None
    combos = [(c,) for c in cols] + [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    for combo in combos:
        row = (
            df.select(*combo).distinct()
            .agg(F.count("*").alias("n_distinct"))
            .select(
                F.lit("+".join(combo)).alias("combo"),
                "n_distinct",
                F.lit(int(total)).cast("long").alias("n_rows"),
                (F.col("n_distinct") == int(total)).alias("is_key"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def candidate_keys_sql(rel: str, cols: list) -> str:
    """DuckDB twin of ``candidate_keys``."""
    combos = [(c,) for c in cols] + [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    blocks = []
    for combo in combos:
        cl = ", ".join(combo)
        blocks.append(f"""
SELECT '{"+".join(combo)}' AS combo,
       (SELECT count(*) FROM (SELECT DISTINCT {cl} FROM {rel}) dq) AS n_distinct,
       (SELECT count(*) FROM {rel}) AS n_rows,
       (SELECT count(*) FROM (SELECT DISTINCT {cl} FROM {rel}) dq)
         = (SELECT count(*) FROM {rel}) AS is_key""")
    return " UNION ALL ".join(blocks)


def mod97_cols(width: int = 24):
    """ISO 7064 mod-97-10 positional weights: 10^p mod 97 literals for
    ``width`` digits, most significant first (weights[i] applies to
    character position i+1).  The remainder of a digit string is then
    sum(d_i * w_i) mod 97 — a map-side explode + one aggregation instead
    of the sequential per-char folding (the IBAN / creditor-reference
    check with no recurrence)."""
    return [pow(10, width - 1 - i, 97) for i in range(width)]


_DAMM_TABLE = [
    [0, 3, 1, 7, 5, 9, 8, 6, 4, 2],
    [7, 0, 9, 2, 1, 5, 4, 8, 6, 3],
    [4, 2, 0, 6, 8, 7, 1, 3, 5, 9],
    [1, 7, 5, 0, 9, 8, 3, 4, 2, 6],
    [6, 1, 2, 3, 0, 4, 5, 9, 7, 8],
    [3, 6, 7, 4, 2, 0, 9, 5, 8, 1],
    [5, 8, 6, 9, 7, 2, 0, 1, 3, 4],
    [8, 9, 4, 5, 3, 6, 2, 0, 1, 7],
    [9, 4, 3, 8, 6, 1, 7, 2, 0, 5],
    [2, 5, 8, 1, 4, 3, 6, 7, 9, 0],
]


def damm_case_sql() -> str:
    """The Damm totally-antisymmetric quasigroup step as one 100-arm
    CASE over key c*10+d (Damm 2004, public table): the next interim
    digit.  Catches all single-digit and adjacent-transposition errors —
    the quasigroup cousin of the `luhn` gate, necessarily SEQUENTIAL
    (non-associative), hence the lockstep-state oracle."""
    arms = " ".join(
        f"WHEN {c * 10 + d} THEN {_DAMM_TABLE[c][d]}"
        for c in range(10) for d in range(10)
    )
    return "CASE c * 10 + d " + arms + " END"


def damm_checksum(df: "DataFrame", num_col: str = "num",
                  id_col: str = "event_id", width: int = 10) -> "DataFrame":
    """Damm interim digit of a fixed-width number, engine side: one
    applyInPandas-free sequential fold is impossible in codegen, so the
    engine ALSO walks the published table — per key a tiny Python fold
    inside one mapInPandas pass (digits are bounded).  Output:
    (id, num, check, valid) with valid iff the interim digit is 0."""

    def fold(row):
        num = int(row["num"])
        c = 0
        for ch in str(num).zfill(width):
            c = _DAMM_TABLE[c][ord(ch) - 48]
        return {"event_id": int(row["event_id"]), "num": num, "check": c,
                "valid": c == 0}

    return _map_rows(
        df.select(F.col(id_col).alias("event_id"), F.col(num_col).alias("num")),
        "event_id long, num long, check long, valid boolean", [], None, fold)


def damm_checksum_sql(base_select: str, num_col: str = "num",
                      id_col: str = "event_id", width: int = 10) -> str:
    """DuckDB twin of ``damm_checksum`` (lockstep recursive CTE over the
    digit positions, state = interim digit)."""
    W = int(width)
    step = damm_case_sql().replace(
        "c * 10 + d",
        f"st.c * 10 + (CAST(substr(lpad(CAST(st.num AS STRING), {W}, '0'),"
        f" CAST(st.i + 1 AS INT), 1) AS BIGINT))",
    )
    return f"""
WITH RECURSIVE b AS MATERIALIZED (
  SELECT {id_col} AS event_id, CAST({num_col} AS BIGINT) AS num
  FROM ({base_select}) s),
st AS (
  SELECT event_id, num, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS c
  FROM b
  UNION ALL
  SELECT st.event_id, st.num, st.i + 1, CAST({step} AS BIGINT)
  FROM st WHERE st.i < {W})
SELECT event_id, num, c AS check, c = 0 AS valid
FROM st WHERE i = {W}"""


def encoding_stats(
    df: "DataFrame",
    key_col: str = "col_name",
    order_col: str = "rn",
    value_col: str = "v",
) -> "DataFrame":
    """Columnar encoding-size model per column: run count (RLE), distinct
    count (dictionary), and the integer byte estimates
    plain = 8n, rle = 16*runs, dict = 8*distinct + n*ceil(bitlen(distinct)/8)
    — the writer's encoding chooser as exact arithmetic (the table
    format's write_clustered planning primitive, reference parity with
    parquet-style encoding selection).

    Output: (col_name, n, runs, n_distinct, plain_b, rle_b, dict_b,
    best)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key_col).orderBy(order_col)
    d = df.select(key_col, order_col, F.col(value_col).cast("long").alias("v"))
    runs = (
        d.withColumn("chg",
                     (F.col("v") != F.coalesce(
                         F.lag("v").over(w), F.col("v") + 1)).cast("long"))
        .groupBy(key_col)
        .agg(F.count("*").alias("n"), F.sum("chg").alias("runs"),
             F.countDistinct("v").alias("n_distinct"))
    )
    bits = "length(bin(greatest(n_distinct - 1, 1)))"
    return runs.select(
        key_col, "n", "runs", "n_distinct",
        (F.col("n") * 8).alias("plain_b"),
        (F.col("runs") * 16).alias("rle_b"),
        (F.col("n_distinct") * 8
         + F.col("n") * F.expr(f"({bits} + 7) div 8")).alias("dict_b"),
    ).withColumn(
        "best",
        F.when((F.col("rle_b") <= F.col("plain_b"))
               & (F.col("rle_b") <= F.col("dict_b")), "rle")
        .when(F.col("dict_b") <= F.col("plain_b"), "dict")
        .otherwise("plain"),
    )


def encoding_stats_sql(base_select: str, key_col: str = "col_name",
                       order_col: str = "rn", value_col: str = "v") -> str:
    """DuckDB twin of ``encoding_stats``."""
    return f"""
WITH d AS (
  SELECT {key_col}, {order_col}, CAST({value_col} AS BIGINT) AS v
  FROM ({base_select}) s),
r AS (
  SELECT {key_col},
         CASE WHEN v <> coalesce(lag(v) OVER (PARTITION BY {key_col}
              ORDER BY {order_col}), v + 1) THEN 1 ELSE 0 END AS chg, v
  FROM d),
agg AS (
  SELECT {key_col}, count(*) AS n, sum(chg) AS runs,
         count(DISTINCT v) AS n_distinct
  FROM r GROUP BY 1)
SELECT {key_col}, n, runs, n_distinct,
       n * 8 AS plain_b, runs * 16 AS rle_b,
       n_distinct * 8
         + n * ((length(bin(greatest(n_distinct - 1, 1))) + 7) // 8) AS dict_b,
       CASE WHEN runs * 16 <= n * 8
             AND runs * 16 <= n_distinct * 8
               + n * ((length(bin(greatest(n_distinct - 1, 1))) + 7) // 8)
            THEN 'rle'
            WHEN n_distinct * 8
               + n * ((length(bin(greatest(n_distinct - 1, 1))) + 7) // 8)
               <= n * 8 THEN 'dict'
            ELSE 'plain' END AS best
FROM agg"""
