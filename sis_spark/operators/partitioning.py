"""Sort-Tile-Recursive (STR) spatial partitioning.

The classic bulk-loading recipe (Leutenegger et al., "STR: A Simple and
Efficient Algorithm for R-Tree Packing", ICDE 1997 — public literature) bent
to the one job it does best on a cluster: assigning points to a fixed grid
of BALANCED spatial partitions.  Hash partitioning ignores locality; fixed
geographic grids inherit the data's skew (a city cell holds 10^6x a desert
cell).  STR gives both: slice the data into ``nx`` vertical ribbons of equal
ROW COUNT by x-rank, then cut each ribbon into ``ny`` tiles of equal row
count by y-rank — every one of the nx*ny partitions holds n/(nx*ny) +- 1
rows no matter how skewed the coordinates are, while staying spatially
coherent (each partition is a contiguous x-interval x y-interval of the
sliced ribbon).

This is the partitioner a 100-TB spatial pipeline puts in front of
per-partition work (local index build, per-tile mosaic, partition-local
joins); the reference's analogous machinery is the tiling of feature sets
by envelope (`endorsed/src/org.apache.sis.feature/main/org/apache/sis/
index/tree/PointTree.java` packs by spatial median — same intent, driver-
resident; here the split points come from a distributed sort).

Exactness: assignment uses only ``ntile`` over a TOTAL order (coordinate,
then id as tiebreak) — Spark and DuckDB agree on ntile's remainder rule
(first buckets get the extra row; verified by the ``window_rank`` gate), so
partition ids replicate bit-for-bit in the oracle.

Scale shape: two window passes = one global range sort + one within-slice
sort (Spark executes both as range-partitioned sorts, no driver state).
For pipelines that cannot afford an exact global sort, note
``repartitionByRange`` is the sampled approximation of slice step 1 — this
operator is the exact, oracle-checkable contract.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import _map_rows


def spread_small_scan(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when it has fewer than
    ``max(2, defaultParallelism // 2)`` partitions, else unchanged.  A small
    parquet file (one row group) scans as ONE split, which would serialize
    the CPU-bound map work that follows (PIP refine, shingle hashing, kNN
    rings); at scale the scan has thousands of splits and this is a no-op.
    Only ever spreads upwards.  Streaming sources own their partitioning
    (``.rdd`` is illegal there) and pass through."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


def str_partition(
    df: DataFrame,
    x_col: str,
    y_col: str,
    nx: int,
    ny: int,
    id_col: str,
) -> DataFrame:
    """Adds ``slice_x`` (0..nx-1), ``slice_y`` (0..ny-1) and ``part_id``
    (= slice_x * ny + slice_y) columns; every part holds an equal row count
    up to +-1.  ``id_col`` breaks coordinate ties so the assignment is a
    pure function of the input set.
    """
    wx = Window.orderBy(F.col(x_col), F.col(id_col))
    wy = Window.partitionBy("slice_x").orderBy(F.col(y_col), F.col(id_col))
    return (
        df.withColumn("slice_x", F.ntile(int(nx)).over(wx) - 1)
        .withColumn("slice_y", F.ntile(int(ny)).over(wy) - 1)
        .withColumn(
            "part_id", F.col("slice_x") * int(ny) + F.col("slice_y")
        )
    )


def str_partition_sql(
    base_select: str,
    x_col: str,
    y_col: str,
    nx: int,
    ny: int,
    id_col: str,
) -> str:
    """DuckDB oracle: the same two ntile passes over the same total order."""
    return f"""
WITH b AS ({base_select}),
sx AS (
  SELECT *, ntile({int(nx)}) OVER (ORDER BY {x_col}, {id_col}) - 1 AS slice_x
  FROM b),
sy AS (
  SELECT *, ntile({int(ny)}) OVER (PARTITION BY slice_x
                                   ORDER BY {y_col}, {id_col}) - 1 AS slice_y
  FROM sx)
SELECT *, slice_x * {int(ny)} + slice_y AS part_id FROM sy"""


def adaptive_cells(
    df: DataFrame,
    d_min: int = 2,
    d_max: int = 6,
    cap: int = 500,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Adaptive quadtree partitioning of a skewed point set ->
    (d, ix, iy, cnt): the coarsest cells holding <= ``cap`` points, cells
    split recursively while over cap (down to ``d_max``, where over-cap
    leaves are emitted as-is).  This is the skew-handling cell cover a
    spatial join / shuffle planner keys on — hot spots get fine cells,
    empty ocean stays coarse.

    NO iteration over the data: counts aggregate ONCE at d_max (the only
    data-sized shuffle), parents roll up from the tiny leaf table (sum is
    algebraic, log2 rounds over <= 4^d rows), and the adaptive cover is a
    single join-free predicate — a cell is emitted iff its parent is over
    cap (ancestor counts only grow upward, so one parent check suffices)
    and it is itself under cap or at d_max."""
    from pyspark.sql import functions as F

    from .density import grid_expr

    side = 1 << int(d_max)
    base = (
        df.select(
            F.expr(grid_expr("x", side, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", side, lon_col, lat_col)).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("d", F.lit(int(d_max)))
    )
    levels = [base]
    cur = base
    for d in range(int(d_max) - 1, int(d_min) - 1, -1):
        cur = (
            cur.groupBy(
                (F.col("ix") / 2).cast("long").alias("ix"),
                (F.col("iy") / 2).cast("long").alias("iy"),
            )
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("d", F.lit(d))
        )
        levels.append(cur)
    allc = levels[0]
    for lv in levels[1:]:
        allc = allc.unionByName(lv)
    parents = allc.select(
        (F.col("d") + 1).alias("d"),
        F.col("ix").alias("pix"),
        F.col("iy").alias("piy"),
        F.col("cnt").alias("pcnt"),
    )
    j = allc.join(
        parents,
        (allc["d"] == parents["d"])
        & ((allc["ix"] / 2).cast("long") == F.col("pix"))
        & ((allc["iy"] / 2).cast("long") == F.col("piy")),
        "left",
    )
    cap_l = F.lit(int(cap))
    emit = (
        (F.col("pcnt").isNull() | (F.col("pcnt") > cap_l))
        & ((F.col("cnt") <= cap_l) | (allc["d"] == int(d_max)))
    )
    return j.filter(emit).select(allc["d"], allc["ix"], allc["iy"], "cnt")


def adaptive_cells_sql(
    base_select: str,
    d_min: int = 2,
    d_max: int = 6,
    cap: int = 500,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``adaptive_cells`` (same grid text, same roll-up,
    same emit predicate).  ``base_select`` -> (lon, lat)."""
    from .density import grid_expr

    side = 1 << int(d_max)
    ctes = [f"""l{d_max} AS (
  SELECT {grid_expr('x', side, lon_col, lat_col)} AS ix,
         {grid_expr('y', side, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ({base_select}) s GROUP BY 1, 2)"""]
    for d in range(int(d_max) - 1, int(d_min) - 1, -1):
        ctes.append(f"""l{d} AS (
  SELECT ix // 2 AS ix, iy // 2 AS iy, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM l{d + 1} GROUP BY 1, 2)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS d, ix, iy, cnt FROM l{d}"
        for d in range(int(d_min), int(d_max) + 1)
    )
    return f"""
WITH {', '.join(ctes)},
allc AS ({unions})
SELECT c.d, c.ix, c.iy, c.cnt
FROM allc c
LEFT JOIN allc p
  ON p.d = c.d - 1 AND p.ix = c.ix // 2 AND p.iy = c.iy // 2
WHERE (p.cnt IS NULL OR p.cnt > {int(cap)})
  AND (c.cnt <= {int(cap)} OR c.d = {int(d_max)})"""


def morton_ranges(
    spark,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    res: int,
) -> "DataFrame":
    """Envelope -> merged Z-order (Morton) cell-id scan ranges: the
    planning primitive that turns a bbox predicate into range scans over
    a Z-ordered table/index (the reason spatially bucketed layouts sort
    by the cells.py Morton key).  Emits (lo, hi, n_cells) with
    lo..hi CONSECUTIVE cell ids at ``res`` — the classic BIGMIN-style
    range decomposition, produced here by generate-cells + islands
    merge rather than prefix recursion.

    Exactness: cell ids come from the shared floor+clamp grid mapping
    (functions/cells.py); the islands trick (cell - row_number is
    constant within a run of consecutive ids) is pure integer.

    Scale shape: the cell grid generates DISTRIBUTED (one task per iy
    row, ix span vectorized per task); the final islands window is a
    single global sort over the COVERING-CELL table — bounded by the
    envelope's cell count (plan-time metadata, not data), fine to ~1e7
    cells; beyond that, decompose per quadtree prefix first."""
    from pyspark.sql import Window

    from ..functions.cells import ixiy_to_cell, lonlat_to_ixiy

    n = 1 << int(res)
    ix0, iy0 = lonlat_to_ixiy(
        np.asarray([xmin]), np.asarray([ymin]), res)
    ix1 = int(max(0, min(np.floor((np.float64(xmax) + 180.0) / 360.0 * n),
                         n - 1)))
    iy1 = int(max(0, min(np.floor((np.float64(ymax) + 90.0) / 180.0 * n),
                         n - 1)))
    ix0, iy0 = int(ix0[0]), int(iy0[0])
    rows = spark.range(iy0, iy1 + 1)

    gx = np.arange(ix0, ix1 + 1, dtype=np.uint64)

    def gen(row):
        return {"cell": ixiy_to_cell(
            gx, np.full(len(gx), row["id"], dtype=np.uint64), res)}

    cells = _map_rows(rows, "cell long", [], None, gen)
    w = Window.orderBy("cell")
    runs = cells.select(
        "cell", (F.col("cell") - F.row_number().over(w)).alias("run")
    )
    return (
        runs.groupBy("run")
        .agg(
            F.min("cell").alias("lo"),
            F.max("cell").alias("hi"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select("lo", "hi", "n_cells")
    )


def morton_ranges_sql(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> str:
    """DuckDB replay of ``morton_ranges``: same floor+clamp index bounds
    (exponent-marked literals), an explicit bit-interleave, and the same
    islands merge."""
    n = 1 << int(res)

    def lit(v):
        # exponent-marked so DuckDB parses DOUBLE, never DECIMAL
        r = repr(float(v))
        return r if "e" in r or "inf" in r else r + "e0"

    ix0 = (f"CAST(LEAST(GREATEST(floor((({lit(xmin)}) + 180.0) / 360.0 "
           f"* {n}.0), 0.0), {n - 1}.0) AS BIGINT)")
    ix1 = (f"CAST(LEAST(GREATEST(floor((({lit(xmax)}) + 180.0) / 360.0 "
           f"* {n}.0), 0.0), {n - 1}.0) AS BIGINT)")
    iy0 = (f"CAST(LEAST(GREATEST(floor((({lit(ymin)}) + 90.0) / 180.0 "
           f"* {n}.0), 0.0), {n - 1}.0) AS BIGINT)")
    iy1 = (f"CAST(LEAST(GREATEST(floor((({lit(ymax)}) + 90.0) / 180.0 "
           f"* {n}.0), 0.0), {n - 1}.0) AS BIGINT)")
    terms = [str(1 << (2 * res))]
    for i in range(res):
        terms.append(f"(((gx.i >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((gy.i >> {i}) & 1) << {2 * i})")
    inter = " + ".join(terms)
    return f"""
WITH cells AS (
  SELECT {inter} AS cell
  FROM generate_series(({ix0}), ({ix1})) gx(i),
       generate_series(({iy0}), ({iy1})) gy(i)),
runs AS (
  SELECT cell, cell - row_number() OVER (ORDER BY cell) AS run
  FROM cells)
SELECT CAST(min(cell) AS BIGINT) AS lo, CAST(max(cell) AS BIGINT) AS hi,
       CAST(count(*) AS BIGINT) AS n_cells
FROM runs GROUP BY run"""
