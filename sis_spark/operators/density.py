"""Grid-density spatial clustering (grid DBSCAN).

The cell-bucketed formulation of density clustering that actually scales:
a cell of the 2^k x 2^k grid is CORE when it holds >= min_pts points;
clusters are the connected components of 8-adjacent core cells; every point
in a core cell takes its component label, points outside core cells are
noise.  This is the standard grid approximation of DBSCAN (the cell side
plays eps) — exact DBSCAN's eps-graph needs a distance join, which the
engine also has (`spatial_join`/`knn`), but at 10^12 points the histogram +
component pass is the one that survives: two keyed aggregations over cells
(input-size-bound map-side combine), a component loop over CORE CELLS ONLY
(tiny vs the input), one broadcast-shaped join back to points.

Reference parity: the cell histogram is the engine's own skew-sampling
primitive (gate `cell_counts`); components reuse operators/graph.py
(min-label propagation + pointer jumping).  Everything is integer after the
shared floor+clamp grid mapping, so the DuckDB oracle replays clustering
bit-for-bit with a recursive-CTE closure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .graph import connected_components


def grid_expr(axis: str, n: int, lon_col: str = "lon", lat_col: str = "lat") -> str:
    """Shared Spark-SQL/DuckDB text mapping lon/lat to the 2^k grid
    (the cells.py floor+clamp convention)."""
    if axis == "x":
        return (
            f"CAST(LEAST(GREATEST(floor((({lon_col}) + 180.0) / 360.0 * {n}.0), "
            f"0.0), {n - 1}.0) AS BIGINT)"
        )
    return (
        f"CAST(LEAST(GREATEST(floor((({lat_col}) + 90.0) / 180.0 * {n}.0), "
        f"0.0), {n - 1}.0) AS BIGINT)"
    )


def _cell(col: str, side) -> Column:
    """Grid cell index of coordinate column ``col`` at cell side ``side``:
    floor(x / side) in doubles, as int64 — the one cell key of every
    fixed-radius join below."""
    return F.floor(F.col(col).cast("double") / F.lit(float(int(side)))).cast("long")


def _ring_cells(df: DataFrame, x_col: str, y_col: str, cell: int,
                r: int = 1) -> DataFrame:
    """Explode each row over its (2r+1)^2 cell neighborhood at grid side
    ``cell`` -> every column of ``df`` + (cx, cy)."""
    ring = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-r, r + 1) for dy in range(-r, r + 1)
    ])
    return df.select(
        "*", _cell(x_col, cell).alias("__cx"), _cell(y_col, cell).alias("__cy"),
        F.explode(ring).alias("__o"),
    ).select(
        *[F.col(c) for c in df.columns],
        (F.col("__cx") + F.col("__o.dx")).alias("cx"),
        (F.col("__cy") + F.col("__o.dy")).alias("cy"),
    )


def within_distance_join(
    a_pts: DataFrame,
    b_pts: DataFrame,
    radius: int,
    keys: tuple = (),
) -> DataFrame:
    """All (a, b) pairs with squared planar distance <= radius^2 over
    int64 coordinates (x, y) whose ``keys`` columns are equal -> every
    column of both sides but x/y (``keys`` once) + d2.  ONE bounded
    equi-join: grid side = max(radius, 1), the a-side explodes its 3x3
    cell ring (every pair within radius provably shares a ring cell when
    the side is >= radius, and b's cell is unique, so each pair is
    emitted once), exact int64 verify — never an all-pairs product;
    radius 0 returns exactly the coincident pairs.  Callers name the
    non-key columns of the two sides apart."""
    def xy(df, tag):
        return df.withColumnRenamed("x", f"__{tag}x").withColumnRenamed(
            "y", f"__{tag}y")

    side = max(int(radius), 1)
    ae = _ring_cells(xy(a_pts, "a"), "__ax", "__ay", side)
    b = xy(b_pts, "b").select("*", _cell("__bx", side).alias("cx"),
                              _cell("__by", side).alias("cy"))
    dx = F.col("__ax").cast("long") - F.col("__bx").cast("long")
    dy = F.col("__ay").cast("long") - F.col("__by").cast("long")
    r2 = F.lit(int(radius)).cast("long") * F.lit(int(radius)).cast("long")
    return (
        ae.join(b, ["cx", "cy", *keys])
        .withColumn("d2", dx * dx + dy * dy)
        .filter(F.col("d2") <= r2)
        .drop("cx", "cy", "__ax", "__ay", "__bx", "__by")
    )


def grid_cluster(
    points: DataFrame,
    grid_n: int,
    min_pts: int,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(id, ix, iy, cluster) for every point in a core cell; cluster is the
    smallest core-cell key (ix * grid_n + iy) reachable through 8-adjacency.
    Non-core points are noise and not emitted (filter-join the output back
    against the input for an explicit noise flag)."""
    cells = points.select(
        F.col(id_col),
        F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
        F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
    )
    core = (
        cells.groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_pts)
        .select("ix", "iy", (F.col("ix") * grid_n + F.col("iy")).alias("key"))
    )
    # 8-neighbor edges between core cells: explode the ring (its (0, 0)
    # offset is each cell's self-loop, which keeps isolated cores), join back
    other = core.select(
        F.col("ix").alias("cx"), F.col("iy").alias("cy"), F.col("key").alias("b")
    )
    edges = _ring_cells(core, "ix", "iy", 1).join(other, ["cx", "cy"]).select(
        F.col("key").alias("a"), "b"
    )
    comp = connected_components(edges)
    return (
        cells.join(core, ["ix", "iy"])
        .join(comp, core.key == comp.node)
        .select(id_col, "ix", "iy", F.col("comp").alias("cluster"))
    )


def grid_cluster_sql(
    base_select: str,
    grid_n: int,
    min_pts: int,
    id_col: str = "event_id",
) -> str:
    """DuckDB replay: same grid mapping, core rule, 8-adjacency closure.
    ``base_select`` must yield ({id_col}, lon, lat)."""
    ix = grid_expr("x", grid_n)
    iy = grid_expr("y", grid_n)
    return f"""
WITH RECURSIVE pts AS (
  SELECT {id_col}, {ix} AS ix, {iy} AS iy FROM ({base_select}) b),
core AS (
  SELECT ix, iy, ix * {grid_n} + iy AS key
  FROM pts GROUP BY 1, 2, 3 HAVING count(*) >= {min_pts}),
und AS (
  SELECT a.key AS a, b.key AS b
  FROM core a JOIN core b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1 AND a.key <> b.key),
reach(node, r) AS (
  SELECT key, key FROM core
  UNION
  SELECT reach.node, und.b FROM reach JOIN und ON und.a = reach.r),
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
SELECT p.{id_col} AS {id_col}, p.ix AS ix, p.iy AS iy, comp.comp AS cluster
FROM pts p JOIN core c ON p.ix = c.ix AND p.iy = c.iy
JOIN comp ON c.key = comp.node
"""


def kde_grid(
    df: DataFrame,
    grid_n: int,
    radius: int = 2,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Grid heatmap with a triangular kernel -> (ix, iy, dens): per-cell
    point counts smoothed over the Chebyshev ``radius``-ring with EXACT
    integer weights w(d) = radius + 1 - d, i.e.
    dens(c) = sum over cells c' within distance r of cnt(c') * w(dist).
    ``grid_n`` is the per-axis cell count (grid_expr convention).

    Scale shape: ONE aggregation collapses points to cell counts (the only
    data-sized shuffle), then the (2r+1)^2 offset fan-out runs on the tiny
    cell-count table via a broadcast cross join + regroup — cost is
    O(cells * r^2), independent of point count.  Cells outside [0, 2^k)
    are dropped (grid edges clip, matching the oracle)."""
    from pyspark.sql import functions as F

    ix = F.expr(grid_expr("x", grid_n, lon_col, lat_col))
    iy = F.expr(grid_expr("y", grid_n, lon_col, lat_col))
    counts = (
        df.select(ix.alias("ix"), iy.alias("iy"))
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spark = df.sparkSession
    r = int(radius)
    offs = spark.createDataFrame(
        [(dx, dy, r + 1 - max(abs(dx), abs(dy)))
         for dx in range(-r, r + 1) for dy in range(-r, r + 1)],
        "dx long, dy long, w long",
    )
    side = int(grid_n)
    return (
        counts.join(F.broadcast(offs))
        .select(
            (F.col("ix") + F.col("dx")).alias("ix"),
            (F.col("iy") + F.col("dy")).alias("iy"),
            (F.col("cnt") * F.col("w")).alias("c"),
        )
        .filter(
            (F.col("ix") >= 0) & (F.col("ix") < side)
            & (F.col("iy") >= 0) & (F.col("iy") < side)
        )
        .groupBy("ix", "iy")
        .agg(F.sum("c").alias("dens"))
    )


def kde_grid_sql(
    base_select: str,
    grid_n: int,
    radius: int = 2,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``kde_grid`` (same grid text, same kernel)."""
    r = int(radius)
    side = int(grid_n)
    return f"""
WITH pts AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy
  FROM ({base_select}) s),
cnts AS (SELECT ix, iy, CAST(count(*) AS BIGINT) AS cnt FROM pts GROUP BY 1, 2),
offs AS (
  SELECT dx.v AS dx, dy.v AS dy,
         CAST({r} + 1 - greatest(abs(dx.v), abs(dy.v)) AS BIGINT) AS w
  FROM generate_series(-{r}, {r}) dx(v), generate_series(-{r}, {r}) dy(v)),
sm AS (
  SELECT c.ix + o.dx AS ix, c.iy + o.dy AS iy, c.cnt * o.w AS c
  FROM cnts c CROSS JOIN offs o
  WHERE c.ix + o.dx >= 0 AND c.ix + o.dx < {side}
    AND c.iy + o.dy >= 0 AND c.iy + o.dy < {side})
SELECT ix, iy, CAST(sum(c) AS BIGINT) AS dens FROM sm GROUP BY 1, 2"""


def gi_z_sql() -> str:
    """Shared Spark/DuckDB text: quantized Getis-Ord-style Gi* z-score
    from exact int64 columns (g = ring count sum, w = ring cell count,
    n = occupied cells, sx = sum of counts, sx2 = sum of squares):
        z = (n*g - sx*w) / sqrt((n*sx2 - sx^2) * (n*w - w^2) / (n-1))
    computed in doubles from identical integer inputs (bit-identical
    across engines), floor-quantized at 1e6; degenerate denominators
    (w = 0 or w = n or zero variance) score 0."""
    num = "CAST(n * g - sx * w AS DOUBLE)"
    var = "CAST(n * sx2 - sx * sx AS DOUBLE)"
    ww = "CAST(n * w - w * w AS DOUBLE)"
    den = f"sqrt({var} * {ww} / CAST(n - 1 AS DOUBLE))"
    return (
        f"CASE WHEN n * w - w * w <= 0 OR n * sx2 - sx * sx <= 0 OR n <= 1"
        f" THEN CAST(0 AS BIGINT)"
        f" ELSE CAST(floor({num} / {den} * 1.0e6 + 0.12345678987) AS BIGINT)"
        " END"
    )


def hotspot_gi(
    df: DataFrame,
    grid_n: int,
    radius: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Hot-spot detection (Getis-Ord Gi* shape, Getis/Ord 1992, public
    literature) over the OCCUPIED cell set -> (ix, iy, cnt, g, w, z_q):
    per occupied cell, the ring sum g and ring occupied-count w over the
    Chebyshev ``radius`` neighborhood (self included), z-scored against
    the occupied-cell count distribution via the shared expression text
    (exact int64 moments in, bit-identical double out, quantized 1e6).

    Scale shape: ONE data-sized aggregation to cell counts; the ring
    fan-out and the 1-row global moments run on the tiny cell table."""
    from pyspark.sql import functions as F

    ix = F.expr(grid_expr("x", grid_n, lon_col, lat_col))
    iy = F.expr(grid_expr("y", grid_n, lon_col, lat_col))
    counts = (
        df.select(ix.alias("ix"), iy.alias("iy"))
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    r = int(radius)
    offs = df.sparkSession.createDataFrame(
        [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)],
        "dx long, dy long",
    )
    ring = (
        counts.join(F.broadcast(offs))
        .select(
            (F.col("ix") + F.col("dx")).alias("ix"),
            (F.col("iy") + F.col("dy")).alias("iy"),
            F.col("cnt").alias("c"),
        )
        .groupBy("ix", "iy")
        .agg(F.sum("c").alias("g"), F.count(F.lit(1)).alias("w"))
    )
    tot = counts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
    )
    return (
        counts.join(ring, ["ix", "iy"])
        .join(tot)
        .select(
            "ix", "iy", "cnt", "g", "w", F.expr(gi_z_sql()).alias("z_q")
        )
    )


def hotspot_gi_sql(
    base_select: str,
    grid_n: int,
    radius: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``hotspot_gi``."""
    r = int(radius)
    return f"""
WITH pts AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy
  FROM ({base_select}) s),
cnts AS (SELECT ix, iy, CAST(count(*) AS BIGINT) AS cnt FROM pts GROUP BY 1, 2),
ring AS (
  SELECT c.ix + o.dx AS ix, c.iy + o.dy AS iy,
         CAST(sum(c.cnt) AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS w
  FROM cnts c,
       (SELECT dx.v AS dx, dy.v AS dy
        FROM generate_series(-{r}, {r}) dx(v),
             generate_series(-{r}, {r}) dy(v)) o
  GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS sx,
         CAST(sum(cnt * cnt) AS BIGINT) AS sx2
  FROM cnts)
SELECT c.ix, c.iy, c.cnt, r.g, r.w, {gi_z_sql()} AS z_q
FROM cnts c JOIN ring r ON r.ix = c.ix AND r.iy = c.iy CROSS JOIN tot"""


def cell_change(
    a: DataFrame,
    b: DataFrame,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Two-epoch change detection per cell -> (ix, iy, na, nb, lr_q):
    counts in epoch a vs b (full outer over occupied cells) and the
    add-one log-ratio ln((na+1)/(nb+1)) — the only FP, shared-text from
    exact counts, quantized at 1e9."""
    from pyspark.sql import functions as F

    def cells(df):
        return (
            df.select(
                F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
                F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
            )
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    z = F.lit(0).cast("long")
    ca = cells(a).withColumnRenamed("n", "na")
    cb = cells(b).withColumnRenamed("n", "nb")
    lr = (
        "CAST(floor(ln(CAST(na + 1 AS DOUBLE) / CAST(nb + 1 AS DOUBLE))"
        " * 1.0e9 + 0.12345678987) AS BIGINT)"
    )
    return (
        ca.join(cb, ["ix", "iy"], "full")
        .select(
            "ix", "iy",
            F.coalesce("na", z).alias("na"),
            F.coalesce("nb", z).alias("nb"),
        )
        .withColumn("lr_q", F.expr(lr))
    )


def cell_change_sql(
    a_select: str,
    b_select: str,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``cell_change``; selects -> (lon, lat) each."""
    def cells(sel, n):
        return f"""
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS {n}
  FROM ({sel}) s{n} GROUP BY 1, 2"""

    lr = (
        "CAST(floor(ln(CAST(na + 1 AS DOUBLE) / CAST(nb + 1 AS DOUBLE))"
        " * 1.0e9 + 0.12345678987) AS BIGINT)"
    )
    return f"""
WITH ca AS ({cells(a_select, 'na')}),
cb AS ({cells(b_select, 'nb')}),
j AS (
  SELECT coalesce(ca.ix, cb.ix) AS ix, coalesce(ca.iy, cb.iy) AS iy,
         CAST(coalesce(na, 0) AS BIGINT) AS na,
         CAST(coalesce(nb, 0) AS BIGINT) AS nb
  FROM ca FULL JOIN cb ON cb.ix = ca.ix AND cb.iy = ca.iy)
SELECT ix, iy, na, nb, {lr} AS lr_q FROM j"""


def sd_ellipse_moments(
    df: DataFrame,
    key_col: str,
    qx_col: str = "qx",
    qy_col: str = "qy",
) -> DataFrame:
    """Standard-deviational-ellipse moments per key (the centrographic
    dispersion statistic, public literature) -> (k, n, sx, sy, sxx, syy,
    sxy): everything downstream — centroid, axis orientation
    tan(2θ) = 2*cov/(varx - vary), axis lengths — is a rational or one
    trig call away from these EXACT int64 sums.  One map-side-combined
    aggregation."""
    from pyspark.sql import functions as F

    b = df.select(
        F.col(key_col).alias("k"),
        F.col(qx_col).alias("x"),
        F.col(qy_col).alias("y"),
    )
    return b.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )


def sd_ellipse_sql(base_select: str, key_col: str,
                   qx_col: str = "qx", qy_col: str = "qy") -> str:
    """DuckDB replay of ``sd_ellipse_moments``."""
    return f"""
SELECT {key_col} AS k, CAST(count(*) AS BIGINT) AS n,
       CAST(sum({qx_col}) AS BIGINT) AS sx,
       CAST(sum({qy_col}) AS BIGINT) AS sy,
       CAST(sum({qx_col} * {qx_col}) AS BIGINT) AS sxx,
       CAST(sum({qy_col} * {qy_col}) AS BIGINT) AS syy,
       CAST(sum({qx_col} * {qy_col}) AS BIGINT) AS sxy
FROM ({base_select}) s GROUP BY 1"""


def od_matrix(
    df: DataFrame,
    grid_n: int,
    key_col: str = "user_id",
    order_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Origin-destination flow matrix -> (oix, oiy, dix, diy, n_trips):
    consecutive per-key positions become one flow from the previous cell
    to the current (self-flows included) — the mobility aggregate behind
    flow maps.  One lag window + one aggregation, exact counts."""
    from pyspark.sql import Window, functions as F

    b = df.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
        F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
    )
    w = Window.partitionBy("k").orderBy("o")
    g = (
        b.withColumn("oix", F.lag("ix").over(w))
        .withColumn("oiy", F.lag("iy").over(w))
        .filter(F.col("oix").isNotNull())
    )
    return g.groupBy(
        "oix", "oiy", F.col("ix").alias("dix"), F.col("iy").alias("diy")
    ).agg(F.count(F.lit(1)).alias("n_trips"))


def od_matrix_sql(
    base_select: str,
    grid_n: int,
    key_col: str = "user_id",
    order_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``od_matrix``; ``base_select`` ->
    (key, order, lon, lat)."""
    return f"""
WITH b AS (
  SELECT {key_col} AS k, {order_col} AS o,
         {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy
  FROM ({base_select}) s),
g AS (
  SELECT ix, iy,
         lag(ix) OVER (PARTITION BY k ORDER BY o) AS oix,
         lag(iy) OVER (PARTITION BY k ORDER BY o) AS oiy
  FROM b)
SELECT oix, oiy, ix AS dix, iy AS diy, CAST(count(*) AS BIGINT) AS n_trips
FROM g WHERE oix IS NOT NULL GROUP BY 1, 2, 3, 4"""


def morans_i(
    points: DataFrame,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Global Moran's I spatial-autocorrelation moments over the occupied
    cells of the 2^k grid (rook adjacency, binary weights) — the global
    twin of the local Gi* hot-spot view (``hotspot_gi``), i.e. the one
    number that says whether the cell histogram is clustered at all
    (Moran 1950, public literature).

    Exactness: with N = occupied cells and S = total points, the deviation
    x_i - S/N scaled by N is the integer ``dev_i = N*x_i - S``, so both the
    cross-product numerator (over rook edges) and the variance denominator
    are exact int64 sums; I = (n * num) / (w_edges * den) is derivable.

    Scale shape: the only input-sized stage is the first cell histogram
    (map-side combined groupBy); everything after runs on the tiny
    occupied-cell table (<= grid_n^2 rows) with a broadcast stats row and
    a self-equi-join on shifted cell keys."""
    cells = (
        points.select(
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = cells.crossJoin(F.broadcast(stats)).select(
        "ix", "iy", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    nbr = dev.select(
        F.col("dev").alias("dev_i"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("ix") + dx).alias("ix"),
                    (F.col("iy") + dy).alias("iy"),
                )
                for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
            ])
        ).alias("g"),
    ).select("g.ix", "g.iy", "dev_i")
    edges = nbr.join(
        dev.select("ix", "iy", F.col("dev").alias("dev_j")), ["ix", "iy"]
    ).agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(F.col("dev_i") * F.col("dev_j")).alias("num"),
    )
    den = dev.agg(F.sum(F.col("dev") * F.col("dev")).alias("den"))
    return stats.crossJoin(edges).crossJoin(den).select(
        "n", "s", "w_edges", "num", "den"
    )


def morans_i_sql(
    base_select: str,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``morans_i``; ``base_select`` -> (lon, lat)."""
    return f"""
WITH pt AS ({base_select}),
cl AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM pt GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM cl),
dv AS (SELECT ix, iy, st.n * cl.x - st.s AS dev FROM cl, st),
ed AS (
  SELECT a.dev AS di, b.dev AS dj
  FROM dv a JOIN dv b
    ON (abs(a.ix - b.ix) + abs(a.iy - b.iy)) = 1)
SELECT st.n AS n, st.s AS s,
       (SELECT CAST(count(*) AS BIGINT) FROM ed) AS w_edges,
       (SELECT CAST(coalesce(sum(di * dj), 0) AS BIGINT) FROM ed) AS num,
       (SELECT CAST(sum(dev * dev) AS BIGINT) FROM dv) AS den
FROM st"""


def geary_c(
    points: DataFrame,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Global Geary's C spatial-autocorrelation moments over the occupied
    cells of the 2^k grid (rook adjacency, binary weights) — the
    local-difference complement of ``morans_i`` (Geary 1954, public
    literature): Moran's cross-product is dominated by global deviation
    structure, Geary's squared-difference numerator reacts to local
    contrast, so the pair together distinguish "smooth trend" from
    "checkerboard".

    Exactness: the numerator sum((x_i - x_j)^2) over directed rook edges is
    already exact int64 on raw counts (no mean involved); the denominator
    reuses the N-scaled deviation trick of ``morans_i`` (dev_i = N*x_i - S),
    so den = sum(dev^2) = N^2 * sum((x_i - mean)^2) exactly.
    C = (n-1) * N^2 * num / (w_edges * 2 * den) is derivable downstream.

    Scale shape: identical to ``morans_i`` — one input-sized map-side
    combined histogram, then a shifted-key self-equi-join on the tiny
    occupied-cell table."""
    cells = (
        points.select(
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    nbr = cells.select(
        F.col("x").alias("x_i"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("ix") + dx).alias("ix"),
                    (F.col("iy") + dy).alias("iy"),
                )
                for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
            ])
        ).alias("g"),
    ).select("g.ix", "g.iy", "x_i")
    edges = nbr.join(
        cells.select("ix", "iy", F.col("x").alias("x_j")), ["ix", "iy"]
    ).agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(
            (F.col("x_i") - F.col("x_j")) * (F.col("x_i") - F.col("x_j"))
        ).alias("num"),
    )
    den = cells.crossJoin(F.broadcast(stats)).agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("s"))
            * (F.col("n") * F.col("x") - F.col("s"))
        ).alias("den")
    )
    return stats.crossJoin(edges).crossJoin(den).select(
        "n", "s", "w_edges", "num", "den"
    )


def geary_c_sql(
    base_select: str,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``geary_c``; ``base_select`` -> (lon, lat)."""
    return f"""
WITH pt AS ({base_select}),
cl AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM pt GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM cl),
ed AS (
  SELECT a.x AS xi, b.x AS xj
  FROM cl a JOIN cl b
    ON (abs(a.ix - b.ix) + abs(a.iy - b.iy)) = 1)
SELECT st.n AS n, st.s AS s,
       (SELECT CAST(count(*) AS BIGINT) FROM ed) AS w_edges,
       (SELECT CAST(coalesce(sum((xi - xj) * (xi - xj)), 0) AS BIGINT) FROM ed) AS num,
       (SELECT CAST(sum((st.n * x - st.s) * (st.n * x - st.s)) AS BIGINT) FROM cl) AS den
FROM st"""


def ripley_pairs(
    points: DataFrame,
    radii: list,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    scale: float = 1e5,
) -> DataFrame:
    """Ripley's K pair counts: unordered point pairs within each planar
    radius (quantized int64 coordinates at ``scale``), the second-order
    point-pattern statistic (Ripley 1977, public literature) behind
    clustered-vs-dispersed corpus diagnostics.

    Scale shape: the all-pairs definition is never materialized — one
    ``within_distance_join`` at radius r_max (cell side r_max, 3x3 probe,
    exact integer d^2), each unordered pair kept once by ``ida < idb``."""
    rmax = int(max(radii))

    def q(tag):
        return points.select(
            F.col(id_col).alias(f"id{tag}"),
            F.floor(F.col(lon_col) * scale).cast("long").alias("x"),
            F.floor(F.col(lat_col) * scale).cast("long").alias("y"),
        )

    pairs = within_distance_join(q("a"), q("b"), rmax).filter(
        F.col("ida") < F.col("idb"))
    return pairs.agg(*[
        F.sum((F.col("d2") <= r * r).cast("long")).alias(f"n_{int(r)}")
        for r in radii
    ])


def ripley_pairs_sql(
    base_select: str,
    radii: list,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    scale: float = 1e5,
) -> str:
    """DuckDB replay of ``ripley_pairs`` (direct banded inequality join);
    ``base_select`` -> (id, lon, lat)."""
    rmax = int(max(radii))
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN d2 <= {int(r) * int(r)} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_{int(r)}"
        for r in radii
    )
    return f"""
WITH q AS (
  SELECT {id_col} AS id,
         CAST(floor(({lon_col}) * {scale}) AS BIGINT) AS qx,
         CAST(floor(({lat_col}) * {scale}) AS BIGINT) AS qy
  FROM ({base_select}) s),
pr AS (
  SELECT (a.qx - b.qx) * (a.qx - b.qx)
         + (a.qy - b.qy) * (a.qy - b.qy) AS d2
  FROM q a JOIN q b
    ON a.id < b.id
   AND b.qx BETWEEN a.qx - {rmax} AND a.qx + {rmax}
   AND b.qy BETWEEN a.qy - {rmax} AND a.qy + {rmax})
SELECT {cols}
FROM pr"""


def variogram_lags(
    points: DataFrame,
    grid_n: int,
    lags: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Empirical directional semivariogram moments (Matheron 1963, public
    literature) over the occupied-cell histogram: for each lag h and
    axis direction (E = (+h, 0), N = (0, +h)), the pair count and the
    exact int64 sum of squared count differences between occupied cells
    h apart — gamma(h) = sq_sum / (2 * n_pairs) derivable.  The spatial-
    continuity diagnostic behind kriging range selection.

    Shape: one input-sized cell histogram, then per-lag equi-joins on
    shifted keys over the tiny occupied-cell table."""
    cells = (
        points.select(
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("x"))
    ).localCheckpoint()
    outs = []
    for h in lags:
        for dname, dx, dy in (("E", int(h), 0), ("N", 0, int(h))):
            a = cells.select(
                (F.col("ix") + dx).alias("ix"), (F.col("iy") + dy).alias("iy"),
                F.col("x").alias("xa"),
            )
            j = a.join(cells.select("ix", "iy", F.col("x").alias("xb")),
                       ["ix", "iy"])
            outs.append(
                j.agg(
                    F.lit(dname).alias("dir"),
                    F.lit(int(h)).cast("long").alias("lag"),
                    F.count(F.lit(1)).alias("n_pairs"),
                    F.sum(
                        (F.col("xa") - F.col("xb"))
                        * (F.col("xa") - F.col("xb"))
                    ).alias("sq_sum"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.select(
        "dir", "lag", "n_pairs", F.coalesce("sq_sum", F.lit(0)).alias("sq_sum")
    )


def variogram_lags_sql(
    base_select: str,
    grid_n: int,
    lags: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``variogram_lags``."""
    parts = []
    for h in lags:
        for dname, dx, dy in (("E", int(h), 0), ("N", 0, int(h))):
            parts.append(f"""
SELECT '{dname}' AS dir, CAST({int(h)} AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum((a.x - b.x) * (a.x - b.x)), 0) AS BIGINT) AS sq_sum
FROM cl a JOIN cl b ON b.ix = a.ix + {dx} AND b.iy = a.iy + {dy}""")
    return f"""
WITH cl AS MATERIALIZED (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM ({base_select}) p GROUP BY 1, 2)
{' UNION ALL '.join(parts)}"""


def cross_pairs(
    a: DataFrame,
    b: DataFrame,
    radii: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
    scale: float = 1e5,
) -> DataFrame:
    """Bivariate (cross-K) pair counts: points of A within each planar
    radius of points of B — the co-location statistic between two event
    categories (Ripley cross-K, public literature).  Same
    ``within_distance_join`` at radius r_max as ``ripley_pairs``, full
    bipartite — no ordering filter."""
    rmax = int(max(radii))

    def q(df):
        return df.select(
            F.floor(F.col(lon_col) * scale).cast("long").alias("x"),
            F.floor(F.col(lat_col) * scale).cast("long").alias("y"),
        )

    return within_distance_join(q(a), q(b), rmax).agg(*[
        F.sum((F.col("d2") <= r * r).cast("long")).alias(f"n_{int(r)}")
        for r in radii
    ])


def cross_pairs_sql(
    a_select: str,
    b_select: str,
    radii: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
    scale: float = 1e5,
) -> str:
    """DuckDB replay of ``cross_pairs`` (banded inequality join)."""
    rmax = int(max(radii))
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN d2 <= {int(r) * int(r)} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_{int(r)}"
        for r in radii
    )
    return f"""
WITH qa AS (
  SELECT CAST(floor(({lon_col}) * {scale}) AS BIGINT) AS xa,
         CAST(floor(({lat_col}) * {scale}) AS BIGINT) AS ya
  FROM ({a_select}) s),
qb AS (
  SELECT CAST(floor(({lon_col}) * {scale}) AS BIGINT) AS xb,
         CAST(floor(({lat_col}) * {scale}) AS BIGINT) AS yb
  FROM ({b_select}) s),
pr AS (
  SELECT (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS d2
  FROM qa JOIN qb
    ON xb BETWEEN xa - {rmax} AND xa + {rmax}
   AND yb BETWEEN ya - {rmax} AND ya + {rmax})
SELECT {cols}
FROM pr"""


def spatial_entropy(
    points: DataFrame,
    resolutions: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Spatial diversity moments of the cell histogram at several grid
    resolutions: occupied-cell count, point count, Simpson concentration
    numerator (sum of squared cell counts) and the integer-log2 entropy
    numerator (sum of c * floor(log2 c) via bit length — no FP log) ->
    one row per resolution.  The multi-scale clustering summary used to
    pick partitioning resolutions.

    Shape: one map-side-combined histogram per resolution over the same
    scan; every later stage is cell-table-sized."""
    outs = []
    for n in resolutions:
        cells = (
            points.select(
                F.expr(grid_expr("x", int(n), lon_col, lat_col)).alias("ix"),
                F.expr(grid_expr("y", int(n), lon_col, lat_col)).alias("iy"),
            )
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            cells.agg(
                F.lit(int(n)).cast("long").alias("res"),
                F.count(F.lit(1)).alias("n_cells"),
                F.sum("c").alias("n_pts"),
                F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
                F.sum(
                    F.col("c")
                    * (F.length(F.expr("bin(c)")) - F.lit(1)).cast("long")
                ).alias("sum_clog2c"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out


def spatial_entropy_sql(
    base_select: str,
    resolutions: list,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``spatial_entropy`` (same bin() bit-length log)."""
    parts = []
    for n in resolutions:
        parts.append(f"""
SELECT CAST({int(n)} AS BIGINT) AS res,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(c) AS BIGINT) AS n_pts,
       CAST(sum(c * c) AS BIGINT) AS sum_c2,
       CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sum_clog2c
FROM (
  SELECT {grid_expr('x', int(n), lon_col, lat_col)} AS ix,
         {grid_expr('y', int(n), lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS c
  FROM ({base_select}) p GROUP BY 1, 2) cl""")
    return " UNION ALL ".join(parts)


def cell_jaccard(
    a: DataFrame,
    b: DataFrame,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Occupied-cell-set Jaccard between two point epochs: |A|, |B| and
    |A AND B| as exact counts (J = inter / (na + nb - inter) derivable)
    — the coverage-drift twin of ``cell_change``'s per-cell view.  Two
    histograms + one equi-join on the tiny cell tables."""
    def cells(df):
        return (
            df.select(
                F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
                F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
            )
            .distinct()
        )

    ca, cb = cells(a), cells(b)
    inter = ca.join(cb, ["ix", "iy"]).count()
    na, nb = ca.count(), cb.count()
    spark = a.sparkSession
    return spark.createDataFrame(
        [(int(na), int(nb), int(inter))], "na long, nb long, inter long"
    )


def cell_jaccard_sql(
    a_select: str,
    b_select: str,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``cell_jaccard``."""
    def cells(sel):
        return (f"SELECT DISTINCT {grid_expr('x', grid_n, lon_col, lat_col)}"
                f" AS ix, {grid_expr('y', grid_n, lon_col, lat_col)} AS iy "
                f"FROM ({sel}) s")

    return f"""
WITH ca AS ({cells(a_select)}), cb AS ({cells(b_select)})
SELECT (SELECT CAST(count(*) AS BIGINT) FROM ca) AS na,
       (SELECT CAST(count(*) AS BIGINT) FROM cb) AS nb,
       (SELECT CAST(count(*) AS BIGINT)
        FROM ca JOIN cb USING (ix, iy)) AS inter"""


def lisa_moments(
    points: DataFrame,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Local Moran's I (LISA, Anselin 1995, public literature) moments
    per occupied cell under rook adjacency: the N-scaled deviation
    dev_i = N*x_i - S, the sum of neighboring deviations and the
    neighbor count -> (ix, iy, dev, nbr_dev_sum, n_nbr); I_i is the
    derivable rational dev*nbr_dev_sum / (den*n_nbr-ish normalizations)
    and the high-high/low-low quadrant is sign(dev)*sign(nbr_dev_sum).
    The per-cell drill-down of the global ``morans_i`` gate.

    Shape identical to morans_i: one input-sized histogram, then tiny
    cell-table joins."""
    cells = (
        points.select(
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = cells.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dev = cells.crossJoin(F.broadcast(stats)).select(
        "ix", "iy", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    nbr = dev.select(
        F.col("dev").alias("dev_j"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("ix") + dx).alias("ix"),
                    (F.col("iy") + dy).alias("iy"),
                )
                for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
            ])
        ).alias("g"),
    ).select("g.ix", "g.iy", "dev_j")
    agg = nbr.groupBy("ix", "iy").agg(
        F.sum("dev_j").alias("nbr_dev_sum"),
        F.count(F.lit(1)).alias("n_nbr"),
    )
    return dev.join(agg, ["ix", "iy"], "left").select(
        "ix", "iy", "dev",
        F.coalesce("nbr_dev_sum", F.lit(0)).alias("nbr_dev_sum"),
        F.coalesce("n_nbr", F.lit(0)).alias("n_nbr"),
    )


def lisa_moments_sql(
    base_select: str,
    grid_n: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``lisa_moments``."""
    return f"""
WITH pt AS ({base_select}),
cl AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM pt GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
       FROM cl),
dv AS (SELECT ix, iy, st.n * cl.x - st.s AS dev FROM cl, st),
nb AS (
  SELECT a.ix, a.iy, CAST(sum(b.dev) AS BIGINT) AS nbr_dev_sum,
         CAST(count(*) AS BIGINT) AS n_nbr
  FROM dv a JOIN dv b
    ON (abs(a.ix - b.ix) + abs(a.iy - b.iy)) = 1
  GROUP BY 1, 2)
SELECT dv.ix AS ix, dv.iy AS iy, CAST(dev AS BIGINT) AS dev,
       coalesce(nb.nbr_dev_sum, 0) AS nbr_dev_sum,
       coalesce(nb.n_nbr, 0) AS n_nbr
FROM dv LEFT JOIN nb ON nb.ix = dv.ix AND nb.iy = dv.iy"""


def emerging_hotspot(
    points: DataFrame,
    grid_n: int,
    epoch_col: str,
    n_epochs: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-cell Mann-Kendall trend of the epoch count series — the core
    of "emerging hot spot analysis" (Mann 1945 / Kendall 1975 S
    statistic, public literature): for each occupied cell of the 2^k
    grid, S = sum over epoch pairs i < j of sign(c_j - c_i), computed
    over the FULL epoch range (missing epochs count 0 — a cell that
    appears late must read as a rising trend).  Output (ix, iy, s,
    n_pos, n_neg): S plus the concordant/discordant pair counts; n_pos
    > n_neg means intensifying, the classification thresholds (z via
    var(S)) are a downstream scalar map.  Exact integers throughout.

    Scale shape: one input-sized histogram (map-side combine) on (cell,
    epoch); the densify + pair stage runs on occupied-cells x n_epochs
    rows (tiny), with the epoch dimension broadcast."""
    cells = (
        points.select(
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
            F.col(epoch_col).cast("long").alias("e"),
        )
        .groupBy("ix", "iy", "e")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    epochs = cells.sparkSession.range(n_epochs).select(
        F.col("id").alias("e")
    )
    dense = (
        cells.select("ix", "iy").distinct()
        .crossJoin(F.broadcast(epochs))
        .join(cells, ["ix", "iy", "e"], "left")
        .fillna(0, subset=["c"])
    )
    a = dense.select("ix", "iy", F.col("e").alias("e1"),
                     F.col("c").alias("c1"))
    b = dense.select("ix", "iy", F.col("e").alias("e2"),
                     F.col("c").alias("c2"))
    pairs = a.join(b, ["ix", "iy"]).filter(F.col("e1") < F.col("e2"))
    sgn = F.when(F.col("c2") > F.col("c1"), 1).when(
        F.col("c2") < F.col("c1"), -1).otherwise(0)
    return pairs.groupBy("ix", "iy").agg(
        F.sum(sgn).alias("s"),
        F.sum(F.when(sgn == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(sgn == -1, 1).otherwise(0)).alias("n_neg"),
    )


def emerging_hotspot_sql(
    base_select: str,
    grid_n: int,
    epoch_expr: str,
    n_epochs: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB replay of ``emerging_hotspot``; ``base_select`` -> (lon,
    lat, ...) and ``epoch_expr`` evaluates the epoch over its columns."""
    return f"""
WITH pt AS ({base_select}),
cl AS (
  SELECT {grid_expr('x', grid_n, lon_col, lat_col)} AS ix,
         {grid_expr('y', grid_n, lon_col, lat_col)} AS iy,
         CAST({epoch_expr} AS BIGINT) AS e,
         CAST(count(*) AS BIGINT) AS c
  FROM pt GROUP BY 1, 2, 3),
dense AS (
  SELECT o.ix, o.iy, ep.e, coalesce(cl.c, 0) AS c
  FROM (SELECT DISTINCT ix, iy FROM cl) o
  CROSS JOIN generate_series(0, {n_epochs - 1}) ep(e)
  LEFT JOIN cl ON cl.ix = o.ix AND cl.iy = o.iy AND cl.e = ep.e),
pairs AS (
  SELECT a.ix, a.iy,
         CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS g
  FROM dense a JOIN dense b
    ON a.ix = b.ix AND a.iy = b.iy AND a.e < b.e)
SELECT ix, iy, CAST(sum(g) AS BIGINT) AS s,
       CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN g = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
FROM pairs GROUP BY 1, 2"""


def knox_counts(
    points: DataFrame,
    r_quant: int,
    tau: int,
    id_col: str = "id",
    t_col: str = "t",
    lon_col: str = "lon",
    lat_col: str = "lat",
    scale: int = 100_000,
) -> DataFrame:
    """Knox space-time interaction statistic counts (Knox 1964, public
    literature) over unordered point pairs: n_pairs_space (distance^2 <=
    r_quant^2 in quantized integer units), n_pairs_time (|dt| <= tau),
    n_pairs_both, and n (points) — the 2x2 contingency the Knox test /
    Monte-Carlo permutation builds on.  Distances use the engine's
    standard 1e5-quantized lon/lat plane (exact int64 d^2).

    Scale shape: NO all-pairs join — space candidates come from one
    ``within_distance_join`` at radius r, time candidates from a +-1 bin
    probe on t // tau; each unordered pair is counted once via the
    lexicographic (t, id) guard.  The both-count reuses the space
    candidates (space bins are the rarer event at sane radii)."""
    q = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(t_col).cast("long").alias("t"),
        F.floor(F.col(lon_col) * scale).cast("long").alias("qx"),
        F.floor(F.col(lat_col) * scale).cast("long").alias("qy"),
    )
    r = int(r_quant)
    tau = int(tau)
    n = q.agg(F.count(F.lit(1)).alias("n"))

    def pair_guard(ta, pa, tb, pb):
        return (ta < tb) | ((ta == tb) & (pa < pb))

    # --- space: the shared fixed-radius join at radius r
    def side(tag):
        return q.select(F.col("pid").alias(f"p{tag}"), F.col("t").alias(f"t{tag}"),
                        F.col("qx").alias("x"), F.col("qy").alias("y"))

    ta, tb = F.col("ta"), F.col("tb")
    sp = (
        within_distance_join(side("a"), side("b"), r)
        .filter(pair_guard(ta, F.col("pa"), tb, F.col("pb")))
        .agg(
            F.count(F.lit(1)).alias("n_space"),
            F.sum((F.abs(ta - tb) <= tau).cast("long")).alias("n_both"),
        )
    )
    # --- time: +-1 bin probe on t // tau
    tbin = q.withColumn("tb", F.floor(F.col("t") / tau))
    tprobe = tbin.select(
        "pid", "t",
        F.explode(F.array(*[F.col("tb") + d for d in (-1, 0, 1)]))
        .alias("tb"),
    )
    tm = (
        tprobe.alias("a")
        .join(tbin.select("pid", "t", "tb").alias("b"), ["tb"])
        .filter(pair_guard(F.col("a.t"), F.col("a.pid"),
                           F.col("b.t"), F.col("b.pid")))
        .filter(F.abs(F.col("a.t") - F.col("b.t")) <= tau)
        .agg(F.count(F.lit(1)).alias("n_time"))
    )
    return n.crossJoin(sp).crossJoin(tm).select(
        "n", "n_space", "n_time", F.col("n_both").cast("long").alias("n_both")
    )


def knox_counts_sql(
    base_select: str,
    r_quant: int,
    tau: int,
    scale: int = 100_000,
) -> str:
    """DuckDB replay of ``knox_counts`` as the O(n^2) definitional join
    (the oracle side may brute-force; the engine may not);
    ``base_select`` -> (pid, t, lon, lat)."""
    r = int(r_quant)
    return f"""
WITH q AS (
  SELECT pid, CAST(t AS BIGINT) AS t,
         CAST(floor(lon * {scale}) AS BIGINT) AS qx,
         CAST(floor(lat * {scale}) AS BIGINT) AS qy
  FROM ({base_select}) b),
pr AS (
  SELECT (a.qx - b.qx) * (a.qx - b.qx)
         + (a.qy - b.qy) * (a.qy - b.qy) <= {r} * {r} AS cs,
         abs(a.t - b.t) <= {tau} AS ct
  FROM q a JOIN q b
    ON (a.t < b.t OR (a.t = b.t AND a.pid < b.pid)))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS n,
       CAST(sum(CASE WHEN cs THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
       CAST(sum(CASE WHEN ct THEN 1 ELSE 0 END) AS BIGINT) AS n_time,
       CAST(sum(CASE WHEN cs AND ct THEN 1 ELSE 0 END) AS BIGINT) AS n_both
FROM pr"""


def gravity_scores(flows: DataFrame, scale: int = 1 << 20) -> DataFrame:
    """Gravity-model scoring of an OD flow matrix (the spatial-interaction
    model of public transport geography: predicted flow ~ m_o * m_d /
    d^2): every observed (origin cell, dest cell, n) row gains the exact
    integer score floordiv(outmass(o) * inmass(d) * scale, d2) with d2 =
    cell-center distance^2 clamped to >= 1 (intra-cell trips).  Masses
    are the marginal trip counts; everything stays int64 (caller bounds:
    m_o * m_d * scale < 2^63).

    Shape: two map-side-combined marginal aggregations joined back (both
    tiny relative to the flow table, broadcastable), then codegen
    arithmetic — no shuffle beyond the marginals."""
    om = flows.groupBy("oix", "oiy").agg(F.sum("n").alias("m_o"))
    dm = flows.groupBy("dix", "diy").agg(F.sum("n").alias("m_d"))
    j = flows.join(F.broadcast(om), ["oix", "oiy"]).join(
        F.broadcast(dm), ["dix", "diy"]
    )
    d2 = F.greatest(
        (F.col("oix") - F.col("dix")) * (F.col("oix") - F.col("dix"))
        + (F.col("oiy") - F.col("diy")) * (F.col("oiy") - F.col("diy")),
        F.lit(1),
    ).cast("long")
    return j.select(
        "oix", "oiy", "dix", "diy", "n", "m_o", "m_d",
        F.expr(f"CAST(m_o * m_d * {int(scale)} AS BIGINT)").cast("long")
        .alias("__num"),
        d2.alias("__d2"),
    ).selectExpr(
        "oix", "oiy", "dix", "diy", "n", "m_o", "m_d",
        "__num DIV __d2 AS score",
    )


def gravity_scores_sql(flows_select: str, scale: int = 1 << 20) -> str:
    """DuckDB replay of ``gravity_scores``; ``flows_select`` -> (oix,
    oiy, dix, diy, n).  Marginals as window sums (same values as the
    join formulation); all quantities positive, so // == floor."""
    return f"""
WITH f AS ({flows_select}),
m AS (
  SELECT oix, oiy, dix, diy, n,
         sum(n) OVER (PARTITION BY oix, oiy) AS m_o,
         sum(n) OVER (PARTITION BY dix, diy) AS m_d,
         greatest((oix - dix) * (oix - dix) + (oiy - diy) * (oiy - diy),
                  1) AS d2
  FROM f)
SELECT oix, oiy, dix, diy, n,
       CAST(m_o AS BIGINT) AS m_o, CAST(m_d AS BIGINT) AS m_d,
       CAST((CAST(m_o AS BIGINT) * CAST(m_d AS BIGINT) * {int(scale)}) // d2
            AS BIGINT) AS score
FROM m"""


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "qx",
    y_col: str = "qy",
) -> DataFrame:
    """Exact point-level DBSCAN (Ester et al. 1996, public literature)
    over quantized int64 coordinates -> (id, role, cluster):
    role = 'core' (>= min_pts neighbors within eps, self included),
    'border' (non-core with a core neighbor), or 'noise'; cluster = the
    smallest core id reachable through core-core eps-edges (borders take
    the min cluster over their core neighbors — the deterministic,
    order-free border rule), NULL for noise.

    Scale shape: neighbor candidates from ONE ``within_distance_join`` at
    radius eps (never all pairs); the connected-components loop runs over
    the CORE adjacency only (min-label + pointer jumping, O(log diameter)
    rounds).  The point-level exact
    companion of ``grid_cluster`` (which survives 10^12 points by
    clustering core CELLS instead)."""
    from ..operators.graph import connected_components

    def side(tag):
        return points.select(F.col(id_col).alias(f"{tag}_id"),
                             F.col(x_col).alias("x"), F.col(y_col).alias("y"))

    nbr = within_distance_join(side("a"), side("b"), eps).select("a_id", "b_id")
    deg = nbr.groupBy("a_id").agg(F.count(F.lit(1)).alias("n_nbr"))
    # eager localCheckpoint, not persist: GC-reclaimed, no cache entry left behind
    core = deg.filter(F.col("n_nbr") >= int(min_pts)).select(
        F.col("a_id").alias("cid")
    ).localCheckpoint()
    # core-core edges (self-loops keep isolated cores in the output)
    cc_edges = (
        nbr.join(core, nbr.a_id == core.cid).drop("cid")
        .join(core.withColumnRenamed("cid", "cid2"), nbr.b_id == F.col("cid2"))
        .select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    )
    comp = connected_components(cc_edges)  # (node, comp) over cores
    core_lab = comp.select(F.col("node").alias("pid"), F.col("comp").alias("cluster"))
    cores_out = core_lab.select("pid", F.lit("core").alias("role"), "cluster")
    # borders: non-core points with >= 1 core neighbor -> min cluster
    border = (
        nbr.join(core, nbr.a_id == core.cid, "left_anti")
        .join(core.withColumnRenamed("cid", "cid2"), nbr.b_id == F.col("cid2"))
        .join(core_lab, F.col("b_id") == core_lab.pid)
        .groupBy(F.col("a_id"))
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a_id").alias("pid"), F.lit("border").alias("role"), "cluster")
    )
    labeled = cores_out.union(border)
    noise = (
        points.select(F.col(id_col).alias("pid"))
        .join(labeled.select("pid"), "pid", "left_anti")
        .select("pid", F.lit("noise").alias("role"),
                F.lit(None).cast("long").alias("cluster"))
    )
    out = labeled.union(noise)
    return out.select(F.col("pid").alias(id_col), "role", "cluster")


def dbscan_sql(base_select: str, eps: int, min_pts: int) -> str:
    """DuckDB replay of ``dbscan``; ``base_select`` -> (id, qx, qy).
    Neighbors via the plain radius self-join (the cell ring provably
    yields the same set); components via recursive transitive closure."""
    r2 = int(eps) * int(eps)
    return f"""
WITH RECURSIVE pts AS ({base_select}),
nbr AS (
  SELECT a.id AS a_id, b.id AS b_id
  FROM pts a JOIN pts b
    ON (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy) <= {r2}),
core AS (
  SELECT a_id AS cid FROM nbr GROUP BY 1 HAVING count(*) >= {int(min_pts)}),
ce AS (
  SELECT n.a_id AS a, n.b_id AS b FROM nbr n
  JOIN core c1 ON c1.cid = n.a_id
  JOIN core c2 ON c2.cid = n.b_id),
reach(node, r) AS (
  SELECT a, a FROM ce
  UNION
  SELECT reach.node, ce.b FROM reach JOIN ce ON ce.a = reach.r),
lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY 1),
border AS (
  SELECT n.a_id AS pid, min(l.cluster) AS cluster
  FROM nbr n
  JOIN core c2 ON c2.cid = n.b_id
  JOIN lab l ON l.node = n.b_id
  WHERE n.a_id NOT IN (SELECT cid FROM core)
  GROUP BY 1)
SELECT p.id, 
       CASE WHEN l.node IS NOT NULL THEN 'core'
            WHEN b.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CASE WHEN l.node IS NOT NULL THEN l.cluster ELSE b.cluster END AS cluster
FROM pts p
LEFT JOIN lab l ON l.node = p.id
LEFT JOIN border b ON b.pid = p.id"""


def correlogram(
    points: DataFrame,
    band_width: int,
    n_bands: int,
    id_col: str = "id",
    x_col: str = "qx",
    y_col: str = "qy",
    v_col: str = "v",
) -> DataFrame:
    """Spatial correlogram (Moran's I per distance band, the classic
    spatial-autocorrelation profile) in exact integer arithmetic:
    deviations are scaled by n (z_i = v_i*n - sum_v, an integer), so per
    band the cross-product sum, the pair count, and the global z^2 sum
    are exact int64 — Moran's I for band b is the exact rational
      I_b = (n * sum_zz_b) / (n_pairs_b * sum_z2)   [scaled by n^2]
    derivable downstream from the returned integers.

    Returns (band, n_pairs, sum_zz, sum_z2) with band = d2 // bw^2
    annulus index (0 .. n_bands-1), ordered pairs counted once each
    direction (the symmetric W convention).

    Shape: ONE ``within_distance_join`` at radius = max radius (never all
    pairs), exact integer distances, one aggregation.  Caller keeps
    |v|*n bounded so z products stay in int64."""
    R = int(band_width) * int(n_bands)
    b = points.select(
        F.col(id_col).alias("i"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
        F.col(v_col).cast("long").alias("v"),
    )
    stats = b.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    ).collect()[0]
    n, sv = int(stats["n"]), int(stats["sv"])
    bz = b.withColumn("z", F.col("v") * n - F.lit(sv))
    sum_z2 = bz.agg(F.sum(F.col("z") * F.col("z"))).collect()[0][0]

    def side(tag):
        return bz.select(F.col("i").alias(f"{tag}i"), "x", "y",
                         F.col("z").alias(f"{tag}z"))

    j = within_distance_join(side("a"), side("b"), R).filter(
        F.col("ai") != F.col("bi"))
    # annulus index: band k iff (k*bw)^2 <= d2 < ((k+1)*bw)^2 — exact
    # integer threshold chain (d2 // bw^2 would make the bands quadratic)
    bw = int(band_width)
    band = F.lit(int(n_bands)).cast("long")
    for k in reversed(range(int(n_bands))):
        band = F.when(F.col("d2") < (k + 1) * (k + 1) * bw * bw,
                      F.lit(k).cast("long")).otherwise(band)
    out = (
        j.withColumn("band", band)
        .filter(F.col("band") < int(n_bands))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("az") * F.col("bz")).alias("sum_zz"),
        )
        .withColumn("sum_z2", F.lit(int(sum_z2)))
    )
    return out


def correlogram_sql(base_select: str, band_width: int, n_bands: int) -> str:
    """DuckDB replay of ``correlogram``; ``base_select`` -> (id, qx, qy,
    v).  The oracle uses the plain radius self-join."""
    R = int(band_width) * int(n_bands)
    bw = int(band_width)
    d2 = "((a.x - c.x) * (a.x - c.x) + (a.y - c.y) * (a.y - c.y))"
    band_case = "CASE " + " ".join(
        f"WHEN {d2} < {(k + 1) * (k + 1) * bw * bw} THEN {k}"
        for k in range(int(n_bands))
    ) + f" ELSE {int(n_bands)} END"
    return f"""
WITH b AS (
  SELECT id AS i, CAST(qx AS BIGINT) AS x, CAST(qy AS BIGINT) AS y,
         CAST(v AS BIGINT) AS v
  FROM ({base_select}) s),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv
       FROM b),
z AS (SELECT i, x, y, v * st.n - st.sv AS z FROM b, st),
z2 AS (SELECT CAST(sum(z * z) AS BIGINT) AS sum_z2 FROM z),
pairs AS (
  SELECT CAST({band_case} AS BIGINT) AS band,
         a.z AS az, c.z AS cz
  FROM z a JOIN z c ON a.i <> c.i
   AND (a.x - c.x) * (a.x - c.x) + (a.y - c.y) * (a.y - c.y) <= {R * R})
SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(az * cz) AS BIGINT) AS sum_zz,
       (SELECT sum_z2 FROM z2) AS sum_z2
FROM pairs WHERE band < {int(n_bands)} GROUP BY 1"""


# ------------------------------------------------------------- IPF / Furness
# Iterative proportional fitting (Deming & Stephan 1940; Furness 1965 in
# the transport literature) — balance a seed OD matrix to row (origin)
# and column (destination) targets by alternately scaling rows and
# columns.  The distribution step every gravity-model pipeline runs
# after gravity_scores.  Exactness: cells stay int64 between rounds, so
# the row/column sums are order-independent exact integers; each scaling
# is ONE double expression (identical text in both engines, identical
# int64 inputs -> identical IEEE result) floor-quantized straight back
# to int64.


_IPF_SCALE_EXPR = (
    "CAST(floor(CAST(t AS DOUBLE) * CAST(target AS DOUBLE)"
    " / CAST(s AS DOUBLE) + 0.12345678987) AS BIGINT)"
)


def ipf_balance(
    seed: DataFrame,
    row_targets: DataFrame,
    col_targets: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Furness-balance ``seed`` (o, d, t int64) to ``row_targets``
    (o, target) and ``col_targets`` (d, target) with ``rounds``
    alternating row-then-column scalings -> (o, d, t).  Zero-sum rows /
    columns stay zero (the standard IPF convention).  Fixed round count
    is part of the semantics (same contract as shortest_paths) so the
    oracle can replay it as unrolled CTEs.

    Shape per half-round: one keyed partial-agg (sum over o or d) + one
    equi-join back + one codegen scale expression; localCheckpoint per
    round truncates the 2*rounds-deep lineage (plan-shape lesson 6).
    Targets join broadcast when small but remain keyed-shuffle-safe at
    zone counts beyond broadcast size."""
    t = seed.select("o", "d", F.col("t").cast("long").alias("t"))
    rt = row_targets.select("o", F.col("target").cast("long").alias("rt"))
    ct = col_targets.select("d", F.col("target").cast("long").alias("ct"))
    for _ in range(int(rounds)):
        rs = t.groupBy("o").agg(F.sum("t").alias("s"))
        t = (
            t.join(rs, "o")
            .join(rt, "o")
            .withColumn("target", F.col("rt"))
            .withColumn(
                "t",
                F.when(F.col("s") == 0, F.lit(0).cast("long"))
                .otherwise(F.expr(_IPF_SCALE_EXPR)),
            )
            .select("o", "d", "t")
        )
        cs = t.groupBy("d").agg(F.sum("t").alias("s"))
        t = (
            t.join(cs, "d")
            .join(ct, "d")
            .withColumn("target", F.col("ct"))
            .withColumn(
                "t",
                F.when(F.col("s") == 0, F.lit(0).cast("long"))
                .otherwise(F.expr(_IPF_SCALE_EXPR)),
            )
            .select("o", "d", "t")
            .localCheckpoint()
        )
    return t


def ipf_balance_sql(
    seed_select: str,
    row_targets_select: str,
    col_targets_select: str,
    rounds: int = 4,
) -> str:
    """DuckDB replay of ``ipf_balance`` as unrolled MATERIALIZED CTEs;
    selects -> (o, d, t) / (o, target) / (d, target)."""
    blocks = [
        f"t0 AS MATERIALIZED (SELECT o, d, CAST(t AS BIGINT) AS t FROM ({seed_select}) s0)",
        f"rt AS MATERIALIZED (SELECT o, CAST(target AS BIGINT) AS rt FROM ({row_targets_select}) r0)",
        f"ct AS MATERIALIZED (SELECT d, CAST(target AS BIGINT) AS ct FROM ({col_targets_select}) c0)",
    ]
    cur = "t0"
    i = 0
    for _ in range(int(rounds)):
        for axis, tgt in (("o", "rt"), ("d", "ct")):
            nxt = f"t{i + 1}"
            expr = _IPF_SCALE_EXPR.replace("target", tgt)
            blocks.append(f"""{nxt} AS MATERIALIZED (
  SELECT {cur}.o, {cur}.d,
         CASE WHEN s.s = 0 THEN CAST(0 AS BIGINT) ELSE {expr} END AS t
  FROM {cur}
  JOIN (SELECT {axis}, CAST(sum(t) AS BIGINT) AS s
        FROM {cur} GROUP BY 1) s ON s.{axis} = {cur}.{axis}
  JOIN {tgt} ON {tgt}.{axis} = {cur}.{axis})""")
            cur = nxt
            i += 1
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT o, d, t FROM {cur}")


def quadrat_vmr(
    points: DataFrame,
    n_quadrats: int,
    qx_col: str = "qx",
    qy_col: str = "qy",
) -> DataFrame:
    """Quadrat-count analysis (the index-of-dispersion test for CSR) ->
    one row (nq, occupied, s, s2, vmr_num, vmr_den): counts per quadrat
    cell over a FIXED frame of ``n_quadrats`` cells (empties count 0 and
    enter only through the constants), and the variance/mean ratio as
    the exact rational

        VMR = (nq * s2 - s^2) / (s * (nq - 1))

    VMR > 1 means clustered, < 1 regular.  Two map-side-combinable
    aggs, nothing else."""
    c = points.groupBy(qx_col, qy_col).agg(F.count(F.lit(1)).alias("c"))
    nq = int(n_quadrats)
    t = c.agg(
        F.count(F.lit(1)).alias("occupied"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return t.select(
        F.lit(nq).cast("long").alias("nq"),
        "occupied", "s", "s2",
        (F.lit(nq) * F.col("s2") - F.col("s") * F.col("s")).alias("vmr_num"),
        (F.col("s") * F.lit(nq - 1)).alias("vmr_den"),
    )


def quadrat_vmr_sql(points_select: str, n_quadrats: int) -> str:
    """DuckDB oracle for ``quadrat_vmr``; ``points_select`` must yield
    (qx, qy)."""
    nq = int(n_quadrats)
    return f"""
SELECT CAST({nq} AS BIGINT) AS nq, CAST(count(*) AS BIGINT) AS occupied,
       CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2,
       CAST({nq} * sum(c * c) - sum(c) * sum(c) AS BIGINT) AS vmr_num,
       CAST(sum(c) * {nq - 1} AS BIGINT) AS vmr_den
FROM (
  SELECT qx, qy, count(*) AS c
  FROM ({points_select}) p GROUP BY 1, 2) cells"""


def all_nearest_neighbors(
    points: DataFrame,
    cell: int,
    id_col: str = "id",
    x_col: str = "qx",
    y_col: str = "qy",
    max_rounds: int = 12,
) -> DataFrame:
    """Exact all-pairs 1-NN over quantized int64 planar points ->
    (id, nn_id, d2, d): for every point the nearest OTHER point, ties by
    smallest neighbor id, d = exact isqrt(d2) (floor(sqrt) corrected by
    integer comparison, so a perfect square straddling a libm boundary
    cannot split engines).  The Clark-Evans / spatial-description
    building block.

    Scale shape (a ring-doubling loop on the plane): round
    r joins the still-uncertified points against their (2r+1)^2 grid-cell
    block; a candidate best is CERTIFIED exact when best_d2 < clearance^2,
    clearance = the point's integer distance to the block boundary (any
    point outside the block is at least that far away; ties must go to
    the uncertified side because an outside tie could win the id
    tie-break).  Rings double; per-round driver traffic is one pending
    count."""
    pts = points.select(
        F.col(id_col).alias("pid"), F.col(x_col).alias("px"),
        F.col(y_col).alias("py"),
    ).persist()
    # others and each round's best: eager localCheckpoints, not persist —
    # the GC reclaims them, so the call leaves no cache entry behind
    others = pts.select(
        F.col("pid").alias("oid"), F.col("px").alias("ox"),
        F.col("py").alias("oy"),
        _cell("px", cell).alias("ocx"), _cell("py", cell).alias("ocy"),
    ).localCheckpoint()
    lo_hi = pts.agg(
        F.min("px"), F.max("px"), F.min("py"), F.max("py")
    ).collect()[0]
    span_cells = max(lo_hi[1] - lo_hi[0], lo_hi[3] - lo_hi[2]) // int(cell) + 2
    done = None
    pending = pts
    r = 1
    for _ in range(max_rounds):
        cand = _ring_cells(pending, "px", "py", cell, r)
        dx = F.col("px") - F.col("ox")
        dy = F.col("py") - F.col("oy")
        best = (
            cand.join(others, (F.col("cx") == F.col("ocx"))
                      & (F.col("cy") == F.col("ocy")))
            .filter(F.col("oid") != F.col("pid"))
            .withColumn("d2", dx * dx + dy * dy)
        )
        w = Window.partitionBy("pid").orderBy("d2", "oid")
        best = (
            best.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("pid", "px", "py", F.col("oid").alias("nn_id"), "d2")
        )
        cellL = F.lit(int(cell)).cast("long")
        bx, by = _cell("px", cell), _cell("py", cell)
        clear = F.least(
            F.col("px") - ((bx - r) * cellL - 1),
            (bx + r + 1) * cellL - F.col("px"),
            F.col("py") - ((by - r) * cellL - 1),
            (by + r + 1) * cellL - F.col("py"),
        )
        # a block wider than the data span holds every point: best is exact
        # even when the boundary-clearance test cannot certify it
        ok = (F.col("d2") < clear * clear) | F.lit(r >= span_cells)
        best = best.withColumn("__ok", ok).localCheckpoint()
        certified = best.filter(F.col("__ok")).select("pid", "nn_id", "d2")
        done = certified if done is None else done.unionByName(certified)
        pending = (
            pending.join(best.filter(F.col("__ok")).select("pid"), "pid",
                         "left_anti")
        )
        if pending.limit(1).count() == 0:
            break
        r *= 2
    else:
        # remaining points (near-empty neighborhoods): exact brute against
        # the full broadcast point set — the documented small-tail path
        dx = F.col("px") - F.col("ox")
        dy = F.col("py") - F.col("oy")
        w = Window.partitionBy("pid").orderBy("d2", "oid")
        brute = (
            pending.crossJoin(F.broadcast(others.drop("ocx", "ocy")))
            .filter(F.col("oid") != F.col("pid"))
            .withColumn("d2", dx * dx + dy * dy)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("pid", F.col("oid").alias("nn_id"), "d2")
        )
        done = brute if done is None else done.unionByName(brute)
    s = F.floor(F.sqrt(F.col("d2").cast("double"))).cast("long")
    s = s - (s * s > F.col("d2")).cast("long")
    s = s + ((s + 1) * (s + 1) <= F.col("d2")).cast("long")
    out = done.withColumn("d", s).select(
        F.col("pid").alias(id_col), "nn_id", "d2", "d"
    )
    pts.unpersist()
    return out


def all_nearest_neighbors_sql(base_select: str) -> str:
    """DuckDB oracle for ``all_nearest_neighbors``: the brute self-join
    definition (min d2, ties by smallest neighbor id) + the identical
    corrected integer sqrt.  ``base_select`` -> (id, qx, qy)."""
    return f"""
WITH p AS MATERIALIZED (SELECT id, qx, qy FROM ({base_select}) s),
pairs AS (
  SELECT a.id AS id, b.id AS nn_id,
         (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy) AS d2
  FROM p a JOIN p b ON a.id != b.id),
best AS (
  SELECT id, nn_id, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, nn_id) AS rn
    FROM pairs) r WHERE rn = 1),
s0 AS (SELECT *, CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS s FROM best),
s1 AS (SELECT id, nn_id, d2, s - CASE WHEN s * s > d2 THEN 1 ELSE 0 END AS s FROM s0)
SELECT id, nn_id, d2,
       s + CASE WHEN (s + 1) * (s + 1) <= d2 THEN 1 ELSE 0 END AS d
FROM s1"""


def catchment_2sfca(
    facilities: DataFrame,
    demand: DataFrame,
    radius: int,
    scale: int = 1 << 30,
) -> DataFrame:
    """Two-step floating catchment area accessibility (Luo & Wang 2003,
    public literature) in exact integer arithmetic -> (d_id, access,
    n_fac).  Step 1: each facility j's ratio R_j = floor(S_j * scale /
    sum of demand within radius); step 2: each demand point i sums R_j
    over facilities within radius.  Inputs: facilities (f_id, x, y,
    supply), demand (d_id, x, y, pop).

    Scale shape: the distance pairs are computed by ONE bounded 3x3-ring
    equi-join (``within_distance_join``) feeding both steps — two partial
    aggs over one pair set, no all-pairs product, no iteration."""
    pairs = within_distance_join(
        facilities.select("f_id", "x", "y"), demand.select("d_id", "x", "y"),
        radius,
    ).select("f_id", "d_id")
    dsum = (
        pairs.join(demand.select("d_id", "pop"), "d_id")
        .groupBy("f_id").agg(F.sum("pop").alias("dpop"))
    )
    ratio = (
        dsum.join(facilities.select("f_id", "supply"), "f_id")
        .select(
            "f_id",
            # integer div (operands positive): bit-exact, no double quotient
            F.expr(f"(CAST(supply AS BIGINT) * {int(scale)}) div dpop")
            .cast("long").alias("rj"),
        )
    )
    return (
        pairs.join(ratio, "f_id")
        .groupBy("d_id")
        .agg(F.sum("rj").alias("access"), F.count(F.lit(1)).alias("n_fac"))
    )


def catchment_2sfca_sql(
    fac_select: str, dem_select: str, radius: int, scale: int = 1 << 30
) -> str:
    """DuckDB oracle: brute radius joins + the same integer floor ratios.
    ``fac_select`` -> (f_id, x, y, supply); ``dem_select`` -> (d_id, x,
    y, pop)."""
    r2 = int(radius) * int(radius)
    return f"""
WITH f AS MATERIALIZED ({fac_select}),
d AS MATERIALIZED ({dem_select}),
pairs AS (
  SELECT f.f_id, d.d_id FROM f JOIN d
    ON (f.x - d.x) * (f.x - d.x) + (f.y - d.y) * (f.y - d.y) <= {r2}),
ratio AS (
  SELECT p.f_id,
         (SELECT f2.supply FROM f f2 WHERE f2.f_id = p.f_id) * {int(scale)}
           // sum(d.pop) AS rj
  FROM pairs p JOIN d ON d.d_id = p.d_id GROUP BY p.f_id)
SELECT p.d_id, sum(r.rj) AS access, count(*) AS n_fac
FROM pairs p JOIN ratio r ON r.f_id = p.f_id
GROUP BY p.d_id"""


_KRIG_Q = 1024  # gamma quantization: floor(sqrt(d2) * 2^10)


def _det4_terms(m):
    """24-term signed expansion of a 4x4 matrix of expression strings."""
    from itertools import permutations

    terms = []
    for perm in permutations(range(4)):
        inv = sum(1 for i in range(4) for j in range(i + 1, 4)
                  if perm[i] > perm[j])
        sign = "-" if inv % 2 else "+"
        prod = " * ".join(m[i][perm[i]] for i in range(4))
        terms.append(f"{sign} ({prod})")
    return " ".join(terms)


def kriging_ordinary(
    queries: DataFrame,
    knowns: DataFrame,
    qid_col: str = "qid",
) -> DataFrame:
    """Ordinary kriging with a linear variogram gamma(h) = h, EXACT.

    The 3 nearest known points per query (exact squared distance, id
    tie-break) feed the 4x4 ordinary-kriging system
    [[0 g12 g13 1][g12 0 g23 1][g13 g23 0 1][1 1 1 0]] w = [g1q g2q g3q 1].
    Each gamma is quantized floor(sqrt(d2) * 2^20) — IEEE sqrt is
    correctly rounded, so numpy and SQL produce the identical double and
    the identical integer — and the system is solved by Cramer's rule in
    exact big integers (Python bigints engine-side, HUGEINT oracle-side:
    determinant terms stay < ~1e32 at |coords| <= 2e4).  The prediction
    (sum det_i z_i) / det is emitted as the exact integer
    floor(pred * 2^20) via big-integer floor division after normalizing
    det > 0 (a DOUBLE emit would trip DuckDB's double-rounded
    HUGEINT->DOUBLE cast); singular systems (det = 0) emit NULL under the
    same rule both sides.

    Scale shape: the gate-scale neighbor search is a brute bounded join
    (queries x knowns) + window top-3; the engine's production path for
    dense known sets is the cell-ring kNN join (operators/knn.py) feeding
    the same per-query solve — the solve itself is O(1) per query inside
    one applyInPandas pass.

    Inputs: queries (qid, x, y); knowns (id, x, y, z) — integer coords/z.
    """
    import math

    import pandas as pd
    from pyspark.sql import Window

    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col("x").cast("long").alias("qx"), F.col("y").cast("long").alias("qy"),
    )
    k = knowns.select(
        F.col("id").cast("long").alias("nid"),
        F.col("x").cast("long").alias("nx"), F.col("y").cast("long").alias("ny"),
        F.col("z").cast("long").alias("z"),
    )
    j = q.join(F.broadcast(k)).withColumn(
        "d2",
        (F.col("qx") - F.col("nx")) * (F.col("qx") - F.col("nx"))
        + (F.col("qy") - F.col("ny")) * (F.col("qy") - F.col("ny")),
    )
    w = Window.partitionBy("qid").orderBy("d2", "nid")
    top = j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)

    def solve(key, pdf):
        pdf = pdf.sort_values("rn")
        if len(pdf) < 3:
            return pd.DataFrame(columns=["qid", "pred_q", "singular"])
        xs = [int(v) for v in pdf["nx"]]
        ys = [int(v) for v in pdf["ny"]]
        zs = [int(v) for v in pdf["z"]]
        qx, qy = int(pdf["qx"].iloc[0]), int(pdf["qy"].iloc[0])

        def gam(ax, ay, bx, by):
            d2 = (ax - bx) ** 2 + (ay - by) ** 2
            return int(math.floor(math.sqrt(float(d2)) * _KRIG_Q))

        g = [[gam(xs[i], ys[i], xs[jj], ys[jj]) for jj in range(3)]
             for i in range(3)]
        b = [gam(xs[i], ys[i], qx, qy) for i in range(3)] + [1]
        m = [[g[0][0], g[0][1], g[0][2], 1],
             [g[1][0], g[1][1], g[1][2], 1],
             [g[2][0], g[2][1], g[2][2], 1],
             [1, 1, 1, 0]]

        def det4(mm):
            from itertools import permutations
            tot = 0
            for perm in permutations(range(4)):
                inv = sum(1 for i in range(4) for jj in range(i + 1, 4)
                          if perm[i] > perm[jj])
                p = 1
                for i in range(4):
                    p *= mm[i][perm[i]]
                tot += -p if inv % 2 else p
            return tot

        den = det4(m)
        if den == 0:
            return pd.DataFrame(
                [{"qid": int(key[0]), "pred_q": None, "singular": True}]
            )
        num = 0
        for i in range(3):
            mi = [row[:] for row in m]
            for r in range(4):
                mi[r][i] = b[r]
            num += det4(mi) * zs[i]
        if den < 0:
            num, den = -num, -den
        return pd.DataFrame([{
            "qid": int(key[0]), "pred_q": (num * 1048576) // den,
            "singular": False,
        }])

    return top.groupBy("qid").applyInPandas(
        solve, "qid long, pred_q long, singular boolean"
    )


def kriging_ordinary_sql(queries_select: str, knowns_select: str) -> str:
    """DuckDB twin of ``kriging_ordinary``: top-3 window, wide pivot,
    HUGEINT Cramer determinants generated by the same 24-term expansion."""
    def gam(ax, ay, bx, by):
        return (f"CAST(floor(sqrt(CAST(({ax} - {bx}) * ({ax} - {bx})"
                f" + ({ay} - {by}) * ({ay} - {by}) AS DOUBLE)) * {_KRIG_Q}.0)"
                f" AS HUGEINT)")

    g12 = gam("x1", "y1", "x2", "y2")
    g13 = gam("x1", "y1", "x3", "y3")
    g23 = gam("x2", "y2", "x3", "y3")
    b1 = gam("x1", "y1", "qx", "qy")
    b2 = gam("x2", "y2", "qx", "qy")
    b3 = gam("x3", "y3", "qx", "qy")
    one = "CAST(1 AS HUGEINT)"
    zero = "CAST(0 AS HUGEINT)"
    m = [[zero, "g12", "g13", one],
         ["g12", zero, "g23", one],
         ["g13", "g23", zero, one],
         [one, one, one, zero]]
    den = _det4_terms(m)
    nums = []
    for i in range(3):
        mi = [row[:] for row in m]
        for r in range(4):
            mi[r][i] = f"b{r + 1}" if r < 3 else one
        nums.append(f"({_det4_terms(mi)}) * z{i + 1}")
    num = " + ".join(nums)
    return f"""
WITH q AS (
  SELECT qid, CAST(x AS BIGINT) AS qx, CAST(y AS BIGINT) AS qy
  FROM ({queries_select}) qs),
k AS (
  SELECT CAST(id AS BIGINT) AS nid, CAST(x AS BIGINT) AS nx,
         CAST(y AS BIGINT) AS ny, CAST(z AS BIGINT) AS z
  FROM ({knowns_select}) ks),
top AS (
  SELECT * FROM (
    SELECT q.qid, q.qx, q.qy, k.nid, k.nx, k.ny, k.z,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             (q.qx - k.nx) * (q.qx - k.nx) + (q.qy - k.ny) * (q.qy - k.ny),
             k.nid) AS rn
    FROM q, k) t
  WHERE rn <= 3),
wide AS (
  SELECT qid, any_value(qx) AS qx, any_value(qy) AS qy,
         max(CASE WHEN rn = 1 THEN nx END) AS x1,
         max(CASE WHEN rn = 1 THEN ny END) AS y1,
         max(CASE WHEN rn = 1 THEN z END) AS z1,
         max(CASE WHEN rn = 2 THEN nx END) AS x2,
         max(CASE WHEN rn = 2 THEN ny END) AS y2,
         max(CASE WHEN rn = 2 THEN z END) AS z2,
         max(CASE WHEN rn = 3 THEN nx END) AS x3,
         max(CASE WHEN rn = 3 THEN ny END) AS y3,
         max(CASE WHEN rn = 3 THEN z END) AS z3,
         count(*) AS nn
  FROM top GROUP BY qid),
gam AS (
  SELECT qid, z1, z2, z3,
         {g12} AS g12, {g13} AS g13, {g23} AS g23,
         {b1} AS b1, {b2} AS b2, {b3} AS b3
  FROM wide WHERE nn >= 3),
sol AS (
  SELECT qid, z1, z2, z3, ({den}) AS den, {num.replace('z1', 'CAST(z1 AS HUGEINT)').replace('z2', 'CAST(z2 AS HUGEINT)').replace('z3', 'CAST(z3 AS HUGEINT)')} AS num
  FROM gam),
norm AS (
  SELECT qid,
         CASE WHEN den < 0 THEN -num ELSE num END * CAST(1048576 AS HUGEINT) AS num,
         abs(den) AS den
  FROM sol)
SELECT qid,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST((num - ((num % den + den) % den)) / den AS BIGINT)
       END AS pred_q,
       den = 0 AS singular
FROM norm"""


def los_pairs(
    pairs: "DataFrame",
    height_sql: str,
    subdiv: int = 16,
    clearance: int = 0,
) -> "DataFrame":
    """Pairwise line-of-sight over a DEM, EXACT: the segment a->b is
    subdivided at t/subdiv; the terrain is sampled at the NEAREST cell
    ((subdiv*a + t*(b-a) + subdiv/2) div subdiv — pure integers) and a
    sample blocks iff h_s * subdiv > h_a*(subdiv-t) + h_b*t + clearance
    (the cross-multiplied sight-line lerp, no division).  The pairwise
    companion of the cardinal-ray `viewshed` gate.

    ``pairs``: (pid, ax, ay, bx, by) integer cells; ``height_sql``: SQL
    text h(X, Y) shared by both engines (the formula-raster convention of
    the terrain gates).  Output: (pid, n_blocked, visible).

    Scale shape: one bounded explode (subdiv-1 samples/pair) + one keyed
    agg — constant fan-out at any pair count."""
    from pyspark.sql import functions as F

    S = int(subdiv)
    ex = pairs.select(
        "pid", "ax", "ay", "bx", "by",
        F.explode(F.sequence(F.lit(1), F.lit(S - 1))).alias("t"),
    )
    sx = f"(({S} * ax + t * (bx - ax) + {S // 2}) div {S})"
    sy = f"(({S} * ay + t * (by - ay) + {S // 2}) div {S})"
    hs = height_sql.replace("X", sx).replace("Y", sy)
    ha = height_sql.replace("X", "ax").replace("Y", "ay")
    hb = height_sql.replace("X", "bx").replace("Y", "by")
    blocked = F.expr(
        f"({hs}) * {S} > ({ha}) * ({S} - t) + ({hb}) * t + {int(clearance)}"
    )
    return (
        ex.withColumn("blk", blocked.cast("long"))
        .groupBy("pid")
        .agg(F.sum("blk").alias("n_blocked"))
        .select("pid", "n_blocked", (F.col("n_blocked") == 0).alias("visible"))
    )


def los_pairs_sql(pairs_select: str, height_sql: str, subdiv: int = 16,
                  clearance: int = 0) -> str:
    """DuckDB twin of ``los_pairs``."""
    S = int(subdiv)
    sx = f"(({S} * ax + t.t * (bx - ax) + {S // 2}) // {S})"
    sy = f"(({S} * ay + t.t * (by - ay) + {S // 2}) // {S})"
    hs = height_sql.replace("X", sx).replace("Y", sy)
    ha = height_sql.replace("X", "ax").replace("Y", "ay")
    hb = height_sql.replace("X", "bx").replace("Y", "by")
    return f"""
WITH p AS (SELECT * FROM ({pairs_select}) ps),
ex AS (
  SELECT p.pid,
         CASE WHEN ({hs}) * {S} >
              ({ha}) * ({S} - t.t) + ({hb}) * t.t + {int(clearance)}
              THEN 1 ELSE 0 END AS blk
  FROM p, (SELECT unnest(range(1, {S})) AS t) t)
SELECT pid, sum(blk) AS n_blocked, sum(blk) = 0 AS visible
FROM ex GROUP BY 1"""


def box_counting(
    pts: "DataFrame",
    res_list: tuple = (4, 5, 6, 7, 8),
) -> "DataFrame":
    """Box-counting occupancy curve (the Minkowski-Bouligand fractal-
    dimension diagnostic, public literature): occupied-cell counts of the
    point set at a ladder of grid resolutions — the log-log slope of
    N(r) is the fractal dimension; the engine emits the exact integer
    (res, n_cells, n_points) curve and leaves the slope rational to the
    caller (no logs anywhere).

    Scale shape: one distinct-cells aggregation per resolution over the
    same scan — the cell-histogram primitive at r ladder steps."""
    from pyspark.sql import functions as F

    from .density import grid_expr

    out = None
    for r in res_list:
        n = 1 << int(r)
        cells = pts.select(
            F.expr(grid_expr("x", n)).alias("ix"),
            F.expr(grid_expr("y", n)).alias("iy"),
        )
        row = cells.agg(
            F.countDistinct("ix", "iy").alias("n_cells"),
            F.count("*").alias("n_points"),
        ).select(F.lit(int(r)).cast("long").alias("res"), "n_cells", "n_points")
        out = row if out is None else out.unionByName(row)
    return out


def box_counting_sql(base_select: str, res_list: tuple = (4, 5, 6, 7, 8)) -> str:
    """DuckDB twin of ``box_counting``."""
    from .density import grid_expr

    blocks = []
    for r in res_list:
        n = 1 << int(r)
        blocks.append(f"""
SELECT {int(r)} AS res,
       (SELECT count(*) FROM (
          SELECT DISTINCT {grid_expr('x', n)} AS ix, {grid_expr('y', n)} AS iy
          FROM ({base_select}) p) c) AS n_cells,
       (SELECT count(*) FROM ({base_select}) p) AS n_points""")
    return " UNION ALL ".join(blocks)
