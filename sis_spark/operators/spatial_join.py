"""Point-in-polygon spatial join: cell-key equi-join prefilter + exact PIP refine.

The reference has spatial *filters* only (F/filter/BinarySpatialFilter.java) —
a spatial join must be phrased as a per-row filter (nested loop,
S/aggregate/JoinFeatureSet.java:485-512).  This operator is the Spark-native
replacement: a **two-phase** join per the north rule:

Phase 1 (prefilter, plan-time + map-side):
    * driver computes each polygon's covering cells at a resolution chosen
      from the polygon size distribution (the GridDerivation-style pruning of
      F/coverage/grid/GridDerivation.java:332 done as plan construction);
    * points get their cell id via a JVM codegen expression (no Python);
    * candidates = points ⋈ broadcast(poly_cells) on cell — a broadcast hash
      join, so the skewed hot cells never shuffle.

Phase 2 (refine, one map pass):
    * candidates in a provably-interior ("sure") covering cell or inside
      their polygon's envelope (a codegen compare) reach a scalar Arrow UDF
      in a filter; it returns True for sure rows without the geometry
      kernel and ray-casts the rest (numpy even-odd kernel) against the
      polygon vertex arrays shipped once per executor via a Spark broadcast
      — the "broadcast STRtree" role of the north star.  The polygon key
      rides on the covering row, so the refined candidates carry it out
      with no further join.

With ``salt`` set, the covering join shuffles on cell instead, salting hot
cells (fact side salted, dimension side repeated per salt value) — the
long-tail path of the two-phase broadcast-then-shuffle design for polygon
sets too big to broadcast.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as _cells
from ..functions import geometry as _geo
from ..functions.spark_exprs import cell_col
from ..functions.udfs import _map_rows
from .partitioning import spread_small_scan

# rows of one hot cell that should land in a single shuffle partition before
# another salt bucket is added (sized for the Arrow-refine throughput)
TARGET_ROWS_PER_SALT = 250_000

# covering-table guardrail: when the fine interior-skip covering exceeds this
# many rows (huge polygons would swamp the broadcast side), spatial_join
# backs off to the coarse resolution
MAX_SURE_COVER_ROWS = 2_000_000


def _res_for_width(width: float) -> int:
    """Cell res whose cell size ~ ``width`` degrees, clamped to 1..14."""
    return max(1, min(int(math.floor(math.log2(360.0 / width))), 14))


def choose_resolution(polygons: list[dict]) -> int:
    """Cell res whose cell size ~ median polygon diameter (1-4 covering cells
    per typical polygon, fine enough to prune the point side)."""
    if not polygons:
        return 7
    widths = [max(p["xmax"] - p["xmin"], (p["ymax"] - p["ymin"]) * 2.0) for p in polygons]
    return _res_for_width(float(np.median(widths)) or 1.0)


def _sure_cells(cells: np.ndarray, rings: list, res: int) -> np.ndarray:
    """Mask of the covering ``cells`` PROVABLY interior to the polygon
    ``rings``: all 4 cell corners inside (even-odd over all rings) and no
    ring edge intersecting the cell rectangle (Liang–Barsky; a hole fully
    inside the cell shows up as edges inside the rect, so holes are
    handled)."""
    cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
    ix, iy = _cells.cell_to_ixiy(cells, res)
    x0 = ix.astype(np.float64) * cw - 180.0
    y0 = iy.astype(np.float64) * ch - 90.0
    x1, y1 = x0 + cw, y0 + ch
    sure = ~_geo.segments_intersect_rects(*_geo.ring_edges(rings), x0, y0, x1, y1)
    for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1)):
        sure &= _geo.points_in_polygon_with_holes(cx, cy, rings)
    return sure


def polygon_cells(polygons: list[dict], res: int, classify: bool = False) -> pd.DataFrame:
    """(cell, poly_idx, envelope[, sure]) covering table — plan-time, driver.

    Carrying the part envelope per row lets the candidate join apply a
    JVM-side envelope filter BEFORE the Arrow PIP refine: cells only
    approximate the envelope, so 30-60% of cell-matched candidates fail the
    exact envelope test — pruning them in codegen keeps those rows from ever
    crossing the Python boundary.

    ``classify=True`` additionally marks each covering cell ``sure`` when it
    is PROVABLY interior to the polygon (_sure_cells).  Points in a sure
    cell are matches by construction and skip the PIP kernel; they cross
    the Arrow boundary as four scalars — at the engine's skewed workloads
    ~70% of candidate pairs fall in sure cells at res+3."""
    cell_list = []
    idx_list = []
    envs = []
    sures = []
    for i, p in enumerate(polygons):
        cov = _cells.covering_cells(p["xmin"], p["ymin"], p["xmax"], p["ymax"], res)
        cell_list.append(cov)
        idx_list.append(np.full(cov.shape, i, dtype=np.int64))
        envs.append(
            np.broadcast_to(
                np.array([[p["xmin"], p["ymin"], p["xmax"], p["ymax"]]]), (len(cov), 4)
            )
        )
        if classify:
            sures.append(_sure_cells(cov, p["rings"], res))
    cols = ["cell", "poly_idx", "e_xmin", "e_ymin", "e_xmax", "e_ymax"] + (
        ["sure"] if classify else []
    )
    if not cell_list:
        return pd.DataFrame({c: [] for c in cols})
    env = np.concatenate(envs)
    out = {
        "cell": np.concatenate(cell_list),
        "poly_idx": np.concatenate(idx_list),
        "e_xmin": env[:, 0],
        "e_ymin": env[:, 1],
        "e_xmax": env[:, 2],
        "e_ymax": env[:, 3],
    }
    if classify:
        out["sure"] = np.concatenate(sures)
    return pd.DataFrame(out)


def normalize_polygons(polygons: list[dict]) -> list[dict]:
    """Canonical polygon parts: each output dict has key, rings (outer +
    holes), and envelope.  Polygons given in *continuous* longitudes beyond
    ±180 (the natural way to write an anti-meridian-crossing ring) are SPLIT
    at the meridian into two parts with the same key
    (R/geometry/WraparoundMethod.java:55 SPLIT applied to polygon geometry).
    """
    out = []
    for p in polygons:
        rings = [(np.asarray(p["vx"], dtype=np.float64), np.asarray(p["vy"], dtype=np.float64))]
        for hvx, hvy in p.get("holes", []):
            rings.append((np.asarray(hvx, dtype=np.float64), np.asarray(hvy, dtype=np.float64)))
        all_x = np.concatenate([r[0] for r in rings])
        parts: list[list] = []
        if all_x.max() > 180.0:
            lo = [_geo.clip_polygon_x(vx, vy, 180.0, keep_leq=True) for vx, vy in rings]
            hi = [
                (cvx - 360.0, cvy)
                for cvx, cvy in (_geo.clip_polygon_x(vx, vy, 180.0, keep_leq=False) for vx, vy in rings)
            ]
            parts = [lo, hi]
        elif all_x.min() < -180.0:
            hi = [_geo.clip_polygon_x(vx, vy, -180.0, keep_leq=False) for vx, vy in rings]
            lo = [
                (cvx + 360.0, cvy)
                for cvx, cvy in (_geo.clip_polygon_x(vx, vy, -180.0, keep_leq=True) for vx, vy in rings)
            ]
            parts = [hi, lo]
        else:
            parts = [rings]
        for part in parts:
            part = [(vx, vy) for vx, vy in part if len(vx) >= 3]
            if not part:
                continue
            ox = np.concatenate([r[0] for r in part])
            oy = np.concatenate([r[1] for r in part])
            out.append({
                "key": int(p["key"]),
                "rings": part,
                "xmin": float(ox.min()),
                "ymin": float(oy.min()),
                "xmax": float(ox.max()),
                "ymax": float(oy.max()),
            })
    return out


def _pack_polygons(parts: list[dict]):
    """Dense padded ring arrays for the vectorized refine kernel
    (geometry.pad_polygons: duplicate-vertex padding is exact for even-odd).
    ``parts`` must be normalize_polygons output."""
    rings_vx: list = []
    rings_vy: list = []
    ring_start = np.zeros(len(parts) + 1, dtype=np.int64)
    for i, p in enumerate(parts):
        for vx, vy in p["rings"]:
            rings_vx.append(vx)
            rings_vy.append(vy)
        ring_start[i + 1] = ring_start[i] + len(p["rings"])
    RVX, RVY = _geo.pad_polygons(rings_vx, rings_vy)
    env = np.array(
        [[p["xmin"], p["ymin"], p["xmax"], p["ymax"]] for p in parts]
    ) if parts else np.zeros((0, 4))
    keys = np.array([p["key"] for p in parts], dtype=np.int64)
    return {"RVX": RVX, "RVY": RVY, "ring_start": ring_start, "env": env, "keys": keys}


def _point_join(points: DataFrame, lon_col: str, lat_col: str, res: int,
                join, pip, drop: list[str]) -> DataFrame:
    """The tail every point-in-polygon join shares: points get their cell id
    ``__cell`` in codegen, ``join`` matches them to a covering table
    (cell, e_xmin..e_ymax, sure, polygon key, ...), and one filter chain
    keeps the candidates that are ``sure`` or inside the polygon envelope
    (codegen compares, so rows the PIP could never accept don't pay the
    Arrow transfer) and then pass the boolean Arrow column ``pip``, which
    returns True for sure rows without running the geometry kernel.
    Output: the candidate columns minus ``__cell`` and ``drop`` (by name)."""
    # CPU-bound refine must not inherit a tiny-scan partitioning
    cand = join(spread_small_scan(points).withColumn(
        "__cell", cell_col(F.col(lon_col), F.col(lat_col), res)))
    env_ok = (
        (F.col(lon_col) >= F.col("e_xmin")) & (F.col(lon_col) <= F.col("e_xmax"))
        & (F.col(lat_col) >= F.col("e_ymin")) & (F.col(lat_col) <= F.col("e_ymax"))
    )
    return cand.filter(F.col("sure") | env_ok).filter(pip).drop("__cell", *drop)


def spatial_join(
    points: DataFrame,
    polygons: list[dict],
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    poly_key_col: str = "poly_key",
    salt: int | str | None = None,
) -> DataFrame:
    """Inner join: one output row per (point row, containing polygon).

    ``polygons``: list of dicts with key/vx/vy/xmin..ymax (synth.polygon_table_np
    shape, or built from WKB via sources.polygons_from_wkb).

    Interior skip: the prefilter runs 3 resolutions finer and classifies
    covering cells at plan time; candidates in provably-interior cells skip
    the PIP kernel; they cross the Arrow boundary as four scalars.  Exact —
    a sure cell admits no false positives by construction.  A covering
    table over MAX_SURE_COVER_ROWS falls back to the coarse resolution,
    classified the same way.

    ``salt``: None broadcasts the covering table.  Otherwise the covering
    join shuffles on cell with hot cells salted (_salted_join): an int
    salts every cell that many ways, ``"auto"`` measures the hot cells and
    the factor.
    """
    spark = points.sparkSession
    polygons = normalize_polygons(polygons)  # holes + anti-meridian SPLIT
    if not polygons:
        return points.limit(0).withColumn(poly_key_col, F.lit(None).cast("long"))
    if res is None:
        res = min(choose_resolution(polygons) + 3, 14)
    packed = _pack_polygons(polygons)
    bc = spark.sparkContext.broadcast(packed)

    pc = polygon_cells(polygons, res, classify=True)
    if len(pc) > MAX_SURE_COVER_ROWS:
        res = choose_resolution(polygons)
        pc = polygon_cells(polygons, res, classify=True)
    pc = pc.astype({"cell": "int64", "poly_idx": "int64"})
    pc[poly_key_col] = packed["keys"][pc["poly_idx"].to_numpy()]

    def join(pts: DataFrame) -> DataFrame:
        if salt:
            return _salted_join(points, pts, pc, lon_col, lat_col, res, salt)
        cells = F.broadcast(spark.createDataFrame(pc))
        return pts.join(cells, pts["__cell"] == cells["cell"], "inner")

    # Refine as a SCALAR Arrow UDF used in a filter: only (lon, lat,
    # poly_idx, sure) cross the Python boundary; every other column stays
    # JVM-side (ArrowEvalPython is a projection, not a row pipe).
    @F.pandas_udf(T.BooleanType())
    def pip_ok(lon_s: pd.Series, lat_s: pd.Series, gi_s: pd.Series,
               sure_s: pd.Series) -> pd.Series:
        p = bc.value
        keep = sure_s.to_numpy(dtype=bool, copy=True)
        todo = ~keep
        # dense (N, K) crossing passes, one per ring ordinal (1 for hole-free)
        keep[todo] = _geo.points_in_padded_rings(
            lon_s.to_numpy(dtype=np.float64)[todo], lat_s.to_numpy(dtype=np.float64)[todo],
            gi_s.to_numpy(dtype=np.int64)[todo], p["RVX"], p["RVY"], p["ring_start"],
        )
        return pd.Series(keep)

    # the polygon key rides on the covering row: only it survives the refine
    return _point_join(
        points, lon_col, lat_col, res, join,
        pip_ok(F.col(lon_col), F.col(lat_col), F.col("poly_idx"), F.col("sure")),
        [c for c in pc.columns if c != poly_key_col],
    )


def _salted_join(points: DataFrame, pts: DataFrame, pc: pd.DataFrame, lon_col: str,
                 lat_col: str, res: int, salt: int | str) -> DataFrame:
    """Shuffle join of ``pts`` (``points`` + __cell) to the covering table
    ``pc`` with hot cells salted: the fact side gets __salt = hash(lon, lat)
    mod n, and each hot covering row is repeated once per salt value on the
    DIMENSION side (tiny, driver-side pandas), so a hot cell's rows spread
    over n shuffle partitions while each equi-join still routes points by
    itself (no isin over the big cell expression on the fact side — that
    blows whole-stage codegen past the 64 KB method limit).

    ``salt="auto"``: measure, don't guess — a sampled cell histogram picks
    the hot cells, and the factor is sized so a hot cell's rows spread over
    ~TARGET_ROWS_PER_SALT rows per shuffle partition (the cell-frequency
    sampling + salted-repartition design of the north rule); the long tail
    joins plain.  An int salts every covering cell that many ways."""
    spark = pts.sparkSession
    if salt == "auto":
        hot = hot_cells_with_counts(points, lon_col, lat_col, res)
        salt_n = int(min(64, max(2, max(hot.values(), default=0) // TARGET_ROWS_PER_SALT + 1)))
        is_hot = pc["cell"].isin(list(hot))
    else:
        salt_n = int(salt)
        is_hot = np.ones(len(pc), dtype=bool)
    parts = []
    if (~is_hot).any():
        cold = spark.createDataFrame(pc[~is_hot])
        parts.append(pts.join(cold, pts["__cell"] == cold["cell"], "inner"))
    if is_hot.any():
        hot_pc = pc[is_hot]
        hot_df = spark.createDataFrame(hot_pc.loc[hot_pc.index.repeat(salt_n)].assign(
            __salt=np.tile(np.arange(salt_n, dtype=np.int64), len(hot_pc))
        ))
        pts_s = pts.withColumn(
            "__salt", F.pmod(F.hash(F.col(lon_col), F.col(lat_col)), F.lit(salt_n))
        )
        parts.append(
            pts_s.join(
                hot_df,
                (pts_s["__cell"] == hot_df["cell"]) & (pts_s["__salt"] == hot_df["__salt"]),
                "inner",
            ).drop("__salt")
        )
    return reduce(DataFrame.unionByName, parts)


def cell_histogram(points: DataFrame, lon_col: str, lat_col: str, res: int) -> DataFrame:
    """groupBy(cell).count() — the cell-frequency sampling input for salting
    decisions (map-side partial aggregation makes skew harmless here)."""
    return (
        points.withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hot_cells_with_counts(points: DataFrame, lon_col: str, lat_col: str, res: int,
                          sample_fraction: float = 0.01, threshold: int = 1000) -> dict[int, int]:
    """Sampled cell-frequency scan -> {hot cell id: estimated total rows}:
    the driver-side plan input for salting (the sampling-over-joins idea
    from PAPERS.md); spatial_join salt='auto' sizes the salt factor from
    the worst cell."""
    hist = cell_histogram(points.sample(sample_fraction, seed=42), lon_col, lat_col, res)
    rows = hist.filter(F.col("n") >= threshold * sample_fraction).collect()
    return {int(r["cell"]): int(r["n"] / sample_fraction) for r in rows}


# ----------------------------------------------- distributed polygon dimension
#
# spatial_join() holds the polygon set on the driver (fine for broadcastable
# dims).  spatial_join_dist keeps the polygon side a DataFrame END TO END:
# normalize, covering-cell generation, and classification all run as Arrow
# stages on executors, so millions of polygons never materialize driver-side
# (JoinFeatureSet's set-vs-set contract, S/aggregate/JoinFeatureSet.java:74).
# Boundary ("unsure") covering cells carry their part's WKB through the cell
# equi-join; interior cells carry NULL and skip the PIP kernel.

def _choose_res_dist(parts: DataFrame) -> int:
    """choose_resolution over a distributed parts table: approximate median
    part diameter via one tiny percentile_approx aggregate."""
    row = parts.select(
        F.percentile_approx(
            F.greatest(F.col("xmax") - F.col("xmin"), (F.col("ymax") - F.col("ymin")) * 2.0),
            F.lit(0.5),
        ).alias("med")
    ).first()
    return _res_for_width(float(row["med"] or 1.0) or 1.0)


def _parts_df(df: DataFrame, key_col: str, wkb_col: str, decode) -> DataFrame:
    """The parts core of the geometry normalisers: ``decode(key, wkb)``
    returns a row's parts as (part wkb, xs, ys) triples (none to drop the
    row); each part becomes one (key, wkb, xmin, ymin, xmax, ymax) row, its
    envelope the min/max of its vertices."""

    def envelope(row, *parts):
        return {
            "key": row["key"], "wkb": [w for w, _, _ in parts],
            "xmin": [float(np.min(x)) for _, x, _ in parts],
            "ymin": [float(np.min(y)) for _, _, y in parts],
            "xmax": [float(np.max(x)) for _, x, _ in parts],
            "ymax": [float(np.max(y)) for _, _, y in parts],
        }

    return _map_rows(
        df.select(F.col(key_col).alias("key"), F.col(wkb_col).alias("wkb")),
        "key long, wkb binary, xmin double, ymin double, xmax double, ymax double",
        ["wkb"],
        lambda row, wkb: decode(row["key"], bytes(wkb)) or None, envelope)


def polygon_parts_df(polygons_df: DataFrame, key_col: str = "key", wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) polygon table -> normalized parts table
    (key, wkb, xmin, ymin, xmax, ymax): anti-meridian SPLIT, MultiPolygon
    member expansion, holes preserved — the distributed analog of
    normalize_polygons (BinaryGeometryFilter.optimize plan normalization)."""
    from ..sources import polygons_from_wkb

    def decode(key, wkb):
        return [(bytes(_geo.wkb_polygon(p["rings"])),
                 np.concatenate([x for x, _ in p["rings"]]),
                 np.concatenate([y for _, y in p["rings"]]))
                for p in normalize_polygons(polygons_from_wkb([(key, wkb)]))]

    return _parts_df(polygons_df, key_col, wkb_col, decode)


def polygon_cells_df(parts: DataFrame, res: int, classify: bool = True) -> DataFrame:
    """Distributed covering table: one row per (covering cell, part), with the
    part envelope for the codegen prune, ``sure`` for provably-interior cells,
    and the part WKB on NON-sure rows only (interior matches never pay the
    geometry transfer).  Same classification as polygon_cells."""
    from ..sources import polygons_from_wkb

    def cover(row, wkb):
        key = row["key"]
        cov = _cells.covering_cells(row["xmin"], row["ymin"], row["xmax"], row["ymax"], res)
        m = len(cov)
        if m == 0:
            return None
        if classify:
            (part,) = polygons_from_wkb([(key, wkb)])
            sure = _sure_cells(cov, [(part["vx"], part["vy"])] + list(part["holes"]), res)
        else:
            sure = np.zeros(m, dtype=bool)
        return {
            "cell": cov,
            "pkey": np.full(m, key, dtype=np.int64),
            "e_xmin": np.full(m, row["xmin"]),
            "e_ymin": np.full(m, row["ymin"]),
            "e_xmax": np.full(m, row["xmax"]),
            "e_ymax": np.full(m, row["ymax"]),
            "sure": sure,
            "pwkb": [None if s else bytes(wkb) for s in sure],
        }

    return _map_rows(
        parts.select("key", "wkb", "xmin", "ymin", "xmax", "ymax"),
        "cell long, pkey long, e_xmin double, e_ymin double, "
        "e_xmax double, e_ymax double, sure boolean, pwkb binary",
        ["wkb"], None, cover,
    )


def compact_cover(cov: DataFrame, res: int, levels: int) -> DataFrame:
    """Mixed-resolution covering table: the ``sure`` (provably-interior) rows
    of a ``polygon_cells_df(res)`` output are compacted per polygon part —
    wherever all four Morton siblings are interior they are replaced by the
    parent, up to ``levels`` times (operators/tiling.compact_cells per key).
    Boundary (non-sure) rows pass through untouched at ``res``.

    Output = input columns + ``cres`` (the resolution each row now lives at).
    The result is still a disjoint cover per part: a promoted parent's
    descendants were all sure, so no surviving row is its ancestor or
    descendant — a point therefore still matches at most one covering row
    per part, no candidate dedup needed.

    Scale rationale: interior cell count grows ~4^levels with covering
    resolution while the boundary ring grows ~2^levels; compaction caps the
    interior at its coarse-resolution size, often pulling a
    continental-polygon covering table back under the broadcast threshold.
    The fact side pays an ancestor-chain explode of (levels+1) rows per
    point (pure codegen) — see spatial_join_dist(compact_levels=...)."""
    levels = max(0, min(levels, res - 1))  # never promote above res 1
    env_cols = ["e_xmin", "e_ymin", "e_xmax", "e_ymax"]
    unsure = cov.filter(~F.col("sure")).withColumn("cres", F.lit(res))
    level = cov.filter(F.col("sure")).localCheckpoint()
    out = []
    for d in range(levels):
        parents = (
            level.groupBy(F.col("pkey"), F.shiftright("cell", 2).alias("pcell"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.first(c).alias(c) for c in env_cols],
            )
        )
        full = parents.filter(F.col("n") == 4)
        fsel = full.select(F.col("pkey").alias("fpkey"), F.col("pcell").alias("fpcell"))
        kept = level.join(
            fsel,
            (level["pkey"] == fsel["fpkey"])
            & (F.shiftright(level["cell"], 2) == fsel["fpcell"]),
            "left_anti",
        )
        out.append(kept.withColumn("cres", F.lit(res - d)))
        level = (
            full.select(
                F.col("pcell").alias("cell"), "pkey", *env_cols,
                F.lit(True).alias("sure"),
                F.lit(None).cast("binary").alias("pwkb"),
            )
            .localCheckpoint()  # truncate round-over-round lineage
        )
    res_out = level.withColumn("cres", F.lit(res - levels))
    for part in out:
        res_out = res_out.unionByName(part)
    return res_out.unionByName(unsure)


def spatial_join_dist(
    points: DataFrame,
    polygons_df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    poly_key_col: str = "poly_key",
    key_col: str = "key",
    wkb_col: str = "wkb",
    interior_skip: bool = True,
    broadcast_threshold: int = 0,
    compact_levels: int = 0,
) -> DataFrame:
    """Point-in-polygon join with a DataFrame polygon side (never collected
    on the pure-distributed path).

    Same two-phase semantics and output as spatial_join: one row per
    (point row, containing polygon key).  The covering table joins on cell
    as a plain equi-join (AQE broadcasts it when small, shuffles + skew-splits
    it when not); the PIP refine parses each candidate's own part WKB inside
    the Arrow batch, grouped by geometry so each part is decoded once per
    batch.

    ``interior_skip``: classify covering cells 3 resolutions finer and pass
    provably-interior candidates without the PIP kernel (as spatial_join).

    ``broadcast_threshold``: ADAPTIVE strategy pick (the AQE-style decision
    the reference leaves to its store, SQLStore pushdown analog) — when the
    normalized parts table is at most this many rows, the dimension is
    collected and the proven broadcast plan of ``spatial_join`` runs
    instead (faster: packed-array refine, no per-candidate WKB transfer;
    spatial_join makes its own interior-skip choice there).
    0 (default) forces the fully distributed plan.

    ``compact_levels``: mixed-resolution covering (requires interior_skip).
    The interior of each polygon's cover is compacted up to this many
    Morton levels (compact_cover), shrinking the dimension table ~4^levels
    on the interior; the point side joins through an ancestor-cell chain
    explode of (compact_levels+1) rows per point (pure codegen shiftright).
    Value-identical output to every other strategy.  ``"auto"`` picks the
    level from one measured aggregate over the parts table (the
    measure-then-plan discipline of the salting path): estimated interior
    cell count (Σ area / cell area) over estimated boundary cell count
    (Σ perimeter / cell edge) — compaction beyond the point where the
    boundary ring dominates buys nothing, and each extra level costs a
    fact-side explode row, so levels = ceil(log4(interior/boundary)),
    capped at 6.
    """
    from ..sources import polygons_from_wkb

    # eager localCheckpoint, not persist (GC-reclaimed; see geometry_distance_join)
    parts = polygon_parts_df(polygons_df, key_col, wkb_col).localCheckpoint()
    if broadcast_threshold:
        n_parts = parts.limit(broadcast_threshold + 1).count()
        if n_parts <= broadcast_threshold:
            rows = [(r["key"], bytes(r["wkb"])) for r in parts.collect()]
            return spatial_join(
                points, polygons_from_wkb(rows), lon_col, lat_col,
                res=res, poly_key_col=poly_key_col,
            )
    if compact_levels and not interior_skip:
        raise ValueError("compact_levels requires interior_skip=True")
    if res is None:
        res = _choose_res_dist(parts)
        if interior_skip:
            res = min(res + 3, 14)
    cov = polygon_cells_df(parts, res, classify=interior_skip)

    if compact_levels == "auto":
        st = parts.agg(
            F.sum((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))).alias("area"),
            F.sum(2.0 * ((F.col("xmax") - F.col("xmin")) + (F.col("ymax") - F.col("ymin")))).alias("perim"),
        ).first()
        cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
        interior = max(float(st["area"] or 0.0) / (cw * ch), 1.0)
        boundary = max(float(st["perim"] or 0.0) / min(cw, ch), 1.0)
        compact_levels = max(0, min(
            6, res - 1, int(math.ceil(math.log(interior / boundary, 4.0)))
        ))
    if compact_levels:
        compact_levels = max(0, min(compact_levels, res - 1))
        cov = compact_cover(cov, res, compact_levels)

        def join(pts: DataFrame) -> DataFrame:
            # ancestor chain: the point's cell at res, res-1, ..., res-levels —
            # exactly one of them can hit each part's (disjoint) mixed-res cover
            pts = pts.withColumn(
                "__jcell",
                F.explode(F.array(*[
                    F.shiftright("__cell", 2 * d) for d in range(compact_levels + 1)
                ])),
            )
            return pts.join(cov, pts["__jcell"] == cov["cell"], "inner").drop("__jcell")
    else:
        def join(pts: DataFrame) -> DataFrame:
            return pts.join(cov, pts["__cell"] == cov["cell"], "inner")

    @F.pandas_udf(T.BooleanType())
    def pip_ok_wkb(lon_s: pd.Series, lat_s: pd.Series, wkb_s: pd.Series) -> pd.Series:
        px = lon_s.to_numpy(dtype=np.float64)
        py = lat_s.to_numpy(dtype=np.float64)
        # a null WKB marks a sure (provably-interior) row: a match as shipped
        out = wkb_s.isna().to_numpy()
        # group rows by geometry: each part decoded once per Arrow batch
        grp: dict[bytes, list[int]] = {}
        for i in np.flatnonzero(~out):
            grp.setdefault(bytes(wkb_s.iat[i]), []).append(i)
        for buf, idxs in grp.items():
            ii = np.asarray(idxs, dtype=np.int64)
            # a closed WKB ring's duplicate last vertex adds a zero-length
            # edge, which never crosses
            out[ii] = _geo.points_in_polygon_with_holes(px[ii], py[ii], _geo.wkb_parse(buf)[1])
        return pd.Series(out)

    refined = _point_join(
        points, lon_col, lat_col, res, join,
        pip_ok_wkb(F.col(lon_col), F.col(lat_col), F.col("pwkb")),
        [c for c in cov.columns if c != "pkey"],
    )
    return refined.withColumnRenamed("pkey", poly_key_col)


# ------------------------------------------------------ pair-candidate stage
#
# Arbitrary-pair spatial predicates (BinarySpatialFilter.java:43 dispatching
# to GeometryWrapper.predicate:287) need geometry-vs-geometry JOINS at engine
# level.  Every pair join (polygon pairs, line-vs-polygon, distance-bounded)
# shares one candidate stage with the covering-cell bucket shape of the point
# join: key pairs sharing a covering cell, envelope-pruned in codegen, then
# refined by an Arrow batch kernel over the WKB pairs.

def _grown(parts: DataFrame, pad: float) -> DataFrame:
    """A parts table with its envelope grown by ``pad`` on every side."""
    if not pad:
        return parts
    d = {"xmin": -pad, "ymin": -pad, "xmax": pad, "ymax": pad}
    return parts.select(*[(F.col(c) + d[c]).alias(c) if c in d else c for c in parts.columns])


def _pair_candidates(a: DataFrame, b: DataFrame | None = None,
                     res: int | None = None, pad: float = 0.0) -> DataFrame:
    """Candidate pairs of two parts tables (key, wkb, xmin, ymin, xmax, ymax
    and any extra columns).  ``b=None`` self-joins ``a``, each unordered
    pair once as a < b.

    Complete for intersection: two intersecting envelopes share the cell
    containing any common point.  With ``pad`` the a-side envelopes are
    grown by ``pad``, so pairs up to ``pad`` apart are candidates too.
    ``res`` defaults to b's median part diameter.  Both sides' columns are
    re-attached and the exact envelope test runs in codegen before any
    Python; the result is spread across the executor cores, since AQE would
    coalesce the small candidate shuffle to ~1 partition and serialize the
    per-row-CPU refine.

    Output: keys ``a``, ``b`` and every other column suffixed ``_a``/``_b``
    (wkb_a, wkb_b, xmin_a, ...; the a envelope grown)."""
    if res is None:
        res = _choose_res_dist(a if b is None else b)
    a = _grown(a, pad)

    def cover(parts: DataFrame, side: str) -> DataFrame:
        cells = polygon_cells_df(
            parts.select("key", "wkb", "xmin", "ymin", "xmax", "ymax"), res, classify=False
        )
        return cells.select("cell", F.col("pkey").alias(side))

    acov = cover(a, "a")
    if b is None:
        b = a
        pairs = (
            acov.groupBy("cell")
            .agg(F.collect_set("a").alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (x, i) -> "
                        "transform(slice(ids, i + 2, size(ids) - i - 1), "
                        "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
                    )
                ).alias("p")
            )
            .select("p.a", "p.b")
        )
    else:
        pairs = acov.join(cover(b, "b"), "cell").select("a", "b")

    def side(parts: DataFrame, s: str) -> DataFrame:
        return parts.select(F.col("key").alias(s), *[
            F.col(c).alias(f"{c}_{s}") for c in parts.columns if c != "key"
        ])

    cand = (
        pairs.distinct()
        .join(side(a, "a"), "a")
        .join(side(b, "b"), "b")
        .filter(
            (F.col("xmin_a") <= F.col("xmax_b")) & (F.col("xmin_b") <= F.col("xmax_a"))
            & (F.col("ymin_a") <= F.col("ymax_b")) & (F.col("ymin_b") <= F.col("ymax_a"))
        )
    )
    return cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)


def _relate_pairs(cand: DataFrame) -> DataFrame:
    """``cand`` + ``r`` = struct(intersects, contains_ab, contains_ba): the
    DE-9IM predicates of (wkb_a, wkb_b), one padded-grid evaluation per
    Arrow batch (functions/relate.py; identical FP expressions to the scalar
    kernel — oracle-exact), not a per-pair Python loop."""
    from ..functions.relate import relate_polygons_pred_batch

    @F.pandas_udf("intersects boolean, contains_ab boolean, contains_ba boolean")
    def rel(a_s: pd.Series, b_s: pd.Series) -> pd.DataFrame:
        p = relate_polygons_pred_batch(a_s, b_s)
        return pd.DataFrame({
            "intersects": p["intersects"],
            "contains_ab": p["contains"],
            "contains_ba": p["within"],
        })

    # asNondeterministic: stop Catalyst from re-evaluating the struct UDF
    # once per referenced field / pushed filter (measured 2-3x refine cost)
    return cand.withColumn("r", rel.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))


def polygon_pair_join(
    polygons_df: DataFrame,
    res: int | None = None,
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """Self-join of a polygon table on spatial intersection.

    Output: (a, b, contains_ab, contains_ba) for every pair a < b whose
    polygons intersect (general-position model, functions/relate.py).
    Assumes one part per key (no MultiPolygon / anti-meridian operands —
    those need union-level predicate semantics the general-position model
    does not define)."""
    parts = polygon_parts_df(polygons_df, key_col, wkb_col).persist()
    out = _relate_pairs(_pair_candidates(parts, res=res))
    return (
        out.filter(F.col("r.intersects"))
        .select(
            "a", "b",
            F.col("r.contains_ab").alias("contains_ab"),
            F.col("r.contains_ba").alias("contains_ba"),
        )
    )


def polygon_pair_join_multi(
    polygons_df: DataFrame,
    res: int | None = None,
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """polygon_pair_join for MULTI-PART keys (MultiPolygon members,
    anti-meridian split parts): part-level covering-cell candidates, DE-9IM
    on part pairs, then UNION-LEVEL aggregation per key pair:

    * intersects  = any part pair intersects;
    * contains(A,B) = EVERY part of B is contained in some part of A —
      sound under the valid-multipolygon model (disjoint member interiors):
      a connected B part strictly inside one A member cannot reach any
      other member, so per-part containment composes to union containment.

    Output (a, b, contains_ab, contains_ba) for intersecting key pairs."""
    parts = (
        polygon_parts_df(polygons_df, key_col, wkb_col)
        .withColumn("uid", F.monotonically_increasing_id())
        .localCheckpoint()  # pin uids (monotonic ids are plan-dependent)
    )
    # part pairs: a, b are part uids, owner_a/owner_b their polygon keys
    cand = _pair_candidates(
        parts.select(
            F.col("uid").alias("key"), F.col("key").alias("owner"),
            "wkb", "xmin", "ymin", "xmax", "ymax",
        ),
        res=res,
    ).filter(F.col("owner_a") != F.col("owner_b"))
    # canonical key orientation: a = lesser key; swap flags where the
    # a-side part belongs to the greater key
    fwd = F.col("owner_a") <= F.col("owner_b")
    flagged = _relate_pairs(cand).select(
        F.least("owner_a", "owner_b").alias("ka"),
        F.greatest("owner_a", "owner_b").alias("kb"),
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("pa_uid"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("pb_uid"),
        F.col("r.intersects").alias("inter"),
        F.when(fwd, F.col("r.contains_ab")).otherwise(F.col("r.contains_ba")).alias("cab"),
        F.when(fwd, F.col("r.contains_ba")).otherwise(F.col("r.contains_ab")).alias("cba"),
    )
    agg = flagged.groupBy(F.col("ka").alias("a"), F.col("kb").alias("b")).agg(
        F.max("inter").alias("intersects"),
        F.count_distinct(F.when(F.col("cab"), F.col("pb_uid"))).alias("b_parts_contained"),
        F.count_distinct(F.when(F.col("cba"), F.col("pa_uid"))).alias("a_parts_contained"),
    )
    nparts = parts.groupBy("key").agg(F.count(F.lit(1)).alias("np"))
    return (
        agg.join(nparts.select(F.col("key").alias("a"), F.col("np").alias("np_a")), "a")
        .join(nparts.select(F.col("key").alias("b"), F.col("np").alias("np_b")), "b")
        .filter(F.col("intersects"))
        .select(
            "a", "b",
            (F.col("b_parts_contained") == F.col("np_b")).alias("contains_ab"),
            (F.col("a_parts_contained") == F.col("np_a")).alias("contains_ba"),
        )
    )


# ---------------------------------------------------------------- line joins

def line_parts_df(lines_df: DataFrame, key_col: str = "key", wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) LineString table -> (key, wkb, xmin, ymin, xmax, ymax).

    The line analog of polygon_parts_df.  No anti-meridian SPLIT for lines
    (out of the general-position model; callers with wrapping tracks split
    upstream, as the GPX store does per segment)."""

    def decode(key, wkb):
        typ, val = _geo.wkb_parse(wkb)
        if typ != "linestring":
            raise ValueError(f"line_parts_df expects LineStrings, got {typ}")
        return [(wkb, *val)]

    return _parts_df(lines_df, key_col, wkb_col, decode)


def _line_poly_candidates(
    lines_df: DataFrame, polygons_df: DataFrame, res: int | None
) -> DataFrame:
    """_pair_candidates for mixed-dimension joins: a = line key, b =
    polygon key, with wkb_a/wkb_b.

    Lifecycle: both parts tables are eager localCheckpoints because each
    feeds both its covering-cell branch and the WKB re-attach join; unlike
    a persist they leave no CacheManager entry behind."""
    return _pair_candidates(
        line_parts_df(lines_df).localCheckpoint(),
        polygon_parts_df(polygons_df).localCheckpoint(), res
    )


def line_polygon_join(
    lines_df: DataFrame,
    polygons_df: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """Distributed line-vs-polygon spatial join: covering-cell bucket
    candidates for BOTH sides (neither operand table ever lands on the
    driver), codegen envelope prune, then a single Arrow refine evaluating
    the mixed-dimension DE-9IM kernel (functions/relate.py line operands).

    Output: (lkey, pkey, within, crosses) for every intersecting pair —
    the dispatch surface of BinarySpatialFilter.java:43 for dim-1 x dim-2
    operands.  Scale shape mirrors polygon_pair_join: the cell equi-join is
    the only shuffle and the refine sees candidate pairs only."""
    from ..functions.relate import line_polygon_relate_batch

    cand = _line_poly_candidates(lines_df, polygons_df, res)

    @F.pandas_udf("intersects boolean, within boolean, crosses boolean")
    def rel(l_s: pd.Series, p_s: pd.Series) -> pd.DataFrame:
        # one broadcasted evaluation for the whole Arrow batch (identical
        # FP expressions to the scalar kernel — oracle-exact)
        inter, within, crosses = line_polygon_relate_batch(l_s, p_s)
        return pd.DataFrame(
            {"intersects": inter, "within": within, "crosses": crosses}
        )

    out = cand.withColumn("r", rel.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return (
        out.filter(F.col("r.intersects"))
        .select(
            F.col("a").alias("lkey"), F.col("b").alias("pkey"),
            F.col("r.within").alias("within"),
            F.col("r.crosses").alias("crosses"),
        )
    )


def line_clip_join(
    lines_df: DataFrame,
    polygons_df: DataFrame,
    res: int | None = None,
) -> DataFrame:
    """Distributed ST_Intersection(line, polygon) length join: the same
    candidate machinery as line_polygon_join, refined by the parametric
    clip kernel (functions/overlay.clip_line_polygon).  Output: one row per
    pair with a non-empty clip — (lkey, pkey, qclip) where qclip is the
    int64 quantized clipped length (per-interval floor at 1e7, sum —
    aggregation-order-independent, hence oracle-exact)."""
    from ..functions.overlay import clip_qlen_batch

    cand = _line_poly_candidates(lines_df, polygons_df, res)

    @F.pandas_udf(T.LongType())
    def qclip(l_s: pd.Series, p_s: pd.Series) -> pd.Series:
        # polygon-grouped flat-grid batch kernel (bit-identical to
        # clip_line_polygon's qlen), not a per-pair Python loop
        return pd.Series(clip_qlen_batch(l_s, p_s))

    out = cand.withColumn("qclip", qclip.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return out.filter(F.col("qclip") > 0).select(
        F.col("a").alias("lkey"), F.col("b").alias("pkey"), "qclip"
    )


def nearest_line_join(
    points_df: DataFrame,
    lines_df: DataFrame,
    lon_col: str,
    lat_col: str,
    radius: float,
    id_col: str = "event_id",
    key_col: str = "key",
    wkb_col: str = "wkb",
) -> DataFrame:
    """Nearest-polyline join (map-matching): for each point, the single
    nearest line feature within ``radius`` degrees — JoinFeatureSet.java:74's
    set-vs-set contract specialized to a top-1 distance join, the dim-0 ×
    dim-1 counterpart of the kNN join.  Broadcast-dim shape (the line table
    packs into flat segment arrays shipped in the UDF closure, the pattern of
    the ST_Distance gate): points stream through ONE vectorized Arrow stage
    computing an (n_points, n_segments) distance matrix, reduced per line by
    ``minimum.reduceat`` over key-sorted contiguous segment runs.  Ties →
    lowest line key (argmin first-hit over ascending keys).  For line
    dimensions too big to broadcast, generate candidates with the
    cell-bucket machinery of line_polygon_join instead.

    Output (id, key, qdist) with qdist = floor(1e7 · distance); points with
    no line inside the radius drop out (inner-join semantics)."""
    from ..functions import geometry as geo

    rows = sorted(
        ((int(r[key_col]), bytes(r[wkb_col])) for r in lines_df.collect()),
        key=lambda t: t[0],
    )
    vx: list[float] = []
    vy: list[float] = []
    wx: list[float] = []
    wy: list[float] = []
    keys: list[int] = []
    offsets: list[int] = []
    for k, wkb in rows:
        _typ, (lx, ly) = geo.wkb_parse(wkb)
        if len(lx) < 2:
            continue
        keys.append(k)
        offsets.append(len(vx))
        vx.extend(lx[:-1].tolist())
        vy.extend(ly[:-1].tolist())
        wx.extend(lx[1:].tolist())
        wy.extend(ly[1:].tolist())
    schema = "id long, key long, qdist long"
    if not keys:
        return points_df.sparkSession.createDataFrame([], schema)
    sa = tuple(np.asarray(a, np.float64) for a in (vx, vy, wx, wy))
    karr = np.asarray(keys, np.int64)
    offs = np.asarray(offsets, np.int64)
    rq = int(np.floor(radius * 1e7))

    pts = points_df.select(F.col(id_col).alias("id"), lon_col, lat_col)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d2 = geo.point_segments_dist2(
                pdf[lon_col].to_numpy(), pdf[lat_col].to_numpy(), *sa)
            per_line = np.minimum.reduceat(d2, offs, axis=1)
            qd = np.floor(np.sqrt(per_line) * 1e7).astype(np.int64)
            j = qd.argmin(axis=1)
            best = qd[np.arange(len(qd)), j]
            m = best <= rq
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy()[m],
                "key": karr[j[m]],
                "qdist": best[m],
            })

    return pts.mapInPandas(fn, schema=schema)


def geometry_parts_df(gdf: DataFrame, key_col: str = "key",
                      wkb_col: str = "wkb") -> DataFrame:
    """(key, wkb) table of ANY WKB geometry type -> (key, wkb, envelope).

    The fully-generic analog of polygon_parts_df/line_parts_df (no SPLIT or
    member expansion — distance semantics need the whole geometry): envelope
    from the decomposed vertex set, any of the 7 geometry types."""
    from ..functions.sqlmm import geom_decompose

    def decode(key, wkb):
        D = geom_decompose(*_geo.wkb_parse(wkb))
        ax = np.concatenate([D["px"], D["svx"], D["swx"]])
        ay = np.concatenate([D["py"], D["svy"], D["swy"]])
        return [(wkb, ax, ay)] if len(ax) else []

    return _parts_df(gdf, key_col, wkb_col, decode)


def _radius_res(parts: DataFrame, radius: float) -> int:
    """Covering resolution for distance-bounded joins: the usual median-part
    heuristic, capped so one cell is never (much) smaller than the radius —
    otherwise the radius-expanded covers grow as (r/cell)^2 per feature."""
    res = _choose_res_dist(parts)
    return min(res, _res_for_width(radius)) if radius > 0 else res


def geometry_distance_join(
    a_df: DataFrame,
    b_df: DataFrame,
    radius: float,
    res: int | None = None,
) -> DataFrame:
    """Distance-bounded spatial join for ANY geometry-type pair — the
    DistanceFilter.java:48 join shape (ST_Distance(a, b) <= d as a join
    predicate), with BOTH sides distributed (no crossJoin, no driver-resident
    dimension, no broadcast-nested-loop).

    Plan: generic envelope parts for each side; the A covers are computed
    over radius-EXPANDED envelopes so any pair within ``radius`` shares a
    covering cell (two intersecting rectangles on one grid always share a
    cell); the cell equi-join is the only shuffle; a codegen envelope prune
    with radius slack runs before the Arrow refine evaluates the exact
    geom_distance kernel (same FP expressions as the ST_Distance gate) on
    candidate pairs only.

    Output: (akey, bkey, qdist) with qdist = floor(1e7 * distance), for
    pairs with qdist <= floor(1e7 * radius)."""
    from ..functions.sqlmm import geom_distance_batch

    r = float(radius)
    # eager localCheckpoint, not persist: each side feeds both its cover
    # branch and the WKB re-attach join, and checkpoint blocks are
    # GC-reclaimed instead of pinned in the CacheManager until session end
    aparts = geometry_parts_df(a_df).localCheckpoint()
    bparts = geometry_parts_df(b_df).localCheckpoint()
    if res is None:
        res = _radius_res(bparts, r)
    # qdist <= floor(r*1e7) admits distances up to r + 1e-7; pad the
    # geometric prunes so the quantization granularity can't drop a pair
    cand = _pair_candidates(aparts, bparts, res, pad=r + 1e-6)
    rq = int(np.floor(r * 1e7))

    @F.pandas_udf("long")
    def qdist(a_s: pd.Series, b_s: pd.Series) -> pd.Series:
        # grouped-flat batch kernel, not a per-pair loop (bit-identical to
        # the scalar geom_distance — min/any reductions are value-exact)
        d = geom_distance_batch(a_s, b_s)
        return pd.Series(np.floor(d * 1e7).astype(np.int64))

    out = cand.withColumn(
        "qdist", qdist.asNondeterministic()(F.col("wkb_a"), F.col("wkb_b")))
    return out.filter(F.col("qdist") <= F.lit(rq)).select(
        F.col("a").alias("akey"), F.col("b").alias("bkey"), "qdist"
    )


def nearest_line_join_dist(
    points_df: DataFrame,
    lines_df: DataFrame,
    lon_col: str,
    lat_col: str,
    radius: float,
    id_col: str = "event_id",
    key_col: str = "key",
    wkb_col: str = "wkb",
    res: int | None = None,
) -> DataFrame:
    """nearest_line_join with a fully-DISTRIBUTED line dimension (the
    polygon_parts_df treatment): line envelopes expanded by ``radius`` are
    cell-covered, points bucket to their single cell, the cell equi-join is
    the only shuffle, and an Arrow refine computes per-candidate point-line
    distances (one wkb parse per line per batch, vectorized over its
    points).  Top-1 per point = min(struct(qdist, key)) — identical
    tie-break (lowest key) and quantization to the broadcast path, so both
    satisfy the same oracle.

    Use this when the line table is continental-scale; the broadcast
    variant stays the low-latency path for road-network-sized dims."""
    from ..functions import geometry as geo

    r = float(radius)
    rp = r + 1e-6  # quantization-granularity pad (see geometry_distance_join)
    # eager localCheckpoint, not persist (GC-reclaimed; see geometry_distance_join)
    lparts = line_parts_df(lines_df, key_col, wkb_col).localCheckpoint()
    if res is None:
        res = _radius_res(lparts, r)
    lcov = polygon_cells_df(_grown(lparts, rp), res, classify=False).select(
        "cell", F.col("pkey").alias("lkey"))

    pts = points_df.select(
        F.col(id_col).alias("id"), F.col(lon_col).alias("px"), F.col(lat_col).alias("py"),
    ).withColumn("cell", cell_col(F.col("px"), F.col("py"), res))
    cand = (
        pts.join(lcov, "cell")
        .join(
            lparts.select(
                F.col("key").alias("lkey"), F.col("wkb").alias("lwkb"),
                "xmin", "ymin", "xmax", "ymax"),
            "lkey",
        )
        .filter(
            (F.col("px") >= F.col("xmin") - rp) & (F.col("px") <= F.col("xmax") + rp)
            & (F.col("py") >= F.col("ymin") - rp) & (F.col("py") <= F.col("ymax") + rp)
        )
        .select("id", "px", "py", "lkey", "lwkb")
    )
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    rq = int(np.floor(r * 1e7))

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, keys, qds = [], [], []
            for lkey, grp in pdf.groupby("lkey", sort=False):
                wkb = bytes(grp["lwkb"].iloc[0])
                _typ, (lx, ly) = geo.wkb_parse(wkb)
                if len(lx) < 2:
                    continue
                d2 = geo.point_segments_dist2(
                    grp["px"].to_numpy(), grp["py"].to_numpy(),
                    lx[:-1], ly[:-1], lx[1:], ly[1:])
                qd = np.floor(np.sqrt(d2.min(axis=1)) * 1e7).astype(np.int64)
                m = qd <= rq
                ids.append(grp["id"].to_numpy()[m])
                keys.append(np.full(int(m.sum()), int(lkey), np.int64))
                qds.append(qd[m])
            if not ids:
                continue
            yield pd.DataFrame({
                "id": np.concatenate(ids),
                "key": np.concatenate(keys),
                "qdist": np.concatenate(qds),
            })

    hits = cand.mapInPandas(fn, schema="id long, key long, qdist long")
    best = hits.groupBy("id").agg(F.min(F.struct("qdist", "key")).alias("b"))
    return best.select("id", F.col("b.key").alias("key"), F.col("b.qdist").alias("qdist"))


def spacetime_join(
    a: DataFrame,
    b: DataFrame,
    r_q: int,
    tau_us: int,
) -> DataFrame:
    """Spatio-temporal pair join -> (a_id, b_id): b-events within BOTH
    ``r_q`` quantized-coordinate units (planar int64 distance on the
    quantized grid) AND ``tau_us`` microseconds of an a-event.

    Inputs: (id, qx, qy, ts_us) each.

    Scale shape: ONE ``density.within_distance_join`` at radius ``r_q``
    (cells of side ``r_q`` on the quantized plane, the a-side's 3x3 ring
    equi-joined to b's cell, so the candidate set is complete by
    construction), exact integer distance in the join and the time
    predicate after; each pair emitted once.  Compose with time bucketing
    (range_join's bins) when a cell's population is time-dominated."""
    from .density import within_distance_join

    def side(df, tag):
        return df.select(
            F.col("id").alias(f"{tag}_id"), F.col("ts_us").alias(f"{tag}_ts"),
            F.col("qx").alias("x"), F.col("qy").alias("y"),
        )

    dt = F.col("a_ts") - F.col("b_ts")
    return (
        within_distance_join(side(a, "a"), side(b, "b"), r_q)
        .filter(F.abs(dt) <= F.lit(int(tau_us)).cast("long"))
        .select("a_id", "b_id")
    )
