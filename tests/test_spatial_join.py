"""End-to-end spatial join / tiling / kNN vs the DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate: the engine's DataFrame result
must match the independent SQL re-derivation row-for-row."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sis_spark import synth
from sis_spark.functions import cells as _cells
from sis_spark.functions.spark_exprs import (
    cell_col, point_lonlat_cols, query_lonlat_cols, tile_cols,
)
from sis_spark.functions.udfs import cell_udf, tile_udf
from sis_spark.operators.spatial_join import spatial_join, spatial_join_dist
from sis_spark.operators.knn import knn_join
from sis_spark.operators.tiling import assign_tiles, tile_counts, pyramid_rollup


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = point_lonlat_cols("event_id")
    return ev.select("event_id", lon.alias("lon"), lat.alias("lat"))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("events", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_cell_expr_jvm_equals_numpy_udf(events):
    """JVM codegen cell expression == Arrow pandas-UDF kernel (differential)."""
    res = 9
    df = (
        events.withColumn("c_jvm", cell_col(F.col("lon"), F.col("lat"), res))
        .withColumn("c_py", cell_udf(res)("lon", "lat"))
    )
    assert df.filter(F.col("c_jvm") != F.col("c_py")).count() == 0


def test_cell_expr_equals_numpy_at_every_res(spark):
    """The JVM cell id spreads in as many Morton steps as ``res`` needs:
    every resolution, including the globe edges and out-of-range clamps,
    equals cells.encode_cell."""
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-200.0, 200.0, 500),
                          [-180.0, 180.0, 179.9999999, -180.0000001, 0.0, -1e-12]])
    lat = np.concatenate([rng.uniform(-100.0, 100.0, 500),
                          [-90.0, 90.0, 89.99999999, 0.0, 1e-12, 45.0]])
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    res_all = range(1, _cells.MAX_RES + 1)
    got = df.select(*[cell_col(F.col("lon"), F.col("lat"), r).alias(f"c{r}")
                      for r in res_all]).toPandas()
    for r in res_all:
        assert (got[f"c{r}"].to_numpy() == _cells.encode_cell(lon, lat, r)).all(), r


def test_tile_expr_jvm_equals_numpy_udf(events):
    zoom = 11
    tx, ty = tile_cols(F.col("lon"), F.col("lat"), zoom)
    df = (
        events.withColumn("t_jvm_x", tx).withColumn("t_jvm_y", ty)
        .withColumn("t_py", tile_udf(zoom)("lon", "lat"))
    )
    bad = df.filter(
        (F.col("t_jvm_x") != F.col("t_py.tx")) | (F.col("t_jvm_y") != F.col("t_py.ty"))
    )
    assert bad.count() == 0


def _assert_pip_oracle(joined, duck):
    got = (
        joined.select(F.col("event_id").alias("pid"), F.col("poly_key"))
        .toPandas()
        .sort_values(["pid", "poly_key"])
        .reset_index(drop=True)
    )
    pts = (
        f"SELECT event_id AS pid, {synth.point_lon_sql('event_id')} AS lon, "
        f"{synth.point_lat_sql('event_id')} AS lat FROM events"
    )
    exp = duck.execute(synth.pip_join_oracle_sql(pts)).fetch_df()
    exp = exp.astype({"pid": "int64", "poly_key": "int64"}).reset_index(drop=True)
    got = got.astype({"pid": "int64", "poly_key": "int64"})
    pd.testing.assert_frame_equal(got, exp)
    assert len(exp) > 0


def test_spatial_join_vs_oracle(spark, events, duck):
    sup_keys = duck.execute("SELECT s_suppkey FROM supplier ORDER BY 1").fetchnumpy()["s_suppkey"]
    _assert_pip_oracle(spatial_join(events, synth.polygon_table_np(sup_keys), "lon", "lat"), duck)


def test_spatial_join_cover_guard_fallback(spark, events, duck, monkeypatch):
    """Past MAX_SURE_COVER_ROWS the join drops to the coarse plan and still
    matches the oracle.  Every point-join form scans the point side once:
    sure cells are decided inside the refine column, not in a second
    pipeline over the same candidates."""
    from sis_spark.functions import geometry as geo
    from sis_spark.operators import spatial_join as sj

    def point_scans(df):
        # the events parquet is the only file relation in these plans
        # (covering tables are local relations or checkpoints)
        return df._jdf.queryExecution().optimizedPlan().toString().count("] parquet")

    sup_keys = duck.execute("SELECT s_suppkey FROM supplier ORDER BY 1").fetchnumpy()["s_suppkey"]
    polygons = synth.polygon_table_np(sup_keys)
    assert point_scans(spatial_join(events, polygons, "lon", "lat")) == 1
    wkb = spark.createDataFrame(
        [(p["key"], bytes(geo.wkb_polygon([(p["vx"], p["vy"])]))) for p in polygons],
        "key long, wkb binary",
    )
    assert point_scans(spatial_join_dist(events, wkb)) == 1
    assert point_scans(spatial_join_dist(events, wkb, compact_levels=3)) == 1
    monkeypatch.setattr(sj, "MAX_SURE_COVER_ROWS", 10)
    joined = spatial_join(events, polygons, "lon", "lat")
    assert point_scans(joined) == 1
    _assert_pip_oracle(joined, duck)


NONFINITE = [float("nan"), float("inf"), float("-inf"), None]
ANTIMERIDIAN_VX, ANTIMERIDIAN_VY = [160.0, 200.0, 200.0, 160.0], [-10.0, -10.0, 10.0, 10.0]
JOIN_FORMS = {
    "broadcast": lambda pts, polys, wkb: spatial_join(pts, polys),
    "salt4": lambda pts, polys, wkb: spatial_join(pts, polys, salt=4),
    "salt_auto": lambda pts, polys, wkb: spatial_join(pts, polys, salt="auto"),
    "dist": lambda pts, polys, wkb: spatial_join_dist(pts, wkb),
    "dist_compact": lambda pts, polys, wkb: spatial_join_dist(pts, wkb, compact_levels=3),
}


@pytest.mark.parametrize("form", sorted(JOIN_FORMS))
def test_spatial_join_nonfinite_coordinates(spark, form):
    """NaN, ±inf and null lon or lat never match, in every join form; the
    finite controls on both sides of the antimeridian split do."""
    from sis_spark.functions import geometry as geo

    rows = [(i, bad, 0.0) for i, bad in enumerate(NONFINITE, 1)]
    rows += [(i, 170.0, bad) for i, bad in enumerate(NONFINITE, 5)]
    rows += [(9, 170.0, 0.0), (10, -170.0, 5.0)]
    pts = spark.createDataFrame(rows, "event_id long, lon double, lat double")
    polys = [{"key": 7, "vx": ANTIMERIDIAN_VX, "vy": ANTIMERIDIAN_VY}]
    ring = (np.array(ANTIMERIDIAN_VX), np.array(ANTIMERIDIAN_VY))
    wkb = spark.createDataFrame([(7, bytes(geo.wkb_polygon([ring])))], "key long, wkb binary")
    got = JOIN_FORMS[form](pts, polys, wkb).select("event_id", "poly_key").collect()
    assert sorted(map(tuple, got)) == [(9, 7), (10, 7)]


BOUNDARY_POINTS = [(0, 2), (4, 2), (2, 0), (2, 4), (0, 0), (4, 0), (4, 4), (0, 4),
                   (1, 2), (3, 2), (2, 1), (2, 3), (1, 1), (0.5, 0.5), (2, 2)]


def _square(x0, y0, x1, y1):
    return np.array([x0, x1, x1, x0], float), np.array([y0, y0, y1, y1], float)


@pytest.mark.parametrize("form", sorted(JOIN_FORMS))
def test_spatial_join_boundary_points(spark, form):
    """Points on edges, vertices, shared borders and a hole's boundary follow
    the half-open even-odd rule in every join form: each shared-border point
    matches exactly one polygon."""
    from sis_spark.functions import geometry as geo

    rings = {
        1: [_square(0, 0, 4, 4), _square(1, 1, 3, 3)],  # square with a hole
        2: [_square(4, 0, 8, 4)],                       # shares x=4 with 1
        3: [_square(0, 4, 4, 8)],                       # shares y=4 with 1
    }
    polys = [{"key": k, "vx": r[0][0], "vy": r[0][1], "holes": r[1:]} for k, r in rings.items()]
    wkb = spark.createDataFrame([(k, bytes(geo.wkb_polygon(r))) for k, r in rings.items()],
                                "key long, wkb binary")
    pts = spark.createDataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(BOUNDARY_POINTS)],
                                "event_id long, lon double, lat double")
    got = JOIN_FORMS[form](pts, polys, wkb).select("event_id", "poly_key").collect()
    want = {
        1: [(0, 2), (2, 0), (0, 0), (3, 2), (2, 3), (0.5, 0.5)],
        2: [(4, 2), (4, 0)],
        3: [(2, 4), (0, 4)],
    }
    assert sorted((BOUNDARY_POINTS[e], k) for e, k in got) == sorted(
        (p, k) for k, ps in want.items() for p in ps)


def test_spatial_join_shuffle_salted_same_result(spark, events, duck):
    sup_keys = duck.execute("SELECT s_suppkey FROM supplier").fetchnumpy()["s_suppkey"]
    polygons = synth.polygon_table_np(sup_keys)
    a = (
        spatial_join(events, polygons, "lon", "lat")
        .select("event_id", "poly_key").toPandas()
        .sort_values(["event_id", "poly_key"]).reset_index(drop=True)
    )
    b = (
        spatial_join(events, polygons, "lon", "lat", salt=4)
        .select("event_id", "poly_key").toPandas()
        .sort_values(["event_id", "poly_key"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_tile_counts_vs_oracle(events, duck):
    zoom = 7
    got = (
        tile_counts(events, "lon", "lat", zoom)
        .toPandas().sort_values(["tx", "ty"]).reset_index(drop=True)
    )
    from sis_spark.functions.transforms import tile_sql

    lon = synth.point_lon_sql("event_id")
    lat = synth.point_lat_sql("event_id")
    sx, sy = tile_sql(lon, lat, zoom)
    exp = duck.execute(
        f"SELECT {sx} AS tx, {sy} AS ty, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY tx, ty"
    ).fetch_df()
    pd.testing.assert_frame_equal(
        got.astype({"tx": "int64", "ty": "int64", "n": "int64"}),
        exp.astype({"tx": "int64", "ty": "int64", "n": "int64"}),
    )


def test_pyramid_rollup_consistency(events):
    zoom = 8
    base = tile_counts(events, "lon", "lat", zoom)
    pyr = pyramid_rollup(base, max_zoom=zoom, min_zoom=0).toPandas()
    total = events.count()
    sums = pyr.groupby("z")["n"].sum()
    assert (sums == total).all()
    # spot-check parent/child arithmetic at one level
    z1 = pyr[pyr.z == zoom - 1].set_index(["tx", "ty"])["n"]
    z0 = pyr[pyr.z == zoom]
    rolled = z0.assign(tx=z0.tx // 2, ty=z0.ty // 2).groupby(["tx", "ty"])["n"].sum()
    pd.testing.assert_series_equal(z1.sort_index(), rolled.sort_index(), check_names=False)


def test_knn_vs_oracle(spark, events, duck, sf_dir):
    k = 5
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qlon, qlat = query_lonlat_cols("n_nationkey")
    queries = nat.select(
        F.col("n_nationkey").alias("query_id"), qlon.alias("qlon"), qlat.alias("qlat")
    )
    got = (
        knn_join(events.withColumnRenamed("event_id", "cand_id"), queries, k)
        .select("query_id", "rank", "cand_id")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    hav = __import__("sis_spark.functions.geometry", fromlist=["haversine_sql"]).haversine_sql
    lon = synth.point_lon_sql("e.event_id")
    lat = synth.point_lat_sql("e.event_id")
    qlon_s = synth.query_lon_sql("n.n_nationkey")
    qlat_s = synth.query_lat_sql("n.n_nationkey")
    exp = duck.execute(f"""
        SELECT query_id, rank, cand_id FROM (
          SELECT n.n_nationkey AS query_id, e.event_id AS cand_id,
                 row_number() OVER (PARTITION BY n.n_nationkey
                    ORDER BY {hav(lon, lat, qlon_s, qlat_s)} ASC, e.event_id ASC) AS rank
          FROM nation n CROSS JOIN events e) t
        WHERE rank <= {k} ORDER BY query_id, rank
    """).fetch_df()
    pd.testing.assert_frame_equal(
        got.astype({"query_id": "int64", "rank": "int64", "cand_id": "int64"}),
        exp.astype({"query_id": "int64", "rank": "int64", "cand_id": "int64"}),
    )


def test_nearest_line_join_matches_brute(spark):
    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.operators.spatial_join import nearest_line_join

    rng = np.random.default_rng(7)
    lines = []
    for k in range(6):
        xs = np.sort(rng.uniform(-10, 10, 5))
        ys = rng.uniform(-10, 10, 5)
        lines.append((k, bytes(geo.wkb_linestring(xs, ys)), xs, ys))
    ldf = spark.createDataFrame(
        [(k, w) for k, w, *_ in lines], "key long, wkb binary"
    )
    px = rng.uniform(-12, 12, 200)
    py = rng.uniform(-12, 12, 200)
    pdf = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(200)],
        "event_id long, lon double, lat double",
    )
    radius = 3.0
    got = (
        nearest_line_join(pdf, ldf, "lon", "lat", radius)
        .orderBy("id").toPandas()
    )

    # brute: per (point, line) min over segments, top-1 by (qdist, key)
    expect = {}
    for i in range(200):
        best = None
        for k, _w, xs, ys in lines:
            d2 = geo.point_segments_dist2(
                np.array([px[i]]), np.array([py[i]]),
                xs[:-1], ys[:-1], xs[1:], ys[1:])
            qd = int(np.floor(np.sqrt(d2.min()) * 1e7))
            if best is None or (qd, k) < best:
                best = (qd, k)
        if best[0] <= int(radius * 1e7):
            expect[i] = best
    assert got.shape[0] == len(expect)
    for _, r in got.iterrows():
        assert expect[int(r["id"])] == (int(r["qdist"]), int(r["key"]))


def test_nearest_line_join_empty_lines(spark):
    from sis_spark.operators.spatial_join import nearest_line_join

    ldf = spark.createDataFrame([], "key long, wkb binary")
    pdf = spark.createDataFrame([(0, 1.0, 2.0)], "event_id long, lon double, lat double")
    assert nearest_line_join(pdf, ldf, "lon", "lat", 5.0).count() == 0


def test_nearest_line_join_dist_matches_broadcast(spark):
    """Distributed-dimension variant == broadcast variant on the same data
    (same quantization, same (qdist, key) tie-break) — the 'continental dim'
    path must satisfy the identical contract."""
    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.operators.spatial_join import (
        nearest_line_join, nearest_line_join_dist,
    )

    rng = np.random.default_rng(11)
    lines = []
    for k in range(8):
        xs = np.sort(rng.uniform(-15, 15, 6))
        ys = rng.uniform(-15, 15, 6)
        lines.append((k, bytes(geo.wkb_linestring(xs, ys))))
    ldf = spark.createDataFrame(lines, "key long, wkb binary")
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-18, 18, 300), rng.uniform(-18, 18, 300)))]
    pdf = spark.createDataFrame(pts, "event_id long, lon double, lat double")

    a = nearest_line_join(pdf, ldf, "lon", "lat", 4.0).orderBy("id").collect()
    b = nearest_line_join_dist(pdf, ldf, "lon", "lat", 4.0).orderBy("id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 100


def test_geometry_distance_join_matches_brute(spark):
    """Distance-bounded join == brute-force all-pairs geom_distance filter
    (line x polygon, mixed intersecting / near / far pairs)."""
    import numpy as np

    from sis_spark.functions import geometry as geo
    from sis_spark.functions.sqlmm import geom_distance
    from sis_spark.operators.spatial_join import geometry_distance_join

    rng = np.random.default_rng(3)
    lines = []
    for k in range(10):
        cx, cy = rng.uniform(-30, 30, 2)
        xs = np.sort(rng.uniform(cx - 3, cx + 3, 5))
        ys = rng.uniform(cy - 3, cy + 3, 5)
        lines.append((k, bytes(geo.wkb_linestring(xs, ys))))
    polys = []
    for k in range(12):
        cx, cy = rng.uniform(-30, 30, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
        rr = rng.uniform(1.0, 3.0, 7)
        vx = cx + rr * np.cos(ang)
        vy = cy + rr * np.sin(ang)
        polys.append((k, bytes(geo.wkb_polygon([(vx, vy)]))))
    ldf = spark.createDataFrame(lines, "key long, wkb binary")
    gdf = spark.createDataFrame(polys, "key long, wkb binary")

    radius = 5.0
    rq = int(np.floor(radius * 1e7))
    got = {
        (r["akey"], r["bkey"]): r["qdist"]
        for r in geometry_distance_join(ldf, gdf, radius).collect()
    }
    expect = {}
    for lk, lw in lines:
        for pk, pw in polys:
            qd = int(np.floor(geom_distance(
                geo.wkb_parse(lw), geo.wkb_parse(pw)) * 1e7))
            if qd <= rq:
                expect[(lk, pk)] = qd
    assert got == expect
    assert any(v == 0 for v in expect.values()) or len(expect) > 0
