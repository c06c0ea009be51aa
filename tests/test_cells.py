"""Cell/geohash kernel tests — golden vectors from the reference's
Gt/GeohashReferenceSystemTest.java:85-91 landmark fixtures."""

import numpy as np
import pytest

from sis_spark.functions import cells

LANDMARKS = [
    # (name, lon, lat, 12-char geohash) — Gt/GeohashReferenceSystemTest.java:85-91
    ("Empire State Building", -73.985656, 40.748433, "dr5ru6j2c62q"),
    ("Statue Of Liberty", -74.044444, 40.689167, "dr5r7p4rx6kz"),
    ("The White House", -77.036550, 38.897669, "dqcjqcpeq70c"),
    ("Hoover Dam", -114.737778, 36.015556, "9qqkvh6mzfpz"),
    ("Golden Gate Bridge", -122.478611, 37.819722, "9q8zhuvgce0m"),
    ("Mount Rushmore", -103.459825, 43.878947, "9xy3teyv7ke4"),
    ("Space Needle", -122.349100, 47.620400, "c22yzvh0gmfy"),
]


def test_geohash_golden_vectors():
    lon = np.array([p[1] for p in LANDMARKS])
    lat = np.array([p[2] for p in LANDMARKS])
    got = cells.geohash_encode(lon, lat, 12)
    assert list(got) == [p[3] for p in LANDMARKS]


def test_geohash_decode_centroid():
    # decode must return the cell centroid within cell tolerance
    # (Gt/GeohashReferenceSystemTest.java:255-256)
    hashes = [p[3] for p in LANDMARKS]
    lon, lat = cells.geohash_decode(hashes)
    for i, (_, elon, elat, _) in enumerate(LANDMARKS):
        assert abs(lon[i] - elon) < 360.0 / 2**30 * 2
        assert abs(lat[i] - elat) < 180.0 / 2**30 * 2


def test_geohash_odd_length_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    for length in (1, 5, 7, 11):
        h = cells.geohash_encode(lon, lat, length)
        dlon, dlat = cells.geohash_decode(h)
        bits = 5 * length
        lon_bits = (bits + 1) // 2
        lat_bits = bits // 2
        assert np.all(np.abs(dlon - lon) <= 360.0 / 2**lon_bits)
        assert np.all(np.abs(dlat - lat) <= 180.0 / 2**lat_bits)


def test_cell_roundtrip_and_res():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for res in (1, 5, 12, 20, 29):
        c = cells.encode_cell(lon, lat, res)
        assert np.all(cells.cell_res(c) == res)
        x0, y0, x1, y1 = cells.cell_to_envelope(c, res)
        assert np.all((lon >= x0) & (lon <= x1))
        assert np.all((lat >= y0) & (lat <= y1))
        # centroid re-encodes to the same cell
        cx, cy = cells.cell_centroid(c, res)
        assert np.array_equal(cells.encode_cell(cx, cy, res), c)


def test_cell_edge_inclusive_low():
    # a point exactly on a cell edge belongs to the higher cell (GridExtent
    # inclusive-low convention); the globe's top edge clamps inward.
    c = cells.encode_cell(np.array([0.0]), np.array([0.0]), 4)
    ix, iy = cells.cell_to_ixiy(c, 4)
    assert ix[0] == 8 and iy[0] == 8
    c2 = cells.encode_cell(np.array([180.0]), np.array([90.0]), 4)
    ix, iy = cells.cell_to_ixiy(c2, 4)
    assert ix[0] == 15 and iy[0] == 15


def test_parent_cell():
    lon = np.array([-73.98, 2.35, 151.2])
    lat = np.array([40.75, 48.85, -33.87])
    c12 = cells.encode_cell(lon, lat, 12)
    c5 = cells.encode_cell(lon, lat, 5)
    assert np.array_equal(cells.parent_cell(c12, 12, 5), c5)


def test_k_ring_counts_and_wrap():
    res = 6
    c = cells.encode_cell(np.array([0.5]), np.array([0.5]), res)[0]
    ring1 = cells.k_ring(int(c), res, 1)
    assert len(ring1) == 9
    assert int(c) in ring1
    # anti-meridian wrap: cell at lon=-179.9 has neighbors at lon=+179.9
    cw = cells.encode_cell(np.array([-179.9]), np.array([0.0]), res)[0]
    ring = cells.k_ring(int(cw), res, 1)
    ce = cells.encode_cell(np.array([179.9]), np.array([0.0]), res)[0]
    assert int(ce) in ring
    # pole clamp: top-row cell ring is truncated
    cp = cells.encode_cell(np.array([0.0]), np.array([89.9]), res)[0]
    assert len(cells.k_ring(int(cp), res, 1)) == 6


def test_covering_cells_and_wraparound_split():
    res = 5
    cov = cells.covering_cells(-10.0, -10.0, 10.0, 10.0, res)
    # every covered cell's envelope intersects the box
    x0, y0, x1, y1 = cells.cell_to_envelope(cov, res)
    assert np.all((x1 >= -10.0) & (x0 <= 10.0) & (y1 >= -10.0) & (y0 <= 10.0))
    # anti-meridian box xmin > xmax splits (WraparoundMethod SPLIT)
    wrap = cells.covering_cells(170.0, 0.0, -170.0, 5.0, res)
    lon0 = cells.cell_to_envelope(wrap, res)[0]
    assert (lon0 >= 160).any() and (lon0 <= -160).any()


def test_cell_sql_matches_numpy():
    """The DuckDB SQL emitted by cell_sql_flat computes exactly encode_cell."""
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-180, 180, 500), [0.0, -180.0, 179.99999, 45.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 500), [0.0, -90.0, 89.99999, 45.0]])
    for res in (6, 12):
        expected = cells.encode_cell(lon, lat, res)
        con = duckdb.connect()
        con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
        expr = cells.cell_sql_flat("lon", "lat", res)
        got = con.execute(f"SELECT {expr} AS c FROM pts").fetchnumpy()["c"]
        assert np.array_equal(got.astype(np.int64), expected)


def test_spacetime_join_matches_brute(spark):
    import numpy as np

    from sis_spark.operators.spatial_join import spacetime_join

    rng = np.random.RandomState(3)
    rows = []
    for i in range(120):
        lon = float(rng.uniform(-170, 170))
        lat = float(rng.uniform(-80, 80))
        rows.append((i, lon, lat, int(lon * 1e5), int(lat * 1e5),
                     int(rng.randint(0, 10**7))))
    schema = "id long, lon double, lat double, qx long, qy long, ts_us long"
    a = spark.createDataFrame(rows[:60], schema)
    b = spark.createDataFrame(rows[60:], schema)
    tau = 4_000_000
    # radii from one pair to most of the globe, 5e6 above a 2^3-grid cell
    for r_q in (300_000, 2_000_000, 5_000_000, 20_000_000):
        got = sorted((r["a_id"], r["b_id"])
                     for r in spacetime_join(a, b, r_q=r_q, tau_us=tau).collect())
        want = sorted(
            (x[0], y[0]) for x in rows[:60] for y in rows[60:]
            if (x[3] - y[3]) ** 2 + (x[4] - y[4]) ** 2 <= r_q * r_q
            and abs(x[5] - y[5]) <= tau
        )
        assert got == want and len(got) > 0, r_q


def test_morton_ranges_cover_exactly(spark):
    import numpy as np

    from sis_spark.functions.cells import covering_cells
    from sis_spark.operators.partitioning import morton_ranges

    box = (-10.0, -5.0, 21.5, 17.25)
    res = 6
    rows = morton_ranges(spark, *box, res=res).collect()
    want = np.sort(covering_cells(*box, res))
    # ranges are disjoint, sorted, and their union is exactly the cover
    got = []
    prev_hi = None
    for r in sorted(rows, key=lambda r: r["lo"]):
        assert r["hi"] - r["lo"] + 1 == r["n_cells"]
        if prev_hi is not None:
            assert r["lo"] > prev_hi + 1   # merged: no touching ranges
        prev_hi = r["hi"]
        got.extend(range(r["lo"], r["hi"] + 1))
    assert got == want.tolist()
    # every range is consecutive by construction; fewer ranges than cells
    assert len(rows) < len(want)
