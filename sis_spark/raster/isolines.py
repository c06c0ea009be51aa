"""Isolines: marching-squares contour extraction over tiled rasters.

Re-expresses the reference's isoline processor
(F/image/processing/isoline/ — single-image, fork-join per band) as a
distributed tile operator:

1. **Halo gather**: a marching cell spans a 2x2 pixel window, so each tile
   needs one pixel of its right/bottom/diagonal neighbors.  Every tile row
   contributes itself to up to 4 halo groups ((tx,ty), (tx-1,ty), (tx,ty-1),
   (tx-1,ty-1)) via a 4-way explode + groupBy — the same gather shape as
   resample_gather, no broadcast.
2. **March** (numpy, vectorized over all cells of a tile): classic 16-case
   marching squares with linear edge interpolation; saddle cases (5/10)
   resolved by the cell-center mean (the standard disambiguation).
3. Output: SEGMENT rows (level, x1, y1, x2, y2) in pixel-center CRS
   coordinates via the grid affine.  Segments are the distributed contract
   (contour tiles); `stitch_polylines` assembles closed/open polylines
   driver-side for consumers that need them (the reference emits polylines
   directly; segment-set equality is the parity check in tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import transforms as _tr
from .grid import GridGeometry, _halo_groups, _place_blocks

SEG_SCHEMA = "level double, x1 double, y1 double, x2 double, y2 double"


def marching_squares(arr: np.ndarray, level: float):
    """Segments of the ``level`` contour of a 2-D float array.

    Returns (n, 4) array of (x1, y1, x2, y2) in PIXEL coordinates (pixel
    centers at integer positions).  Vectorized: one pass computes all cell
    cases, then each of the 16 cases emits its segments via masks.
    """
    v = arr.astype(np.float64)
    h, w = v.shape
    if h < 2 or w < 2:
        return np.zeros((0, 4))
    v00 = v[:-1, :-1]
    v10 = v[:-1, 1:]
    v01 = v[1:, :-1]
    v11 = v[1:, 1:]
    tl = v00 >= level
    tr = v10 >= level
    br = v11 >= level
    bl = v01 >= level
    idx = tl.astype(np.int64) + 2 * tr + 4 * br + 8 * bl
    # a cell with any NaN corner (no-data / missing neighbor tile in the
    # halo) emits NOTHING: NaN compares as below-level, which would
    # otherwise fabricate contour segments along absent-tile boundaries
    # (ADVICE r1 item 4)
    nan_cell = np.isnan(v00) | np.isnan(v10) | np.isnan(v01) | np.isnan(v11)
    idx[nan_cell] = 0

    gy, gx = np.mgrid[0 : h - 1, 0 : w - 1]
    gx = gx.astype(np.float64)
    gy = gy.astype(np.float64)

    def frac(a, b):
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (level - a) / (b - a)
        return np.clip(np.nan_to_num(t, nan=0.5), 0.0, 1.0)

    # edge interpolation points (pixel coords)
    t_pt = (gx + frac(v00, v10), gy)                    # top
    r_pt = (gx + 1.0, gy + frac(v10, v11))              # right
    b_pt = (gx + frac(v01, v11), gy + 1.0)              # bottom
    l_pt = (gx, gy + frac(v00, v01))                    # left

    E = {"t": t_pt, "r": r_pt, "b": b_pt, "l": l_pt}
    CASES = {
        1: [("l", "t")], 2: [("t", "r")], 3: [("l", "r")], 4: [("r", "b")],
        6: [("t", "b")], 7: [("l", "b")], 8: [("b", "l")], 9: [("t", "b")],
        11: [("r", "b")], 12: [("r", "l")], 13: [("t", "r")], 14: [("l", "t")],
    }
    center_hi = (v00 + v10 + v01 + v11) * 0.25 >= level
    segs = []

    def emit(mask, a, b):
        if not mask.any():
            return
        ax, ay = E[a]
        bx, by = E[b]
        segs.append(np.column_stack([ax[mask], ay[mask], bx[mask], by[mask]]))

    for case, pairs in CASES.items():
        m = idx == case
        for a, b in pairs:
            emit(m, a, b)
    # saddles: 5 = tl+br, 10 = tr+bl; split by the center sample
    m5 = idx == 5
    emit(m5 & center_hi, "l", "t"); emit(m5 & center_hi, "r", "b")
    emit(m5 & ~center_hi, "l", "b"); emit(m5 & ~center_hi, "t", "r")
    m10 = idx == 10
    emit(m10 & center_hi, "t", "r"); emit(m10 & center_hi, "b", "l")
    emit(m10 & ~center_hi, "l", "t"); emit(m10 & ~center_hi, "r", "b")

    if not segs:
        return np.zeros((0, 4))
    return np.concatenate(segs)


def isolines(
    tiles_df: DataFrame,
    gg: GridGeometry,
    levels: list[float],
    band: int = 0,
    tile_size: int = 64,
    dtype=np.uint8,
) -> DataFrame:
    """Distributed contour segments for each level, in CRS coordinates
    (CELL_CENTER registration: pixel (i, j) samples the CRS point of its
    center, PixelInCell.CELL_CENTER semantics)."""
    h, w = gg.height, gg.width
    center_affine = _tr.grid_to_crs(gg.affine, cell_center=True)

    # 4-way halo explode: tile (tx, ty) serves groups (tx-d, ty-e)
    contrib = _halo_groups(tiles_df.filter(F.col("band") == band), gg,
                           tile_size, dxs=(0, -1), dys=(0, -1))

    lv = [float(x) for x in levels]

    def march(key, pdf):
        gtx, gty, halo = _place_blocks(key, pdf, tile_size, dtype, 0, 1, np.nan)
        # clip the halo to the real raster extent (edge tiles are zero-padded)
        vh = min(tile_size + 1, h - gty * tile_size)
        vw = min(tile_size + 1, w - gtx * tile_size)
        halo = halo[:vh, :vw]
        out = []
        for level in lv:
            segs = marching_squares(halo, level)
            if not len(segs):
                continue
            # pixel -> global pixel -> CRS (cell centers)
            px1 = segs[:, 0] + gtx * tile_size
            py1 = segs[:, 1] + gty * tile_size
            px2 = segs[:, 2] + gtx * tile_size
            py2 = segs[:, 3] + gty * tile_size
            x1, y1 = _tr.affine_apply(center_affine, px1, py1)
            x2, y2 = _tr.affine_apply(center_affine, px2, py2)
            out.append(pd.DataFrame({
                "level": level, "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            }))
        if out:
            return pd.concat(out)
        empty = np.array([], dtype=np.float64)
        return pd.DataFrame({c: empty for c in ("level", "x1", "y1", "x2", "y2")})

    return contrib.groupBy("gtx", "gty").applyInPandas(march, schema=SEG_SCHEMA)


def stitch_polylines(segments: np.ndarray, tol: float = 1e-9) -> list[np.ndarray]:
    """Driver-side assembly of (n, 4) segments into polylines (the
    reference's output shape).  Greedy endpoint matching with a rounding
    grid — adequate for consumers/tests; the distributed contract stays
    segment rows."""
    if not len(segments):
        return []
    def key(x, y):
        return (round(float(x) / tol), round(float(y) / tol))

    from collections import defaultdict

    adj = defaultdict(list)
    for i, (x1, y1, x2, y2) in enumerate(segments):
        adj[key(x1, y1)].append((i, False))
        adj[key(x2, y2)].append((i, True))
    used = np.zeros(len(segments), dtype=bool)
    lines = []
    for start in range(len(segments)):
        if used[start]:
            continue
        used[start] = True
        x1, y1, x2, y2 = segments[start]
        line = [(x1, y1), (x2, y2)]
        # extend forward
        for endpoint, append in ((line[-1], True), (line[0], False)):
            cur = endpoint
            while True:
                cands = [(i, rev) for i, rev in adj[key(*cur)] if not used[i]]
                if not cands:
                    break
                i, rev = cands[0]
                used[i] = True
                sx1, sy1, sx2, sy2 = segments[i]
                nxt = (sx1, sy1) if rev else (sx2, sy2)
                if append:
                    line.append(nxt)
                else:
                    line.insert(0, nxt)
                cur = nxt
        lines.append(np.asarray(line))
    return lines


# ------------------------------------- distributed polyline assembly (r4)

def assemble_polylines(
    segments_df: DataFrame,
    tol: float = 1e-9,
) -> DataFrame:
    """DISTRIBUTED polyline assembly over contour SEGMENT rows — the
    polyline output shape of the reference's isoline Joiner
    (F/image/processing/isoline/Joiner.java) without collecting segments
    to the driver (stitch_polylines stays the small-set convenience).

    Plan: endpoints quantize to a tolerance grid (the stitch key);
    degree-2 nodes pair their two incident segment-ends into a successor
    function over DIRECTED half-segments (exit endpoint -> neighbor's far
    endpoint).  Pointer DOUBLING over that function (the graph.py
    pointer-jumping discipline) runs ceil(log2(n))+1 rounds, carrying a
    min-sid accumulator: after the pass every walk knows its terminal,
    its distance, and the min sid over everything it can reach — so the
    COMPONENT label is min(both directions) with no separate
    connected-components pass (generic min-label CC needs far more
    rounds on long shuffled paths than doubling does).  Pure cycles
    (neither direction saturates) are then cut at a deterministic edge
    (component-min segment to its max-sid neighbor) and a second
    doubling pass computes ranks on the cut graph.  A segment's rank =
    its distance to the component's head terminal (min (sid, endpoint)),
    and its head-facing endpoint is the exit endpoint of the
    head-reaching direction — rank + orientation emit ordered vertices
    with no further shuffle.

    Nodes with MORE than two incident ends (degenerate saddle contact)
    contribute no adjacency: polylines break there (documented
    deviation — the greedy driver stitch joins through them in
    first-seen order, which is not a distributable contract).

    Output: (level, line_id, seq, x, y) — line_id = min segment id in the
    polyline, seq = 0..n vertex order."""
    import math

    from ..operators.iterate import loop_truncate, new_loop_tag

    spark = segments_df.sparkSession

    seg = (
        segments_df.select(
            "level", "x1", "y1", "x2", "y2",
            F.monotonically_increasing_id().alias("sid"),
        )
        .localCheckpoint()  # pin sids (monotonic ids are plan-dependent)
    )
    n_seg = seg.count()
    if n_seg == 0:
        return spark.createDataFrame(
            [], "level double, line_id long, seq long, x double, y double")
    rounds = max(1, int(math.ceil(math.log2(max(2, n_seg)))) + 1)

    inv = 1.0 / tol
    ends = seg.select(
        "level", "sid", F.lit(0).alias("e"),
        F.round(F.col("x1") * inv).cast("long").alias("kx"),
        F.round(F.col("y1") * inv).cast("long").alias("ky"),
    ).unionByName(seg.select(
        "level", "sid", F.lit(1).alias("e"),
        F.round(F.col("x2") * inv).cast("long").alias("kx"),
        F.round(F.col("y2") * inv).cast("long").alias("ky"),
    ))

    # degree-2 nodes -> both directed pairings; degree 1 = open end,
    # degree > 2 = break (no pairing)
    deg2 = (
        ends.groupBy("level", "kx", "ky")
        .agg(F.collect_list(F.struct("sid", "e")).alias("es"))
        .filter(F.size("es") == 2)
        .select(
            "level",
            F.col("es")[0]["sid"].alias("sa"), F.col("es")[0]["e"].alias("ea"),
            F.col("es")[1]["sid"].alias("sb"), F.col("es")[1]["e"].alias("eb"),
        )
        .filter(F.col("sa") != F.col("sb"))  # self-touching segment: break
    )
    pairs = deg2.select("sa", "ea", "sb", "eb").unionByName(
        deg2.select(F.col("sb").alias("sa"), F.col("eb").alias("ea"),
                    F.col("sa").alias("sb"), F.col("ea").alias("eb"))
    ).localCheckpoint()

    def succ_of(p):
        # successor over directed half-segments: exiting sid via endpoint
        # ea continues into sb, exiting via sb's OTHER endpoint
        return p.select(
            F.col("sa").alias("sid"), F.col("ea").alias("e"),
            F.col("sb").alias("nsid"), (F.lit(1) - F.col("eb")).alias("ne"),
        )

    def doubling(succ, tag, with_min):
        """State per directed half-segment after full doubling:
        (sid, e, tsid, te, dist, fin[, m]) — the reached state, distance,
        saturation flag, and (with_min) the min sid seen on the walk."""
        tag = new_loop_tag(tag)
        cols = [
            "sid", "e",
            F.coalesce("nsid", "sid").alias("tsid"),
            F.coalesce("ne", "e").alias("te"),
            F.when(F.col("nsid").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("dist"),
            F.col("nsid").isNull().alias("fin"),
        ]
        if with_min:
            cols.append(F.least(F.col("sid"), F.coalesce("nsid", "sid")).alias("m"))
        state = (
            seg.select("sid").crossJoin(
                spark.range(2).select(F.col("id").cast("int").alias("e")))
            .join(succ, ["sid", "e"], "left")
            .select(*cols)
            .localCheckpoint()
        )
        for r in range(rounds):
            tcols = [
                F.col("sid").alias("jsid"), F.col("e").alias("je"),
                F.col("tsid").alias("t2sid"), F.col("te").alias("t2e"),
                F.col("dist").alias("d2"), F.col("fin").alias("f2"),
            ]
            if with_min:
                tcols.append(F.col("m").alias("m2"))
            t = state.select(*tcols)
            ncols = [
                "sid", "e",
                F.when(F.col("fin"), F.col("tsid")).otherwise(F.col("t2sid")).alias("tsid"),
                F.when(F.col("fin"), F.col("te")).otherwise(F.col("t2e")).alias("te"),
                F.when(F.col("fin"), F.col("dist"))
                 .otherwise(F.col("dist") + F.col("d2")).alias("dist"),
                (F.col("fin") | F.col("f2")).alias("fin"),
            ]
            if with_min:
                # even a finished walk keeps folding m: harmless (idempotent)
                ncols.append(F.least(F.col("m"), F.col("m2")).alias("m"))
            state = (
                state.join(t, (F.col("tsid") == F.col("jsid"))
                           & (F.col("te") == F.col("je")), "left")
                .select(*ncols)
            )
            state = loop_truncate(state, r, tag)
        return state

    # pass A: components + cycle detection in one doubling (min-compose)
    stA = doubling(succ_of(pairs), "isoasm_a", with_min=True)
    comp = stA.groupBy("sid").agg(
        F.min("m").alias("comp"), F.min(F.col("fin").cast("int")).alias("minfin"))
    # a cycle member saturates in NEITHER direction; rounds cover
    # 2^rounds >= n_seg steps, so non-saturation after the pass IS a cycle
    cyc_min = (
        comp.filter(F.col("minfin") == 0)
        .groupBy("comp").agg(F.min("sid"))  # == comp by construction
        .select(F.col("comp").alias("msid"))
    )
    # cut exactly ONE undirected adjacency per cycle: the component-min
    # segment's max-(sb, ea, eb) pairing.  The key includes the endpoints —
    # a 2-segment closed loop is adjacent through BOTH endpoints, and a
    # (sa, sb)-only key would remove both parallel adjacencies, splitting
    # the loop into two 1-segment polylines (ADVICE r4).
    cut = (
        pairs.join(cyc_min.withColumnRenamed("msid", "sa"), "sa")
        .groupBy("sa")
        .agg(F.max(F.struct("sb", "ea", "eb")).alias("c"))
        .select("sa", F.col("c.ea").alias("ea"),
                F.col("c.sb").alias("sb"), F.col("c.eb").alias("eb"))
    )
    cut_both = cut.unionByName(
        cut.select(F.col("sb").alias("sa"), F.col("eb").alias("ea"),
                   F.col("sa").alias("sb"), F.col("ea").alias("eb")))
    pairs_cut = (
        pairs.join(cut_both, ["sa", "ea", "sb", "eb"], "left_anti")
        .localCheckpoint()
    )

    # pass B: ranks on the cut graph (every component is now a path)
    stB = doubling(succ_of(pairs_cut), "isoasm_b", with_min=False)

    # head terminal per component = min (tsid, te); a segment's rank = the
    # distance of its head-reaching direction, its head-facing endpoint =
    # that direction's exit endpoint
    st = stB.join(comp.select("sid", "comp"), "sid")
    heads = st.groupBy("comp").agg(
        F.min(F.struct(F.col("tsid"), F.col("te"))).alias("h"))
    ranked = (
        st.join(heads, "comp")
        .filter((F.col("tsid") == F.col("h.tsid")) & (F.col("te") == F.col("h.te")))
        .groupBy("comp", "sid")
        .agg(F.min(F.struct("dist", "e")).alias("r"))
        .select("comp", "sid", F.col("r.dist").alias("rank"),
                F.col("r.e").alias("he"))
    )
    n_per = ranked.groupBy("comp").agg(F.max("rank").alias("maxrank"))
    rs = ranked.join(seg, "sid").join(n_per, "comp")
    head_pt = rs.select(
        "level", F.col("comp").alias("line_id"),
        F.col("rank").alias("seq"),
        F.when(F.col("he") == 0, F.col("x1")).otherwise(F.col("x2")).alias("x"),
        F.when(F.col("he") == 0, F.col("y1")).otherwise(F.col("y2")).alias("y"),
    )
    tail_pt = rs.filter(F.col("rank") == F.col("maxrank")).select(
        "level", F.col("comp").alias("line_id"),
        (F.col("rank") + 1).alias("seq"),
        F.when(F.col("he") == 0, F.col("x2")).otherwise(F.col("x1")).alias("x"),
        F.when(F.col("he") == 0, F.col("y2")).otherwise(F.col("y1")).alias("y"),
    )
    return head_pt.unionByName(tail_pt)
