"""Distributed connected-component labeling over tiled binary masks.

The object-counting primitive of a segmentation-mask corpus ("how many
regions, how big, where") at raster scale: each tile labels its own pixels
with a LOCAL union-find pass (embarrassingly parallel), tiles then exchange
only their one-pixel boundary columns/rows, and the cross-tile label
equivalences feed the engine's distributed ``connected_components`` (the
dedup-cluster machinery — pointer jumping, O(log n) rounds).  No tile ever
sees another tile's interior; the shuffled volume is the mask's PERIMETER,
not its area — the property that makes this survive a 10^12-pixel mosaic.

Labels: a tile's local component i gets the provisional id
``(gty * ntx + gtx) * 2^20 + i`` (w*h < 2^20 per tile, the voronoi packing
contract); the final region id is the component minimum — deterministic and
oracle-checkable.  4-connectivity throughout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import GridGeometry, _interior, _map_tiles


def ccl_dense(mask: np.ndarray) -> np.ndarray:
    """Single-node reference CCL (4-connectivity): two-pass union-find.
    Returns an int64 label image, 0 = background, labels = the minimum
    linear pixel index of the region + 1."""
    h, w = mask.shape
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    for y in range(h):
        for x in range(w):
            if not mask[y, x]:
                continue
            idx = y * w + x
            parent[idx] = idx
            if x > 0 and mask[y, x - 1]:
                union(idx, idx - 1)
            if y > 0 and mask[y - 1, x]:
                union(idx, idx - w)
    out = np.zeros((h, w), np.int64)
    for y in range(h):
        for x in range(w):
            if mask[y, x]:
                out[y, x] = find(y * w + x) + 1
    return out


def _local_labels(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Tile-local CCL -> (dense 0..n_comp labels in an int64 image with
    0 = background shifted to -1, component count).  Components numbered
    by first (row-major) appearance."""
    lab = ccl_dense(mask)
    ids = np.unique(lab[lab > 0])
    remap = {int(v): i for i, v in enumerate(ids)}
    out = np.full(mask.shape, -1, np.int64)
    for v, i in remap.items():
        out[lab == v] = i
    return out, len(ids)


def ccl_tiles(
    tiles_df: DataFrame,
    gg: GridGeometry,
    tile_size: int = 64,
    band: int = 0,
) -> DataFrame:
    """Label the binary mask (nonzero = foreground) -> one row per region:
    (region, n_px, x_min, y_min, x_max, y_max).  ``region`` is the
    minimum provisional label of the merged component."""
    if tile_size * tile_size >= 1 << 20:
        raise ValueError("tile_size^2 must stay below 2^20 (label packing)")
    ntx = (gg.width + tile_size - 1) // tile_size

    lab_schema = (
        "tx long, ty long, label long, n_px long, x_min long, y_min long,"
        " x_max long, y_max long, right_edge binary, bottom_edge binary,"
        " left_edge binary, top_edge binary"
    )

    def label_tiles(r, tile):
        if r["band"] != band:
            return None
        tx, ty = r["tx"], r["ty"]
        loc, n_comp = _local_labels(
            (tile != 0) & _interior(tx, ty, tile_size, gg, 0))
        base = (ty * ntx + tx) << 20
        glob = np.where(loc >= 0, loc + base, -1)
        comps = [np.nonzero(loc == i) for i in range(n_comp)]
        return {
            "tx": tx, "ty": ty, "label": [base + i for i in range(n_comp)],
            "n_px": [len(xs) for _, xs in comps],
            "x_min": [tx * tile_size + int(xs.min()) for _, xs in comps],
            "y_min": [ty * tile_size + int(ys.min()) for ys, _ in comps],
            "x_max": [tx * tile_size + int(xs.max()) for _, xs in comps],
            "y_max": [ty * tile_size + int(ys.max()) for ys, _ in comps],
            "right_edge": glob[:, -1].tobytes(),
            "bottom_edge": glob[-1, :].tobytes(),
            "left_edge": glob[:, 0].tobytes(),
            "top_edge": glob[0, :].tobytes(),
        }

    # eager checkpoint: the plan below reads `labeled` three times (edges,
    # self-loops, final join) and leaves no cache entry in the session
    labeled = _map_tiles(tiles_df, lab_schema, tile_size, np.uint8,
                         label_tiles).localCheckpoint()

    # one edge row per (tile, side); dedupe the per-component copies
    edges_tbl = labeled.select(
        "tx", "ty", "right_edge", "bottom_edge", "left_edge", "top_edge"
    ).distinct()

    def unpack(col, side):
        return edges_tbl.select(
            "tx", "ty", F.lit(side).alias("side"), F.col(col).alias("e")
        )

    # cross-tile equivalences: my right column vs neighbor's left column,
    # my bottom row vs neighbor's top row — position-aligned int64 arrays
    pair_schema = "a long, b long"

    def edge_pairs(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for _, r in pdf.iterrows():
                mine = np.frombuffer(r["e_mine"], np.int64)
                theirs = np.frombuffer(r["e_theirs"], np.int64)
                m = (mine >= 0) & (theirs >= 0)
                for a, b in zip(mine[m], theirs[m]):
                    out.append({"a": int(a), "b": int(b)})
            yield pd.DataFrame(out, columns=["a", "b"])

    right = unpack("right_edge", "r").withColumnRenamed("e", "e_mine")
    left = unpack("left_edge", "l").select(
        (F.col("tx") - 1).alias("tx"), "ty", F.col("e").alias("e_theirs")
    )
    vpairs = right.join(left, ["tx", "ty"]).select("e_mine", "e_theirs")
    bottom = unpack("bottom_edge", "b").withColumnRenamed("e", "e_mine")
    top = unpack("top_edge", "t").select(
        "tx", (F.col("ty") - 1).alias("ty"), F.col("e").alias("e_theirs")
    )
    hpairs = bottom.join(top, ["tx", "ty"]).select("e_mine", "e_theirs")
    pairs = (
        vpairs.union(hpairs)
        .mapInPandas(edge_pairs, schema=pair_schema)
        .distinct()
    )

    from ..operators.graph import connected_components

    self_loops = labeled.select(
        F.col("label").alias("a"), F.col("label").alias("b")
    )
    comp = connected_components(pairs.union(self_loops))

    out = (
        labeled.join(comp, labeled["label"] == comp["node"])
        .groupBy(F.col("comp").alias("region"))
        .agg(
            F.sum("n_px").alias("n_px"),
            F.min("x_min").alias("x_min"),
            F.min("y_min").alias("y_min"),
            F.max("x_max").alias("x_max"),
            F.max("y_max").alias("y_max"),
        )
    )
    return out
