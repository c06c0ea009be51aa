"""CoverageJSON store — JSON-encoded coverages (OGC Community Standard).

The reference scopes CoverageJSON in its incubator
(incubator/src/org.apache.sis.storage.coveragejson/); this implementation
is original, built on the PUBLIC OGC CoverageJSON Community Standard:

* a ``Coverage`` document has a ``domain`` (domainType ``Grid``: axes
  ``x``/``y`` [+ ``t``/``z``] as either ``values`` lists or
  ``start/stop/num`` descriptors) and ``ranges`` (one NdArray per
  parameter: ``axisNames``, ``shape``, flat row-major ``values`` with
  nulls for missing data);
* axis values are cell CENTERS (same convention as netCDF/CF), so a
  regular grid yields the engine's corner-registered affine.

Spark shape: documents are self-describing JSON, so a folder of coverage
documents parallelizes per file (the GPX/MF-CSV pattern, one manifest
row per document on ``functions.udfs._map_manifest``): each document is
json-parsed task-side and cut into finished tile blocks.  Within one very
large document the per-parameter NdArray is sliced per tile row after a
single parse — CoverageJSON is a text interchange format, not a scale
format, and the store documents that boundary (the scale path is
GeoTIFF/raw/netCDF).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.udfs import _map_manifest
from ..raster.grid import GridGeometry
from ..raster.tiles import TILE_SCHEMA, _tile_cut


def _axis_values(axis: dict) -> np.ndarray:
    if "values" in axis:
        return np.asarray(axis["values"], dtype=np.float64)
    n = int(axis["num"])
    start, stop = float(axis["start"]), float(axis["stop"])
    if n == 1:
        return np.array([start])
    step = (stop - start) / (n - 1)
    return start + step * np.arange(n)


def parse_coverage(doc: dict) -> dict:
    """Coverage document -> {axes: {name: ndarray}, params: {name:
    (array shaped (..., y, x) float64 with NaN for nulls, axisNames)}}."""
    if doc.get("type") != "Coverage":
        raise ValueError("not a CoverageJSON Coverage document")
    dom = doc["domain"]
    if dom.get("domainType") not in ("Grid", None):
        raise ValueError(f"unsupported domainType {dom.get('domainType')!r}")
    axes = {k: _axis_values(v) for k, v in dom["axes"].items()}
    params = {}
    for name, nd in doc.get("ranges", {}).items():
        if nd.get("type") != "NdArray":
            raise ValueError(f"range {name!r} is not an NdArray")
        shape = tuple(int(s) for s in nd["shape"])
        vals = np.array(
            [np.nan if v is None else float(v) for v in nd["values"]],
            dtype=np.float64,
        ).reshape(shape)
        params[name] = (vals, list(nd["axisNames"]))
    return {"axes": axes, "params": params}


def coverage_grid_geometry(axes: dict) -> GridGeometry | None:
    xs, ys = axes.get("x"), axes.get("y")
    if xs is None or ys is None or len(xs) < 2 or len(ys) < 2:
        return None
    dx = xs[1] - xs[0]
    dy = ys[1] - ys[0]
    if not (np.all(np.diff(xs) == dx) and np.all(np.diff(ys) == dy)):
        return None
    return GridGeometry(
        (0, 0, len(xs) - 1, len(ys) - 1),
        (dx, 0.0, xs[0] - 0.5 * dx, 0.0, dy, ys[0] - 0.5 * dy),
    )


def coveragejson_tiles(
    spark: SparkSession, paths: list[str], parameter: str,
    index: dict | None = None, tile_size: int = 64,
) -> tuple[DataFrame, GridGeometry | None]:
    """Distributed read of one parameter across coverage documents: band =
    file position in ``paths`` (a folder of time slices reads as a band
    stack).  ``index`` fixes non-spatial axes by integer position, e.g.
    ``{"t": 0}``."""
    if not paths:
        raise ValueError("coveragejson_tiles needs at least one path "
                         "(got an empty path list)")
    with open(paths[0], "r") as f:
        first = parse_coverage(json.load(f))
    gg = coverage_grid_geometry(first["axes"])
    index = dict(index or {})

    def read_doc(row):
        with open(row["path"], "r") as f:
            cov = parse_coverage(json.load(f))
        vals, axis_names = cov["params"][parameter]
        sel = [slice(None) if ax in ("x", "y") else int(index.get(ax, 0))
               for ax in axis_names]
        plane = vals[tuple(sel)]
        if axis_names.index("x") < axis_names.index("y"):
            plane = plane.T
        return dict(_tile_cut(plane[:, :, None], tile_size), band=row["band"])

    docs = pd.DataFrame({"band": np.arange(len(paths)), "path": paths})
    return _map_manifest(spark, docs, TILE_SCHEMA, read_doc), gg


def format_coverage(axes: dict, params: dict) -> str:
    """{axes name -> 1-D array} + {param name -> (y, x) array} ->
    Coverage document text (NaN serialized as null)."""
    ax_json = {
        k: {"values": [float(v) for v in np.asarray(vs)]}
        for k, vs in axes.items()
    }
    ranges = {}
    for name, arr in params.items():
        arr = np.asarray(arr, dtype=np.float64)
        ranges[name] = {
            "type": "NdArray", "dataType": "float",
            "axisNames": ["y", "x"], "shape": list(arr.shape),
            "values": [None if v != v else float(v) for v in arr.ravel()],
        }
    return json.dumps({
        "type": "Coverage",
        "domain": {"type": "Domain", "domainType": "Grid", "axes": ax_json},
        "ranges": ranges,
    })
