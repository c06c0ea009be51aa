"""Arrow-vectorized pandas UDF wrappers over the numpy kernels, and the
engine's one per-row Arrow loop.

The scalar UDFs are the engine's re-expression of the reference's batched
MathTransform API (R/.../transform/AbstractMathTransform.java:406:
transform(double[], ...)) — coordinate arrays cross the JVM/Python boundary
once per Arrow batch, then all math is numpy.

Payloads that are one object per row (a tile, an image, a clip, a
geometry, a document) go through ``_map_rows``, the per-row computation
every tile, image, media, text and geometry operator shares
(F/image/ComputedImage.java:123 computeTile): the one Arrow batch loop,
which decodes each row's payload columns, runs the operator's numpy body
and expands its column dict into rows.  The per-row Python is that
decode + body call; the math inside the body stays numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as _cells
from . import transforms as _tr


def cell_udf(res: int):
    @F.pandas_udf(T.LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(_cells.encode_cell(lon.to_numpy(), lat.to_numpy(), res))

    return _cell


def geohash_udf(length: int = 12):
    @F.pandas_udf(T.StringType())
    def _gh(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(_cells.geohash_encode(lon.to_numpy(), lat.to_numpy(), length))

    return _gh


def tile_udf(zoom: int):
    """Returns struct(tx, ty)."""
    schema = T.StructType(
        [T.StructField("tx", T.LongType()), T.StructField("ty", T.LongType())]
    )

    @F.pandas_udf(schema)
    def _tile(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        tx, ty = _tr.tile_assign(lon.to_numpy(), lat.to_numpy(), zoom)
        return pd.DataFrame({"tx": tx, "ty": ty})

    return _tile


def _concat(parts):
    """One output column from its per-row parts: numpy arrays concatenate
    (a pixel explode never goes through Python lists); any list part makes
    the column one flat list."""
    parts = [p for p in parts if len(p)]
    if all(isinstance(p, np.ndarray) for p in parts):
        return np.concatenate(parts)
    return [x for p in parts
            for x in (p.tolist() if isinstance(p, np.ndarray) else p)]


def _map_rows(df: DataFrame, schema: str, payloads, decode, body) -> DataFrame:
    """The per-row core: one mapInPandas over ``df``.

    Each row's ``payloads`` columns go to ``decode(row, *values)``, which
    returns the row's arrays (or None to skip the row); ``row`` is a dict
    of the other columns.  ``decode=None`` passes the values through.
    ``body(row, *arrays)`` returns None or one output row as a column
    dict: a list or array value makes one row per element (scalars
    repeat).  Batches that produce no rows yield nothing."""
    payloads = list(payloads)

    def fn(batches):
        for pdf in batches:
            keys = [c for c in pdf.columns if c not in payloads]
            rows = (pdf[keys].to_dict("records") if keys
                    else [{} for _ in range(len(pdf))])
            cols, n = {}, 0
            for row, *vals in zip(rows, *(pdf[c] for c in payloads)):
                arrs = vals if decode is None else decode(row, *vals)
                out = None if arrs is None else body(row, *arrs)
                if out is None:
                    continue
                k = max((len(v) for v in out.values()
                         if isinstance(v, (list, np.ndarray))), default=1)
                for c, v in out.items():
                    cols.setdefault(c, []).append(
                        v if isinstance(v, (list, np.ndarray)) else [v] * k)
                n += k
            if n:
                yield pd.DataFrame({c: _concat(p) for c, p in cols.items()})

    return df.mapInPandas(fn, schema=schema)
