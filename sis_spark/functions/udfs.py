"""Arrow-vectorized pandas UDF wrappers over the numpy kernels.

This is the engine's re-expression of the reference's batched MathTransform
API (R/.../transform/AbstractMathTransform.java:406: transform(double[], ...))
— coordinate arrays cross the JVM/Python boundary once per Arrow batch, then
all math is numpy.  No per-row Python anywhere (input_hint mandate).
"""

from __future__ import annotations

import pandas as pd
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
