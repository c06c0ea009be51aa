"""Streaming ingestion pipeline: continuous spatial join + tile rollup.

The north-star workload is a continuously arriving image/event table; the
batch engine's flagship plan (broadcast cell prefilter -> codegen envelope
prune -> scalar-Arrow PIP refine, operators/spatial_join.py) is entirely
STATELESS, so the identical plan runs under Structured Streaming as a
stream-static join: each micro-batch pays only its own rows, the polygon
dimension stays a broadcast, and no state store is involved until the
windowed aggregation.

``streaming_spatial_join`` is the batch operator applied to a streaming
DataFrame (proven equal to the batch result on the same data in
tests/test_streaming_pipeline.py).  ``streaming_tile_counts`` adds the
stateful tail: event-time watermark + tumbling window over the joined
stream, emitting per (window, poly_key, tile) counts with late-data
semantics — the incremental twin of the batch tile histogram
(operators/tiling.assign_tiles + groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.spatial_join import spatial_join
from ..operators.tiling import assign_tiles


def streaming_spatial_join(
    stream_df: DataFrame,
    polygons: list[dict],
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    poly_key_col: str = "poly_key",
) -> DataFrame:
    """The flagship spatial join over a streaming source (stateless plan:
    broadcast prefilter + envelope prune + Arrow PIP refine per micro-batch)."""
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")
    return spatial_join(
        stream_df, polygons, lon_col, lat_col, res=res, poly_key_col=poly_key_col,
    )


def streaming_tile_counts(
    joined: DataFrame,
    time_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int = 12,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    poly_key_col: str = "poly_key",
) -> DataFrame:
    """Watermarked tumbling-window tile rollup over the joined stream.

    Append output mode: a window's counts are final once the watermark
    passes its end; rows later than the watermark are dropped (late-data
    contract demonstrated in tests/test_stateful_streaming.py)."""
    tiles = assign_tiles(joined, lon_col, lat_col, zoom)
    return (
        tiles.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window), poly_key_col, "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            poly_key_col, "tx", "ty", "n",
        )
    )


def streaming_dedup_exact(
    stream_df: DataFrame,
    key_cols: list[str],
    time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication on content keys (the ingest twin of the
    batch md5-groupBy dedup, operators/dedup.py): keeps the first arrival of
    each key.  With ``time_col`` the state store is WATERMARK-BOUNDED —
    dropDuplicatesWithinWatermark evicts keys older than the watermark, so
    state is O(keys per watermark window), not O(all keys ever) — the only
    formulation that survives an unbounded 10^12-row ingest."""
    if not stream_df.isStreaming:
        raise ValueError("stream_df must be a streaming DataFrame")
    if time_col is None:
        return stream_df.dropDuplicates(key_cols)
    return stream_df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
