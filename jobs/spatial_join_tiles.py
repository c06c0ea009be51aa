#!/usr/bin/env python
"""End-to-end production job: images -> cells -> spatial join -> tiles,
checkpointed and resumable.

Run (north-rule deployment shape):

    spark-submit --py-files sis_spark.zip jobs/spatial_join_tiles.py \
        --n-images 100000 --out /tmp/sis_out --sf-dir /root/testdata/sf0.1

Each stage materializes parquet + a manifest (per-partition row counts, cell
histogram); re-running the identical command resumes instantly from the
completed stages.  On a cluster, executors do exactly what local[N] threads
do here — every stage is a map-only or partial-agg plan (see README).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python jobs/<name>.py` invocation: make the repo root importable in
# the driver AND the executor Python workers (PYTHONPATH must be set before
# the SparkSession starts).  Under spark-submit --py-files the zip handles both.
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)
os.environ["PYTHONPATH"] = (
    _repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--out", default="/tmp/sis_spark_job")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--cell-res", type=int, default=12)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from sis_spark.operators.spatial_join import spatial_join
    from sis_spark.operators.tiling import assign_tiles
    from sis_spark.plans.checkpoint import CheckpointedPipeline
    from sis_spark.queries import _supplier_polygons
    from sis_spark.session import get_spark
    from sis_spark.functions.spark_exprs import cell_col
    from sis_spark.sources.images import images_table

    spark = get_spark("spatial_join_tiles")
    pipe = CheckpointedPipeline(spark, args.out)

    def build_images(s, _ups):
        return images_table(s, args.n_images)

    s_img = pipe.stage("images", build_images, params={"n": args.n_images})

    def build_cells(s, ups):
        (img,) = ups
        return img.withColumn(
            "cell", cell_col(F.col("lon"), F.col("lat"), args.cell_res)
        ).select("image_id", "lon", "lat", "caption", "phash", "cell")

    s_cells = pipe.stage(
        "cells", build_cells, params={"res": args.cell_res}, upstream=[s_img], cell_col="cell"
    )

    def build_join(s, ups):
        (pts,) = ups
        polys = _supplier_polygons(s, args.sf_dir)
        return spatial_join(pts, polys, "lon", "lat")

    s_join = pipe.stage("join", build_join, params={"sf": args.sf_dir}, upstream=[s_cells],
                        cell_col="cell")

    def build_tiles(s, ups):
        (joined,) = ups
        return assign_tiles(joined, "lon", "lat", args.zoom)

    s_tiles = pipe.stage("tiles", build_tiles, params={"zoom": args.zoom}, upstream=[s_join])

    # (count desc, cell id): a resumed stage re-reads its manifest key-sorted
    hot = s_cells.manifest.get("cell_histogram_top", {})
    print(json.dumps({
        "images": s_img.manifest["row_count"],
        "join_rows": s_join.manifest["row_count"],
        "tile_rows": s_tiles.manifest["row_count"],
        "hot_cells": dict(sorted(hot.items(), key=lambda kv: (-kv[1], int(kv[0])))),
        "out": args.out,
    }))


if __name__ == "__main__":
    sys.exit(main())
