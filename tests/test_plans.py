"""Physical-plan shape assertions: the 100 TB story is in the plan.

These pin the properties the engine's scale design relies on: parquet filter
pushdown + column pruning (Catalyst analogs of the reference's
AND-decomposition pushdown and getXPaths pruning, SURVEY §4.1), broadcast
strategy for the spatial-join prefilter, and whole-stage codegen on the
cell/tile expressions."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema carries only the 3 referenced columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs and "l_shipdate" in rs
    assert "l_extendedprice" not in rs and "l_comment" not in rs


def test_spatial_join_prefilter_is_broadcast(spark, sf_dir):
    from sis_spark.operators.spatial_join import spatial_join
    from sis_spark.queries import _events_points, _supplier_polygons

    pts = _events_points(spark, sf_dir)
    out = spatial_join(pts, _supplier_polygons(spark, sf_dir), "lon", "lat")
    plan = _plan(out)
    # the cell-prefilter join is the one join (the polygon key rides on the
    # covering row) and it is broadcast: the skewed point side must never
    # shuffle on cell
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # refine is a scalar Arrow eval, not a row-pipe
    assert "ArrowEvalPython" in plan


def test_snapshot_join_pass_job_count(spark, tmp_path):
    """One flagship pass (``spatial_join_snapshot`` -> ``assign_tiles`` ->
    aggregate) over more than 32 pruned files starts at most 3 Spark jobs:
    the manifest read lists and types nothing through Spark."""
    from sis_spark.functions.spark_exprs import cell_col
    from sis_spark.operators.tiling import assign_tiles
    from sis_spark.sources import images
    from sis_spark.sources import table_format as tf

    root = str(tmp_path / "pass_jobs")
    pts = spark.range(0, 4000).select(
        "id",
        ((F.col("id") * 7919 % 3400) / 10.0 - 170.0).alias("lon"),
        ((F.col("id") * 104729 % 1600) / 10.0 - 80.0).alias("lat"),
    )
    tf.create_table(spark, root,
                    pts.withColumn("cell_p", cell_col(F.col("lon"), F.col("lat"), 3)),
                    partition_by=["cell_p"])
    # edges off the 0.1-degree point lattice: no point on the boundary
    polys = [{"key": 5, "vx": [-160.05, 160.05, 160.05, -160.05],
              "vy": [-70.05, -70.05, 70.05, 70.05]}]
    assert len(images.covering_prefixes(polys, 3)) > 32
    sc = spark.sparkContext
    sc.setJobGroup("snapshot_pass", "snapshot_pass")
    try:
        joined = images.spatial_join_snapshot(spark, root, polys, 3)
        r = assign_tiles(joined, "lon", "lat", 8).agg(
            F.count(F.lit(1)).alias("n"), F.sum("poly_key").alias("k")).first()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = pts.filter(F.col("lon").between(-160.05, 160.05)
                      & F.col("lat").between(-70.05, 70.05)).count()
    assert (r["n"], r["k"]) == (want, 5 * want)
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot_pass")) <= 3


def test_cell_expr_is_whole_stage_codegen(spark, sf_dir):
    from sis_spark.functions.spark_exprs import cell_col
    from sis_spark.queries import _events_points

    pts = _events_points(spark, sf_dir)
    df = pts.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 12))
    plan = _plan(df)
    # codegen stages print as "*(n)" prefixes in the executed plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "Python" not in plan  # pure JVM path


def test_partitioned_images_partition_pruning(spark, tmp_path):
    """Cell-partitioned image layout: a polygon-filtered read must prune to
    the covered cell_p directories (PartitionFilters in the scan), and the
    pruned spatial join must equal the unpruned one."""
    from sis_spark import synth
    from sis_spark.sources.images import (
        covering_prefixes,
        read_images,
        spatial_join_pruned,
        write_images_partitioned,
    )
    from sis_spark.operators.spatial_join import spatial_join

    path = str(tmp_path / "img_part")
    write_images_partitioned(spark, 600, path)
    img = read_images(spark, path)
    total_parts = img.select("cell_p").distinct().count()

    polys = synth.polygon_table_np([1, 2, 3])
    prefixes = covering_prefixes(polys)
    assert 0 < len(prefixes) < total_parts  # pruning is real

    pruned_scan = img.filter(F.col("cell_p").isin(prefixes))
    plan = _plan(pruned_scan.select("image_id"))
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell_p" in pf and ("IN" in pf or "in(" in pf)

    got = sorted(
        (r["image_id"], r["poly_key"])
        for r in spatial_join_pruned(img, polys).select("image_id", "poly_key").collect()
    )
    exp = sorted(
        (r["image_id"], r["poly_key"])
        for r in spatial_join(img, polys).select("image_id", "poly_key").collect()
    )
    assert got == exp and len(got) > 0


def test_feature_query_limit_not_global_sort(spark, sf_dir):
    # top-k compiles to TakeOrderedAndProject (no full global sort)
    from sis_spark.queries import q_between_topk

    plan = _plan(q_between_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_banded_near_dup_no_nested_loop_join(spark, sf_dir):
    """The gated embedding_near_dup plan must contain no all-pairs join:
    candidates come from one bucket shuffle, verify from equi-joins
    (VERDICT r1 item 2 — the O(n^2) formulation lives only in the oracle)."""
    from sis_spark.queries import q_embedding_near_dup

    df = q_embedding_near_dup(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_ivf_no_nested_loop_join(spark, sf_dir):
    """The IVF search is one cogroup of the posting lists with the query
    probes on list_id — per query it touches ~nprobe/nlist of the
    collection; no all-pairs join may appear anywhere in the plan."""
    from sis_spark.queries import q_ann_ivf

    plan = _plan(q_ann_ivf(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_nearest_line_plan_is_map_only(spark, sf_dir):
    """nearest_line is broadcast-dim: the line table ships in the UDF
    closure, so the plan has NO join and NO shuffle at all — one scan
    feeding one Arrow stage."""
    from sis_spark.queries import q_nearest_line

    plan = _plan(q_nearest_line(spark, sf_dir))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_gradient_single_shuffle(spark):
    """The halo gather is the ONLY exchange in the gradient plan: explode ->
    one hash partition on (gtx, gty) -> Arrow stage (no second shuffle, no
    join, no broadcast mosaic)."""
    from sis_spark.queries import q_gradient

    plan = _plan(q_gradient(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    # one partial/final agg pair for the orderBy-side sort is fine; count
    # genuine data exchanges instead: hashpartitioning appears once for the
    # halo groupBy (rangepartitioning for the final orderBy is presentation)
    assert plan.count("hashpartitioning") == 1


def test_vector_tiles_cut_no_shuffle_before_agg(spark):
    """tile_cut_segments is a map-only codegen stage; in the gate query the
    only exchanges are the final groupBy/orderBy."""
    from sis_spark.queries import q_vector_tiles

    plan = _plan(q_vector_tiles(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan  # pure JVM cut
    assert "Join" not in plan


def test_tar_shard_read_is_one_stage(spark, tmp_path):
    """A tar-shard read is one scan -> one Arrow stage; a caption-only
    projection pushes the payload skip into the store (no bytes column in
    the read schema at all)."""
    import os

    from sis_spark.sources.images import images_table
    from sis_spark.sources.tar_shards import read_tar_shards, write_tar_shards

    out = os.path.join(str(tmp_path), "shards")
    write_tar_shards(images_table(spark, 12, partitions=2), out, n_shards=2).collect()
    pruned = read_tar_shards(spark, out, columns=["image_id", "caption"])
    assert pruned.schema.fieldNames() == ["image_id", "caption"]
    plan = _plan(pruned)
    assert "Join" not in plan and "hashpartitioning" not in plan


def test_pack_stream_and_aspect_batches_pure_codegen(spark, sf_dir):
    """The window-based packing/bucketing paths must stay JVM-side: no
    Python evaluation anywhere in the plan (pack_greedy is the one that is
    ALLOWED an ArrowEvalPython group stage — not asserted here)."""
    from sis_spark.operators.imageops import aspect_batches
    from sis_spark.operators.textops import pack_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert "Python" not in _plan(pack_stream(docs, 256, 8))

    import pandas as pd
    img = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a", "b"], "w": [64, 16], "h": [16, 64]}),
        "image_id string, w int, h int",
    )
    assert "Python" not in _plan(aspect_batches(img, 32))


def test_spatial_join_compact_no_nested_loop(spark, sf_dir):
    """The mixed-resolution covering path joins on equality only: no
    BroadcastNestedLoopJoin / CartesianProduct may appear."""
    from sis_spark.operators.spatial_join import spatial_join_dist
    from sis_spark.queries import _events_points, _supplier_polygons_df

    pts = _events_points(spark, sf_dir)
    out = spatial_join_dist(
        pts, _supplier_polygons_df(spark, sf_dir), "lon", "lat", compact_levels=3
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cell_compact_rounds_are_integer_codegen(spark):
    """compact_cells rounds: parent derivation is a shiftright groupBy —
    no Python stage in any round's plan."""
    from sis_spark.operators.tiling import compact_cells

    cells = spark.range(0, 1024).select(
        (F.lit(1 << 12) + F.col("id")).alias("cell")
    )
    out = compact_cells(cells, min_res=2)
    assert "Python" not in _plan(out)


def test_prefix_join_equi_only(spark):
    """Prefix-filtered Jaccard join: candidates come from an equi-join on
    prefix tokens — no nested-loop/cartesian join may appear, and the
    whole plan is Python-free codegen."""
    from sis_spark.operators.dedup import jaccard_join_prefix

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" x"), (F.col("id") % 5).cast("string")).alias("text"),
    )
    plan = _plan(jaccard_join_prefix(docs, 1, 2))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_edit_distance_join_equi_only(spark):
    from sis_spark.operators.dedup import edit_distance_join

    df = spark.range(40).select(
        F.col("id"), F.concat(F.lit("name"), F.col("id").cast("string")).alias("s")
    )
    plan = _plan(edit_distance_join(df, "s", "id"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_equi_only(spark):
    from sis_spark.operators.graph import triangle_count

    edges = spark.range(60).select(
        (F.col("id") % 20).alias("src"), ((F.col("id") * 7 + 3) % 20).alias("dst")
    )
    plan = _plan(triangle_count(edges))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_iou_join_equi_only_and_python_free(spark):
    """Detection-box IoU join: ONE equi-join on image_id + codegen integer
    arithmetic — no nested-loop join, no Python stage."""
    from sis_spark.operators.boxes import iou_join

    b = spark.range(200).select(
        (F.col("id") % 20).alias("image_id"),
        F.col("id").alias("box_id"),
        (F.col("id") * 7 % 100).alias("x1"),
        (F.col("id") * 11 % 100).alias("y1"),
        (F.col("id") * 7 % 100 + 10).alias("x2"),
        (F.col("id") * 11 % 100 + 10).alias("y2"),
    )
    plan = _plan(iou_join(b.filter("box_id % 2 = 0"), b.filter("box_id % 2 = 1")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_rolling_median_and_theil_sen_band_joins_are_equi(spark):
    """The band self-joins (rolling median window, Theil-Sen pairs) must
    hash/sort-merge on the key with the rank band as a join FILTER — never
    a nested-loop over unrelated keys — and stay Python-free."""
    from sis_spark.operators.analytics import theil_sen
    from sis_spark.operators.timeseries import rolling_median

    df = spark.range(300).select(
        (F.col("id") % 10).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") * 13 % 97).alias("x"),
    )
    for q in (
        rolling_median(df, "k", "t", "x", width=5),
        theil_sen(df, "k", "t", "x", cap=10),
    ):
        plan = _plan(q)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan


def test_letterbox_and_quadkey_pure_codegen(spark):
    """Letterbox remap and quadkey encoding are map-only codegen — no
    shuffle beyond the dims equi-join, no Python."""
    from sis_spark.functions.transforms import quadkey_col
    from sis_spark.operators.boxes import letterbox_boxes

    b = spark.range(100).select(
        (F.col("id") % 10).alias("image_id"),
        F.col("id").alias("box_id"),
        F.lit(0).alias("x1"), F.lit(0).alias("y1"),
        F.lit(50).alias("x2"), F.lit(40).alias("y2"),
        F.lit(0).alias("score"),
    )
    dims = spark.range(10).select(
        F.col("id").alias("image_id"),
        (200 + F.col("id")).alias("w"),
        (100 + F.col("id")).alias("h"),
    )
    plan = _plan(letterbox_boxes(b, dims, 640, 640))
    assert "Python" not in plan

    qk = spark.range(100).select(
        quadkey_col((F.col("id") * 3) % 256, (F.col("id") * 5) % 256, 8)
    )
    plan = _plan(qk)
    assert "Python" not in plan and "Exchange" not in plan


def test_kcore_round_is_two_semi_joins(spark):
    """One k-core peel round: degree agg + two LeftSemi joins, no
    nested loop."""
    from sis_spark.operators.graph import _peel_round

    edges = spark.range(60).select(
        (F.col("id") % 20).alias("u"), ((F.col("id") * 7 + 1) % 20).alias("v")
    )
    plan = _plan(_peel_round(edges, k=2))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 2


def test_ripley_and_crossk_no_nested_loop_join(spark, sf_dir):
    """The pair-count statistics must run as cell-binned EQUI-joins —
    never a nested-loop/cartesian product (the oracle's banded
    inequality join is oracle-only)."""
    from sis_spark.operators.density import cross_pairs, ripley_pairs
    from sis_spark.queries import _events_points

    pts = _events_points(spark, sf_dir)
    plan = ripley_pairs(pts, [20000, 80000])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    a = pts.filter("event_id % 2 = 0")
    b = pts.filter("event_id % 2 = 1")
    plan2 = cross_pairs(a, b, [20000])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan2
    assert "CartesianProduct" not in plan2


def test_morans_i_single_data_shuffle(spark, sf_dir):
    """Everything after the first cell histogram runs on the tiny
    occupied-cell table; the stats row is broadcast, not re-shuffled."""
    from sis_spark.operators.density import morans_i
    from sis_spark.queries import _events_points

    plan = morans_i(_events_points(spark, sf_dir), 64)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # the stats row rides a broadcast


def test_auc_and_ks_no_pair_join(spark, sf_dir):
    """Mann-Whitney/KS run as per-score collapse + window — no join of
    positives against negatives anywhere."""
    from pyspark.sql import functions as F

    from sis_spark.operators.analytics import auc_exact, ks_stat
    from sis_spark.queries import _read

    d = _read(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 997).cast("long").alias("s"),
        (F.col("o_custkey") % 3 == 0).cast("long").alias("y"),
    )
    for q in (auc_exact(d, "s", "y"), ks_stat(d, "s", "y")):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_line_dedup_no_corpus_window(spark, sf_dir):
    """line_dedup's frequency pass must be an aggregation, not a window
    over the exploded corpus (a window would sort every line)."""
    from sis_spark.operators.textops import line_dedup
    from sis_spark.queries import _read

    plan = line_dedup(_read(spark, sf_dir, "documents"))._jdf.queryExecution().executedPlan().toString()
    # exactly the per-doc reassembly sort remains (inside the agg),
    # no global Window over line rows
    assert "Window" not in plan


def test_knox_pairs_equi_only(spark, sf_dir):
    """Knox space/time pair counts come from cell-bin / time-bin probe
    equi-joins — the O(n^2) definitional join lives only in the oracle.
    (The tiny single-row n x space x time combine at the end is the one
    place a cartesian of 1-row inputs is fine, so we assert on the pair
    stages specifically.)"""
    from pyspark.sql import functions as F

    from sis_spark.operators.density import knox_counts
    from sis_spark.queries import _events_points, point_lonlat_cols, _read

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.col("event_id") * 7919 % 86400).alias("t"),
        lon.alias("lon"), lat.alias("lat"),
    )
    df = knox_counts(pts, r_quant=20000, tau=50)
    plan = _plan(df)
    # exactly the two 1-row x 1-row result combines may be nested-loop;
    # the data-sized pair stages must not be
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_emerging_hotspot_pairs_on_cells_only(spark, sf_dir):
    """The Mann-Kendall pair stage must join on (ix, iy) — an equi-join
    over the tiny cell table; no all-pairs join over points."""
    from pyspark.sql import functions as F

    from sis_spark.operators.density import emerging_hotspot
    from sis_spark.queries import _read, point_lonlat_cols

    ev = _read(spark, sf_dir, "events")
    lon, lat = point_lonlat_cols("event_id")
    pts = ev.select(lon.alias("lon"), lat.alias("lat"),
                    (F.col("event_id") % 8).alias("epoch"))
    plan = _plan(emerging_hotspot(pts, 32, "epoch", 8))
    assert "CartesianProduct" not in plan


def test_morton_ranges_single_global_sort(spark):
    """The islands merge is ONE window over the covering-cell table —
    plan-time metadata, never the data. Exactly one window sort, no
    joins at all."""
    from sis_spark.operators.partitioning import morton_ranges

    plan = _plan(morton_ranges(spark, -47.3, 12.1, 33.9, 55.2, res=9))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_sixteenth_sitting_ops_plans_join_shapes(spark):
    """The new clustering/assignment/privacy operators never fall back to
    cartesian or broadcast-nested-loop joins — candidate generation is
    always an equi-join on a derived key (cell ring, box id, block)."""
    import numpy as np

    from sis_spark.operators.density import dbscan
    from sis_spark.operators.imageops import median_cut_boxes, slic_superpixels
    from sis_spark.operators.quality import mondrian_boxes

    pts = spark.range(300).selectExpr(
        "id", "(id * 37) % 500 AS qx", "(id * 53) % 500 AS qy"
    )
    plans = []
    plans.append(_plan(dbscan(pts.selectExpr("id", "qx", "qy"),
                              eps=40, min_pts=3)))
    px = spark.range(1024).selectExpr(
        "id % 32 AS x", "id DIV 32 AS y", "(id * 7) % 256 AS v",
    )
    plans.append(_plan(slic_superpixels(px, 32, 32, step=8, iters=1)))
    rgb = spark.range(1000).selectExpr(
        "(id * 7) % 256 AS r", "(id * 13) % 256 AS g",
        "(id * 29) % 256 AS b", "1 AS w",
    )
    plans.append(_plan(median_cut_boxes(rgb, rounds=2)))
    qi = spark.range(500).selectExpr("id % 31 AS a", "(id * 7) % 23 AS b")
    plans.append(_plan(mondrian_boxes(qi, k=50, rounds=2)))
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_geom_distance_join_plan_no_crossjoin(spark, sf_dir):
    """The distance-BOUNDED join must not contain any all-pairs operator —
    the cell equi-join is the candidate generator (DistanceFilter.java:48
    as a join, not crossJoin + filter)."""
    from sis_spark.queries import q_geom_distance_join

    plan = _plan(q_geom_distance_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_line_dist_plan_no_crossjoin(spark, sf_dir):
    """Distributed-dimension nearest-line: no all-pairs operator, no
    driver-resident dimension (the line table appears as a scan feeding the
    cell cover, not a local relation)."""
    from sis_spark.queries import q_nearest_line_dist

    plan = _plan(q_nearest_line_dist(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
