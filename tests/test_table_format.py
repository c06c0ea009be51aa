"""Snapshot table format (sources/table_format.py): atomic commits, time
travel, rollback, dynamic partition overwrite, manifest-level pruning."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sis_spark.sources import table_format as tf


def mk_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 3).alias("val"),
    )


def test_create_append_read_and_counts(spark, tmp_path):
    root = str(tmp_path / "t1")
    s1 = tf.create_table(spark, root, mk_df(spark, 0, 100), partition_by=["p"])
    assert s1 == 1
    s2 = tf.append(spark, root, mk_df(spark, 100, 150))
    assert s2 == 2
    assert tf.read(spark, root).count() == 150
    assert tf.scan_row_counts(root) == 150  # manifest-only, no data read
    # partition column survives and is correct
    got = {r["p"] for r in tf.read(spark, root).select("p").distinct().collect()}
    assert got == {0, 1, 2, 3}
    row = tf.read(spark, root).filter(F.col("id") == 120).collect()[0]
    assert row["p"] == 0 and row["val"] == 360
    # the stats-pruned read keeps the partition column too
    pruned, kept, total = tf.read_pruned(spark, root, lambda stats: True)
    assert (kept, pruned.count()) == (total, 150)
    assert sorted(pruned.columns) == sorted(tf.read(spark, root).columns)


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    root = str(tmp_path / "t2")
    tf.create_table(spark, root, mk_df(spark, 0, 50), partition_by=["p"])
    old = tf.read(spark, root, snapshot=1)  # resolved BEFORE the append
    tf.append(spark, root, mk_df(spark, 50, 80))
    assert old.count() == 50            # pinned reader never sees snapshot 2
    assert tf.read(spark, root).count() == 80
    assert tf.read(spark, root, snapshot=1).count() == 50
    hist = tf.history(root)
    assert [h["snapshot"] for h in hist] == [1, 2]
    assert hist[1]["op"] == "append" and hist[1]["rows"] == 80
    # as_of: timestamp between the two commits resolves to snapshot 1
    m1 = tf.load_manifest(root, 1)
    m2 = tf.load_manifest(root, 2)
    mid = (m1["ts"] + m2["ts"]) / 2.0
    assert tf.load_manifest(root, as_of=mid)["snapshot"] == 1


def test_rollback_preserves_history(spark, tmp_path):
    root = str(tmp_path / "t3")
    tf.create_table(spark, root, mk_df(spark, 0, 40), partition_by=[])
    tf.append(spark, root, mk_df(spark, 40, 70))
    s3 = tf.rollback(root, to_snapshot=1)
    assert s3 == 3
    assert tf.read(spark, root).count() == 40
    assert tf.read(spark, root, snapshot=2).count() == 70  # history intact


def test_overwrite_partitions_dynamic(spark, tmp_path):
    root = str(tmp_path / "t4")
    tf.create_table(spark, root, mk_df(spark, 0, 100), partition_by=["p"])
    # replace partition p=1 with recomputed rows (val doubled), ids 200-209
    repl = spark.range(200, 210).select(
        F.col("id"), F.lit(1).alias("p"), (F.col("id") * 6).alias("val"))
    tf.overwrite_partitions(spark, root, repl)
    cur = tf.read(spark, root)
    assert cur.filter(F.col("p") == 1).count() == 10
    assert cur.filter(F.col("p") != 1).count() == 75  # 3 of 4 partitions kept
    # time travel still shows the original p=1 rows
    assert tf.read(spark, root, snapshot=1).filter(F.col("p") == 1).count() == 25


def test_manifest_partition_pruning(spark, tmp_path):
    """partition_filter prunes FILES on the driver: the scan's inputFiles
    contain only the selected partition's files."""
    root = str(tmp_path / "t5")
    tf.create_table(spark, root, mk_df(spark, 0, 100), partition_by=["p"])
    tf.append(spark, root, mk_df(spark, 100, 140))
    pruned = tf.read(spark, root, partition_filter=lambda part: part["p"] == "2")
    assert pruned.count() == 35
    for f in pruned.inputFiles():
        assert "p=2" in f
    full = tf.read(spark, root)
    assert len(full.inputFiles()) > len(pruned.inputFiles())


def test_commit_conflict_detected(spark, tmp_path):
    root = str(tmp_path / "t6")
    tf.create_table(spark, root, mk_df(spark, 0, 10), partition_by=[])
    m = tf.load_manifest(root, 1)
    files = tf._collect_files(spark, root, mk_df(spark, 10, 20), [], write_id=99)
    # a concurrent committer lands first
    tf._commit(root, m["files"], "append", [], expected_parent=1)
    with pytest.raises(RuntimeError, match="conflict"):
        tf._commit(root, m["files"] + files, "append", [], expected_parent=1)


def test_create_refuses_existing_and_empty_read(spark, tmp_path):
    root = str(tmp_path / "t7")
    tf.create_table(spark, root, mk_df(spark, 0, 10), partition_by=["p"])
    with pytest.raises(RuntimeError, match="exists"):
        tf.create_table(spark, root, mk_df(spark, 0, 5))
    # pruning everything still returns a well-formed empty frame
    empty = tf.read(spark, root, partition_filter=lambda part: False)
    assert empty.count() == 0
    # ... with the table's columns, also once a second write dir exists
    tf.append(spark, root, mk_df(spark, 10, 20))
    empty = tf.read(spark, root, partition_filter=lambda part: False)
    assert empty.count() == 0
    assert sorted(empty.columns) == sorted(tf.read(spark, root).columns)


def test_images_table_on_table_format(spark, tmp_path):
    """The north-rule input end-to-end: image+caption rows in the snapshot
    table, cell-partitioned, manifest-pruned spatial read."""
    from sis_spark.functions.spark_exprs import cell_col
    from sis_spark.sources.images import images_table

    root = str(tmp_path / "imgs")
    df = images_table(spark, 300).withColumn(
        "cell_p", cell_col(F.col("lon"), F.col("lat"), 2))
    tf.create_table(spark, root, df, partition_by=["cell_p"])
    assert tf.scan_row_counts(root) == 300
    some_cell = tf.load_manifest(root)["files"][0]["partition"]["cell_p"]
    sub = tf.read(spark, root,
                  partition_filter=lambda part: part["cell_p"] == some_cell)
    assert 0 < sub.count() < 300
    assert all(f"cell_p={some_cell}" in f for f in sub.inputFiles())
    r = sub.limit(1).collect()[0]
    assert r["caption"].startswith("caption of img-")


def test_spatial_join_snapshot_matches_unpruned(spark, tmp_path):
    """Manifest-pruned spatial join over the snapshot image table equals
    the same join over the full table, and only covered partitions are
    opened."""
    from sis_spark.operators.spatial_join import spatial_join
    from sis_spark.sources import images as img

    root = str(tmp_path / "imgs_snap")
    img.write_images_snapshot(spark, 400, root, prefix_res=2)
    # box around an actual image point (the synthetic distribution is
    # hot-center skewed; a fixed box can miss it entirely)
    from sis_spark.sources import table_format as tf0

    r0 = tf0.read(spark, root).limit(1).collect()[0]
    cx, cy = r0["lon"], r0["lat"]
    polys = [{"key": 1,
              "vx": np.array([cx - 15.0, cx + 15.0, cx + 15.0, cx - 15.0]),
              "vy": np.array([max(cy - 15.0, -89.0), max(cy - 15.0, -89.0),
                              min(cy + 15.0, 89.0), min(cy + 15.0, 89.0)])}]

    got = sorted(
        (r["image_id"], r["poly_key"])
        for r in img.spatial_join_snapshot(spark, root, polys, prefix_res=2).collect())

    from sis_spark.sources import table_format as tf
    full = tf.read(spark, root)
    exp = sorted(
        (r["image_id"], r["poly_key"])
        for r in spatial_join(full, polys).collect())
    assert got == exp and len(got) > 0

    want = {str(c) for c in img.covering_prefixes(polys, 2)}
    pruned = tf.read(spark, root, partition_filter=lambda p: p["cell_p"] in want)
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())


def test_merge_upsert_copy_on_write(spark, tmp_path):
    root = str(tmp_path / "t_merge")
    tf.create_table(spark, root, mk_df(spark, 0, 100), partition_by=["p"])
    tf.append(spark, root, mk_df(spark, 100, 140))
    before = {f["path"] for f in tf.load_manifest(root)["files"]}

    # update 3 existing keys (val -> 0) and insert 2 new ones
    upd = spark.createDataFrame(
        [(5, 5 % 4, 0), (17, 17 % 4, 0), (120, 0, 0), (500, 0, -1), (501, 1, -1)],
        "id long, p long, val long",
    )
    s = tf.merge_upsert(spark, root, upd, "id")
    assert tf.load_manifest(root)["op"] == "merge" and s == 3

    got = {r["id"]: r["val"] for r in tf.read(spark, root).collect()}
    assert len(got) == 142  # 140 + 2 inserts
    assert got[5] == 0 and got[17] == 0 and got[120] == 0
    assert got[500] == -1 and got[501] == -1
    assert got[6] == 18  # untouched row intact

    # copy-on-write: untouched files carry over by identity
    after = {f["path"] for f in tf.load_manifest(root)["files"]}
    assert before & after, "expected untouched file entries to carry over"
    # time travel still sees the pre-merge values
    old = {r["id"]: r["val"] for r in tf.read(spark, root, snapshot=2).collect()}
    assert old[5] == 15 and 500 not in old


def test_delete_where_drops_and_rewrites(spark, tmp_path):
    root = str(tmp_path / "t_del")
    tf.create_table(spark, root, mk_df(spark, 0, 80), partition_by=["p"])
    before = {f["path"] for f in tf.load_manifest(root)["files"]}

    # delete one whole partition (its files vanish, no rewrite output for them)
    tf.delete_where(spark, root, "p = 3")
    m = tf.load_manifest(root)
    assert m["op"] == "delete"
    assert tf.read(spark, root).filter("p = 3").count() == 0
    assert tf.read(spark, root).count() == 60

    # delete a few rows inside surviving partitions (those files rewritten)
    tf.delete_where(spark, root, "id IN (0, 4, 8)")
    assert tf.read(spark, root).count() == 57
    assert tf.scan_row_counts(root) == 57  # manifest rows stay consistent
    got = {r["id"] for r in tf.read(spark, root).collect()}
    assert {0, 4, 8}.isdisjoint(got) and 12 in got
    # history intact: snapshot 1 still reads 80 rows
    assert tf.read(spark, root, snapshot=1).count() == 80


def test_merge_unpartitioned_and_noop_delete(spark, tmp_path):
    root = str(tmp_path / "t_flat")
    tf.create_table(spark, root, mk_df(spark, 0, 30).drop("p"))
    tf.merge_upsert(
        spark, root,
        spark.createDataFrame([(2, 99), (50, 99)], "id long, val long"), "id",
    )
    got = {r["id"]: r["val"] for r in tf.read(spark, root).collect()}
    assert got[2] == 99 and got[50] == 99 and len(got) == 31

    s_before = tf.current_snapshot(root)
    tf.delete_where(spark, root, "val = -12345")  # matches nothing
    m = tf.load_manifest(root)
    assert m["snapshot"] == s_before + 1 and len(m["files"]) > 0
    assert tf.read(spark, root).count() == 31


def test_clustered_write_prunes_by_hilbert_key(spark, tmp_path):
    from sis_spark.functions.hilbert import hilbert_d_np, hilbert_index

    root = str(tmp_path / "t_hilbert")
    order = 8
    n = 1 << order
    rng = np.random.default_rng(2)
    xs, ys = rng.integers(0, n, 4000), rng.integers(0, n, 4000)
    pts = spark.createDataFrame(
        [(i, int(xs[i]), int(ys[i])) for i in range(4000)],
        "id long, ix long, iy long",
    )
    keyed = hilbert_index(pts, "ix", "iy", order, id_cols=["id"])
    tf.write_clustered(spark, root, keyed, "hkey", n_files=16)

    m = tf.load_manifest(root)
    assert len(m["files"]) >= 16
    spans = sorted(tuple(f["stats"]["hkey"]) for f in m["files"])
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi <= blo  # range partitions: non-overlapping key intervals

    # a small bbox -> small hilbert-key window set; pruning must open few
    # files and return exactly the brute-force rows
    bx0, bx1, by0, by1 = 40, 47, 200, 207
    sub = hilbert_d_np(
        np.repeat(np.arange(bx0, bx1 + 1), by1 - by0 + 1),
        np.tile(np.arange(by0, by1 + 1), bx1 - bx0 + 1),
        order,
    )
    klo, khi = int(sub.min()), int(sub.max())
    df, kept, total = tf.read_pruned(
        spark, root,
        lambda st: st["hkey"][0] <= khi and st["hkey"][1] >= klo,
    )
    assert kept < total  # skipping actually happened
    got = sorted(
        r["id"] for r in df.filter(
            (F.col("ix").between(bx0, bx1)) & (F.col("iy").between(by0, by1))
        ).collect()
    )
    want = sorted(
        int(i) for i in range(4000)
        if bx0 <= xs[i] <= bx1 and by0 <= ys[i] <= by1
    )
    assert got == want


def test_compact_files_preserves_content(spark, tmp_path):
    root = str(tmp_path / "t_compact")
    tf.create_table(spark, root, mk_df(spark, 0, 40).drop("p").repartition(8))
    for lo in (40, 80, 120):
        tf.append(spark, root, mk_df(spark, lo, lo + 40).drop("p").repartition(8))
    before = tf.load_manifest(root)
    assert len(before["files"]) >= 16
    rows_before = sorted(r["id"] for r in tf.read(spark, root).collect())

    tf.compact_files(spark, root, target_rows=80)
    after = tf.load_manifest(root)
    assert after["op"] == "compact"
    assert len(after["files"]) < len(before["files"]) / 2
    assert tf.scan_row_counts(root) == 160
    assert sorted(r["id"] for r in tf.read(spark, root).collect()) == rows_before
    # history: the pre-compaction snapshot still reads identically
    assert tf.read(spark, root, snapshot=before["snapshot"]).count() == 160


def _jobs_in_group(spark, group, fn):
    """(fn's result, the Spark job ids fn started under job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_read_starts_no_job_and_keeps_schema(spark, tmp_path):
    """The manifest carries the read schema: a read of more than 32 files
    (Spark's default parallel-listing threshold) starts no Spark job, the
    column order and the partition column's written type round-trip, and
    an empty selection is an empty frame of that schema."""
    from pyspark.sql import types as T

    root = str(tmp_path / "t_schema")
    df = spark.range(0, 400).select(
        (F.col("id") * 1.5).alias("v"),
        (F.col("id") % 40).cast("short").alias("p"),
        F.col("id"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
    )
    tf.create_table(spark, root, df.repartition("p"), partition_by=["p"])
    assert len(tf.load_manifest(root)["files"]) == 40

    full, jobs = _jobs_in_group(spark, "tf_read_no_job", lambda: tf.read(spark, root))
    assert jobs == []
    assert full.columns == ["v", "id", "arr", "p"]
    assert full.schema["p"].dataType == T.ShortType()
    assert full.schema["arr"].dataType == T.ArrayType(T.LongType(), True)
    assert full.count() == 400
    assert sorted(full.filter(F.col("p") == 7).select("id").toPandas()["id"]) == list(
        range(7, 400, 40))

    empty, jobs = _jobs_in_group(
        spark, "tf_read_empty", lambda: tf.read(spark, root, partition_filter=lambda p: False))
    assert jobs == []
    assert empty.schema == full.schema and empty.count() == 0

    # every later commit carries the schema: the appended table reads the same way
    tf.append(spark, root, df.filter(F.col("id") < 40))
    assert tf.read(spark, root).schema == full.schema


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """A manifest written before the schema was recorded (no ``schema``
    key) still reads, through Spark's schema inference."""
    import json

    root = str(tmp_path / "t_old")
    tf.create_table(spark, root, mk_df(spark, 0, 100), partition_by=["p"])
    tf.append(spark, root, mk_df(spark, 100, 140))
    for n in (1, 2):
        path = os.path.join(root, "_meta", f"v{n}.json")
        with open(path) as f:
            m = json.load(f)
        del m["schema"]
        with open(path, "w") as f:
            json.dump(m, f)
    cur = tf.read(spark, root)
    assert sorted(cur.columns) == ["id", "p", "val"]
    assert cur.count() == 140
    assert tf.read(spark, root, partition_filter=lambda p: p["p"] == "1").count() == 35
    empty = tf.read(spark, root, partition_filter=lambda p: False)
    assert empty.count() == 0 and sorted(empty.columns) == ["id", "p", "val"]
    tf.rollback(root, to_snapshot=1)
    assert "schema" in tf.load_manifest(root) and tf.read(spark, root).count() == 100
