"""Snapshot table format: manifest-tracked parquet with time travel.

The north rule's input is "an Iceberg table of image + caption pairs"; no
Iceberg runtime jar ships in this image, so this module re-derives the
table-format *mechanics* that matter to the engine (the subset of the public
Iceberg spec the plans rely on), over plain parquet + JSON manifests:

* **Snapshot isolation** — every commit writes an immutable manifest
  ``_meta/v{N}.json`` listing exactly the data files of snapshot N; readers
  resolve a snapshot once and never see concurrent appends.
* **Atomic commits** — manifest is written to a temp file and renamed
  (os.replace, atomic on POSIX); the ``_meta/_current`` pointer is swapped
  the same way.  Optimistic concurrency: a committer re-checks the current
  snapshot id it built against and refuses on conflict.
* **Time travel** — ``read(root, snapshot=K)`` / ``as_of`` timestamp, plus
  ``rollback`` (a new snapshot whose file list is the old one's — history is
  never rewritten).
* **Manifest-level partition pruning** — each file entry carries its
  partition values; ``read(..., partition_filter=...)`` selects files ON THE
  DRIVER from the manifest (no filesystem listing, no footer reads) and
  hands Spark an explicit file list with ``basePath`` so partition columns
  survive.  This is the plan-time pruning Iceberg does with its manifest
  trees — at 10^12 rows the gain is exactly that the cluster never globs
  the table directory.
* **Schema in the manifest** — every commit records the read schema (data
  columns, then partition columns, each with its written type), and a read
  passes it to ``spark.read.schema``: no footer is opened for inference.
  An empty selection is an empty frame of that schema.  A manifest without
  the key (a table written before schemas were recorded) is read with
  Spark's inference.
* **No job at read time** — on a session whose
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is above the
  number of files one read names, the driver stats the listed files itself
  and ``read`` starts no Spark job.  ``session.get_spark`` (local mode)
  sets it; a session left at Spark's default of 32 starts a listing job
  for a larger selection, as before.  Measured in local mode only.

Scale note: one JSON manifest listing ~1e6 files is tens of MB — fine for a
driver;real Iceberg splits manifests hierarchically, documented out of
scope here (single-level manifests, single-writer commit protocol).
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _meta_dir(root: str) -> str:
    return os.path.join(root, "_meta")


def _manifest_path(root: str, n: int) -> str:
    return os.path.join(_meta_dir(root), f"v{n}.json")


def _atomic_write(path: str, data: str) -> None:
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


def current_snapshot(root: str) -> int:
    cur = os.path.join(_meta_dir(root), "_current")
    if not os.path.exists(cur):
        return 0
    with open(cur) as f:
        return int(f.read().strip())


def load_manifest(root: str, snapshot: int | None = None,
                  as_of: float | None = None) -> dict:
    if snapshot is None and as_of is not None:
        snapshot = 0
        for n in range(1, current_snapshot(root) + 1):
            with open(_manifest_path(root, n)) as f:
                if json.load(f)["ts"] <= as_of:
                    snapshot = n
        if snapshot == 0:
            raise ValueError(f"no snapshot at or before ts {as_of}")
    if snapshot is None:
        snapshot = current_snapshot(root)
    if snapshot == 0:
        raise ValueError(f"table {root} has no snapshots")
    with open(_manifest_path(root, snapshot)) as f:
        return json.load(f)


def history(root: str) -> list[dict]:
    out = []
    for n in range(1, current_snapshot(root) + 1):
        m = load_manifest(root, n)
        out.append({k: m[k] for k in ("snapshot", "parent", "ts", "op")}
                   | {"n_files": len(m["files"]), "rows": sum(f["rows"] for f in m["files"])})
    return out


def _collect_files(spark: SparkSession, root: str, df: DataFrame,
                   partition_by: list[str], write_id: int) -> list[dict]:
    """Write df's data under data/ (hive layout for the partition cols) into
    a write-id-scoped directory, then record (path, partition, rows)."""
    import pyarrow.parquet as pq

    out_dir = os.path.join(root, "data", f"w{write_id}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out_dir)

    files = []
    for dirpath, _dirs, names in os.walk(out_dir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, root)
            part = {}
            for comp in os.path.relpath(dirpath, out_dir).split(os.sep):
                if "=" in comp:
                    k, v = comp.split("=", 1)
                    part[k] = v
            files.append({
                "path": rel,
                "partition": part,
                "rows": pq.ParquetFile(p).metadata.num_rows,
            })
    return files


def _read_schema(df: DataFrame, partition_by: list[str]) -> dict:
    """The schema a read of ``df`` written with ``partition_by`` gives, as
    JSON: data columns in ``df`` order, then the partition columns, each
    with its written type, nullable at every level as a parquet read is."""
    def nullable(t):
        if isinstance(t, list):
            return [nullable(v) for v in t]
        if isinstance(t, dict):
            return {k: True if k in ("nullable", "containsNull", "valueContainsNull")
                    else nullable(v) for k, v in t.items()}
        return t

    fields = ([f for f in df.schema.fields if f.name not in partition_by]
              + [df.schema[c] for c in partition_by])
    return nullable(T.StructType(fields).jsonValue())


def _commit(root: str, files: list[dict], op: str, partition_by: list[str],
            expected_parent: int, schema: dict | None = None) -> int:
    """Snapshot ``expected_parent + 1`` listing ``files``; ``schema`` is the
    read schema (``_read_schema``), carried from the parent by every commit
    after the create."""
    cur = current_snapshot(root)
    if cur != expected_parent:
        raise RuntimeError(
            f"commit conflict: table advanced to snapshot {cur} "
            f"(expected {expected_parent}) — rebuild against the new state")
    n = cur + 1
    manifest = {
        "snapshot": n, "parent": cur, "ts": time.time(), "op": op,
        "partition_by": partition_by, "schema": schema, "files": files,
    }
    _atomic_write(_manifest_path(root, n), json.dumps(manifest))
    _atomic_write(os.path.join(_meta_dir(root), "_current"), str(n))
    return n


def create_table(spark: SparkSession, root: str, df: DataFrame,
                 partition_by: list[str] | None = None) -> int:
    """Snapshot 1 of a new table."""
    partition_by = partition_by or []
    os.makedirs(_meta_dir(root), exist_ok=True)
    if current_snapshot(root) != 0:
        raise RuntimeError(f"table {root} already exists")
    files = _collect_files(spark, root, df, partition_by, write_id=1)
    return _commit(root, files, "create", partition_by, 0, _read_schema(df, partition_by))


def append(spark: SparkSession, root: str, df: DataFrame) -> int:
    """New snapshot = parent's files + the newly written ones."""
    parent = current_snapshot(root)
    m = load_manifest(root, parent)
    files = _collect_files(spark, root, df, m["partition_by"], write_id=parent + 1)
    return _commit(root, m["files"] + files, "append", m["partition_by"], parent,
                   m.get("schema"))


def overwrite_partitions(spark: SparkSession, root: str, df: DataFrame) -> int:
    """Dynamic partition overwrite: new files replace the parent's files in
    every partition the incoming df touches; other partitions carry over."""
    parent = current_snapshot(root)
    m = load_manifest(root, parent)
    files = _collect_files(spark, root, df, m["partition_by"], write_id=parent + 1)
    touched = {tuple(sorted(f["partition"].items())) for f in files}
    kept = [f for f in m["files"]
            if tuple(sorted(f["partition"].items())) not in touched]
    return _commit(root, kept + files, "overwrite", m["partition_by"], parent,
                   m.get("schema"))


def rollback(root: str, to_snapshot: int) -> int:
    """A NEW snapshot with the old file list (history preserved)."""
    parent = current_snapshot(root)
    m = load_manifest(root, to_snapshot)
    return _commit(root, m["files"], f"rollback({to_snapshot})",
                   m["partition_by"], parent, m.get("schema"))


def read(spark: SparkSession, root: str, snapshot: int | None = None,
         as_of: float | None = None, partition_filter=None) -> DataFrame:
    """Snapshot read from the manifest's explicit file list (no directory
    listing).  ``partition_filter(partition_dict) -> bool`` prunes files on
    the driver before Spark sees them — manifest-level partition pruning."""
    m = load_manifest(root, snapshot, as_of)
    files = m["files"]
    if partition_filter is not None:
        files = [f for f in files if partition_filter(f["partition"])]
    return _read_files(spark, root, m, files)


def scan_row_counts(root: str, snapshot: int | None = None) -> int:
    """Manifest-only row count — the metadata-query answer (no data read)."""
    return sum(f["rows"] for f in load_manifest(root, snapshot)["files"])


# ---------------------------------------------------------------- row-level ops
# Copy-on-write MERGE/DELETE (the Iceberg v1 COW strategy): only files that
# actually CONTAIN affected rows are rewritten; every other file entry is
# carried into the child snapshot untouched.  At 10^12 rows the cost is
# proportional to the touched files, not the table — affected-file detection
# is one semi-join against the update keys with `_metadata.file_path` as the
# file identity (no extra index), then the rewrite reads ONLY those files.


def _grouped_reads(spark: SparkSession, root: str, m: dict, files: list[dict]):
    """One file-source read per write-dir, the per-group DataFrames: hive
    partition dirs live under each write-id directory, so each read's
    basePath recovers the partition columns, and the group count is the
    number of commits, not partitions.  The manifest's schema, when it
    has one, spares each read the footer inference."""
    if not files:
        return []

    def reader():
        r = spark.read
        return r.schema(T.StructType.fromJson(m["schema"])) if m.get("schema") else r

    if m["partition_by"]:
        groups: dict[str, list[str]] = {}
        for f in files:
            wdir = f["path"].split("/")[1]  # data/<wN>/...
            groups.setdefault(wdir, []).append(os.path.join(root, f["path"]))
        return [
            reader().option("basePath", os.path.join(root, "data", wdir)).parquet(*ps)
            for wdir, ps in sorted(groups.items())
        ]
    return [reader().parquet(*[os.path.join(root, f["path"]) for f in files])]


def _read_files(spark: SparkSession, root: str, m: dict, files: list[dict]) -> DataFrame:
    """The union of ``files`` (manifest entries of ``m``) with the table's
    partition columns.  An empty selection is an empty frame of the
    manifest's schema; without one, it reads one table file under limit 0
    for the schema (a read of the whole data dir spans the write dirs,
    which Spark rejects as conflicting partition layouts)."""
    if not files and m.get("schema"):
        return spark.createDataFrame([], T.StructType.fromJson(m["schema"]))
    if not files and m["files"]:
        return _read_files(spark, root, m, m["files"][:1]).limit(0)
    if not files:
        return spark.read.parquet(os.path.join(root, "data")).limit(0)
    return functools.reduce(DataFrame.unionByName, _grouped_reads(spark, root, m, files))


def _read_with_path(spark: SparkSession, root: str, m: dict, files: list[dict]) -> DataFrame:
    """Snapshot read carrying ``__file`` = manifest-relative path of the
    source file for each row (from the parquet _metadata column)."""
    from pyspark.sql import functions as F

    prefix = "file:" + os.path.abspath(root) + os.sep
    parts = []
    for df in _grouped_reads(spark, root, m, files):
        parts.append(
            df.withColumn(
                "__file",
                F.replace(
                    F.col("_metadata.file_path"), F.lit(prefix), F.lit("")
                ),
            )
        )
    return functools.reduce(DataFrame.unionByName, parts)


def _rewrite_commit(
    spark: SparkSession,
    root: str,
    m: dict,
    parent: int,
    affected_rel: set[str],
    new_rows: DataFrame | None,
    op: str,
) -> int:
    kept = [f for f in m["files"] if f["path"] not in affected_rel]
    new_files: list[dict] = []
    if new_rows is not None:
        new_files = [
            f
            for f in _collect_files(spark, root, new_rows, m["partition_by"], write_id=parent + 1)
            if f["rows"] > 0
        ]
    return _commit(root, kept + new_files, op, m["partition_by"], parent, m.get("schema"))


def merge_upsert(
    spark: SparkSession, root: str, updates: DataFrame, key_cols, 
) -> int:
    """MERGE (whole-row upsert): rows of ``updates`` replace target rows with
    the same key; unmatched update keys are inserted.  Copy-on-write — the
    child snapshot rewrites only the files that contain a matched key."""
    from pyspark.sql import functions as F

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    parent = current_snapshot(root)
    m = load_manifest(root, parent)
    cols = read(spark, root, parent).columns

    tgt = _read_with_path(spark, root, m, m["files"])
    ukeys = updates.select(*keys).distinct()
    affected_rel = {
        r["__file"]
        for r in tgt.join(ukeys, keys, "left_semi").select("__file").distinct().collect()
    }
    affected = [f for f in m["files"] if f["path"] in affected_rel]
    new_rows = updates.select(*cols)
    if affected:
        survivors = (
            _read_with_path(spark, root, m, affected)
            .join(ukeys, keys, "left_anti")
            .select(*cols)
        )
        new_rows = survivors.unionByName(new_rows)
    return _rewrite_commit(spark, root, m, parent, affected_rel, new_rows, "merge")


def delete_where(spark: SparkSession, root: str, condition) -> int:
    """Row-level DELETE: rewrites only the files containing matching rows;
    a file whose rows all match simply drops out of the child manifest."""
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    parent = current_snapshot(root)
    m = load_manifest(root, parent)
    cols = read(spark, root, parent).columns

    tgt = _read_with_path(spark, root, m, m["files"])
    affected_rel = {
        r["__file"]
        for r in tgt.filter(cond).select("__file").distinct().collect()
    }
    affected = [f for f in m["files"] if f["path"] in affected_rel]
    new_rows = None
    if affected:
        new_rows = (
            _read_with_path(spark, root, m, affected).filter(~cond).select(*cols)
        )
    return _rewrite_commit(spark, root, m, parent, affected_rel, new_rows, "delete")


# ---------------------------------------------------------------- file skipping & maintenance
# Manifest COLUMN STATISTICS (Iceberg's per-file lower/upper bounds): commits
# record min/max of chosen columns per file, and reads prune files against a
# stats predicate ON THE DRIVER — with data written in Hilbert-key order
# (functions/hilbert.py) a bbox/key-range query opens only the files whose
# key interval intersects it.  This is the layout + skipping pair that turns
# a 10^12-row scan into a per-query touch of O(result) files.


def _file_stats(root: str, files: list[dict], stats_cols: list[str]) -> None:
    """Attach {col: [min, max]} to each file entry (footer metadata only —
    no data pages are read)."""
    import pyarrow.parquet as pq

    for f in files:
        pf = pq.ParquetFile(os.path.join(root, f["path"]))
        schema_names = pf.schema_arrow.names
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for rg in range(pf.metadata.num_row_groups):
            meta = pf.metadata.row_group(rg)
            for ci in range(meta.num_columns):
                col = meta.column(ci)
                name = col.path_in_schema
                if name not in stats_cols or col.statistics is None:
                    continue
                st = col.statistics
                if not st.has_min_max:
                    continue
                mins[name] = st.min if name not in mins else min(mins[name], st.min)
                maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
        f["stats"] = {c: [mins[c], maxs[c]] for c in mins if c in maxs}


def write_clustered(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    order_col: str,
    n_files: int,
    stats_cols: list[str] | None = None,
) -> int:
    """Create a table laid out in ``order_col`` order across ``n_files``
    range partitions (repartitionByRange -> one file per range, ranges
    non-overlapping in the order column), with per-file min/max stats for
    ``stats_cols`` recorded in the manifest.  Feed a Hilbert key as the
    order column for spatial-locality file clustering."""
    stats_cols = stats_cols or [order_col]
    os.makedirs(_meta_dir(root), exist_ok=True)
    if current_snapshot(root) != 0:
        raise RuntimeError(f"table {root} already exists")
    from pyspark.sql import functions as F

    clustered = df.repartitionByRange(n_files, F.col(order_col)).sortWithinPartitions(
        order_col
    )
    files = _collect_files(spark, root, clustered, [], write_id=1)
    _file_stats(root, files, stats_cols)
    return _commit(root, files, "create-clustered", [], 0, _read_schema(df, []))


def read_pruned(
    spark: SparkSession,
    root: str,
    stats_filter,
    snapshot: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Snapshot read with manifest stats pruning: ``stats_filter(stats)
    -> bool`` decides per file from its {col: [min, max]} dict (missing
    stats => kept, never wrongly skipped).  Returns (df, kept, total)."""
    m = load_manifest(root, snapshot)
    total = len(m["files"])
    files = [
        f for f in m["files"] if "stats" not in f or stats_filter(f["stats"])
    ]
    return _read_files(spark, root, m, files), len(files), total


def compact_files(
    spark: SparkSession,
    root: str,
    target_rows: int,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE-style small-file compaction: bin-pack manifest entries into
    groups of ~target_rows by first-fit over the manifest (driver-side,
    file COUNT not data), rewrite each multi-file group as one file, carry
    singleton groups over untouched.  Row-level content is unchanged —
    only the file layout (and the child manifest) changes."""
    parent = current_snapshot(root)
    m = load_manifest(root, parent)
    if m["partition_by"]:
        # a hive-partitioned merge would need per-partition grouping to keep
        # the partition columns recoverable; out of scope for this pass
        raise ValueError("compact_files supports unpartitioned tables")
    groups: list[list[dict]] = []
    acc: list[dict] = []
    acc_rows = 0
    for f in sorted(m["files"], key=lambda f: f["path"]):
        if acc and acc_rows + f["rows"] > target_rows:
            groups.append(acc)
            acc, acc_rows = [], 0
        acc.append(f)
        acc_rows += f["rows"]
    if acc:
        groups.append(acc)

    kept = [g[0] for g in groups if len(g) == 1]
    to_merge = [g for g in groups if len(g) > 1]
    new_files: list[dict] = []
    if to_merge:
        merged_paths = [
            os.path.join(root, f["path"]) for g in to_merge for f in g
        ]
        df = spark.read.parquet(*merged_paths).coalesce(len(to_merge))
        new_files = _collect_files(spark, root, df, m["partition_by"],
                                   write_id=parent + 1)
        if stats_cols:
            _file_stats(root, new_files, stats_cols)
    return _commit(root, kept + new_files, "compact", m["partition_by"], parent,
                   m.get("schema"))
