"""Tar-shard store for image+caption training data (WebDataset layout).

Large-scale image training pipelines consume samples as POSIX tar "shards":
each shard holds a run of samples, each sample is a group of members sharing
a basename stem — ``{image_id}.{fmt}`` (the encoded payload),
``{image_id}.txt`` (the caption), ``{image_id}.json`` (typed metadata).  The
layout is sequential-read friendly (object-store range GETs, no per-sample
round trip) and is the de-facto interchange format between Spark-side data
prep and training loaders.

Spark-first shape:

- **Write** is one task per shard (``groupBy(shard).applyInPandas``): the
  executor streams its rows into a deterministic tar (sorted members, zeroed
  mtime/uid/gid, USTAR) plus a JSON **index sidecar** recording every
  member's data offset/size.  The driver never sees payload bytes; the
  returned DataFrame is only the shard manifest (path, samples, bytes,
  sha256) — the commit-metadata shape of the snapshot store
  (sources/table_format.py).
- **Read** is one manifest row per shard (``functions.udfs._map_manifest``
  over the shard list).  With a column projection that drops ``bytes``,
  the reader uses the index sidecar to issue *ranged reads* of just the
  .json/.txt members — the tar analog of parquet column pruning (a
  caption-only scan of a 100 TB image corpus reads ~1% of the bytes).
  Without the sidecar it falls back to a streaming tar scan.

Reference analog: the folder-store aggregate of per-file resources
(S/storage/folder/Store.java) — here each tar file is the resource and the
index sidecar plays the role of the store's component manifest.
"""

from __future__ import annotations

import glob
import hashlib
import io
import json
import os
import tarfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import _map_manifest

# metadata fields carried in the .json member (everything except the three
# member-encoded fields image_id/bytes/caption); missing input columns are
# simply absent from the json and come back NULL.
_META_FIELDS = {"w": "int", "h": "int", "phash": "long",
                "lon": "double", "lat": "double",
                "bucket": "int", "batch": "long", "slot": "long"}

READ_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double, "
    "bucket int, batch long, slot long, shard int"
)

MANIFEST_SCHEMA = "shard int, path string, samples long, bytes long, sha256 string"


def _tar_member(name: str, payload: bytes) -> tuple[tarfile.TarInfo, io.BytesIO]:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    info.mode = 0o644
    return info, io.BytesIO(payload)


def write_tar_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int | None = None,
    shard_col: str | None = "shard",
) -> DataFrame:
    """Write ``df`` (image_id, bytes, fmt, caption + optional metadata
    columns) as ``shard-{k:05d}.tar`` files under ``out_dir``.

    Sharding: if ``shard_col`` is absent from ``df``, rows are assigned
    ``crc32(image_id) % n_shards``.  One executor task writes one shard;
    members are sorted by image_id so shard bytes are deterministic
    (byte-identical across reruns — verified by test_tar_shards.py).

    Returns the shard manifest DataFrame (materialize it to drive the write).
    """
    cols = set(df.columns)
    if shard_col not in cols:
        if n_shards is None:
            raise ValueError("need n_shards when no shard column is present")
        df = df.withColumn(
            "shard", (F.crc32(F.col("image_id").cast("binary")) % n_shards).cast("int")
        )
        shard_col = "shard"
    df = df.withColumn(shard_col, F.col(shard_col).cast("int"))
    meta_cols = [c for c in _META_FIELDS if c in cols]
    os.makedirs(out_dir, exist_ok=True)

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf[shard_col].iloc[0])
        bad = set(pdf["fmt"]) & {"txt", "json"}
        if bad:
            # {stem}.txt / {stem}.json are the caption/metadata members —
            # a payload with that extension would duplicate a member name
            # and break the ranged-read sidecar's name resolution
            raise ValueError(f"payload fmt collides with reserved members: {bad}")
        pdf = pdf.sort_values("image_id", kind="mergesort")
        path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        with open(path, "wb") as raw, tarfile.open(
            fileobj=raw, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for row in pdf.itertuples(index=False):
                stem = getattr(row, "image_id")
                fmt = getattr(row, "fmt")
                meta = {"fmt": fmt}
                for c in meta_cols:
                    v = getattr(row, c)
                    if pd.notna(v):
                        meta[c] = v.item() if hasattr(v, "item") else v
                members = [
                    (f"{stem}.json",
                     json.dumps(meta, sort_keys=True, separators=(",", ":")).encode()),
                    (f"{stem}.txt", str(getattr(row, "caption")).encode("utf-8")),
                    (f"{stem}.{fmt}", bytes(getattr(row, "bytes"))),
                ]
                for name, payload in members:
                    info, buf = _tar_member(name, payload)
                    tf.addfile(info, buf)
        # authoritative member offsets for the ranged-read sidecar
        # (addfile copies its TarInfo, so offsets must come from a re-read)
        with tarfile.open(path, "r") as tr:
            index = [
                {"name": m.name, "offset": m.offset_data, "size": m.size}
                for m in tr
            ]
        size = os.path.getsize(path)
        sha = hashlib.sha256(open(path, "rb").read()).hexdigest()
        with open(path + ".idx.json", "w") as fh:
            json.dump({"entries": index}, fh, separators=(",", ":"))
        return pd.DataFrame(
            [{"shard": shard, "path": path, "samples": len(pdf),
              "bytes": size, "sha256": sha}]
        )

    return df.groupBy(shard_col).applyInPandas(write_shard, schema=MANIFEST_SCHEMA)


def _rows_from_members(
    shard: int, members: dict[str, dict[str, bytes]], names: list[str]
) -> pd.DataFrame:
    rows = []
    for stem in sorted(members):
        got = members[stem]
        meta = json.loads(got["json"].decode()) if "json" in got else {}
        row: dict = {}
        for n in names:
            if n == "image_id":
                row[n] = stem
            elif n == "caption":
                row[n] = got["txt"].decode("utf-8") if "txt" in got else None
            elif n == "bytes":
                row[n] = got.get("payload")
            elif n == "fmt":
                row[n] = meta.get("fmt")
            elif n == "shard":
                row[n] = shard
            else:
                row[n] = meta.get(n)
        rows.append(row)
    return pd.DataFrame(rows, columns=names)


def read_tar_shards(
    spark: SparkSession, in_dir: str, columns: list[str] | None = None
) -> DataFrame:
    """Distributed read of a tar-shard directory: one manifest row per
    shard.

    ``columns`` prunes at the STORAGE level: a projection without ``bytes``
    reads only the small .json/.txt members through the index sidecar's
    (offset, size) pairs — ranged reads, payload bytes never leave disk.
    The full read (or a shard missing its sidecar) streams the whole tar.
    """
    all_names = [c.split(" ")[0] for c in READ_SCHEMA.split(", ")]
    names = all_names if columns is None else list(columns)
    bad = set(names) - set(all_names)
    if bad:
        raise ValueError(f"unknown tar-shard columns: {sorted(bad)}")
    schema = ", ".join(
        c for c in READ_SCHEMA.split(", ") if c.split(" ")[0] in names
    )
    need_payload = "bytes" in names
    paths = pd.DataFrame(
        {"path": sorted(glob.glob(os.path.join(in_dir, "shard-*.tar")))})

    def read_shard(row):
        path = row["path"]
        members: dict[str, dict[str, bytes]] = {}

        def put(name: str, data: bytes | None, lazy=None):
            stem, ext = name.rsplit(".", 1)
            kind = {"json": "json", "txt": "txt"}.get(ext, "payload")
            if kind == "payload" and not need_payload:
                return
            if data is None:
                data = lazy()
            members.setdefault(stem, {})[kind] = data

        idx_path = path + ".idx.json"
        if os.path.exists(idx_path):
            with open(idx_path) as fh:
                entries = json.load(fh)["entries"]
            with open(path, "rb") as fh:
                for e in entries:
                    name, off, size = e["name"], e["offset"], e["size"]
                    if name.rsplit(".", 1)[1] not in ("json", "txt") and not need_payload:
                        continue  # ranged read skips payload members
                    fh.seek(off)
                    put(name, fh.read(size))
        else:
            with tarfile.open(path, "r") as tf:
                for info in tf:
                    put(info.name, None,
                        lazy=lambda i=info, t=tf: t.extractfile(i).read())
        return _rows_from_members(int(os.path.basename(path)[6:-4]), members,
                                  names)

    return _map_manifest(spark, paths, schema, read_shard)
