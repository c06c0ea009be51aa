"""Tar-shard store: round-trip fidelity, deterministic bytes, ranged reads.

The payload-byte invariants DuckDB cannot check (the gate `tar_shards`
verifies metadata/caption/shard assignment against the SQL oracle; these
tests verify the binary side and the storage-level column pruning).
"""

import glob
import hashlib
import json
import os

import pytest

from sis_spark.sources.images import images_table
from sis_spark.sources.tar_shards import read_tar_shards, write_tar_shards

N = 60
SHARDS = 4


def _write(spark, tmp_path, sub="a"):
    out = os.path.join(str(tmp_path), sub)
    img = images_table(spark, N, partitions=4)
    write_tar_shards(img, out, n_shards=SHARDS).collect()
    return out


def _rows(df):
    return {r["image_id"]: r.asDict() for r in df.collect()}


def test_round_trip_full(spark, tmp_path):
    out = _write(spark, tmp_path)
    orig = _rows(images_table(spark, N, partitions=4))
    back = _rows(read_tar_shards(spark, out))
    assert set(back) == set(orig)
    for iid, r in back.items():
        o = orig[iid]
        assert bytes(r["bytes"]) == bytes(o["bytes"])
        for c in ("w", "h", "fmt", "caption", "phash"):
            assert r[c] == o[c], (iid, c)
        assert r["lon"] == pytest.approx(o["lon"], abs=0)
        assert r["lat"] == pytest.approx(o["lat"], abs=0)


def test_many_shards_read_every_member_once(spark, tmp_path):
    """About 3 x defaultParallelism shards on a manifest capped at the core
    count: every sample comes back exactly once, with its written values."""
    n_shards = 3 * spark.sparkContext.defaultParallelism
    out = os.path.join(str(tmp_path), "many")
    img = images_table(spark, 4 * n_shards, partitions=4)
    write_tar_shards(img, out, n_shards=n_shards).collect()
    assert len(glob.glob(os.path.join(out, "shard-*.tar"))) == n_shards
    back = read_tar_shards(spark, out).collect()
    ids = [r["image_id"] for r in back]
    assert len(ids) == len(set(ids)) == 4 * n_shards
    orig = _rows(img)
    for r in back:
        o = orig[r["image_id"]]
        assert bytes(r["bytes"]) == bytes(o["bytes"])
        assert (r["caption"], r["w"], r["h"], r["phash"]) == (
            o["caption"], o["w"], o["h"], o["phash"])


def test_manifest_and_determinism(spark, tmp_path):
    out1 = _write(spark, tmp_path, "a")
    out2 = _write(spark, tmp_path, "b")
    for p1 in sorted(glob.glob(os.path.join(out1, "shard-*.tar"))):
        p2 = os.path.join(out2, os.path.basename(p1))
        h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()
        assert h(p1) == h(p2), "shard bytes must be write-order independent"


def test_ranged_read_skips_payload(spark, tmp_path):
    """A caption-only projection must not even READ the payload members:
    corrupt every payload byte range in place (via the index sidecar) and
    the pruned read still returns pristine metadata/captions."""
    out = _write(spark, tmp_path)
    full = _rows(read_tar_shards(spark, out))
    for tar in glob.glob(os.path.join(out, "shard-*.tar")):
        entries = json.load(open(tar + ".idx.json"))["entries"]
        with open(tar, "r+b") as fh:
            for e in entries:
                ext = e["name"].rsplit(".", 1)[1]
                if ext not in ("json", "txt") and e["size"]:
                    fh.seek(e["offset"])
                    fh.write(b"\xff" * e["size"])
    pruned = _rows(
        read_tar_shards(spark, out, columns=["image_id", "caption", "w", "shard"])
    )
    assert set(pruned) == set(full)
    for iid, r in pruned.items():
        assert set(r) == {"image_id", "caption", "w", "shard"}
        assert r["caption"] == full[iid]["caption"]
        assert r["w"] == full[iid]["w"]
        assert r["shard"] == full[iid]["shard"]


def test_fallback_without_index(spark, tmp_path):
    out = _write(spark, tmp_path)
    full = _rows(read_tar_shards(spark, out))
    for idx in glob.glob(os.path.join(out, "*.idx.json")):
        os.remove(idx)
    back = _rows(read_tar_shards(spark, out))
    assert set(back) == set(full)
    for iid in back:
        assert bytes(back[iid]["bytes"]) == bytes(full[iid]["bytes"])
        assert back[iid]["caption"] == full[iid]["caption"]


def test_explicit_shard_column_and_errors(spark, tmp_path):
    out = os.path.join(str(tmp_path), "ex")
    img = images_table(spark, 12, partitions=2)
    from pyspark.sql import functions as F

    man = write_tar_shards(
        img.withColumn("shard", (F.substring("image_id", 5, 12).cast("long") % 3)),
        out,
    ).collect()
    assert sorted(m["shard"] for m in man) == [0, 1, 2]
    assert all(m["samples"] == 4 for m in man)
    with pytest.raises(ValueError):
        write_tar_shards(img, out)  # no shard column and no n_shards
    with pytest.raises(ValueError):
        read_tar_shards(spark, out, columns=["nope"])


def test_reserved_payload_fmt_rejected(spark, tmp_path):
    """fmt='txt'/'json' would duplicate the caption/metadata member names —
    the writer must refuse instead of silently corrupting name resolution."""
    import pandas as pd
    import pytest
    from pyspark.errors import PySparkException

    from sis_spark.sources.tar_shards import write_tar_shards

    df = spark.createDataFrame(
        pd.DataFrame({
            "image_id": ["a"], "bytes": [b"x"], "fmt": ["txt"],
            "caption": ["c"], "shard": [0],
        }),
        "image_id string, bytes binary, fmt string, caption string, shard int",
    )
    with pytest.raises(PySparkException, match="reserved members"):
        write_tar_shards(df, str(tmp_path / "t"), shard_col="shard").collect()
