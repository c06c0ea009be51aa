"""The engine's one per-row Arrow loop (functions/udfs._map_rows) and the
reader core on it (_map_manifest), driven directly on pandas batches: the
mapInPandas function each builds is captured from a stand-in frame, so no
Spark job runs."""

from __future__ import annotations

import numpy as np
import pandas as pd

from sis_spark.functions.udfs import _concat, _map_manifest, _map_rows


class _Capture:
    """Stands in for a DataFrame: returns the function handed to mapInPandas."""

    def mapInPandas(self, fn, schema):
        return fn

    def repartition(self, n):
        return self


class _Spark:
    """Stands in for a SparkSession: its manifest frame is a _Capture."""

    class sparkContext:
        defaultParallelism = 2

    def createDataFrame(self, pdf):
        return _Capture()


def _run(batches, payloads, decode, body):
    return list(_map_rows(_Capture(), "unused", payloads, decode, body)(iter(batches)))


def test_empty_batch_yields_no_frame():
    empty = pd.DataFrame({"k": np.array([], np.int64), "p": []})
    assert _run([empty], ["p"], None, lambda row, p: {"k": row["k"]}) == []


def test_decode_none_and_body_none_skip_the_row():
    batch = pd.DataFrame({"k": [0, 1, 2, 3], "p": [b"a", b"b", b"c", b"d"]})
    (out,) = _run(
        [batch], ["p"],
        lambda row, p: None if row["k"] == 1 else (p.decode(),),
        lambda row, s: None if row["k"] == 2 else {"k": row["k"], "s": s},
    )
    assert out.to_dict("list") == {"k": [0, 3], "s": ["a", "d"]}
    # a batch whose rows all skip yields nothing
    assert _run([batch], ["p"], lambda row, p: None, lambda row: {"k": 0}) == []


def test_scalars_repeat_next_to_array_columns():
    batch = pd.DataFrame({"k": [7, 8], "n": [3, 0]})
    (out,) = _run([batch], [], None,
                  lambda row: {"k": row["k"], "i": np.arange(row["n"])})
    # row 8 expands to zero rows; row 7's scalar repeats per element
    assert out.to_dict("list") == {"k": [7, 7, 7], "i": [0, 1, 2]}


def test_payload_only_batch_reaches_the_body():
    batch = pd.DataFrame({"p": [b"xy", b"z"]})
    (out,) = _run([batch], ["p"], None, lambda row, p: {"n": len(p)})
    assert out["n"].tolist() == [2, 1]


def test_numpy_parts_concatenate_and_a_list_part_flattens():
    a = _concat([np.array([1, 2], np.int64), np.array([], np.int64),
                 np.array([3], np.int64)])
    assert isinstance(a, np.ndarray) and a.dtype == np.int64
    assert a.tolist() == [1, 2, 3]
    b = _concat([np.array([1], np.int64), [2, 3]])
    assert isinstance(b, list) and b == [1, 2, 3]
    assert all(type(x) is int for x in b)

    batch = pd.DataFrame({"k": [1, 2]})
    (out,) = _run([batch], [], None,
                  lambda row: {"v": np.full(2, row["k"], np.int64)})
    assert out["v"].dtype == np.int64 and out["v"].tolist() == [1, 1, 2, 2]
    (out,) = _run([batch], [], None,
                  lambda row: {"v": np.full(2, row["k"], np.int64)
                               if row["k"] == 1 else [5]})
    assert out["v"].dtype == np.int64 and out["v"].tolist() == [1, 1, 5]


def test_manifest_yields_one_frame_per_unit():
    """A partition of many manifest rows streams: each unit of I/O is its
    own frame, so a task never holds more than one unit's output."""
    manifest = pd.DataFrame({"start": [0, 3, 6, 9]})
    fn = _map_manifest(_Spark(), manifest, "unused",
                       lambda row: None if row["start"] == 3 else
                       {"i": np.arange(row["start"], row["start"] + 3)})
    frames = list(fn(iter([manifest])))
    assert [f["i"].tolist() for f in frames] == [[0, 1, 2], [6, 7, 8], [9, 10, 11]]
