"""Local replica of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at sf0.01, compares
row count, schema, and order-insensitive values (columns sorted by name, rows
sorted by all columns, exact equality).  Each ``ok`` line ends with a
sha256 prefix of the Spark rows (``digest``: dtypes plus the sorted exact
``repr`` of every row), so two checkouts compare by ``diff`` of two runs.
Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype in (np.int32, np.int16, np.int8, np.uint32):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == np.float32:
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """sha256 prefix of the canonical Spark rows: the column names and
    dtypes, then every row's exact ``repr`` (arrays as lists), sorted."""
    cols = sorted(df.columns)

    def cell(v):
        return repr(v.tolist() if isinstance(v, np.ndarray) else v)

    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr([(c, str(df[c].dtype)) for c in cols]).encode())
    h.update("\n".join(rows).encode())
    return h.hexdigest()[:16]


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(exp):
        problems.append(f"rowcount {len(got)} != {len(exp)}")
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
        return problems
    g, e = canon(got), canon(exp)
    if len(g) == len(e):
        for c in g.columns:
            gv, ev = g[c].to_numpy(), e[c].to_numpy()
            kinds = {gv.dtype.kind, ev.dtype.kind}
            if kinds & {"i", "u"} and "f" in kinds:
                # int64-vs-float64: numpy would upcast BOTH to float64 and lose
                # the low bits of 60-bit hashes (false green on e.g. simhash).
                # Python int==float compares exactly, so go through objects.
                # The driver's hash DOES distinguish the dtypes, so a local
                # green here would still be red on the board — surface it.
                problems.append(
                    f"DTYPE-WARN col {c}: spark {gv.dtype} vs oracle {ev.dtype} — "
                    "driver hash will mismatch; CAST the oracle (DuckDB HUGEINT?)"
                )
                gv = g[c].astype(object).to_numpy()
                ev = e[c].astype(object).to_numpy()
            eq = (gv == ev) | (pd.isna(gv) & pd.isna(ev))
            if not eq.all():
                i = int(np.nonzero(~eq)[0][0])
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: {gv[i]!r} != {ev[i]!r}"
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    sys.path.insert(0, ".")
    from sis_spark.queries import QUERIES
    from sis_spark.session import get_spark

    spark = get_spark("correctness", cores=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    for name, (fn, oracle_fn) in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        t1 = time.time()
        if oracle_fn is None:
            print(f"ok*  {name}: {len(got)} rows (rows-only, no oracle) "
                  f"spark={t1-t0:.1f}s digest={digest(got)}")
            continue
        try:
            exp = con.execute(oracle_fn()).fetch_df()
        except Exception as exc:
            print(f"FAIL {name}: oracle error {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        problems = compare(name, got, exp)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(got)} rows match  spark={t1-t0:.1f}s "
                  f"duck={time.time()-t1:.1f}s digest={digest(got)}")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else " — all green"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
