"""Moving-feature trajectory operators over the MF-CSV fragmented shape
(sources/mf_csv.py): position-at-time sampling, per-segment length and
mean speed.

The reference stores trajectories but ships no sampling operator (the
`DefaultEvaluator` analog exists only for rasters); OGC 14-084r2 defines
the linear foliation these operators implement: within one CSV line's
segment the N trajectory vertices are uniformly spaced in time over
[startTime, endTime], and positions between vertices interpolate
linearly.  All math is whole-stage-codegen Column expressions — the only
shuffle in ``position_at`` is the per-feature top-1 segment pick, and
``segment_metrics`` is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-edge planar lengths are quantized to int64 (floor(len * 1e9 + 0.5))
# before summing: integer sums are order-independent, so the distributed
# sum matches a sequential oracle bit-exactly (NOTES bit-exactness rule 4).
_LEN_SCALE = 1e9


def _n_points(traj="trajectory"):
    return F.expr(f"size({traj}) / 2").cast("int")


def _us(c):
    # unix_micros only accepts TIMESTAMP; MF times are TIMESTAMP_NTZ.  The
    # session timezone is pinned to UTC (session.py), so the ntz->ltz cast
    # is the identity on the underlying microsecond value.
    return F.unix_micros(c.cast("timestamp"))


def position_at(df: DataFrame, t, keys=("path", "mfidref")) -> DataFrame:
    """Sample each moving feature's position at timestamp ``t``.

    Picks the covering segment (latest start_time <= t with end_time >= t),
    maps ``t`` to the vertex parameter u = frac * (n-1), and interpolates
    between the two bounding vertices.  Features with no segment covering
    ``t`` drop out (the evaluator's nullIfOutside analog).
    """
    from pyspark.sql import Column

    t = t if isinstance(t, Column) else F.lit(t)
    # MF-CSV times are timestamp_ntz; align the probe type so a plain
    # datetime literal (TIMESTAMP_LTZ) doesn't trip strict ntz comparison
    t = t.cast(df.schema["start_time"].dataType)
    cand = df.filter((F.col("start_time") <= t) & (F.col("end_time") >= t))
    w = Window.partitionBy(*keys).orderBy(
        F.col("start_time").desc(), F.col("line_id").desc()
    )
    cand = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)

    n = _n_points()
    frac = (
        (_us(t) - _us(F.col("start_time"))).cast("double")
        / (_us(F.col("end_time")) - _us(F.col("start_time"))).cast("double")
    )
    u = frac * (n - F.lit(1)).cast("double")
    k = F.least(F.floor(u).cast("int"), n - F.lit(2))
    lf = u - k.cast("double")
    xk = F.element_at("trajectory", k * 2 + 1)
    yk = F.element_at("trajectory", k * 2 + 2)
    xk1 = F.element_at("trajectory", k * 2 + 3)
    yk1 = F.element_at("trajectory", k * 2 + 4)
    return cand.select(
        *keys,
        F.col("start_time").alias("seg_start"),
        (xk + lf * (xk1 - xk)).alias("x"),
        (yk + lf * (yk1 - yk)).alias("y"),
    )


def segment_metrics(df: DataFrame) -> DataFrame:
    """Per segment row: quantized planar length (int64, exact in any
    evaluation order) and mean speed in units/second derived from it."""
    edge_len_q = F.expr(
        f"""aggregate(
  sequence(0, cast(size(trajectory) / 2 as int) - 2),
  cast(0 as bigint),
  (acc, j) -> acc + cast(floor(sqrt(
      (trajectory[2*j+2] - trajectory[2*j]) * (trajectory[2*j+2] - trajectory[2*j])
    + (trajectory[2*j+3] - trajectory[2*j+1]) * (trajectory[2*j+3] - trajectory[2*j+1])
  ) * {_LEN_SCALE:.0e} + 5e-1) as bigint))"""
    )
    dur_s = (
        (_us(F.col("end_time")) - _us(F.col("start_time")))
        .cast("double") / F.lit(1e6)
    )
    return df.select(
        "path", "line_id", "mfidref", "start_time", "end_time",
        _n_points().alias("n_points"),
        edge_len_q.alias("len_q"),
        ((edge_len_q.cast("double") / F.lit(_LEN_SCALE)) / dur_s).alias("speed"),
    )


# ---------------------------------------------------------------- stay points
# Stay-point detection (the classic anchor-radius walk of Li et al. 2008,
# "Mining user similarity based on location history" — public knowledge):
# within each entity's time-ordered track, a new point stays in the current
# group while its squared planar distance to the group's ANCHOR (the group's
# first point) is <= d^2; leaving the radius starts a new anchor.  Groups
# spanning >= min_duration become stay points.
#
# Scale shape: one applyInPandas group per entity (the recurrence is
# inherently sequential per track, like textops.pack_greedy) — entities
# parallelize, tracks stream.  The DuckDB oracle replays the anchor
# recurrence as a RECURSIVE CTE stepping row-rank by row-rank, with the
# IDENTICAL FP distance expression, so the gate is hash-exact; centroids
# are 1e7-quantized integer floor-divided means (order-independent).


def stay_points(
    df: DataFrame,
    dist_deg: float,
    min_duration_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """(user, anchor_rn, n_pts, t0_us, t1_us, qlon, qlat) per stay.

    Input columns: user, id, ts, lon, lat.  Distance rule and centroid
    arithmetic are bit-replicable in SQL (see stay_points_sql)."""
    import numpy as np
    import pandas as pd

    d2 = dist_deg * dist_deg

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        lon = pdf["lon"].to_numpy(dtype=np.float64)
        lat = pdf["lat"].to_numpy(dtype=np.float64)
        # epoch micros regardless of the Arrow batch's datetime unit
        us = pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
        qlon = np.floor(lon * 1.0e7).astype(np.int64)
        qlat = np.floor(lat * 1.0e7).astype(np.int64)
        anchor = np.zeros(len(pdf), dtype=np.int64)
        a = 0
        for k in range(len(pdf)):
            dlon = lon[k] - lon[a]
            dlat = lat[k] - lat[a]
            if dlon * dlon + dlat * dlat <= d2:
                anchor[k] = a
            else:
                a = k
                anchor[k] = a
        out = []
        uid = pdf[user_col].iloc[0]
        for g in np.unique(anchor):
            sel = anchor == g
            t0, t1 = int(us[sel].min()), int(us[sel].max())
            if t1 - t0 < min_duration_s * 1_000_000:
                continue
            n = int(sel.sum())
            out.append(
                {
                    user_col: uid,
                    "anchor_rn": int(g) + 1,  # 1-based, matches SQL row_number
                    "n_pts": n,
                    "t0_us": t0,
                    "t1_us": t1,
                    "qlon": int(np.floor_divide(qlon[sel].sum(), n)),
                    "qlat": int(np.floor_divide(qlat[sel].sum(), n)),
                }
            )
        cols = [user_col, "anchor_rn", "n_pts", "t0_us", "t1_us", "qlon", "qlat"]
        return pd.DataFrame(out, columns=cols)

    schema = (
        f"{user_col} long, anchor_rn long, n_pts long, "
        "t0_us long, t1_us long, qlon long, qlat long"
    )
    return df.groupBy(user_col).applyInPandas(fn, schema=schema)


def stay_points_sql(
    base_select: str,
    dist_sql: str,
    min_duration_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB replay: rank rows per user, step the anchor recurrence one
    rank per recursion round (all users advance in lockstep), then group by
    (user, anchor) with the quantized-centroid arithmetic."""
    d2 = f"(({dist_sql}) * ({dist_sql}))"
    return f"""
WITH RECURSIVE pts AS (
  SELECT {user_col}, {id_col}, epoch_us({ts_col}) AS us, lon, lat,
         CAST(row_number() OVER (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col}) AS BIGINT) AS rn
  FROM ({base_select}) b
),
rec AS (
  SELECT {user_col}, rn, lon AS alon, lat AS alat, rn AS anchor_rn
  FROM pts WHERE rn = 1
  UNION ALL
  SELECT p.{user_col}, p.rn,
         CASE WHEN (p.lon - r.alon) * (p.lon - r.alon)
                 + (p.lat - r.alat) * (p.lat - r.alat) <= {d2}
              THEN r.alon ELSE p.lon END,
         CASE WHEN (p.lon - r.alon) * (p.lon - r.alon)
                 + (p.lat - r.alat) * (p.lat - r.alat) <= {d2}
              THEN r.alat ELSE p.lat END,
         CASE WHEN (p.lon - r.alon) * (p.lon - r.alon)
                 + (p.lat - r.alat) * (p.lat - r.alat) <= {d2}
              THEN r.anchor_rn ELSE p.rn END
  FROM rec r JOIN pts p ON p.{user_col} = r.{user_col} AND p.rn = r.rn + 1
),
grouped AS (
  SELECT p.{user_col}, r.anchor_rn,
         CAST(count(*) AS BIGINT) AS n_pts,
         min(p.us) AS t0_us, max(p.us) AS t1_us,
         CAST(sum(CAST(floor(p.lon * 1.0e7) AS BIGINT)) AS BIGINT) AS slon,
         CAST(sum(CAST(floor(p.lat * 1.0e7) AS BIGINT)) AS BIGINT) AS slat
  FROM rec r JOIN pts p ON p.{user_col} = r.{user_col} AND p.rn = r.rn
  GROUP BY 1, 2
)
SELECT {user_col}, anchor_rn, n_pts, t0_us, t1_us,
       (slon - (((slon % n_pts) + n_pts) % n_pts)) // n_pts AS qlon,
       (slat - (((slat % n_pts) + n_pts) % n_pts)) // n_pts AS qlat
FROM grouped
WHERE t1_us - t0_us >= {min_duration_s}::BIGINT * 1000000
"""


# ---------------------------------------------------------------------------
# HMM map-matching (Viterbi over per-point candidate road segments)
# ---------------------------------------------------------------------------
#
# Newson–Krumm-style map matching reduced to its exact-integer core: each
# track point carries a small ranked candidate set (candidate generation is
# a separate, pluggable join — nearest_line_join for real road tables, or a
# closed-form network as in the gate), with an integer emission cost per
# candidate; the transition model charges a flat integer penalty ``lam``
# whenever the matched segment CHANGES between consecutive points (the
# continuity prior).  dp[t][c] = emit[t][c] + min over c' of
# (dp[t-1][c'] + lam * [seg(c') != seg(c)]) — every value is an exact
# int64, so a lockstep recursive-CTE oracle replays the full DP table.
#
# Same execution shape as stay_points: ONE applyInPandas group per user
# (the recurrence is sequential in t; users parallelize), no driver state.


def viterbi_forward(
    cands: DataFrame,
    lam: int,
    user_col: str = "user_id",
) -> DataFrame:
    """Forward Viterbi DP over candidate rows
    (user, rn, rank, seg_key, emit) -> (user, rn, rank, seg_key, dp).

    ``rn`` is the 1-based time order within a user's track; ``rank`` the
    0-based candidate index at that point; ``emit`` an integer emission
    cost.  Candidate counts may vary per point."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rn", "rank"], kind="mergesort")
        out_dp = np.zeros(len(pdf), dtype=np.int64)
        rns = pdf["rn"].to_numpy()
        emits = pdf["emit"].to_numpy(dtype=np.int64)
        keys = pdf["seg_key"].to_numpy(dtype=np.int64)
        prev_dp = None
        prev_keys = None
        pos = 0
        for rn in np.unique(rns):
            sel = rns == rn
            n = int(sel.sum())
            e = emits[pos:pos + n]
            k = keys[pos:pos + n]
            if prev_dp is None:
                dp = e.copy()
            else:
                # trans[c] = min over c' of prev_dp[c'] + lam*[key differs]
                same = k[:, None] == prev_keys[None, :]
                tcost = prev_dp[None, :] + np.where(same, 0, lam)
                dp = e + tcost.min(axis=1)
            out_dp[pos:pos + n] = dp
            prev_dp, prev_keys = dp, k
            pos += n
        res = pdf[[user_col, "rn", "rank", "seg_key"]].copy()
        res["dp"] = out_dp
        return res

    schema = f"{user_col} long, rn long, rank long, seg_key long, dp long"
    return cands.groupBy(user_col).applyInPandas(fn, schema=schema)


def viterbi_path(
    cands: DataFrame,
    lam: int,
    user_col: str = "user_id",
) -> DataFrame:
    """Full Viterbi decode: the minimum-total-cost candidate sequence per
    user -> (user, rn, rank, seg_key, emit, total_cost).  Ties broken by
    smallest (cost, seg_key) at the end point and smallest (cost, rank)
    for predecessors — fully deterministic."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rn", "rank"], kind="mergesort")
        rns = pdf["rn"].to_numpy()
        emits = pdf["emit"].to_numpy(dtype=np.int64)
        keys = pdf["seg_key"].to_numpy(dtype=np.int64)
        ranks = pdf["rank"].to_numpy(dtype=np.int64)
        steps = []  # (global_idx, dp, parent_local_idx)
        prev_dp = None
        prev_keys = None
        pos = 0
        uniq = np.unique(rns)
        for rn in uniq:
            n = int((rns == rn).sum())
            e = emits[pos:pos + n]
            k = keys[pos:pos + n]
            if prev_dp is None:
                dp = e.copy()
                par = np.full(n, -1, dtype=np.int64)
            else:
                same = k[:, None] == prev_keys[None, :]
                tcost = prev_dp[None, :] + np.where(same, 0, lam)
                par = tcost.argmin(axis=1)  # first min: smallest rank wins
                dp = e + tcost[np.arange(n), par]
            steps.append((pos, dp, par))
            prev_dp, prev_keys = dp, k
            pos += n
        # end point: smallest (dp, seg_key)
        pos_l, dp_l, _ = steps[-1]
        order = np.lexsort((keys[pos_l:pos_l + len(dp_l)], dp_l))
        cur = int(order[0])
        total = int(dp_l[cur])
        chosen = []
        for (p0, dp, par) in reversed(steps):
            chosen.append(p0 + cur)
            cur = int(par[cur])
        chosen.reverse()
        idx = np.array(chosen)
        res = pdf.iloc[idx][[user_col, "rn", "rank", "seg_key", "emit"]].copy()
        res["total_cost"] = total
        return res

    schema = (
        f"{user_col} long, rn long, rank long, seg_key long, emit long, "
        "total_cost long"
    )
    return cands.groupBy(user_col).applyInPandas(fn, schema=schema)


# ---------------------------------------------------------- discrete Fréchet
# Trajectory similarity join: the discrete Fréchet distance (Eiter/Mannila
# 1994, public literature) between integer-quantized polylines.  Costs are
# squared euclidean int64, so the whole DP is exact integer min/max algebra —
# both the numpy engine and the DuckDB oracle produce the identical scalar.
# The DP runs by ANTI-DIAGONAL: diag k depends only on diags k-1 and k-2,
# which makes it (a) a vectorized numpy sweep engine-side and (b) a lockstep
# recursive CTE carrying two LIST columns oracle-side (every pair advances
# one diagonal per round — the stay_points/viterbi lockstep pattern).

_I64_MAX = 9223372036854775807


def frechet2_dense(ax, ay, bx, by) -> int:
    """Single-node reference: squared discrete Fréchet distance by the
    textbook O(na*nb) cell recurrence (used by tests as the brute check)."""
    na, nb = len(ax), len(bx)
    f = [[0] * nb for _ in range(na)]
    for i in range(na):
        for j in range(nb):
            c = (ax[i] - bx[j]) ** 2 + (ay[i] - by[j]) ** 2
            if i == 0 and j == 0:
                f[i][j] = c
            else:
                best = _I64_MAX
                if i > 0:
                    best = min(best, f[i - 1][j])
                if j > 0:
                    best = min(best, f[i][j - 1])
                if i > 0 and j > 0:
                    best = min(best, f[i - 1][j - 1])
                f[i][j] = max(c, best)
    return f[na - 1][nb - 1]


def _frechet2_diag(ax, ay, bx, by) -> int:
    """Anti-diagonal vectorized DP — O(na+nb) numpy ops, no Python cell loop."""
    import numpy as np

    ax = np.asarray(ax, np.int64)
    ay = np.asarray(ay, np.int64)
    bx = np.asarray(bx, np.int64)
    by = np.asarray(by, np.int64)
    na, nb = len(ax), len(bx)
    d1 = d2 = None
    lo1 = lo2 = 0
    for k in range(na + nb - 1):
        lo = max(0, k - nb + 1)
        hi = min(k, na - 1)
        i = np.arange(lo, hi + 1)
        j = k - i
        c = (ax[i] - bx[j]) ** 2 + (ay[i] - by[j]) ** 2
        if k == 0:
            cur = c
        else:
            def pick(diag, dlo, ii):
                idx = ii - dlo
                ok = (idx >= 0) & (idx < len(diag))
                return np.where(ok, diag[np.clip(idx, 0, len(diag) - 1)], _I64_MAX)

            p1 = np.where(i >= 1, pick(d1, lo1, i - 1), _I64_MAX)
            p2 = np.where(j >= 1, pick(d1, lo1, i), _I64_MAX)
            if d2 is not None:
                p3 = np.where((i >= 1) & (j >= 1), pick(d2, lo2, i - 1), _I64_MAX)
            else:
                p3 = np.full_like(c, _I64_MAX)
            cur = np.maximum(c, np.minimum(np.minimum(p1, p2), p3))
        d2, lo2 = d1, lo1
        d1, lo1 = cur, lo
    return int(d1[0])


def frechet_join(
    points: DataFrame,
    pairs: DataFrame,
    key_col: str = "path",
    order_col: str = "seq",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Squared discrete Fréchet distance for every (a, b) pair ->
    (a, b, na, nb, frech2).

    ``points``: (key, order, x, y) integer-quantized vertices;
    ``pairs``: (a, b) key pairs to score (the candidate set — produced by a
    bucketed prefilter at scale, e.g. cell-signature equi-join; scoring all
    pairs is the caller's explicit choice, never implicit).

    Scale shape: two equi-joins replicate each track's vertices once per
    pair it participates in (bounded fan-out), then ONE applyInPandas group
    per pair runs the O(na+nb) diagonal sweep — no driver participation,
    state linear in track length."""
    import pandas as pd

    pts = points.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    pa = pairs.join(pts, pts["k"] == pairs["a"]).select(
        "a", "b", F.lit(0).alias("side"), "o", "x", "y"
    )
    pb = pairs.join(pts, pts["k"] == pairs["b"]).select(
        "a", "b", F.lit(1).alias("side"), "o", "x", "y"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["side", "o"], kind="mergesort")
        am = pdf[pdf["side"] == 0]
        bm = pdf[pdf["side"] == 1]
        f2 = _frechet2_diag(
            am["x"].to_numpy(), am["y"].to_numpy(),
            bm["x"].to_numpy(), bm["y"].to_numpy(),
        )
        return pd.DataFrame(
            [{
                "a": pdf["a"].iloc[0], "b": pdf["b"].iloc[0],
                "na": len(am), "nb": len(bm), "frech2": f2,
            }]
        )

    return (
        pa.union(pb)
        .groupBy("a", "b")
        .applyInPandas(fn, schema="a long, b long, na long, nb long, frech2 long")
    )


def frechet_join_sql(
    points_select: str,
    pairs_select: str,
) -> str:
    """DuckDB oracle for ``frechet_join``: the identical anti-diagonal DP as
    a lockstep recursive CTE — state per pair is (k, two diagonal LISTs);
    every pair advances one diagonal per round; invalid predecessors are an
    int64-max sentinel inside least().

    ``points_select`` -> (k, o, x, y); ``pairs_select`` -> (a, b)."""
    c_expr = (
        "(ax[i + 1] - bx[k + 2 - i]) * (ax[i + 1] - bx[k + 2 - i])"
        " + (ay[i + 1] - by[k + 2 - i]) * (ay[i + 1] - by[k + 2 - i])"
    )
    # in the lambda below: j = (st.k + 1) - i; lo_k = greatest(0, st.k-nb+1),
    # lo_{k-1} = greatest(0, st.k - nb); predecessor positions are 1-based.
    p1 = (
        "CASE WHEN i >= 1 THEN d1[i - greatest(0, k - nb + 1)] "
        f"ELSE {_I64_MAX} END"
    )
    p2 = (
        "CASE WHEN k + 1 - i >= 1 THEN d1[i + 1 - greatest(0, k - nb + 1)] "
        f"ELSE {_I64_MAX} END"
    )
    p3 = (
        "CASE WHEN i >= 1 AND k + 1 - i >= 1 "
        "THEN d2[i - greatest(0, k - nb)] "
        f"ELSE {_I64_MAX} END"
    )
    step = (
        f"greatest({c_expr.replace('k + 2 - i', 'k + 2 - i')},"
        f" least({p1}, {p2}, {p3}))"
    )
    return f"""
WITH RECURSIVE pts AS ({points_select}),
prs AS ({pairs_select}),
tracks AS (
  SELECT k AS tk, list(x ORDER BY o) AS xs, list(y ORDER BY o) AS ys,
         CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1),
init AS (
  SELECT prs.a, prs.b, ta.xs AS ax, ta.ys AS ay, tb.xs AS bx, tb.ys AS by,
         ta.n AS na, tb.n AS nb
  FROM prs JOIN tracks ta ON ta.tk = prs.a JOIN tracks tb ON tb.tk = prs.b),
st(a, b, ax, ay, bx, by, na, nb, k, d1, d2) AS (
  SELECT a, b, ax, ay, bx, by, na, nb, 0,
         [(ax[1] - bx[1]) * (ax[1] - bx[1])
          + (ay[1] - by[1]) * (ay[1] - by[1])],
         CAST([] AS BIGINT[])
  FROM init
  UNION ALL
  SELECT a, b, ax, ay, bx, by, na, nb, k + 1,
         list_transform(
           range(greatest(0, k + 2 - nb), least(k + 1, na - 1) + 1),
           i -> {step}),
         d1
  FROM st WHERE k + 1 <= na + nb - 2),
fin AS (SELECT a, b, na, nb, d1[1] AS frech2 FROM st WHERE k = na + nb - 2)
SELECT a, b, na, nb, CAST(frech2 AS BIGINT) AS frech2 FROM fin"""


# ----------------------------------------------------------------- DTW
# Dynamic time warping — the Fréchet DP with SUM in place of MAX
# (Sakoe/Chiba 1978, public literature).  Same anti-diagonal sweep, same
# lockstep-diagonal oracle; costs stay int64 (path length * max cost bounds
# the sum well under 2^63 for quantized tracks).


def dtw2_dense(ax, ay, bx, by) -> int:
    """Single-node reference: DTW with squared-euclidean costs."""
    na, nb = len(ax), len(bx)
    f = [[0] * nb for _ in range(na)]
    for i in range(na):
        for j in range(nb):
            c = (ax[i] - bx[j]) ** 2 + (ay[i] - by[j]) ** 2
            if i == 0 and j == 0:
                f[i][j] = c
            else:
                best = _I64_MAX
                if i > 0:
                    best = min(best, f[i - 1][j])
                if j > 0:
                    best = min(best, f[i][j - 1])
                if i > 0 and j > 0:
                    best = min(best, f[i - 1][j - 1])
                f[i][j] = c + best
    return f[na - 1][nb - 1]


def _dtw2_diag(ax, ay, bx, by) -> int:
    """Anti-diagonal vectorized DTW (mirrors _frechet2_diag)."""
    import numpy as np

    ax = np.asarray(ax, np.int64)
    ay = np.asarray(ay, np.int64)
    bx = np.asarray(bx, np.int64)
    by = np.asarray(by, np.int64)
    na, nb = len(ax), len(bx)
    d1 = d2 = None
    lo1 = lo2 = 0
    for k in range(na + nb - 1):
        lo = max(0, k - nb + 1)
        hi = min(k, na - 1)
        i = np.arange(lo, hi + 1)
        j = k - i
        c = (ax[i] - bx[j]) ** 2 + (ay[i] - by[j]) ** 2
        if k == 0:
            cur = c
        else:
            def pick(diag, dlo, ii):
                idx = ii - dlo
                ok = (idx >= 0) & (idx < len(diag))
                return np.where(ok, diag[np.clip(idx, 0, len(diag) - 1)], _I64_MAX)

            p1 = np.where(i >= 1, pick(d1, lo1, i - 1), _I64_MAX)
            p2 = np.where(j >= 1, pick(d1, lo1, i), _I64_MAX)
            if d2 is not None:
                p3 = np.where((i >= 1) & (j >= 1), pick(d2, lo2, i - 1), _I64_MAX)
            else:
                p3 = np.full_like(c, _I64_MAX)
            cur = c + np.minimum(np.minimum(p1, p2), p3)
        d2, lo2 = d1, lo1
        d1, lo1 = cur, lo
    return int(d1[0])


def dtw_join(
    points: DataFrame,
    pairs: DataFrame,
    key_col: str = "path",
    order_col: str = "seq",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """DTW distance (squared-cost sum) for every (a, b) pair ->
    (a, b, na, nb, dtw2).  Same plan shape as ``frechet_join``."""
    import pandas as pd

    pts = points.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    pa = pairs.join(pts, pts["k"] == pairs["a"]).select(
        "a", "b", F.lit(0).alias("side"), "o", "x", "y"
    )
    pb = pairs.join(pts, pts["k"] == pairs["b"]).select(
        "a", "b", F.lit(1).alias("side"), "o", "x", "y"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["side", "o"], kind="mergesort")
        am = pdf[pdf["side"] == 0]
        bm = pdf[pdf["side"] == 1]
        v = _dtw2_diag(
            am["x"].to_numpy(), am["y"].to_numpy(),
            bm["x"].to_numpy(), bm["y"].to_numpy(),
        )
        return pd.DataFrame(
            [{
                "a": pdf["a"].iloc[0], "b": pdf["b"].iloc[0],
                "na": len(am), "nb": len(bm), "dtw2": v,
            }]
        )

    return (
        pa.union(pb)
        .groupBy("a", "b")
        .applyInPandas(fn, schema="a long, b long, na long, nb long, dtw2 long")
    )


def dtw_join_sql(points_select: str, pairs_select: str) -> str:
    """DuckDB oracle for ``dtw_join`` — frechet_join_sql with the max
    replaced by addition."""
    c_expr = (
        "(axs[i + 1] - bxs[k + 2 - i]) * (axs[i + 1] - bxs[k + 2 - i])"
        " + (ays[i + 1] - bys[k + 2 - i]) * (ays[i + 1] - bys[k + 2 - i])"
    )
    p1 = (
        "CASE WHEN i >= 1 THEN d1[i - greatest(0, k - nb + 1)] "
        f"ELSE {_I64_MAX} END"
    )
    p2 = (
        "CASE WHEN k + 1 - i >= 1 THEN d1[i + 1 - greatest(0, k - nb + 1)] "
        f"ELSE {_I64_MAX} END"
    )
    p3 = (
        "CASE WHEN i >= 1 AND k + 1 - i >= 1 "
        "THEN d2[i - greatest(0, k - nb)] "
        f"ELSE {_I64_MAX} END"
    )
    step = f"{c_expr} + least({p1}, {p2}, {p3})"
    return f"""
WITH RECURSIVE pts AS ({points_select}),
prs AS ({pairs_select}),
tracks AS (
  SELECT k AS tk, list(x ORDER BY o) AS xs, list(y ORDER BY o) AS ys,
         CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1),
init AS (
  SELECT prs.a, prs.b, ta.xs AS axs, ta.ys AS ays,
         tb.xs AS bxs, tb.ys AS bys, ta.n AS na, tb.n AS nb
  FROM prs JOIN tracks ta ON ta.tk = prs.a JOIN tracks tb ON tb.tk = prs.b),
st(a, b, axs, ays, bxs, bys, na, nb, k, d1, d2) AS (
  SELECT a, b, axs, ays, bxs, bys, na, nb, 0,
         [(axs[1] - bxs[1]) * (axs[1] - bxs[1])
          + (ays[1] - bys[1]) * (ays[1] - bys[1])],
         CAST([] AS BIGINT[])
  FROM init
  UNION ALL
  SELECT a, b, axs, ays, bxs, bys, na, nb, k + 1,
         list_transform(
           range(greatest(0, k + 2 - nb), least(k + 1, na - 1) + 1),
           i -> {step}),
         d1
  FROM st WHERE k + 1 <= na + nb - 2),
fin AS (SELECT a, b, na, nb, d1[1] AS dtw2 FROM st WHERE k = na + nb - 2)
SELECT a, b, na, nb, CAST(dtw2 AS BIGINT) AS dtw2 FROM fin"""


# -------------------------------------------------------------- Hausdorff
# Directed/symmetric Hausdorff distance between point sets: max over a of
# min over b of d^2 — pure integer max/min algebra, no DP, so both engines
# express it as a join + two aggregations.


def hausdorff_join(
    points: DataFrame,
    pairs: DataFrame,
    key_col: str = "path",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Symmetric squared Hausdorff distance per (a, b) pair ->
    (a, b, h_ab, h_ba, haus2) with haus2 = max(h_ab, h_ba).

    Scale shape: the per-pair cross product is bounded by the track-length
    cap; one equi-join on the pair key then two keyed aggregations — all
    codegen, no Python."""
    pts = points.select(
        F.col(key_col).alias("k"), F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    pa = pairs.join(pts, pts["k"] == pairs["a"]).select(
        "a", "b", F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    pb = pairs.join(pts, pts["k"] == pairs["b"]).select(
        F.col("a").alias("a2"), F.col("b").alias("b2"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    cross = pa.join(
        pb, (F.col("a") == F.col("a2")) & (F.col("b") == F.col("b2"))
    ).select(
        "a", "b", "ax", "ay", "bx", "by",
        (
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
        ).alias("d2"),
    )
    fwd = (
        cross.groupBy("a", "b", "ax", "ay")
        .agg(F.min("d2").alias("md"))
        .groupBy("a", "b")
        .agg(F.max("md").alias("h_ab"))
    )
    bwd = (
        cross.groupBy("a", "b", "bx", "by")
        .agg(F.min("d2").alias("md"))
        .groupBy("a", "b")
        .agg(F.max("md").alias("h_ba"))
    )
    return fwd.join(bwd, ["a", "b"]).select(
        "a", "b", "h_ab", "h_ba",
        F.greatest("h_ab", "h_ba").alias("haus2"),
    )


def hausdorff_join_sql(points_select: str, pairs_select: str) -> str:
    """DuckDB replay of ``hausdorff_join``."""
    return f"""
WITH pts AS ({points_select}),
prs AS ({pairs_select}),
cross_d AS (
  SELECT prs.a, prs.b, pa.x AS ax, pa.y AS ay, pb.x AS bx, pb.y AS by,
         (pa.x - pb.x) * (pa.x - pb.x)
         + (pa.y - pb.y) * (pa.y - pb.y) AS d2
  FROM prs JOIN pts pa ON pa.k = prs.a JOIN pts pb ON pb.k = prs.b),
fwd AS (
  SELECT a, b, CAST(max(md) AS BIGINT) AS h_ab FROM (
    SELECT a, b, ax, ay, min(d2) AS md FROM cross_d GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2),
bwd AS (
  SELECT a, b, CAST(max(md) AS BIGINT) AS h_ba FROM (
    SELECT a, b, bx, by, min(d2) AS md FROM cross_d GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2)
SELECT fwd.a, fwd.b, h_ab, h_ba, greatest(h_ab, h_ba) AS haus2
FROM fwd JOIN bwd ON bwd.a = fwd.a AND bwd.b = fwd.b"""


# ------------------------------------------------- Visvalingam simplification
# Visvalingam/Whyatt 1993 (public literature): repeatedly drop the interior
# vertex with the smallest effective area until <= target vertices remain.
# With integer-quantized coordinates the doubled triangle area is an exact
# int64 cross product, so pick-order is deterministic (ties -> smallest
# position) and the whole reduction is replayable as an event-loop recursive
# CTE (the isotonic pattern: every key removes ONE vertex per round, keys
# drop out when they reach their target).  This is the query-level
# linear-resolution / level-of-detail hint (S/FeatureQuery.java:437) applied
# to polyline attributes.


def _vw_area2(xs, ys, i) -> int:
    return abs(
        (xs[i] - xs[i - 1]) * (ys[i + 1] - ys[i - 1])
        - (ys[i] - ys[i - 1]) * (xs[i + 1] - xs[i - 1])
    )


def simplify_vw_dense(os_, xs, ys, target):
    """Single-node reference: lists in, kept (o, x, y) triples out."""
    os_, xs, ys = list(os_), list(xs), list(ys)
    while len(xs) > max(int(target), 2):
        areas = [_vw_area2(xs, ys, i) for i in range(1, len(xs) - 1)]
        p = 1 + min(range(len(areas)), key=lambda i: (areas[i], i))
        del os_[p], xs[p], ys[p]
    return list(zip(os_, xs, ys))


def simplify_vw(
    points: DataFrame,
    target: int,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Visvalingam-Whyatt polyline simplification -> the kept vertices
    (key, o, x, y), at most ``target`` per key (endpoints always kept).

    Scale shape: one applyInPandas group per key — the reduction is
    inherently sequential per polyline but keys parallelize perfectly and
    state is linear in polyline length (the ewma/stay_points shape)."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        kept = simplify_vw_dense(
            pdf[order_col].to_list(),
            pdf[x_col].to_list(),
            pdf[y_col].to_list(),
            target,
        )
        k = pdf[key_col].iloc[0]
        return pd.DataFrame(
            [{key_col: k, order_col: o, x_col: x, y_col: y}
             for o, x, y in kept]
        )

    schema = f"{key_col} long, {order_col} long, {x_col} long, {y_col} long"
    return (
        points.select(key_col, order_col, x_col, y_col)
        .groupBy(key_col)
        .applyInPandas(fn, schema=schema)
    )


def simplify_vw_sql(points_select: str, target: int) -> str:
    """DuckDB oracle for ``simplify_vw``: the event-loop recursive CTE —
    per round each live key computes every interior vertex's doubled
    triangle area (a list_transform lambda over the CURRENT vertex list),
    picks the first minimum, and slices that position out of all three
    lists; keys leave the loop once at/below target.  The final state per
    key is the minimum-length one.

    ``points_select`` -> (k, o, x, y) integer rows."""
    area = (
        "abs((xs[i] - xs[i - 1]) * (ys[i + 1] - ys[i - 1])"
        " - (ys[i] - ys[i - 1]) * (xs[i + 1] - xs[i - 1]))"
    )
    t = max(int(target), 2)
    return f"""
WITH RECURSIVE pts AS ({points_select}),
init AS (
  SELECT k, list(o ORDER BY o) AS os, list(x ORDER BY o) AS xs,
         list(y ORDER BY o) AS ys, CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1),
st(k, os, xs, ys, n) AS (
  SELECT k, os, xs, ys, n FROM init
  UNION ALL
  SELECT s.k,
         list_concat(s.os[1:pk.p - 1], s.os[pk.p + 1:len(s.os)]),
         list_concat(s.xs[1:pk.p - 1], s.xs[pk.p + 1:len(s.xs)]),
         list_concat(s.ys[1:pk.p - 1], s.ys[pk.p + 1:len(s.ys)]),
         s.n - 1
  FROM st s
  CROSS JOIN LATERAL (
    SELECT 1 + list_position(a.ar, list_min(a.ar)) AS p
    FROM (SELECT list_transform(range(2, CAST(s.n AS INT)),
                                i -> {area}) AS ar
          FROM (SELECT s.xs AS xs, s.ys AS ys) one) a) pk
  WHERE s.n > {t}),
fin AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY n ASC) AS rn
  FROM st)
SELECT k, unnest(os) AS o, unnest(xs) AS x, unnest(ys) AS y
FROM fin WHERE rn = 1"""


def gps_jumps(
    points: DataFrame,
    v_per_s: int,
    dt_cap_s: int = 3600,
    key_col: str = "k",
    ts_col: str = "ts_us",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """GPS teleport / speed-outlier flagging -> one row per segment
    (key, o, dist2, dt_s, jump): segment speed exceeds ``v_per_s``
    (quantized units per second) iff dist2 > v^2 * min(dt_s, dt_cap_s)^2
    — an EXACT integer cross-comparison (dt floored to whole seconds,
    capped so the product cannot overflow int64; the cap is semantically
    free whenever v * dt_cap_s exceeds the domain diameter, e.g.
    20000 u/s * 3600 s = 7.2e7 u > any quantized-degree distance; dt_s=0
    with movement counts as a jump).

    Segments follow TIME order (ties broken by the order column), so
    dt_s >= 0 and floor/truncate agree across engines.  Pure window
    codegen: one lag window per key, no Python, no shuffle beyond the
    keyed sort — the cleaning pass a trajectory ingest runs before any
    densification."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("t", "o")
    b = points.select(
        F.col(key_col).alias("k"),
        F.col(order_col).alias("o"),
        F.col(ts_col).alias("t"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    dt = (F.col("t") - F.lag("t").over(w)) / F.lit(1_000_000)
    seg = (
        b.withColumn("dist2", dx * dx + dy * dy)
        .withColumn("dt_s", F.floor(dt).cast("long"))
        .filter(F.col("dist2").isNotNull())
    )
    v2 = int(v_per_s) * int(v_per_s)
    dtc = F.least(F.col("dt_s"), F.lit(int(dt_cap_s)))
    return seg.select(
        "k", "o", F.col("dist2").cast("long").alias("dist2"), "dt_s",
        (F.col("dist2") > F.lit(v2) * dtc * dtc).cast("long").alias("jump"),
    )


def gps_jumps_sql(
    points_select: str,
    v_per_s: int,
    dt_cap_s: int = 3600,
) -> str:
    """DuckDB replay of ``gps_jumps``; ``points_select`` ->
    (k, o, ts_us, x, y)."""
    v2 = int(v_per_s) * int(v_per_s)
    cap = int(dt_cap_s)
    return f"""
WITH b AS ({points_select}),
seg AS (
  SELECT k, o,
         x - lag(x) OVER (PARTITION BY k ORDER BY ts_us, o) AS dx,
         y - lag(y) OVER (PARTITION BY k ORDER BY ts_us, o) AS dy,
         (ts_us - lag(ts_us) OVER (PARTITION BY k ORDER BY ts_us, o))
           // 1000000 AS dt_s
  FROM b)
SELECT k, o, CAST(dx * dx + dy * dy AS BIGINT) AS dist2,
       CAST(dt_s AS BIGINT) AS dt_s,
       CAST(dx * dx + dy * dy
            > {v2} * least(dt_s, {cap}) * least(dt_s, {cap}) AS BIGINT) AS jump
FROM seg WHERE dx IS NOT NULL"""


def heading_resultant(
    pts: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
    q: int = 1_000_000_000,
) -> DataFrame:
    """Circular (directional) statistics of a track's segment headings:
    per key the segment count and the quantized resultant vector
    (sum of per-segment UNIT vectors).  The unit vector needs no trig —
    cos = dx / sqrt(dx^2 + dy^2), sin = dy / ... — and sqrt/divide are
    correctly-rounded IEEE ops identical across engines, so quantizing
    each component at ``q`` BEFORE the order-independent integer sum
    keeps the result exact (the linear_ref.py sqrt lesson).  Zero-length
    segments (coincident quantized points) are skipped.
    Resultant length / mean heading are derivable from (rx_q, ry_q)."""
    seg = (
        pts.select(
            F.col(key_col).alias("k"),
            F.col(order_col).alias("o"),
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
        )
        .withColumn("px", F.lag("x").over(Window.partitionBy("k").orderBy("o")))
        .withColumn("py", F.lag("y").over(Window.partitionBy("k").orderBy("o")))
        .filter(F.col("px").isNotNull())
        .withColumn("dx", F.col("x") - F.col("px"))
        .withColumn("dy", F.col("y") - F.col("py"))
        .filter((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    qf = float(q)
    ux = F.expr(f"floor(dx / sqrt(dx * dx + dy * dy) * {qf:.1f})").cast("long")
    uy = F.expr(f"floor(dy / sqrt(dx * dx + dy * dy) * {qf:.1f})").cast("long")
    return seg.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_seg"),
        F.sum(ux).alias("rx_q"),
        F.sum(uy).alias("ry_q"),
    )


def heading_resultant_sql(
    points_select: str,
    q: int = 1_000_000_000,
) -> str:
    """DuckDB replay of ``heading_resultant``; ``points_select`` ->
    (k, o, x, y), same expression text for the unit components."""
    qf = float(q)
    return f"""
WITH p AS ({points_select}),
s AS (
  SELECT k,
         x - lag(x) OVER (PARTITION BY k ORDER BY o) AS dx,
         y - lag(y) OVER (PARTITION BY k ORDER BY o) AS dy
  FROM p),
g AS (SELECT * FROM s WHERE dx IS NOT NULL AND (dx != 0 OR dy != 0))
SELECT k, CAST(count(*) AS BIGINT) AS n_seg,
       CAST(sum(CAST(floor(dx / sqrt(dx * dx + dy * dy) * {qf:.1f})
                     AS BIGINT)) AS BIGINT) AS rx_q,
       CAST(sum(CAST(floor(dy / sqrt(dx * dx + dy * dy) * {qf:.1f})
                     AS BIGINT)) AS BIGINT) AS ry_q
FROM g GROUP BY 1"""


def convex_hull_vertices(
    pts: DataFrame,
    key_col: str = "k",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-key convex hull VERTEX SET over integer points (Andrew's
    monotone chain, public literature; the general-geometry twin of
    SQLMM's ST_ConvexHull, F/geometry/wrapper/GeometryWrapper.java) ->
    (k, x, y): strictly convex corners only — duplicates and
    collinear-on-edge points are never vertices.  Exact int64 cross
    products throughout (the simplify_vw area machinery).

    Shape: one groupBy-applyInPandas per key; hull size is O(points) so
    nothing ever returns to the driver."""
    import numpy as np
    import pandas as pd

    def chain(xs, ys):
        p = sorted(set(zip(xs, ys)))
        if len(p) <= 2:
            return p

        def cross(o, a, b):
            return ((a[0] - o[0]) * (b[1] - o[1])
                    - (a[1] - o[1]) * (b[0] - o[0]))

        def half(seq):
            h = []
            for q in seq:
                while len(h) >= 2 and cross(h[-2], h[-1], q) <= 0:
                    h.pop()
                h.append(q)
            return h

        lo = half(p)
        hi = half(reversed(p))
        return lo[:-1] + hi[:-1]

    def fn(key, pdf):
        hull = chain(pdf[x_col].astype(np.int64), pdf[y_col].astype(np.int64))
        return pd.DataFrame({
            "k": int(key[0]),
            "x": [int(a) for a, _ in hull],
            "y": [int(b) for _, b in hull],
        })

    return (
        pts.select(F.col(key_col).alias("k"), F.col(x_col).alias(x_col),
                   F.col(y_col).alias(y_col))
        .groupBy("k")
        .applyInPandas(fn, schema="k long, x long, y long")
    )


def convex_hull_vertices_sql(points_select: str) -> str:
    """DuckDB oracle for ``convex_hull_vertices`` via the Caratheodory
    vertex characterization (no recursion): q is a hull vertex iff it is
    NOT on a segment between two other points and NOT inside-or-on any
    NON-DEGENERATE triangle of other points.  ``points_select`` ->
    (k, x, y); O(n^4) per key — oracle-only, never the engine plan."""
    return f"""
WITH p AS (SELECT DISTINCT k, x, y FROM ({points_select}) s)
SELECT k, x, y FROM p q
WHERE NOT EXISTS (
    SELECT 1 FROM p a, p b
    WHERE a.k = q.k AND b.k = q.k
      AND (a.x != q.x OR a.y != q.y) AND (b.x != q.x OR b.y != q.y)
      AND (a.x != b.x OR a.y != b.y)
      AND (b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x) = 0
      AND q.x BETWEEN LEAST(a.x, b.x) AND GREATEST(a.x, b.x)
      AND q.y BETWEEN LEAST(a.y, b.y) AND GREATEST(a.y, b.y))
  AND NOT EXISTS (
    SELECT 1 FROM p a, p b, p c
    WHERE a.k = q.k AND b.k = q.k AND c.k = q.k
      AND (a.x != q.x OR a.y != q.y)
      AND (b.x != q.x OR b.y != q.y)
      AND (c.x != q.x OR c.y != q.y)
      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) != 0
      AND NOT (
        ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x) < 0
         OR (c.x - b.x) * (q.y - b.y) - (c.y - b.y) * (q.x - b.x) < 0
         OR (a.x - c.x) * (q.y - c.y) - (a.y - c.y) * (q.x - c.x) < 0)
        AND
        ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x) > 0
         OR (c.x - b.x) * (q.y - b.y) - (c.y - b.y) * (q.x - b.x) > 0
         OR (a.x - c.x) * (q.y - c.y) - (a.y - c.y) * (q.x - c.x) > 0)))"""


def sinuosity(
    pts: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
    q: float = 1e9,
) -> DataFrame:
    """Track sinuosity moments per key: quantized path length (sum of
    per-segment lengths, each int64-quantized right after its single
    correctly-rounded sqrt — the linear_ref.py lesson) and the quantized
    straight-line chord between the first and last point ->
    (k, n_seg, path_q, chord_q); sinuosity = path_q / chord_q is the
    derivable rational.  Pure window + aggregation codegen."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    base = pts.select(
        F.col(key_col).alias("k"), F.col(order_col).alias("o"),
        F.col(x_col).alias("x"), F.col(y_col).alias("y"),
    )
    seg = (
        base.withColumn("px", F.lag("x").over(w))
        .withColumn("py", F.lag("y").over(w))
        .withColumn("fx", F.first("x").over(w))
        .withColumn("fy", F.first("y").over(w))
        .withColumn("rn", F.row_number().over(w))
    )
    dlen = F.expr(
        f"floor(sqrt((x - px) * (x - px) + (y - py) * (y - py)) * {q:.1f})"
    ).cast("long")
    chord = F.expr(
        f"floor(sqrt((x - fx) * (x - fx) + (y - fy) * (y - fy)) * {q:.1f})"
    ).cast("long")
    gw = Window.partitionBy("k").orderBy("o").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        seg.withColumn("is_last", F.col("rn") == F.max("rn").over(gw))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("px").isNotNull(), 1).otherwise(0))
            .alias("n_seg"),
            F.coalesce(
                F.sum(F.when(F.col("px").isNotNull(), dlen)), F.lit(0)
            ).alias("path_q"),
            F.coalesce(
                F.max(F.when(F.col("is_last"), chord)), F.lit(0)
            ).alias("chord_q"),
        )
    )


def sinuosity_sql(points_select: str, q: float = 1e9) -> str:
    """DuckDB replay of ``sinuosity``; ``points_select`` -> (k, o, x, y)."""
    return f"""
WITH p AS ({points_select}),
s AS (
  SELECT k, o, x, y,
         lag(x) OVER (PARTITION BY k ORDER BY o) AS px,
         lag(y) OVER (PARTITION BY k ORDER BY o) AS py,
         first_value(x) OVER (PARTITION BY k ORDER BY o) AS fx,
         first_value(y) OVER (PARTITION BY k ORDER BY o) AS fy,
         row_number() OVER (PARTITION BY k ORDER BY o) AS rn,
         count(*) OVER (PARTITION BY k) AS nk
  FROM p)
SELECT k,
       CAST(sum(CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seg,
       CAST(coalesce(sum(CASE WHEN px IS NOT NULL THEN
         CAST(floor(sqrt((x - px) * (x - px) + (y - py) * (y - py))
                    * {q:.1f}) AS BIGINT) END), 0) AS BIGINT) AS path_q,
       CAST(coalesce(max(CASE WHEN rn = nk THEN
         CAST(floor(sqrt((x - fx) * (x - fx) + (y - fy) * (y - fy))
                    * {q:.1f}) AS BIGINT) END), 0) AS BIGINT) AS chord_q
FROM s GROUP BY 1"""


def self_intersections(
    pts: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-key count of PROPER self-crossings of the polyline (strict
    integer orientation tests on non-adjacent segment pairs; touching
    endpoints / collinear overlap do not count) -> (k, n_seg,
    n_crossings).  The GPS-track topology audit, and the engine half of
    a ring-validity (ST_IsSimple) check for closed tracks.

    Shape: segments via one window, then a per-key band self-join
    (quadratic in the per-key segment count only — the frechet_join
    contract); sign comparisons avoid forming cross-product products so
    nothing can overflow."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    seg = (
        pts.select(
            F.col(key_col).alias("k"), F.col(order_col).alias("o"),
            F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        )
        .withColumn("x2", F.lead("x").over(w))
        .withColumn("y2", F.lead("y").over(w))
        .withColumn("i", F.row_number().over(w))
        .filter(F.col("x2").isNotNull())
        .select("k", "i", F.col("x").alias("ax"), F.col("y").alias("ay"),
                F.col("x2").alias("bx"), F.col("y2").alias("by"))
    )
    a = seg.select("k", F.col("i").alias("ia"), F.col("ax").alias("a1x"),
                   F.col("ay").alias("a1y"), F.col("bx").alias("a2x"),
                   F.col("by").alias("a2y"))
    b = seg.select("k", F.col("i").alias("ib"), F.col("ax").alias("b1x"),
                   F.col("ay").alias("b1y"), F.col("bx").alias("b2x"),
                   F.col("by").alias("b2y"))
    pairs = a.join(b, "k").filter(F.col("ib") >= F.col("ia") + 2)

    def cross(px, py, qx, qy, rx, ry):
        return ((F.col(qx) - F.col(px)) * (F.col(ry) - F.col(py))
                - (F.col(qy) - F.col(py)) * (F.col(rx) - F.col(px)))

    o1 = cross("a1x", "a1y", "a2x", "a2y", "b1x", "b1y")
    o2 = cross("a1x", "a1y", "a2x", "a2y", "b2x", "b2y")
    o3 = cross("b1x", "b1y", "b2x", "b2y", "a1x", "a1y")
    o4 = cross("b1x", "b1y", "b2x", "b2y", "a2x", "a2y")
    hit = (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )
    crossings = pairs.groupBy("k").agg(
        F.sum(hit.cast("long")).alias("n_crossings")
    )
    nseg = seg.groupBy("k").agg(F.count(F.lit(1)).alias("n_seg"))
    return (
        nseg.join(crossings, "k", "left")
        .select("k", "n_seg",
                F.coalesce("n_crossings", F.lit(0)).alias("n_crossings"))
    )


def self_intersections_sql(points_select: str) -> str:
    """DuckDB replay of ``self_intersections``; ``points_select`` ->
    (k, o, x, y)."""
    def cr(p, q, r):
        return (f"(({q}x - {p}x) * ({r}y - {p}y) "
                f"- ({q}y - {p}y) * ({r}x - {p}x))")

    o1 = cr("a.a1", "a.a2", "b.b1")
    o2 = cr("a.a1", "a.a2", "b.b2")
    o3 = cr("b.b1", "b.b2", "a.a1")
    o4 = cr("b.b1", "b.b2", "a.a2")
    return f"""
WITH p AS ({points_select}),
seg AS (
  SELECT k, row_number() OVER (PARTITION BY k ORDER BY o) AS i,
         x AS sx, y AS sy,
         lead(x) OVER (PARTITION BY k ORDER BY o) AS ex,
         lead(y) OVER (PARTITION BY k ORDER BY o) AS ey
  FROM p QUALIFY ex IS NOT NULL),
a AS (SELECT k, i AS ia, sx AS a1x, sy AS a1y, ex AS a2x, ey AS a2y FROM seg),
b AS (SELECT k, i AS ib, sx AS b1x, sy AS b1y, ex AS b2x, ey AS b2y FROM seg),
hits AS (
  SELECT a.k AS k,
         CASE WHEN ((({o1}) > 0 AND ({o2}) < 0)
                 OR (({o1}) < 0 AND ({o2}) > 0))
               AND ((({o3}) > 0 AND ({o4}) < 0)
                 OR (({o3}) < 0 AND ({o4}) > 0))
              THEN 1 ELSE 0 END AS hit
  FROM a JOIN b ON a.k = b.k AND b.ib >= a.ia + 2),
ns AS (SELECT k, CAST(count(*) AS BIGINT) AS n_seg FROM seg GROUP BY 1),
cx AS (SELECT k, CAST(sum(hit) AS BIGINT) AS n_crossings
       FROM hits GROUP BY 1)
SELECT ns.k AS k, ns.n_seg,
       coalesce(cx.n_crossings, 0) AS n_crossings
FROM ns LEFT JOIN cx ON cx.k = ns.k"""


def bearing_rose(
    pts: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Wind-rose: per-key counts of segment directions in 8 exact
    octants (the hog_octants integer sign/magnitude ladder applied to
    consecutive-point deltas — no trig) -> (k, sector, n).  Zero-length
    segments are skipped.  Pure window + aggregation codegen."""
    from pyspark.sql import Window

    from ..raster.terrain import hog_octant_sql

    w = Window.partitionBy("k").orderBy("o")
    seg = (
        pts.select(
            F.col(key_col).alias("k"), F.col(order_col).alias("o"),
            F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        )
        .withColumn("dx", F.col("x") - F.lag("x").over(w))
        .withColumn("dy", F.col("y") - F.lag("y").over(w))
        .filter(F.col("dx").isNotNull())
        .filter((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    return (
        seg.select("k", F.expr(hog_octant_sql("dx", "dy")).alias("sector"))
        .groupBy("k", "sector")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bearing_rose_sql(points_select: str) -> str:
    """DuckDB replay of ``bearing_rose`` (same octant ladder text)."""
    from ..raster.terrain import hog_octant_sql

    return f"""
WITH p AS ({points_select}),
s AS (
  SELECT k,
         x - lag(x) OVER (PARTITION BY k ORDER BY o) AS dx,
         y - lag(y) OVER (PARTITION BY k ORDER BY o) AS dy
  FROM p),
g AS (SELECT * FROM s WHERE dx IS NOT NULL AND (dx != 0 OR dy != 0))
SELECT k, CAST({hog_octant_sql('dx', 'dy')} AS BIGINT) AS sector,
       CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY 1, 2"""


def douglas_peucker_dense(os_, xs, ys, eps2):
    """Single-node reference: kept (o, x, y) triples for epsilon^2 =
    ``eps2`` (all Python ints — cross^2 exceeds int64, exact here and
    HUGEINT in the SQL replay).  Deviation is measured against the LINE
    through the gap endpoints (cross^2 vs eps2*len2 cross-multiplied);
    coincident endpoints fall back to point distance.  Argmax ties break
    to the smallest index, so the kept set is deterministic."""
    n = len(xs)
    if n <= 2:
        return list(zip(os_, xs, ys))
    kept = {0, n - 1}
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        best_i, best_m = -1, -1
        for i in range(a + 1, b):
            if len2 > 0:
                cr = (xs[i] - ax) * dy - (ys[i] - ay) * dx
                m = cr * cr
            else:
                m = (xs[i] - ax) ** 2 + (ys[i] - ay) ** 2
            if m > best_m:
                best_m, best_i = m, i
        over = best_m > eps2 * len2 if len2 > 0 else best_m > eps2
        if over:
            kept.add(best_i)
            stack.append((a, best_i))
            stack.append((best_i, b))
    return [(os_[i], xs[i], ys[i]) for i in sorted(kept)]


def douglas_peucker(
    points: DataFrame,
    eps: int,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Douglas-Peucker polyline simplification (Douglas & Peucker 1973,
    public literature) -> the kept vertices (key, o, x, y): recursive
    farthest-point split wherever the line deviation exceeds ``eps``
    (integer units of the quantized coordinates) — the epsilon-driven
    sibling of ``simplify_vw``'s count-driven reduction (the LOD /
    linear-resolution hint, S/FeatureQuery.java:437).

    Scale shape: one applyInPandas group per key (sequential per
    polyline, keys parallelize; the simplify_vw shape).  All arithmetic
    is exact Python ints (cross^2 needs ~int128)."""
    import pandas as pd

    eps2 = int(eps) * int(eps)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        kept = douglas_peucker_dense(
            [int(v) for v in pdf[order_col]],
            [int(v) for v in pdf[x_col]],
            [int(v) for v in pdf[y_col]],
            eps2,
        )
        k = pdf[key_col].iloc[0]
        return pd.DataFrame(
            [{key_col: k, order_col: o, x_col: x, y_col: y}
             for o, x, y in kept]
        )

    schema = f"{key_col} long, {order_col} long, {x_col} long, {y_col} long"
    return (
        points.select(key_col, order_col, x_col, y_col)
        .groupBy(key_col)
        .applyInPandas(fn, schema=schema)
    )


def douglas_peucker_sql(points_select: str, eps: int) -> str:
    """DuckDB oracle for ``douglas_peucker``: round-based farthest-point
    INSERTION as a recursive CTE — per round every not-yet-kept vertex
    finds its gap (adjacent kept positions around it), and joins the kept
    set iff it exceeds epsilon AND is its gap's argmax (ties -> smallest
    index).  Gap-independent insertion makes rounds order-free, so the
    fixpoint equals the recursive split.  All products in HUGEINT.

    ``points_select`` -> (k, o, x, y) integer rows."""
    eps2 = int(eps) * int(eps)
    A = "list_max(list_filter(s.ks, p -> p < i))"
    B = "list_min(list_filter(s.ks, p -> p > i))"

    def cr(j):
        return (f"(CAST(s.xs[{j}] - s.xs[{A}] AS HUGEINT)"
                f" * (s.ys[{B}] - s.ys[{A}])"
                f" - CAST(s.ys[{j}] - s.ys[{A}] AS HUGEINT)"
                f" * (s.xs[{B}] - s.xs[{A}]))")

    def dd(j):
        return (f"(CAST(s.xs[{j}] - s.xs[{A}] AS HUGEINT)"
                f" * (s.xs[{j}] - s.xs[{A}])"
                f" + CAST(s.ys[{j}] - s.ys[{A}] AS HUGEINT)"
                f" * (s.ys[{j}] - s.ys[{A}]))")

    len2 = (f"(CAST(s.xs[{B}] - s.xs[{A}] AS HUGEINT)"
            f" * (s.xs[{B}] - s.xs[{A}])"
            f" + CAST(s.ys[{B}] - s.ys[{A}] AS HUGEINT)"
            f" * (s.ys[{B}] - s.ys[{A}]))")

    def m(j):
        return (f"(CASE WHEN {len2} > 0 THEN {cr(j)} * {cr(j)}"
                f" ELSE {dd(j)} END)")

    over = (f"(CASE WHEN {len2} > 0"
            f" THEN {cr('i')} * {cr('i')} > CAST({eps2} AS HUGEINT) * {len2}"
            f" ELSE {dd('i')} > CAST({eps2} AS HUGEINT) END)")
    argmax = (
        f"len(list_filter(range({A} + 1, {B}), j -> j <> i"
        f" AND ({m('j')} > {m('i')}"
        f" OR ({m('j')} = {m('i')} AND j < i)))) = 0"
    )
    return f"""
WITH RECURSIVE pts AS ({points_select}),
init AS (
  SELECT k, list(o ORDER BY o) AS os, list(x ORDER BY o) AS xs,
         list(y ORDER BY o) AS ys, CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY 1),
st(k, os, xs, ys, ks) AS (
  SELECT k, os, xs, ys,
         CASE WHEN n = 1 THEN [CAST(1 AS BIGINT)]
              ELSE [CAST(1 AS BIGINT), n] END
  FROM init
  UNION ALL
  SELECT s.k, s.os, s.xs, s.ys, list_sort(list_concat(s.ks, pk.adds))
  FROM st s
  CROSS JOIN LATERAL (
    SELECT list_filter(
      list_transform(range(CAST(1 AS BIGINT), len(s.xs) + 1), i ->
        CASE WHEN list_contains(s.ks, i) THEN NULL
             WHEN {over} AND {argmax} THEN i
             ELSE NULL END),
      v -> v IS NOT NULL) AS adds) pk
  WHERE len(pk.adds) > 0),
fin AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY len(ks) DESC) AS rn
  FROM st)
SELECT k, unnest(list_transform(ks, p -> os[p])) AS o,
       unnest(list_transform(ks, p -> xs[p])) AS x,
       unnest(list_transform(ks, p -> ys[p])) AS y
FROM fin WHERE rn = 1"""


def geofence_transitions(
    points: DataFrame,
    inside_col: str,
    key_col: str = "k",
    order_col: str = "o",
) -> DataFrame:
    """Geofence enter/exit event extraction -> (k, o, event, visit): one
    row per TRANSITION of the precomputed ``inside_col`` flag along each
    key's ordered track — event = 1 (enter: outside -> inside) or 0
    (exit); ``visit`` numbers the enters per key (cumulative), so dwell
    segments are joinable downstream.  The first point of a track emits
    nothing (no prior state — the conservative convention).

    The inside flag itself should be produced with this repo's exact
    predicates (quantized haversine bands, PIP, bbox) so the transition
    stream is bit-stable.  Shape: one keyed sort window (lag + running
    sum), pure codegen — the sessionize/gps_jumps family."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    b = points.select(
        F.col(key_col).alias("k"), F.col(order_col).alias("o"),
        F.col(inside_col).cast("long").alias("ins"),
    )
    prev = F.lag("ins").over(w)
    t = b.select(
        "k", "o", "ins",
        prev.alias("prev"),
        F.sum(
            F.when(F.lag("ins").over(w) < F.col("ins"), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("visit"),
    )
    return t.filter(
        F.col("prev").isNotNull() & (F.col("prev") != F.col("ins"))
    ).select("k", "o", F.col("ins").alias("event"), "visit")


def geofence_transitions_sql(points_select: str) -> str:
    """DuckDB replay of ``geofence_transitions``;
    ``points_select`` -> (k, o, ins) with ins already 0/1."""
    return f"""
WITH b AS (SELECT k, o, CAST(ins AS BIGINT) AS ins
           FROM ({points_select}) s),
p AS (
  SELECT k, o, ins,
         lag(ins) OVER (PARTITION BY k ORDER BY o) AS prev
  FROM b),
t AS (
  SELECT k, o, ins, prev,
         CAST(sum(CASE WHEN prev < ins THEN 1 ELSE 0 END)
              OVER (PARTITION BY k ORDER BY o
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS visit
  FROM p)
SELECT k, o, ins AS event, visit FROM t
WHERE prev IS NOT NULL AND prev <> ins"""


def co_travelers(
    events: DataFrame,
    grid_n: int,
    time_bin: int,
    min_meetings: int = 2,
    user_col: str = "user_id",
    t_col: str = "t",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Co-traveler detection (the classic co-location pattern mining of
    trajectory analytics, public literature): pairs of users observed in
    the SAME (2^k grid cell, time bin) in at least ``min_meetings``
    DISTINCT such buckets -> (u1, u2, meetings) with u1 < u2.

    Exactness: the bucket key is the shared floor+clamp grid mapping
    plus integer t // time_bin; "meetings" counts distinct co-located
    buckets, so repeated pings inside one bucket count once — pure
    integer set semantics.

    Scale shape: ONE distinct pass collapses pings to (user, bucket)
    presence (map-side combine), then an equi-self-join ON THE BUCKET
    KEY — cost is sum over buckets of (users-in-bucket choose 2), the
    co-location structure itself, never all user pairs.  A crowded-
    bucket cap (skip buckets with more than ~10^3 distinct users) is the
    standard skew guard at planet scale; not applied here so the oracle
    can replay exactly."""
    from ..operators.density import grid_expr

    pres = (
        events.select(
            F.col(user_col).alias("u"),
            F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
            F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
            F.floor(F.col(t_col) / int(time_bin)).cast("long").alias("tb"),
        )
        .distinct()
    )
    a = pres.select("ix", "iy", "tb", F.col("u").alias("u1"))
    b = pres.select("ix", "iy", "tb", F.col("u").alias("u2"))
    return (
        a.join(b, ["ix", "iy", "tb"])
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("meetings"))
        .filter(F.col("meetings") >= int(min_meetings))
    )


def co_travelers_sql(
    base_select: str,
    grid_n: int,
    time_bin: int,
    min_meetings: int = 2,
) -> str:
    """DuckDB replay of ``co_travelers``; ``base_select`` -> (u, t, lon,
    lat)."""
    from ..operators.density import grid_expr

    return f"""
WITH pres AS (
  SELECT DISTINCT u,
         {grid_expr('x', grid_n)} AS ix,
         {grid_expr('y', grid_n)} AS iy,
         CAST(floor(t / {int(time_bin)}) AS BIGINT) AS tb
  FROM ({base_select}) b)
SELECT a.u AS u1, b.u AS u2, CAST(count(*) AS BIGINT) AS meetings
FROM pres a JOIN pres b
  ON a.ix = b.ix AND a.iy = b.iy AND a.tb = b.tb AND a.u < b.u
GROUP BY 1, 2
HAVING count(*) >= {int(min_meetings)}"""


def link_tracks(
    dets: DataFrame,
    r_q: int,
    frame_col: str = "frame",
    id_col: str = "id",
    x_col: str = "qx",
    y_col: str = "qy",
) -> DataFrame:
    """Detection linking across consecutive frames (the assignment step of
    tracking-by-detection, public multi-object-tracking literature):
    detections a (frame f) and b (frame f+1) are linked iff each is the
    OTHER's nearest candidate within radius ``r_q`` — mutual nearest
    neighbors, the deterministic order-free alternative to greedy
    assignment.  Ties break by (distance^2, partner id); coordinates are
    quantized int64, so distance^2 is exact integer arithmetic.

    Returns (frame, a_id, b_id, d2): the accepted links out of frame f.

    Scale shape: ONE ``within_distance_join`` at radius ``r_q`` keyed on
    the next frame (cells of side exactly ``r_q``, 3x3 ring) — never
    frame x frame pairs — then two window argmins over the candidate
    table.  Cost is candidate-bounded; crowded cells are bounded by
    physical detection density."""
    from .density import within_distance_join

    a = dets.select(
        F.col(frame_col).alias("a_f"), (F.col(frame_col) + 1).alias("nf"),
        F.col(id_col).alias("a_id"), F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    b = dets.select(
        F.col(frame_col).alias("nf"), F.col(id_col).alias("b_id"),
        F.col(x_col).alias("x"), F.col(y_col).alias("y"),
    )
    cand = within_distance_join(a, b, r_q, keys=("nf",)).select(
        "a_f", "a_id", "b_id", "d2")
    wa = Window.partitionBy("a_f", "a_id").orderBy("d2", "b_id")
    wb = Window.partitionBy("a_f", "b_id").orderBy("d2", "a_id")
    return (
        cand.withColumn("ra", F.row_number().over(wa))
        .withColumn("rb", F.row_number().over(wb))
        .filter((F.col("ra") == 1) & (F.col("rb") == 1))
        .select(F.col("a_f").alias("frame"), "a_id", "b_id", "d2")
    )


def link_tracks_sql(base_select: str, r_q: int) -> str:
    """DuckDB replay of ``link_tracks``; ``base_select`` -> (frame, id,
    qx, qy).  The oracle may use the plain radius join — the engine's
    cell ring provably covers the same candidate set."""
    r2 = int(r_q) * int(r_q)
    return f"""
WITH d AS ({base_select}),
cand AS (
  SELECT a.frame AS frame, a.id AS a_id, b.id AS b_id,
         (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy) AS d2
  FROM d a JOIN d b ON b.frame = a.frame + 1
  WHERE (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy) <= {r2}),
r AS (
  SELECT frame, a_id, b_id, d2,
         row_number() OVER (PARTITION BY frame, a_id ORDER BY d2, b_id) AS ra,
         row_number() OVER (PARTITION BY frame, b_id ORDER BY d2, a_id) AS rb
  FROM cand)
SELECT frame, a_id, b_id, d2 FROM r WHERE ra = 1 AND rb = 1"""


def dwell_times(
    points: DataFrame,
    inside_col: str,
    key_col: str = "k",
    order_col: str = "o",
) -> DataFrame:
    """Per-visit dwell extraction (the companion of
    ``geofence_transitions``): a visit is a maximal run of inside rows
    along the key's ordered track (a track that STARTS inside counts as
    visit 1, unlike the transition stream's conservative first-row rule);
    returns (k, visit, o_enter, o_exit, n_pings).

    Shape: one keyed sort window (lag + running sum of enter flags) +
    one aggregation — pure codegen, the sessionize family."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    b = points.select(
        F.col(key_col).alias("k"), F.col(order_col).alias("o"),
        F.col(inside_col).cast("long").alias("ins"),
    )
    enter = F.when(
        (F.col("ins") == 1)
        & (F.lag("ins").over(w).isNull() | (F.lag("ins").over(w) == 0)),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    v = b.withColumn("visit", F.sum(enter).over(run))
    return (
        v.filter(F.col("ins") == 1)
        .groupBy("k", "visit")
        .agg(
            F.min("o").alias("o_enter"),
            F.max("o").alias("o_exit"),
            F.count(F.lit(1)).alias("n_pings"),
        )
    )


def dwell_times_sql(points_select: str) -> str:
    """DuckDB replay of ``dwell_times``; ``points_select`` -> (k, o, ins)."""
    return f"""
WITH b AS (SELECT k, o, CAST(ins AS BIGINT) AS ins
           FROM ({points_select}) s),
p AS (
  SELECT k, o, ins,
         lag(ins) OVER (PARTITION BY k ORDER BY o) AS prev
  FROM b),
v AS (
  SELECT k, o, ins,
         sum(CASE WHEN ins = 1 AND (prev IS NULL OR prev = 0)
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY k ORDER BY o
                 ROWS UNBOUNDED PRECEDING) AS visit
  FROM p)
SELECT k, CAST(visit AS BIGINT) AS visit, min(o) AS o_enter,
       max(o) AS o_exit, CAST(count(*) AS BIGINT) AS n_pings
FROM v WHERE ins = 1 GROUP BY 1, 2"""


def build_network(
    points: DataFrame,
    snap: int,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "qx",
    y_col: str = "qy",
) -> DataFrame:
    """Network construction from tracks (the map-inference primitive of
    the public GPS-trace literature, snap-to-grid variant): consecutive
    track points become segments, endpoints snap to grid nodes of side
    ``snap`` (floor division of the quantized coords), degenerate
    (same-node) segments drop, parallel segments collapse — the result
    is the simple undirected graph (node, degree) table.

    Shape: one keyed lag window -> codegen snapping -> ONE distinct on
    canonical (min-node, max-node) edges -> endpoint explode + count:
    two shuffles total, no self-join."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o")
    s = int(snap)
    b = points.select(
        F.col(key_col).alias("k"), F.col(order_col).alias("o"),
        F.floor(F.col(x_col).cast("double") / F.lit(float(s))).cast("long").alias("nx"),
        F.floor(F.col(y_col).cast("double") / F.lit(float(s))).cast("long").alias("ny"),
    )
    seg = b.select(
        "nx", "ny",
        F.lag("nx").over(w).alias("px"), F.lag("ny").over(w).alias("py"),
    ).filter(
        F.col("px").isNotNull()
        & ((F.col("px") != F.col("nx")) | (F.col("py") != F.col("ny")))
    )
    # canonical undirected edge: lexicographic (min, max) endpoint order
    a_first = (F.col("px") < F.col("nx")) | (
        (F.col("px") == F.col("nx")) & (F.col("py") <= F.col("ny"))
    )
    edges = seg.select(
        F.when(a_first, F.col("px")).otherwise(F.col("nx")).alias("ax"),
        F.when(a_first, F.col("py")).otherwise(F.col("ny")).alias("ay"),
        F.when(a_first, F.col("nx")).otherwise(F.col("px")).alias("bx"),
        F.when(a_first, F.col("ny")).otherwise(F.col("py")).alias("by"),
    ).distinct()
    ends = edges.selectExpr("ax AS nx", "ay AS ny").union(
        edges.selectExpr("bx AS nx", "by AS ny")
    )
    return ends.groupBy("nx", "ny").agg(F.count(F.lit(1)).alias("degree"))


def build_network_sql(points_select: str, snap: int) -> str:
    """DuckDB replay of ``build_network``; ``points_select`` -> (k, o,
    qx, qy)."""
    s = int(snap)
    return f"""
WITH b AS (
  SELECT k, o,
         CAST(floor(CAST(qx AS DOUBLE) / {float(s)}) AS BIGINT) AS nx,
         CAST(floor(CAST(qy AS DOUBLE) / {float(s)}) AS BIGINT) AS ny
  FROM ({points_select}) p),
seg AS (
  SELECT nx, ny,
         lag(nx) OVER (PARTITION BY k ORDER BY o) AS px,
         lag(ny) OVER (PARTITION BY k ORDER BY o) AS py
  FROM b),
edges AS (
  SELECT DISTINCT
         CASE WHEN px < nx OR (px = nx AND py <= ny) THEN px ELSE nx END AS ax,
         CASE WHEN px < nx OR (px = nx AND py <= ny) THEN py ELSE ny END AS ay,
         CASE WHEN px < nx OR (px = nx AND py <= ny) THEN nx ELSE px END AS bx,
         CASE WHEN px < nx OR (px = nx AND py <= ny) THEN ny ELSE py END AS "by"
  FROM seg
  WHERE px IS NOT NULL AND (px <> nx OR py <> ny)),
ends AS (
  SELECT ax AS nx, ay AS ny FROM edges
  UNION ALL
  SELECT bx, "by" FROM edges)
SELECT nx, ny, CAST(count(*) AS BIGINT) AS degree
FROM ends GROUP BY 1, 2"""


def home_work(
    points: DataFrame,
    grid_n: int,
    user_col: str = "u",
    hour_col: str = "hour",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Home/work anchor inference (the classic CDR/mobility heuristic of
    the public literature): home = the modal night-time grid cell
    (hour < 6 or >= 22), work = the modal working-hours cell (9-16),
    per user; ties break by (count DESC, ix, iy) so the anchor is a pure
    function of the data.  Returns (u, kind, ix, iy, n_pings) with
    kind in ('home', 'work').

    Shape: one filter + one (user, kind, cell) count + one window argmin
    — two map-side-combined shuffles, no joins."""
    from pyspark.sql import Window

    from .density import grid_expr

    h = F.col(hour_col)
    kind = (
        F.when((h < 6) | (h >= 22), F.lit("home"))
        .when((h >= 9) & (h < 17), F.lit("work"))
    )
    b = points.select(
        F.col(user_col).alias("u"), kind.alias("kind"),
        F.expr(grid_expr("x", grid_n, lon_col, lat_col)).alias("ix"),
        F.expr(grid_expr("y", grid_n, lon_col, lat_col)).alias("iy"),
    ).filter(F.col("kind").isNotNull())
    cnt = b.groupBy("u", "kind", "ix", "iy").agg(
        F.count(F.lit(1)).alias("n_pings")
    )
    w = Window.partitionBy("u", "kind").orderBy(
        F.col("n_pings").desc(), "ix", "iy"
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("u", "kind", "ix", "iy", "n_pings")
    )


def home_work_sql(base_select: str, grid_n: int) -> str:
    """DuckDB replay of ``home_work``; ``base_select`` -> (u, hour, lon,
    lat)."""
    from .density import grid_expr

    return f"""
WITH b AS (
  SELECT u,
         CASE WHEN hour < 6 OR hour >= 22 THEN 'home'
              WHEN hour >= 9 AND hour < 17 THEN 'work' END AS kind,
         {grid_expr('x', grid_n)} AS ix,
         {grid_expr('y', grid_n)} AS iy
  FROM ({base_select}) s),
cnt AS (
  SELECT u, kind, ix, iy, CAST(count(*) AS BIGINT) AS n_pings
  FROM b WHERE kind IS NOT NULL GROUP BY 1, 2, 3, 4)
SELECT u, kind, ix, iy, n_pings FROM (
  SELECT *, row_number() OVER (PARTITION BY u, kind
              ORDER BY n_pings DESC, ix, iy) AS rn
  FROM cnt) t
WHERE rn = 1"""


def chaikin_smooth(
    df: DataFrame,
    rounds: int = 2,
    key_col: str = "k",
    o_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Chaikin corner-cutting polyline smoothing (Chaikin 1974) ->
    (k, pos, x, y) with coordinates in 4**rounds-scaled integer units —
    EXACT dyadic arithmetic, so the oracle replays it bit-for-bit.

    Per round each segment P_i -> P_{i+1} is replaced by the quarter
    points Q = 3*P_i + P_{i+1} and R = P_i + 3*P_{i+1} (in 4x units);
    endpoints are kept (open-polyline convention), so m points become
    2m.  One lead() window + one explode per round, pure JVM codegen —
    no per-row Python and no shuffle beyond the window's.  Contract:
    |coords| * 4**rounds must stay in int64."""
    w = Window.partitionBy(key_col).orderBy(o_col)
    cur = df.select(
        key_col,
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    for _ in range(int(rounds)):
        w2 = Window.partitionBy(key_col).orderBy("pos")
        d = cur.withColumn("nx", F.lead("x").over(w2)).withColumn(
            "ny", F.lead("y").over(w2)
        )
        mids = (
            d.filter(F.col("nx").isNotNull())
            .select(
                key_col,
                F.explode(
                    F.array(
                        F.struct(
                            (2 * F.col("pos") + 1).alias("pos"),
                            (3 * F.col("x") + F.col("nx")).alias("x"),
                            (3 * F.col("y") + F.col("ny")).alias("y"),
                        ),
                        F.struct(
                            (2 * F.col("pos") + 2).alias("pos"),
                            (F.col("x") + 3 * F.col("nx")).alias("x"),
                            (F.col("y") + 3 * F.col("ny")).alias("y"),
                        ),
                    )
                ).alias("s"),
            )
            .select(key_col, "s.pos", "s.x", "s.y")
        )
        first = d.filter(F.col("pos") == 0).select(
            key_col,
            F.lit(0).cast("long").alias("pos"),
            (4 * F.col("x")).alias("x"),
            (4 * F.col("y")).alias("y"),
        )
        last = d.filter(F.col("nx").isNull() & (F.col("pos") > 0)).select(
            key_col,
            (2 * F.col("pos") + 1).alias("pos"),
            (4 * F.col("x")).alias("x"),
            (4 * F.col("y")).alias("y"),
        )
        cur = mids.union(first).union(last)
    return cur


def chaikin_sql(
    points_select: str, rounds: int = 2
) -> str:
    """DuckDB oracle for ``chaikin_smooth``; ``points_select`` must
    yield (k, o, x, y)."""
    blocks = [
        f"""c0 AS (
  SELECT k, CAST(row_number() OVER (PARTITION BY k ORDER BY o) - 1
                 AS BIGINT) AS pos,
         CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ({points_select}) pts)"""
    ]
    for r in range(1, int(rounds) + 1):
        p = r - 1
        blocks.append(f"""d{r} AS (
  SELECT k, pos, x, y,
         lead(x) OVER (PARTITION BY k ORDER BY pos) AS nx,
         lead(y) OVER (PARTITION BY k ORDER BY pos) AS ny
  FROM c{p})""")
        blocks.append(f"""c{r} AS (
  SELECT k, 2 * pos + 1 AS pos, 3 * x + nx AS x, 3 * y + ny AS y
  FROM d{r} WHERE nx IS NOT NULL
  UNION ALL
  SELECT k, 2 * pos + 2, x + 3 * nx, y + 3 * ny
  FROM d{r} WHERE nx IS NOT NULL
  UNION ALL
  SELECT k, 0, 4 * x, 4 * y FROM d{r} WHERE pos = 0
  UNION ALL
  SELECT k, 2 * pos + 1, 4 * x, 4 * y
  FROM d{r} WHERE nx IS NULL AND pos > 0)""")
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT k, pos, x, y FROM c{int(rounds)}"
    )


def radius_gyration(
    df: DataFrame,
    key_col: str = "k",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Radius of gyration per entity (Gonzalez, Hidalgo & Barabasi 2008,
    the mobility-range scale) -> (k, n, sx, sy, rg2_num): the EXACT
    rational rg^2 = rg2_num / n^2 with

        rg2_num = n * sum(x^2 + y^2) - sx^2 - sy^2

    (expanding sum |p - mean|^2 without any division).  ONE map-side-
    combinable aggregation, no window, no join.  Contract: quantized
    coords small enough that n * sum(x^2+y^2) stays in int64 (|coord|
    <= 2e6 and n <= 1e4 is safe)."""
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    g = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x + y * y).alias("s2"),
    )
    return g.select(
        key_col, "n", "sx", "sy",
        (F.col("n") * F.col("s2") - F.col("sx") * F.col("sx")
         - F.col("sy") * F.col("sy")).alias("rg2_num"),
    )


def radius_gyration_sql(points_select: str) -> str:
    """DuckDB oracle for ``radius_gyration``; ``points_select`` must
    yield (k, x, y)."""
    return f"""
SELECT k, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
       CAST(sy AS BIGINT) AS sy,
       CAST(n * s2 - sx * sx - sy * sy AS BIGINT) AS rg2_num
FROM (
  SELECT k, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x + y * y) AS s2
  FROM ({points_select}) pts GROUP BY k) g"""


def line_merge(
    segs: DataFrame,
    seg_col: str = "seg_id",
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """ST_LineMerge / groupAsPolyline analog (reference semantics:
    F/feature/FeatureOperations.java:297 groupAsPolyline — assemble
    maximal polylines from a segment soup) -> (seg_id, path_id, path_n):
    two segments belong to the same path iff they meet at a node of
    DEGREE EXACTLY 2 (junctions and endpoints break paths); path_id is
    the smallest segment id in the path.

    Scale shape: endpoint degrees from one explode + partial agg; each
    degree-2 node contributes its exactly-two incident segments as one
    adjacency edge (min-max pair, no self-join over incidences);
    components via the standard min-label + pointer-jump loop.  Input
    segments must be loop-free (u != v)."""
    inc = segs.select(
        F.col(seg_col).alias("sid"),
        F.explode(F.array(F.col(u_col), F.col(v_col))).alias("node"),
    )
    deg2 = (
        inc.groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"),
             F.min("sid").alias("s1"), F.max("sid").alias("s2"))
        .filter((F.col("d") == 2) & (F.col("s1") != F.col("s2")))
    )
    from ..operators.graph import connected_components

    loops = segs.select(F.col(seg_col).alias("a"), F.col(seg_col).alias("b"))
    adj = deg2.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    comp = connected_components(adj.unionByName(loops))
    n = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("path_n"))
    return comp.join(n, "comp").select(
        F.col("node").alias(seg_col),
        F.col("comp").alias("path_id"),
        "path_n",
    )


def line_merge_sql(segs_select: str) -> str:
    """DuckDB oracle for ``line_merge``: the same degree-2 adjacency, the
    closure as a recursive min-label CTE (the dbscan_sql pattern).
    ``segs_select`` -> (seg_id, u, v)."""
    return f"""
WITH RECURSIVE s AS MATERIALIZED (SELECT seg_id, u, v FROM ({segs_select}) x),
inc AS (SELECT seg_id, u AS node FROM s UNION ALL SELECT seg_id, v FROM s),
deg2 AS (
  SELECT node, min(seg_id) AS s1, max(seg_id) AS s2
  FROM inc GROUP BY node
  HAVING count(*) = 2 AND min(seg_id) != max(seg_id)),
adj AS MATERIALIZED (
  SELECT s1 AS a, s2 AS b FROM deg2
  UNION SELECT s2, s1 FROM deg2
  UNION SELECT seg_id, seg_id FROM s),
reach(sid, r) AS (
  SELECT a, a FROM adj
  UNION
  SELECT reach.sid, adj.b FROM reach JOIN adj ON adj.a = reach.r),
best AS (SELECT sid, min(r) AS comp FROM reach GROUP BY sid)
SELECT b.sid AS seg_id, b.comp AS path_id, n.path_n
FROM best b JOIN (SELECT comp, count(*) AS path_n FROM best GROUP BY 1) n
  ON n.comp = b.comp"""


def convex_layers(
    pts: DataFrame,
    layers: int,
    key_col: str = "k",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Onion peeling (convex-layer decomposition, vertex-peeling variant:
    each round removes the STRICT hull corners of convex_hull_vertices,
    collinear boundary points survive to the next layer) -> (k, layer,
    x, y) for layer = 0..layers-1.  Per round one hull pass + one
    anti-join; the point set only shrinks."""
    cur = pts.select(
        F.col(key_col).alias("k"), F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    ).localCheckpoint()
    out = None
    for layer in range(int(layers)):
        hull = convex_hull_vertices(cur).withColumn(
            "layer", F.lit(layer).cast("long")
        ).localCheckpoint()
        lay = hull.select("k", "layer", "x", "y")
        out = lay if out is None else out.unionByName(lay)
        cur = cur.join(hull.select("k", "x", "y"), ["k", "x", "y"],
                       "left_anti").localCheckpoint()
    return out


def convex_layers_sql(points_select: str, layers: int) -> str:
    """DuckDB oracle for ``convex_layers``: the Caratheodory vertex test
    (convex_hull_vertices_sql) re-applied per layer on the peeled set."""
    blocks = [f"p0 AS MATERIALIZED (SELECT DISTINCT k, x, y FROM ({points_select}) s)"]
    sels = []
    for i in range(int(layers)):
        blocks.append(
            f"v{i} AS MATERIALIZED ("
            + convex_hull_vertices_sql(f"SELECT k, x, y FROM p{i}")
            + ")"
        )
        blocks.append(
            f"""p{i + 1} AS MATERIALIZED (
  SELECT p.k, p.x, p.y FROM p{i} p
  WHERE NOT EXISTS (SELECT 1 FROM v{i} v
                    WHERE v.k = p.k AND v.x = p.x AND v.y = p.y))"""
        )
        sels.append(f"SELECT k, CAST({i} AS BIGINT) AS layer, x, y FROM v{i}")
    return "WITH " + ",\n".join(blocks) + "\n" + "\nUNION ALL ".join(sels)


def gabriel_graph(
    pts: DataFrame,
    key_col: str = "k",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Gabriel graph (Gabriel & Sokal 1969, public literature) ->
    (k, ax, ay, bx, by): edge (a, b) iff no other point lies STRICTLY
    inside the open disk with diameter ab — equivalently no c with
    (a - c) . (b - c) < 0 (exact int64 dot products; boundary points
    keep the edge, which makes the output a deterministic set
    function).  The proximity-graph backbone of spatial clustering.

    Shape: one applyInPandas per key over capped point sets (brute
    O(n^3) verifier form; the oracle is the same NOT EXISTS
    definition)."""
    from itertools import combinations

    import numpy as np
    import pandas as pd

    def fn(key, pdf):
        p = sorted(set(zip(
            (int(v) for v in pdf[x_col]), (int(v) for v in pdf[y_col])
        )))
        out = []
        for a, b in combinations(p, 2):
            ok = True
            for c in p:
                if c == a or c == b:
                    continue
                if (a[0] - c[0]) * (b[0] - c[0]) + (a[1] - c[1]) * (b[1] - c[1]) < 0:
                    ok = False
                    break
            if ok:
                out.append({"k": int(key[0]), "ax": a[0], "ay": a[1],
                            "bx": b[0], "by": b[1]})
        return pd.DataFrame(out, columns=["k", "ax", "ay", "bx", "by"])

    return (
        pts.select(F.col(key_col).alias("k"), F.col(x_col).alias(x_col),
                   F.col(y_col).alias(y_col))
        .groupBy("k")
        .applyInPandas(fn, schema="k long, ax long, ay long, bx long, by long")
    )


def gabriel_graph_sql(points_select: str) -> str:
    """DuckDB oracle for ``gabriel_graph`` (the same open-disk NOT EXISTS
    definition; dot products stay in int64 at 1e5-quantized coords)."""
    return f"""
WITH p AS MATERIALIZED (SELECT DISTINCT k, x, y FROM ({points_select}) s)
SELECT a.k, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
FROM p a JOIN p b
  ON b.k = a.k AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
WHERE NOT EXISTS (
  SELECT 1 FROM p c
  WHERE c.k = a.k
    AND (c.x != a.x OR c.y != a.y) AND (c.x != b.x OR c.y != b.y)
    AND (a.x - c.x) * (b.x - c.x) + (a.y - c.y) * (b.y - c.y) < 0)"""


def caliper_stats(
    pts: DataFrame,
    key_col: str = "k",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Rotating-calipers width and minimum-area bounding rectangle per key,
    as EXACT reduced rationals: width^2 = (max |cross|)^2 / |edge|^2 and
    rect area = max|cross| * (max dot - min dot) / |edge|^2, minimized over
    hull edges (the calipers theorems: both minima are attained flush with
    a convex-hull edge).

    Engine side scans hull edges only (monotone chain, O(h*n) per key);
    the oracle exploits the superset identity — minimizing the same
    rationals over ALL point-pair directions yields the same value, since
    every direction's extent is >= the true minimum and hull-edge
    directions are included — so it never builds a hull (the
    hull_diameter discipline).  Outputs reduced (num, den) int64 pairs;
    ties in the minimizing direction cannot leak because only the VALUE is
    emitted.  Keep |coords| <= ~2e4 (cross^2 * len2 stays inside HUGEINT).
    Keys with a single distinct point emit nothing.
    """
    from itertools import combinations  # noqa: F401  (parity with siblings)
    from math import gcd

    import pandas as pd

    def hull(p):
        p = sorted(p)
        if len(p) <= 2:
            return p
        lo, up = [], []
        for q in p:
            while len(lo) >= 2 and (
                (lo[-1][0] - lo[-2][0]) * (q[1] - lo[-2][1])
                - (lo[-1][1] - lo[-2][1]) * (q[0] - lo[-2][0])
            ) <= 0:
                lo.pop()
            lo.append(q)
        for q in reversed(p):
            while len(up) >= 2 and (
                (up[-1][0] - up[-2][0]) * (q[1] - up[-2][1])
                - (up[-1][1] - up[-2][1]) * (q[0] - up[-2][0])
            ) <= 0:
                up.pop()
            up.append(q)
        return lo[:-1] + up[:-1]

    def fn(key, pdf):
        p = sorted(set(zip(
            (int(v) for v in pdf[x_col]), (int(v) for v in pdf[y_col])
        )))
        if len(p) < 2:
            return pd.DataFrame(
                columns=["k", "w2_num", "w2_den", "area_num", "area_den"]
            )
        h = hull(p)
        edges = [(h[i], h[(i + 1) % len(h)]) for i in range(len(h))] \
            if len(h) > 2 else [(h[0], h[1])]
        bw = ba = None
        for a, b in edges:
            dx, dy = b[0] - a[0], b[1] - a[1]
            len2 = dx * dx + dy * dy
            if len2 == 0:
                continue
            crs = [dx * (q[1] - a[1]) - dy * (q[0] - a[0]) for q in p]
            mc = max(crs) - min(crs)
            dots = [dx * (q[0] - a[0]) + dy * (q[1] - a[1]) for q in p]
            wnum, anum = mc * mc, mc * (max(dots) - min(dots))
            if bw is None or wnum * bw[1] < bw[0] * len2:
                bw = (wnum, len2)
            if ba is None or anum * ba[1] < ba[0] * len2:
                ba = (anum, len2)
        gw, ga = gcd(bw[0], bw[1]), gcd(ba[0], ba[1])
        return pd.DataFrame([{
            "k": int(key[0]),
            "w2_num": bw[0] // gw, "w2_den": bw[1] // gw,
            "area_num": ba[0] // ga, "area_den": ba[1] // ga,
        }])

    return (
        pts.select(F.col(key_col).alias("k"), F.col(x_col).alias(x_col),
                   F.col(y_col).alias(y_col))
        .groupBy("k")
        .applyInPandas(
            fn, "k long, w2_num long, w2_den long, area_num long, area_den long"
        )
    )


def caliper_stats_sql(base_select: str) -> str:
    """DuckDB twin of ``caliper_stats`` over (k, x, y): all point-pair
    directions, HUGEINT max-minus-min extents (points straddle a
    non-hull-edge line, so the perpendicular extent is max(cross) -
    min(cross), not max|cross|), gcd-reduced rationals, exact NOT-EXISTS
    argmin (equal-value survivors reduce to the identical pair, so
    DISTINCT collapses them)."""
    return f"""
WITH p AS (
  SELECT DISTINCT k, CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
  FROM ({base_select}) bs),
dirs AS (
  SELECT a.k, a.x AS ax, a.y AS ay, b.x - a.x AS dx, b.y - a.y AS dy
  FROM p a JOIN p b
    ON a.k = b.k AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
ext AS (
  SELECT d.k, d.dx * d.dx + d.dy * d.dy AS len2,
         max(d.dx * (q.y - d.ay) - d.dy * (q.x - d.ax))
           - min(d.dx * (q.y - d.ay) - d.dy * (q.x - d.ax)) AS mc,
         max(d.dx * (q.x - d.ax) + d.dy * (q.y - d.ay))
           - min(d.dx * (q.x - d.ax) + d.dy * (q.y - d.ay)) AS dr
  FROM dirs d JOIN p q ON q.k = d.k
  GROUP BY d.k, d.ax, d.ay, d.dx, d.dy),
ratw AS (
  SELECT k, wnum // g AS num, len2 // g AS den FROM (
    SELECT k, mc * mc AS wnum, len2, gcd(mc * mc, len2) AS g FROM ext) t),
rata AS (
  SELECT k, anum // g AS num, len2 // g AS den FROM (
    SELECT k, mc * dr AS anum, len2, gcd(mc * dr, len2) AS g FROM ext) t),
minw AS (
  SELECT DISTINCT r.k, r.num, r.den FROM ratw r
  WHERE NOT EXISTS (
    SELECT 1 FROM ratw r2
    WHERE r2.k = r.k AND r2.num * r.den < r.num * r2.den)),
mina AS (
  SELECT DISTINCT r.k, r.num, r.den FROM rata r
  WHERE NOT EXISTS (
    SELECT 1 FROM rata r2
    WHERE r2.k = r.k AND r2.num * r.den < r.num * r2.den))
SELECT w.k,
       CAST(w.num AS BIGINT) AS w2_num, CAST(w.den AS BIGINT) AS w2_den,
       CAST(a.num AS BIGINT) AS area_num, CAST(a.den AS BIGINT) AS area_den
FROM minw w JOIN mina a ON a.k = w.k"""


def two_opt_step(
    pts: DataFrame,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One deterministic 2-opt improvement step per key (Croes 1958 — the
    classic tour-improvement move): over the tour in ``order_col`` order
    (closed: last connects to first), evaluate EVERY edge pair (i, j)
    and report the best reversal gain
    gain = d(i,i+1) + d(j,j+1) - d(i,j) - d(i+1,j+1); squared lengths
    cannot rank 2-opt gains, so each d is ONE correctly-rounded sqrt
    quantized at 2^10 (IEEE-identical both engines, the linear_ref
    discipline) and the gains are exact integers of quantized lengths.
    Ties -> smallest (i, j).

    Output: (key, n, tour_q, best_gain, bi, bj) — tour_q the quantized
    closed-tour length, positive best_gain means the swap shortens it.

    Scale shape: one rank window + one bounded per-key pair join + one
    argmax — the evaluate-everything-in-parallel formulation of local
    search (apply/iterate is the caller's loop)."""
    word = Window.partitionBy(key_col).orderBy(order_col)
    b = (
        pts.select(key_col, order_col,
                   F.col(x_col).cast("long").alias("x"),
                   F.col(y_col).cast("long").alias("y"))
        .withColumn("rn", F.row_number().over(word).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(
            Window.partitionBy(key_col)).cast("long"))
    )
    # successor edges via lead() with wraparound to the first point
    e = (
        b.withColumn("x2", F.coalesce(F.lead("x").over(word),
                                      F.first("x").over(
            Window.partitionBy(key_col).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))))
        .withColumn("y2", F.coalesce(F.lead("y").over(word),
                                     F.first("y").over(
            Window.partitionBy(key_col).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))))
        .withColumn(
            "dq",
            F.floor(F.sqrt(((F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2"))
                            + (F.col("y") - F.col("y2")) * (F.col("y") - F.col("y2")))
                           .cast("double")) * 1024).cast("long"),
        )
        .select(key_col, "rn", "n", "x", "y", "x2", "y2", "dq")
    )
    tour = e.groupBy(key_col).agg(F.sum("dq").alias("tour_q"),
                                  F.max("n").alias("n"))
    a = e.select(key_col, F.col("rn").alias("i"), F.col("x").alias("ax"),
                 F.col("y").alias("ay"), F.col("x2").alias("ax2"),
                 F.col("y2").alias("ay2"), F.col("dq").alias("da"))
    c = e.select(key_col, F.col("rn").alias("j"), F.col("x").alias("bx"),
                 F.col("y").alias("by"), F.col("x2").alias("bx2"),
                 F.col("y2").alias("by2"), F.col("dq").alias("db"))
    dnew1 = F.floor(F.sqrt(((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
                           .cast("double")) * 1024).cast("long")
    dnew2 = F.floor(F.sqrt(((F.col("ax2") - F.col("bx2")) * (F.col("ax2") - F.col("bx2"))
                            + (F.col("ay2") - F.col("by2")) * (F.col("ay2") - F.col("by2")))
                           .cast("double")) * 1024).cast("long")
    pairs = (
        a.join(c, key_col)
        .filter((F.col("i") + 1 < F.col("j")))
        .withColumn("gain", F.col("da") + F.col("db") - dnew1 - dnew2)
    )
    pick = Window.partitionBy(key_col).orderBy(F.col("gain").desc(), "i", "j")
    best = (
        pairs.withColumn("pk", F.row_number().over(pick))
        .filter(F.col("pk") == 1)
        .select(key_col, F.col("gain").alias("best_gain"),
                F.col("i").alias("bi"), F.col("j").alias("bj"))
    )
    return tour.join(best, key_col).select(
        key_col, "n", "tour_q", "best_gain", "bi", "bj")


def two_opt_step_sql(
    base_select: str,
    key_col: str = "k",
    order_col: str = "o",
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB twin of ``two_opt_step``."""
    q = "1024"
    return f"""
WITH b AS (
  SELECT {key_col} AS k, CAST({x_col} AS BIGINT) AS x,
         CAST({y_col} AS BIGINT) AS y,
         CAST(row_number() OVER (PARTITION BY {key_col}
              ORDER BY {order_col}) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY {key_col}) AS BIGINT) AS n
  FROM ({base_select}) s),
e AS (
  SELECT a.k, a.rn, a.n, a.x, a.y, b2.x AS x2, b2.y AS y2,
         CAST(floor(sqrt(CAST((a.x - b2.x) * (a.x - b2.x)
              + (a.y - b2.y) * (a.y - b2.y) AS DOUBLE)) * {q}) AS BIGINT) AS dq
  FROM b a JOIN b b2 ON b2.k = a.k AND b2.rn = (a.rn % a.n) + 1),
tour AS (SELECT k, sum(dq) AS tour_q, max(n) AS n FROM e GROUP BY 1),
pairs AS (
  SELECT a.k, a.rn AS i, c.rn AS j,
         a.dq + c.dq
         - CAST(floor(sqrt(CAST((a.x - c.x) * (a.x - c.x)
               + (a.y - c.y) * (a.y - c.y) AS DOUBLE)) * {q}) AS BIGINT)
         - CAST(floor(sqrt(CAST((a.x2 - c.x2) * (a.x2 - c.x2)
               + (a.y2 - c.y2) * (a.y2 - c.y2) AS DOUBLE)) * {q}) AS BIGINT)
           AS gain
  FROM e a JOIN e c ON c.k = a.k AND a.rn + 1 < c.rn)
SELECT t.k, t.n, t.tour_q, p.gain AS best_gain, p.i AS bi, p.j AS bj
FROM tour t JOIN (
  SELECT * FROM (
    SELECT k, i, j, gain,
           row_number() OVER (PARTITION BY k ORDER BY gain DESC, i, j) AS pk
    FROM pairs) r WHERE pk = 1) p
  ON p.k = t.k"""


def tsp_exact(
    dists: DataFrame,
    n_nodes: int = 10,
) -> DataFrame:
    """Exact TSP by the Held-Karp bitmask DP (1962, public literature),
    RELATIONAL: DP[mask, j] = shortest 0->...->j path visiting exactly
    ``mask``; layer k (masks of popcount k) is ONE equi-join of layer
    k-1 against the distance table + one min-aggregation — n-2 rounds
    total, no search tree, every state an exact integer (quantized
    distances are the caller's contract, cf. two_opt).  The optimum
    closes back to node 0.  Bounded-n exact verifier (states
    2^n * n per key); `two_opt` is the any-n local-search path this
    pins from below.

    Input: (k, i, j, d) full directed distance table per key.
    Output: (k, best_cost) the optimal closed-tour cost."""
    n = int(n_nodes)
    e = dists.select("k", "i", "j", F.col("d").cast("long").alias("d")) \
        .localCheckpoint()
    layer = (
        e.filter((F.col("i") == 0) & (F.col("j") != 0))
        .select(
            "k",
            (F.lit(1) + F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
            .alias("mask"),
            F.col("j").alias("last"), F.col("d").alias("cost"),
        )
        .localCheckpoint()
    )
    for _ in range(n - 2):
        step = (
            layer.join(e.withColumnRenamed("i", "last"), ["k", "last"])
            .filter(F.col("j") != 0)
            .filter(F.expr(
                "(mask div shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))) % 2"
            ) == 0)
            .select(
                "k",
                (F.col("mask")
                 + F.expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
                .alias("mask"),
                F.col("j").alias("last"),
                (F.col("cost") + F.col("d")).alias("c"),
            )
            .groupBy("k", "mask", "last")
            .agg(F.min("c").alias("cost"))
            .localCheckpoint()
        )
        layer = step
    close = (
        layer.join(
            e.filter(F.col("j") == 0).select("k", F.col("i").alias("last"),
                                             F.col("d").alias("dback")),
            ["k", "last"],
        )
        .select("k", (F.col("cost") + F.col("dback")).alias("tour"))
        .groupBy("k")
        .agg(F.min("tour").alias("best_cost"))
    )
    return close


def tsp_exact_sql(dists_select: str, n_nodes: int = 10) -> str:
    """DuckDB twin of ``tsp_exact`` (chained MATERIALIZED DP layers)."""
    n = int(n_nodes)
    blocks = [
        f"e AS MATERIALIZED (SELECT k, i, j, CAST(d AS BIGINT) AS d "
        f"FROM ({dists_select}) ds)",
        """l2 AS MATERIALIZED (
  SELECT k, 1 + (CAST(1 AS BIGINT) << CAST(j AS INT)) AS mask,
         j AS last, d AS cost
  FROM e WHERE i = 0 AND j <> 0)""",
    ]
    prev = "l2"
    for r in range(3, n + 1):
        blocks.append(f"""l{r} AS MATERIALIZED (
  SELECT k, mask, last, min(c) AS cost FROM (
    SELECT p.k,
           p.mask + (CAST(1 AS BIGINT) << CAST(e.j AS INT)) AS mask,
           e.j AS last, p.cost + e.d AS c
    FROM {prev} p JOIN e ON e.k = p.k AND e.i = p.last
    WHERE e.j <> 0
      AND (p.mask // (CAST(1 AS BIGINT) << CAST(e.j AS INT))) % 2 = 0) s
  GROUP BY 1, 2, 3)""")
        prev = f"l{r}"
    return ("WITH " + ",\n".join(blocks) + f"""
SELECT p.k, min(p.cost + e.d) AS best_cost
FROM {prev} p JOIN e ON e.k = p.k AND e.i = p.last AND e.j = 0
GROUP BY 1""")
