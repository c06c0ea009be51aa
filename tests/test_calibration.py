"""Brute-force differentials for the MinHash calibration audit
(dedup.minhash_calibration) and the spatial correlogram
(density.correlogram)."""

import hashlib
import itertools

import numpy as np

from sis_spark.operators.dedup import (
    BAND_SIZE,
    N_HASHES,
    minhash_calibration,
)
from sis_spark.operators.density import correlogram


def _shingle_set(text, n=3):
    toks = text.split(" ")
    hi = max(len(toks) - n + 1, 1)
    return {" ".join(toks[p - 1:p - 1 + n]) for p in range(1, hi + 1)}


def _signature(shingles):
    return [
        min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in shingles)
        for i in range(N_HASHES)
    ]


def _brute_calibration(docs, n=3):
    """docs: list of (doc_id, text). Returns {agree: (n_pairs, sc, su)}."""
    sh = {d: _shingle_set(t, n) for d, t in docs}
    sig = {d: _signature(s) for d, s in sh.items()}
    cand = set()
    for (da, _), (db, _) in itertools.combinations(docs, 2):
        a, b = min(da, db), max(da, db)
        for band in range(N_HASHES // BAND_SIZE):
            ka = sig[a][band * BAND_SIZE:(band + 1) * BAND_SIZE]
            kb = sig[b][band * BAND_SIZE:(band + 1) * BAND_SIZE]
            if ka == kb:
                cand.add((a, b))
                break
    out = {}
    for a, b in cand:
        agree = sum(1 for i in range(N_HASHES) if sig[a][i] == sig[b][i])
        common = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - common
        np_, sc, su = out.get(agree, (0, 0, 0))
        out[agree] = (np_ + 1, sc + common, su + union)
    return out


def test_minhash_calibration_matches_brute(spark):
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    base = " ".join(rng.choice(vocab, 30))
    for d in range(20):
        if d % 3 == 0:
            # near-duplicates of the base doc: replace a few words
            toks = base.split(" ")
            for _ in range(d % 5):
                toks[int(rng.integers(0, len(toks)))] = str(
                    rng.choice(vocab))
            docs.append((d, " ".join(toks)))
        else:
            docs.append((d, " ".join(rng.choice(vocab, 25))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    got = {
        r["agree"]: (r["n_pairs"], r["sum_common"], r["sum_union"])
        for r in minhash_calibration(df).collect()
    }
    assert cache.numCachedEntries() == cached  # the signatures are not cached
    assert got == _brute_calibration(docs)
    # the whole point of the audit: some candidate pairs must exist and
    # at least one must be a high-agreement near-dup
    assert got and max(got) >= N_HASHES - 2


def test_minhash_calibration_short_docs(spark):
    # fewer tokens than the shingle width -> single truncated shingle
    docs = [(1, "a b"), (2, "a b"), (3, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["agree"]: (r["n_pairs"], r["sum_common"], r["sum_union"])
        for r in minhash_calibration(df).collect()
    }
    # docs 1 and 2 are identical -> all hashes agree, jaccard 1/1
    assert got == {N_HASHES: (1, 1, 1)}


def _brute_correlogram(rows, bw, nb):
    n = len(rows)
    sv = sum(v for _, _, _, v in rows)
    z = {i: v * n - sv for i, _, _, v in rows}
    sum_z2 = sum(zz * zz for zz in z.values())
    R2 = (bw * nb) ** 2
    out = {}
    for (i, xi, yi, _), (j, xj, yj, _) in itertools.product(rows, rows):
        if i == j:
            continue
        d2 = (xi - xj) ** 2 + (yi - yj) ** 2
        if d2 > R2:
            continue
        band = next(k for k in range(nb) if d2 < ((k + 1) * bw) ** 2)
        np_, szz = out.get(band, (0, 0))
        out[band] = (np_ + 1, szz + z[i] * z[j])
    return {b: (np_, szz, sum_z2) for b, (np_, szz) in out.items()}


def test_correlogram_matches_brute(spark):
    rng = np.random.default_rng(5)
    rows = [
        (i, int(rng.integers(0, 400)), int(rng.integers(0, 400)),
         int(rng.integers(0, 10)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, qx long, qy long, v long")
    got = {
        r["band"]: (r["n_pairs"], r["sum_zz"], r["sum_z2"])
        for r in correlogram(df, band_width=60, n_bands=4).collect()
    }
    assert got == _brute_correlogram(rows, 60, 4)
    assert len(got) >= 3  # the synthetic extent actually spans bands


def test_correlogram_band_edges(spark):
    # d = bw exactly -> annulus 1 (band 0 is d2 < bw^2, half-open)
    rows = [(1, 0, 0, 2), (2, 10, 0, 5), (3, 19, 0, 7)]
    df = spark.createDataFrame(rows, "id long, qx long, qy long, v long")
    got = {
        r["band"]: (r["n_pairs"], r["sum_zz"])
        for r in correlogram(df, band_width=10, n_bands=3).collect()
    }
    exp = _brute_correlogram(rows, 10, 3)
    assert got == {b: (np_, szz) for b, (np_, szz, _) in exp.items()}
    # pair (1,2) at exact distance 10 must land in band 1, not band 0
    assert got[1][0] >= 2


def test_correlogram_positive_autocorrelation_sign(spark):
    # two value-segregated blobs far apart: near pairs share sign of z
    # -> band-0 sum_zz strongly positive; the far band mixes signs -> negative
    rows = []
    i = 0
    for bx, v in ((0, 1), (1000, 9)):
        for dx in range(6):
            for dy in range(6):
                rows.append((i, bx + dx * 3, dy * 3, v))
                i += 1
    df = spark.createDataFrame(rows, "id long, qx long, qy long, v long")
    got = {r["band"]: r for r in
           correlogram(df, band_width=30, n_bands=40).collect()}
    assert got[0]["sum_zz"] > 0
    far = max(got)
    assert got[far]["sum_zz"] < 0
