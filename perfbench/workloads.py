"""The benchmark workloads.

Each workload generates its inputs from the seed, writes them through the
engine in ``setup``, runs one pass of engine calls in ``run_pass`` (returning
a checksum that must repeat on every pass), checks a sample of the output
against an independent oracle in ``checks``, and in a traced run adds the
per-layer numbers its layers expose (``probe_layers`` while Spark is up,
``log_layers`` from the event log afterwards).

Sizes are chosen so one run, with its JVM start, three set-ups, the cold
pass, the warm-up and the measuring window, takes about a minute on 4 cores.
The polygon side is a fixed dimension table (keys 1..n, like the supplier
keys of the test data); the seed drives the points, events and queries.
With a hundred-odd polygons, drawing them from the seed changed the join's
work by more than 10 % between seeds, which swamped the run-to-run spread.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.probes import median
from sis_spark import synth
from sis_spark.functions import geometry as geo
from sis_spark.functions.spark_exprs import cell_col
from sis_spark.functions.transforms import tile_sql
from sis_spark.operators import spatial_join as sj
from sis_spark.operators.knn import knn_join, knn_join_cells
from sis_spark.operators.tiling import assign_tiles
from sis_spark.sources import images
from sis_spark.sources import table_format as tf

GEN_PARTITIONS = 8  # fixed, so the generated rows do not depend on the host


def _skewed_points(spark: SparkSession, n: int, seed: int, jitter: float,
                   hot_share: float = 0.8) -> DataFrame:
    """(id, lon, lat): ``hot_share`` of the points within ``jitter`` degrees
    of the 8 hot centres, the rest uniform.  ``rand(seed)`` is fixed per
    partition and the partition count is fixed, so a seed always yields the
    same rows."""
    cx = F.array(*[F.lit(c[0]) for c in synth.HOT_CENTERS])
    cy = F.array(*[F.lit(c[1]) for c in synth.HOT_CENTERS])
    centre = (F.floor(F.rand(seed + 1) * 8) + 1).cast("int")
    hot = F.rand(seed + 2) < hot_share
    lon = F.when(hot, F.element_at(cx, centre) + (F.rand(seed + 3) * 2 - 1) * jitter) \
        .otherwise(F.rand(seed + 4) * 360 - 180)
    lat = F.when(hot, F.element_at(cy, centre) + (F.rand(seed + 5) * 2 - 1) * jitter) \
        .otherwise(F.rand(seed + 6) * 170 - 85)
    return spark.range(0, n, 1, GEN_PARTITIONS).select(
        "id", lon.alias("lon"), lat.alias("lat"))


def _groups(tr, names, passes) -> set[str]:
    """Job groups of the spans called ``names`` in ``passes``, with their
    nested spans."""
    out: set[int] = set()
    for s in tr.spans:
        if s["name"] in names and s["pass"] in passes:
            out |= tr.subtree(s["id"])
    return {str(i) for i in out}


def _timed(fn, reps: int = 3) -> float:
    """Median seconds of ``reps`` calls."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


# ======================================================================
# join_tiles: snapshot scan -> covering join -> PIP refine -> tiles
# ======================================================================

class JoinTiles:
    name = "join_tiles"
    ROWS = 100_000
    POLYGONS = 150
    ZOOM = 12
    # coarse cell of the table's directory partitions: 64 files, not the
    # engine default's 256, so the three set-ups fit the run
    PREFIX_RES = 3
    SAMPLE_MOD = 100  # ~1 % of the rows go to the DuckDB oracle

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rows = self.ROWS

    def _image_rows(self, spark: SparkSession) -> DataFrame:
        """All nine image+caption columns; ``bytes`` is a 256 B stand-in."""
        iid = F.format_string("img-%d-%010d", F.lit(self.seed), F.col("id"))
        sizes = F.array(*[F.lit(s) for s in images.SIZES])
        fmts = F.array(*[F.lit(s) for s in images.FMTS])
        vocab = F.array(*[F.lit(w) for w in images._VOCAB])
        words = [F.element_at(vocab, (F.pmod(F.xxhash64(iid, F.lit(k)), F.lit(len(images._VOCAB))) + 1)
                              .cast("int")) for k in range(6)]
        return _skewed_points(spark, self.rows, self.seed, 0.5).select(
            iid.alias("image_id"),
            F.encode(F.repeat(F.md5(iid), 8), "utf-8").alias("bytes"),
            F.element_at(sizes, (F.col("id") % 3 + 1).cast("int")).alias("w"),
            F.element_at(sizes, ((F.col("id") / 3).cast("long") % 3 + 1).cast("int")).alias("h"),
            F.element_at(fmts, (F.col("id") % 3 + 1).cast("int")).alias("fmt"),
            F.concat_ws(" ", F.lit("caption of"), iid, *words).alias("caption"),
            F.xxhash64(iid).alias("phash"),
            "lon", "lat",
        )

    def setup(self, spark: SparkSession, i: int, tr) -> None:
        self.root = os.path.join(self.work, f"images{i}")
        df = self._image_rows(spark).withColumn(
            "cell_p", cell_col(F.col("lon"), F.col("lat"), self.PREFIX_RES))
        with tr.span("sources.input_write"):
            # one file per partition value, as a compacted table would have
            tf.create_table(spark, self.root, df.repartition("cell_p"), partition_by=["cell_p"])
        self.polys = synth.polygon_table_np(np.arange(1, self.POLYGONS + 1))

    def _joined(self, spark: SparkSession) -> DataFrame:
        return images.spatial_join_snapshot(spark, self.root, self.polys, self.PREFIX_RES,
                                            lon_col="lon", lat_col="lat")

    def run_pass(self, spark: SparkSession, tr) -> tuple:
        with tr.span("spatial_join.plan"):
            joined = self._joined(spark)
        out = assign_tiles(joined, "lon", "lat", self.ZOOM)
        with tr.span("execute"):
            r = out.agg(F.count(F.lit(1)), F.sum("poly_key"), F.sum("tx"), F.sum("ty")).first()
        return tuple(r)

    def checks(self, spark: SparkSession) -> list[tuple[str, bool, str]]:
        sample = (tf.read(spark, self.root)
                  .filter(F.pmod(F.xxhash64("image_id"), F.lit(self.SAMPLE_MOD)) == 0)
                  .select("image_id", "lon", "lat").toPandas())
        ids = spark.createDataFrame(sample[["image_id"]])
        got = (assign_tiles(self._joined(spark), "lon", "lat", self.ZOOM)
               .join(F.broadcast(ids), "image_id")
               .select("image_id", "poly_key", "tx", "ty").toPandas())
        pts = sample.rename(columns={"image_id": "pid"})
        supplier = pd.DataFrame({"s_suppkey": [p["key"] for p in self.polys]})
        tx, ty = tile_sql("p.lon", "p.lat", self.ZOOM)
        con = duckdb.connect()
        try:
            con.register("sample_pts", pts)
            con.register("supplier", supplier)
            oracle = con.execute(
                f"SELECT o.pid, o.poly_key, {tx} AS tx, {ty} AS ty "
                f"FROM ({synth.pip_join_oracle_sql('SELECT pid, lon, lat FROM sample_pts')}) o "
                f"JOIN sample_pts p ON p.pid = o.pid").fetchall()
        finally:
            con.close()
        want = set(oracle)
        have = set(got.itertuples(index=False, name=None))
        ok = want == have and len(got) == len(have)
        return [("pip_join_sample", ok,
                 f"{len(sample)} points, {len(want)} oracle rows, {len(have)} engine rows, "
                 f"{len(want - have)} missing, {len(have - want)} extra")]

    def probe_layers(self, spark: SparkSession, tr, checksum: tuple) -> dict:
        parts = sj.normalize_polygons(self.polys)
        # the resolution spatial_join picks for its interior-skip plan
        res = min(sj.choose_resolution(parts) + 3, 14)
        pc = sj.polygon_cells(parts, res, classify=True)
        want = {str(c) for c in images.covering_prefixes(self.polys, self.PREFIX_RES)}

        def pruned():
            return tf.read(spark, self.root, partition_filter=lambda p: p["cell_p"] in want)

        cand = (pruned().withColumn("cell", cell_col(F.col("lon"), F.col("lat"), res))
                .join(F.broadcast(spark.createDataFrame(pc)), "cell"))
        env_ok = ((F.col("lon") >= F.col("e_xmin")) & (F.col("lon") <= F.col("e_xmax"))
                  & (F.col("lat") >= F.col("e_ymin")) & (F.col("lat") <= F.col("e_ymax")))
        with tr.span("funnel"):
            f = cand.agg(
                F.count(F.lit(1)).alias("candidates"),
                F.sum(F.col("sure").cast("long")).alias("sure"),
                F.sum((~F.col("sure") & env_ok).cast("long")).alias("envelope"),
            ).first()
        with tr.span("sources.scan"):
            scan_s = _timed(lambda: pruned().agg(F.sum("lon"), F.sum("lat")).first())
        with tr.span("functions.cell_id"):
            cell_s = _timed(lambda: pruned().agg(
                F.sum("lon"), F.sum("lat"),
                F.sum(cell_col(F.col("lon"), F.col("lat"), res))).first())
        with tr.span("join_only"):
            join_s = _timed(lambda: self._joined(spark).agg(
                F.count(F.lit(1)), F.sum("poly_key")).first(), reps=1)
        self._join_only_s = join_s
        output = int(checksum[0])
        pip_hits = output - int(f["sure"])
        return {
            "sources.scan_s": scan_s,
            "functions.cell_id_s": cell_s - scan_s,
            "spatial_join.covering_rows": len(pc),
            "spatial_join.candidates": int(f["candidates"]),
            "spatial_join.sure_rows": int(f["sure"]),
            "spatial_join.envelope_rows": int(f["envelope"]),
            "spatial_join.pip_hits": pip_hits,
            "spatial_join.output_rows": output,
            "spatial_join.pip_hit_ratio": pip_hits / max(1, int(f["envelope"])),
        }

    def log_layers(self, ev, tr, passes) -> dict:
        g = _groups(tr, {"pass"}, passes)
        n = len(passes)
        return {
            "spatial_join.plan_s": median(tr.durations("spatial_join.plan", passes)),
            # full pass minus the same pass without assign_tiles
            "tiling.assign_s": median(tr.durations("pass", passes)) - self._join_only_s,
            "sources.files_read": ev.sql(g, "number of files read") / n,
            "sources.bytes_read_mb": ev.sql(g, "size of files read") / n / 2**20,
            "spatial_join.map_passes": ev.max_scans(g),
            "spatial_join.python_bytes_mb": ev.sql(g, "data sent to Python workers") / n / 2**20,
            "spatial_join.python_exec_s": ev.sql(g, "time to run Python workers") / n,
        }


# ======================================================================
# pairs_knn: polygon pair join (DE-9IM refine) + exact k-ring kNN
# ======================================================================

class PairsKnn:
    name = "pairs_knn"
    POLYGONS = 100
    EVENTS = 10_000
    QUERIES = 40
    K = 5
    CHECK_QUERIES = 10

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rows = self.POLYGONS + self.QUERIES

    def setup(self, spark: SparkSession, i: int, tr) -> None:
        self.keys = keys = np.arange(1, self.POLYGONS + 1)
        polys = pd.DataFrame({
            "key": keys,
            "wkb": [bytes(geo.wkb_polygon([synth.polygon_vertices_np(int(k))])) for k in keys],
        })
        events = _skewed_points(spark, self.EVENTS, self.seed, 0.5).select(
            F.col("id").alias("cand_id"), "lon", "lat")
        # image points inside the hot cells, where the candidates are dense
        queries = _skewed_points(spark, self.QUERIES, self.seed + 100, 0.5, hot_share=1.0).select(
            F.col("id").alias("query_id"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
        self.roots = {k: os.path.join(self.work, f"{k}{i}") for k in ("polygons", "events", "queries")}
        with tr.span("sources.input_write"):
            tf.create_table(spark, self.roots["polygons"], spark.createDataFrame(polys))
            tf.create_table(spark, self.roots["events"], events)
            tf.create_table(spark, self.roots["queries"], queries)

    def _inputs(self, spark: SparkSession):
        return tuple(tf.read(spark, self.roots[k]) for k in ("polygons", "events", "queries"))

    def run_pass(self, spark: SparkSession, tr) -> tuple:
        """Both outputs are small, so the pass collects them; the checks
        then test the last pass's rows instead of recomputing them."""
        polys, events, queries = self._inputs(spark)
        with tr.span("relate"):
            pairs = sj.polygon_pair_join(polys).collect()
        with tr.span("knn"):
            nn = knn_join_cells(events, queries, self.K).select("query_id", "rank", "cand_id").collect()
        spark.catalog.clearCache()  # both operators persist their inputs
        self.pairs = {tuple(r) for r in pairs}
        self.nn = {tuple(r) for r in nn}
        return (len(self.pairs), hash(frozenset(self.pairs)), len(self.nn), hash(frozenset(self.nn)))

    def checks(self, spark: SparkSession) -> list[tuple[str, bool, str]]:
        con = duckdb.connect()
        try:
            con.register("supplier", pd.DataFrame({"s_suppkey": self.keys}))
            want = set(con.execute(synth.polygon_pair_oracle_sql()).fetchall())
        finally:
            con.close()
        got = self.pairs
        out = [("polygon_pairs", got == want,
                f"{len(want)} oracle pairs, {len(got)} engine pairs, "
                f"{len(want - got)} missing, {len(got - want)} extra")]
        _, events, queries = self._inputs(spark)
        step = self.QUERIES // self.CHECK_QUERIES
        qs = queries.filter(F.col("query_id") % step == 0)
        ref = {tuple(r) for r in knn_join(events, qs, self.K).select("query_id", "rank", "cand_id").collect()}
        have = {r for r in self.nn if r[0] % step == 0}
        out.append(("knn_sample_vs_brute", have == ref and len(ref) > 0,
                    f"{len(ref)} brute rows, {len(have)} k-ring rows"))
        return out

    def probe_layers(self, spark: SparkSession, tr, checksum: tuple) -> dict:
        xy = [synth.polygon_vertices_np(int(k)) for k in self.keys]
        env = np.array([[vx.min(), vy.min(), vx.max(), vy.max()] for vx, vy in xy])
        over = ((env[:, None, 0] <= env[None, :, 2]) & (env[None, :, 0] <= env[:, None, 2])
                & (env[:, None, 1] <= env[None, :, 3]) & (env[None, :, 1] <= env[:, None, 3]))
        candidates = int(np.triu(over, k=1).sum())
        hits = int(checksum[0])
        return {
            "relate.pair_candidates": candidates,
            "relate.pair_hits": hits,
            "relate.hit_ratio": hits / max(1, candidates),
        }

    def log_layers(self, ev, tr, passes) -> dict:
        rel = _groups(tr, {"relate"}, passes)
        knn = _groups(tr, {"knn"}, passes)
        n = len(passes)
        return {
            "relate.pass_s": median(tr.durations("relate", passes)),
            "relate.python_exec_s": ev.sql(rel, "time to run Python workers") / n,
            "knn.pass_s": median(tr.durations("knn", passes)),
            "knn.jobs": ev.total(knn, "jobs") / n,
            # rows out of the rounds' joins: ring cells x candidates, mostly
            "knn.candidate_rows": ev.sql(knn, "number of output rows", "Join") / n,
            "knn.shuffle_mb": ev.total(knn, "shuffle_write_b") / n / 2**20,
        }


WORKLOADS = {w.name: w for w in (JoinTiles, PairsKnn)}
