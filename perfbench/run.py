#!/usr/bin/env python3
"""sis_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload join_tiles --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  The run sets up ``SETUPS`` times (session
start + inputs written through the engine; the median is ``setup_s``), times
one cold pass (``first_s``), runs ``WARMUP_PASSES`` untimed passes,
measures passes for ``--seconds`` (at least ``MIN_PASSES``), then checks a
sample of the output against independent oracles.  The last stdout line is
the JSON result; the line before it holds the run's settings and raw data.

``--trace 1`` reports the per-layer metrics instead: spans around the engine
calls (kept in memory, dumped to ``.perfbench/trace-<workload>-s<seed>.json``),
Spark's SQL and task metrics from an uncompressed event log, and the host
control.  Measured passes alternate traced and untraced, so the tracing
overhead is read within the run.  Metric names and units come from
``BENCHMARK.json``; a per-layer metric a workload does not exercise is 0.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3
WARMUP_PASSES = 1
MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_heap_mb() -> int:
    """A quarter of host RAM, between 1 and 2 GiB."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return max(1024, min(2048, total_mb // 4 // 256 * 256))


class Session:
    """The SparkSession, pinned to this host: ``local[cpus]``, shuffle
    partitions = cpus, a bounded driver heap, every scratch file and all JVM
    output under the run's work directory."""

    def __init__(self, work: Path, cpus: int, heap_mb: int, traced: bool):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.jvm_log = work / "jvm.log"
        (work / "tmp").mkdir(parents=True)
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["SIS_SPARK_DRIVER_MEM"] = f"{heap_mb}m"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        self.conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # the whole heap committed and touched up front: RSS and GC do
            # not depend on when the heap happened to grow
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                                              f"-Xms{heap_mb}m -XX:+AlwaysPreTouch"),
        }
        if traced:
            (work / "eventlog").mkdir()
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })

    def start(self) -> None:
        """A fresh SparkContext; the first call also launches the JVM, with
        its stdout and stderr sent to ``jvm.log``."""
        from sis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = get_spark("perfbench", self.cpus, self.cpus, self.conf)
            return
        saved = [os.dup(1), os.dup(2)]
        with open(self.jvm_log, "ab") as f:
            os.dup2(f.fileno(), 1)
            os.dup2(f.fileno(), 2)
            try:
                self.spark = get_spark("perfbench", self.cpus, self.cpus, self.conf)
            finally:
                os.dup2(saved[0], 1)
                os.dup2(saved[1], 2)
                for fd in saved:
                    os.close(fd)

    def set_job_group(self, span_id) -> None:
        if self.spark is not None and self.spark.sparkContext._jsc is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else str(span_id))

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def codegen_fallbacks(self) -> int:
        with open(self.jvm_log, errors="replace") as f:
            return sum("grows beyond 64 KB" in line for line in f)


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict, int, int]:
    from perfbench import probes
    from perfbench.probes import median
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, str(work))
    cpus = len(os.sched_getaffinity(0))
    heap = driver_heap_mb()
    traced = bool(args.trace)
    sess = Session(work, cpus, heap, traced)
    tr = probes.Tracer(traced, sess.set_job_group)
    me = os.getpid()
    attempted = failed = 0
    passes: list[dict] = []
    reference = None

    def one_pass(kind: str, trace_on: bool) -> dict | None:
        nonlocal attempted, failed, reference
        pid = len(passes)
        tr.enabled = trace_on
        tr.pass_id = pid
        calib = probes.calib_s()
        steal0, cpu0 = probes.steal_ticks(), probes.tree_cpu_s(me)
        t0 = time.perf_counter()
        attempted += 1
        try:
            with tr.span("pass"):
                checksum = wl.run_pass(sess.spark, tr)
        except Exception:
            traceback.print_exc()
            failed += 1
            checksum = None
        wall = time.perf_counter() - t0
        rec = {"id": pid, "kind": kind, "traced": trace_on, "wall_s": wall,
               "cpu_s": probes.tree_cpu_s(me) - cpu0,
               "steal_ticks": probes.steal_ticks() - steal0, "calib_s": calib,
               "checksum": checksum}
        tr.pass_id = None
        tr.enabled = traced
        passes.append(rec)
        if checksum is None:
            return None
        if reference is None:
            reference = checksum
        elif checksum != reference:
            log(f"pass {pid}: checksum {checksum} differs from {reference}")
            failed += 1
        return rec

    setup_s: list[float] = []
    checks: list[dict] = []
    layers: dict = {}
    with probes.RssSampler(me) as rss:
        try:
            for i in range(SETUPS):
                t0 = time.perf_counter()
                with tr.span("setup"):
                    with tr.span("session.start"):
                        sess.start()
                    wl.setup(sess.spark, i, tr)
                setup_s.append(time.perf_counter() - t0)
                log(f"setup {i + 1}/{SETUPS}: {setup_s[-1]:.2f} s")
            versions = {
                "spark": sess.spark.version,
                "java": sess.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
            first = one_pass("first", traced)
            for _ in range(WARMUP_PASSES):
                one_pass("warmup", traced)
            t_start = time.perf_counter()
            measured: list[dict] = []
            while len(measured) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
                # a traced run alternates traced and untraced passes
                rec = one_pass("measured", traced and len(measured) % 2 == 0)
                if rec is not None:
                    measured.append(rec)
                elif len(passes) > 4 * MIN_PASSES + WARMUP_PASSES:
                    break
            log(f"{len(measured)} measured passes, median {median([p['wall_s'] for p in measured]):.3f} s")
            tr.enabled = False
            for name, ok, detail in _run_checks(wl, sess.spark):
                attempted += 1
                failed += not ok
                checks.append({"check": name, "ok": ok, "detail": detail})
            if traced:
                tr.enabled = True
                with tr.span("probe"):
                    layers.update(wl.probe_layers(sess.spark, tr, reference))
        finally:
            sess.close()
        peak_rss = rss.peak

    if first is None or not measured:
        raise RuntimeError("no pass completed")
    walls = [p["wall_s"] for p in measured]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "driver_heap_mb": heap, **versions,
        "input_rows": wl.rows, "setup_s": setup_s, "passes": passes, "checks": checks,
    }
    if not traced:
        return info, {
            "setup_s": median(setup_s),
            "first_s": first["wall_s"],
            "wall_s": median(walls),
            "rows_per_s": wl.rows / median(walls),
            "cpu_s": median([p["cpu_s"] for p in measured]),
            "peak_rss_mb": peak_rss / 2**20,
        }, attempted, failed

    traced_ids = {p["id"] for p in measured if p["traced"]}
    on = [p["wall_s"] for p in measured if p["traced"]]
    off = [p["wall_s"] for p in measured if not p["traced"]]
    ev = probes.EventLog(str(max((work / "eventlog").iterdir(), key=os.path.getmtime)))
    groups = {str(s) for s in range(len(tr.spans))
              if tr.spans[s]["pass"] in traced_ids}
    n = len(traced_ids)
    layers.update(wl.log_layers(ev, tr, traced_ids))
    layers.update({
        "session.start_s": median(tr.durations("session.start")),
        "sources.input_write_s": median(tr.durations("sources.input_write")),
        "functions.codegen_fallbacks": sess.codegen_fallbacks(),
        "spark.tasks": ev.total(groups, "tasks") / n,
        "spark.executor_run_s": ev.total(groups, "run_s") / n,
        "spark.executor_cpu_s": ev.total(groups, "cpu_s") / n,
        "spark.gc_s": ev.total(groups, "gc_s") / n,
        "spark.shuffle_write_mb": ev.total(groups, "shuffle_write_b") / n / 2**20,
        "spark.python_init_s": (ev.sql(groups, "time to start Python workers")
                                + ev.sql(groups, "time to initialize Python workers")) / n,
        "host.calib_s": median([p["calib_s"] for p in measured]),
        "host.steal_ticks": median([p["steal_ticks"] for p in measured]),
        "trace.wall_s": median(on),
        "trace.overhead_s": median(on) - median(off),
    })
    tr.dump(str(ROOT / ".perfbench" / f"trace-{args.workload}-s{args.seed}.json"),
            {**info, "layers": layers})
    return info, layers, attempted, failed


def _run_checks(wl, spark):
    try:
        return wl.checks(spark)
    except Exception:
        traceback.print_exc()
        return [(f"{wl.name}_checks", False, "raised; see stderr")]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sis_spark" / "__init__.py").is_file():
        log(f"no sis_spark package under {ROOT}; run from a repository checkout")
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {sorted(names)}")
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        info, values, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
