#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
starts a local Spark session sized to this host, runs the set-up, then
runs jobs one at a time (closed loop) for ``--seconds``, at least two,
and checks every output. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics (from a Spark event log and spans
around the layer functions) with ``--trace 1``. The line before it
reports input sizes, session sizing and per-job samples.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: driver heap; the largest driver-side result here is ~10^5 rows
DRIVER_MEM = "2g"
#: problems echoed into the report per failing job
MAX_ERRS = 5
#: jobs per run even when the window closes earlier: a median needs them
MIN_JOBS = 2
END_TO_END_UNITS = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s", "cpu_s": "s", "driver_peak_mb": "MB"}


def _configure(work: str, trace: bool) -> dict:
    """Point every scratch path of Python, the JVM and Spark into ``work``
    and pass launch-time Spark conf (read when the JVM starts)."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    return dirs


def _session(dirs: dict, cores: int):
    import jam_spark.session as session

    # get_spark creates its shuffle dir under /dev/shm or /tmp; keep it in
    # the work dir (SPARK_LOCAL_DIRS already overrides spark.local.dir)
    session._local_dir = lambda: dirs["local"]
    spark = session.get_spark(app="perfbench", cores=cores, shuffle_partitions=cores, driver_mem=DRIVER_MEM)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Loop:
    """Closed-loop job runner: counts attempts and failures, keeps the
    first few problems for the report."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: untimed seconds spent checking outputs
        self.check_s = 0.0

    def run(self, on_start=None, on_end=None):
        """One job: untimed preparation, timed job, untimed check.
        Returns (wall seconds, result or None)."""
        from jam_spark._persist import release_all

        self.wl.before_job()
        if on_start:
            on_start()
        t0 = time.perf_counter()
        try:
            result = self.wl.job()
        except Exception:
            result = None
            errs = ["job raised: " + traceback.format_exc(limit=3)]
        wall = time.perf_counter() - t0
        if on_end:
            on_end()
        release_all()
        t1 = time.perf_counter()
        if result is not None:
            errs = self.wl.check(result)
        self.check_s += time.perf_counter() - t1
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs[:MAX_ERRS]
        return wall, result

    def final(self):
        t1 = time.perf_counter()
        errs = self.wl.final_checks()
        self.check_s += time.perf_counter() - t1
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs[:MAX_ERRS]


def measure(loop: Loop, seconds: float) -> tuple[dict, dict]:
    from perfbench import probes

    walls, cpus, peaks = [], [], []
    mark = {}

    def start():
        probes.reset_peak_rss()
        mark["cpu"] = probes.tree_cpu_seconds()

    def end():
        cpus.append(probes.tree_cpu_seconds() - mark["cpu"])
        peaks.append(probes.peak_rss_mb())

    t0 = time.perf_counter()
    while len(walls) < MIN_JOBS or time.perf_counter() - t0 < seconds:
        wall, _ = loop.run(start, end)
        walls.append(wall)
    job_s = statistics.median(walls)
    metrics = {
        "job_s": job_s,
        "docs_per_s": loop.wl.docs / job_s,
        "cpu_s": statistics.median(cpus),
        "driver_peak_mb": statistics.median(peaks),
    }
    return metrics, {"job_s": walls, "cpu_s": cpus, "driver_peak_mb": peaks}


def traced(loop: Loop, spark, seconds: float):
    """Alternate an untraced and a traced job until the window closes.
    Returns the tracer and the samples; the event log is read after the
    session stops (that closes the file)."""
    from jam_spark import cluster

    from perfbench import layers
    from perfbench.tracer import Tracer

    tracer = Tracer(spark)
    plain, traced_s, iterations = [], [], []
    t0 = time.perf_counter()
    with tracer.installed(layers.targets()):
        while not traced_s or time.perf_counter() - t0 < seconds:
            plain.append(loop.run()[0])
            tracer.rep = len(traced_s)
            wall, _ = loop.run(lambda: setattr(tracer, "enabled", True), lambda: setattr(tracer, "enabled", False))
            tracer.release()
            traced_s.append(wall)
            # set by the distributed CC path only
            dist = any(s.rep == tracer.rep and s.name == layers.CC_DISTRIBUTED for s in tracer.spans)
            iterations.append(cluster.LAST_CC_ITERATIONS if dist else 0)
    return tracer, {"plain_job_s": plain, "traced_job_s": traced_s, "iterations": iterations}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, result = run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


def run(a, work: str) -> tuple[dict, dict]:
    dirs = _configure(work, bool(a.trace))
    import jam_spark  # noqa: F401  (the program under test; fails fast when absent)

    from perfbench import eventlog, layers
    from perfbench.workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = _session(dirs, cores)
    try:
        ctx = Context(spark, work, a.seed, cores)
        wl = WORKLOADS[a.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        loop = Loop(wl)
        if a.trace:
            tracer, samples = traced(loop, spark, a.seconds)
        else:
            metrics, samples = measure(loop, a.seconds)
            metrics["setup_s"] = setup_s
        loop.final()
    finally:
        _stop(spark)
    if a.trace:
        (log,) = os.listdir(dirs["eventlog"])
        costs = eventlog.parse(os.path.join(dirs["eventlog"], log))
        metrics = layers.collect(tracer, costs, samples.pop("iterations"), samples["plain_job_s"], samples["traced_job_s"])
        units = {n: u for n, u, _ in layers.metric_specs()}
    else:
        units = END_TO_END_UNITS
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "session": {"master": f"local[{cores}]", "cores": cores, "shuffle_partitions": cores, "driver_mem": DRIVER_MEM},
        "docs_per_job": wl.docs,
        **ctx.report,
        "setup_s": setup_s,
        "samples": samples,
        "check_s": loop.check_s,
        "failed_frac": loop.failed / loop.attempted,
        "errors": loop.errors,
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return report, result


if __name__ == "__main__":
    sys.exit(main())
