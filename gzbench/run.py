"""Benchmark command.

    python3 gzbench/run.py --workload geo --seed 1 --seconds 10 --trace 0

Runs one workload (geo or corpus; see BENCHMARK.json for why
each exists) on local[nproc] from one driver process, checks every
output, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are also written to
``.gzbench/trace-<workload>-<seed>.json``.

``setup_s`` runs from process start to the first timed pass: Spark
session start and loading the inputs (writing the seeded input files
is preparation and is not counted).

All files live under ``.gzbench/`` next to this directory; the per-run
input directory is removed at exit. Exit code 0 only when every
operation ran and every output check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one thread per Python worker: Spark already runs one task per core
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"
# executors import geozero_spark from the checkout, whatever the cwd
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402  (after the thread-count variables)

DRIVER_MEM = "3g"
OUT_DIR = os.path.join(ROOT, ".gzbench")


def start_session(run_dir: str):
    from geozero_spark.plans.session import make_session

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file in the run dir: Python's (the gateway's
    # connection file) and the JVMs' perf data, the launcher's included
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = make_session("gzbench", cpus=cpus, shuffle_partitions=cpus,
                         extra={
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        # spans read their stages right after they end; the raised
        # retention keeps long runs complete anyway
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def wait_children(timeout: float = 30.0) -> None:
    from gzbench import proc

    me = str(os.getpid())
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if set(proc.tree(os.getpid())) <= {me}:
            return
        time.sleep(0.2)


def host_ref_ms(data) -> float:
    """A fixed numpy kernel, timed before each pass of a traced run:
    its drift over a run shows host interference, not a change in the
    engine."""
    t = time.perf_counter()
    np.sort(data)
    return (time.perf_counter() - t) * 1000.0


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: dict | None = None, plant=None) -> dict:
    """One benchmark run; returns the result object. ``size`` and
    ``plant`` (called with the workload and recorder after set-up) are
    for the smoke test."""
    from gzbench import metrics, pinned, proc, workloads
    from gzbench.spans import Recorder

    wl = workloads.make(workload, seed, size)
    run_dir = os.path.join(OUT_DIR, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    me = os.getpid()
    failed = 0
    passes = []
    spark = None
    # the RSS sampler only runs in traced runs, whose metrics report it
    rss = proc.PeakRss(me) if trace else contextlib.nullcontext()
    try:
        with rss:
            t = time.perf_counter()
            wl.prepare(run_dir)
            prep = time.perf_counter() - t
            spark = start_session(run_dir)
            rec = Recorder(spark, trace=False)
            t = time.perf_counter()
            wl.generate(spark)
            prep += time.perf_counter() - t
            wl.load(spark, rec)
            if plant is not None:
                plant(wl, rec)
            if trace:
                # per-layer timings are read from warm passes; untraced
                # runs gate only set-up time and exact counts, which a
                # cold pass gives as well, so they skip the warm-up
                try:
                    wl.run_pass(rec)
                except Exception:
                    traceback.print_exc()
                    failed += 1
            setup_s = time.perf_counter() - T_START - prep
            ref_data = np.random.default_rng(0).random(400_000)
            host_ms = []
            t_end = time.perf_counter() + seconds
            n = 0
            # a traced run alternates traced and untraced passes, at
            # least one of each, for trace_overhead
            while time.perf_counter() < t_end or (trace and n < 2):
                traced = trace and n % 2 == 0
                rec.trace = traced
                rec.pass_id = n + 1
                if trace:
                    host_ms.append(host_ref_ms(ref_data))
                n += 1
                cpu0, t0 = proc.cpu_s(me), time.perf_counter()
                try:
                    spans = wl.run_pass(rec)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    continue
                gross = time.perf_counter() - t0
                passes.append(metrics.Pass(
                    traced, sum(s.wall_s for s in spans), gross,
                    proc.cpu_s(me) - cpu0, spans))
            rec.trace = False
            try:
                wl.check(rec)
                pinned.check(wl)
            except Exception:
                traceback.print_exc()
                failed += 1
            attempted = rec.started
    finally:
        if spark is not None:
            stop_session(spark)
        wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    pinned.record(os.path.join(OUT_DIR, f"fingerprints-{workload}-{seed}"
                               ".json"), wl)
    if trace:
        out = metrics.per_layer(passes, host_ms, rss.peak_mb,
                                wl.pass_rows())
        metrics.write_trace(
            os.path.join(OUT_DIR, f"trace-{workload}-{seed}.json"),
            workload, seed, passes, out, wl.fingerprints())
    else:
        out = metrics.end_to_end(passes, setup_s)
    return {"correct": failed == 0 and bool(passes),
            "attempted": max(1, attempted), "failed": failed,
            "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("geo", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    try:
        import geozero_spark  # noqa: F401
    except ImportError as e:
        print(f"gzbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
