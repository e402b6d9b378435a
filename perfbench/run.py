#!/usr/bin/env python3
"""Near-dup pipeline benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload clustered_dedup --seed 1 --seconds 1 --trace 0

Run from the repository root.  The harness generates the workload's
corpus from ``--seed`` (benchmark side, not timed), sets up once in a
fresh ``local[<cores>]`` session from ``session.get_spark`` (``setup_s``
is JVM launch and session start, any store build and the cold first
run), then repeats the timed run until ``--seconds`` have passed, at
least ``MIN_RUNS`` times; ``wall_s`` is the median.
Every run's output is checked and fingerprinted; a run that raises or
fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json
``end_to_end``).  ``--trace 1`` measures the same untraced runs, then one
more run with every pipeline layer wrapped in a span, and prints the
per-layer ledger (BENCHMARK.json ``per_layer``).

All scratch files (corpus parquet, band store, Spark local dirs, JVM
temp files) live under ``.perfbench_work/`` at the repository root and
are removed on exit.  The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

MIN_RUNS = 1
DRIVER_MEMORY = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_to(work: Path) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    at ``work`` before the JVM starts."""
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={work} -XX:-UsePerfData" '
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def jvm_retained_heap_mb(spark) -> float:
    """JVM heap still live once garbage is gone: Python drops its dead
    py4j proxies, then two full GCs half a second apart let Spark's
    ContextCleaner release what they referenced (unreferenced checkpoint
    blocks, shuffles, broadcasts) before the heap is read."""
    jvm = spark.sparkContext._jvm
    gc.collect()
    for _ in range(2):
        jvm.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 1e6


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Runs one workload and keeps the per-run verdicts."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.fingerprint = None
        self.out = None

    def once(self, tracer=None) -> float | None:
        """One run: untimed reset, timed run, untimed checks.  Returns the
        wall time, or None when the run failed."""
        self.attempted += 1
        try:
            self.wl.reset()
            self.started = time.time()
            t0 = time.perf_counter()
            h = self.wl.run(tracer)
            wall = time.perf_counter() - t0
            self.ended = self.started + wall
            out = self.wl.collect(h)
            fails = self.wl.check(out)
            fp = self.wl.fingerprint(out)
            if self.fingerprint is None:
                self.fingerprint = fp
            elif fp != self.fingerprint:
                fails.append("output fingerprint differs from the first run")
        except Exception:
            log(f"run {self.attempted} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if fails:
            log(f"run {self.attempted} failed checks: {fails[:5]}")
            self.failed += 1
            return None
        self.out, self.handle = out, h
        return wall


def traced_metrics(runner: Runner, spark, untraced_wall: float, gen_s: float) -> dict:
    """One more run with every layer wrapped in a span; returns the
    per-layer ledger, the workload's logical counters and the tracing
    overhead against the last untraced run."""
    from ledger import COUNTERS, LAYER_METRICS, LAYERS, Tracer

    tracer = Tracer(spark)
    tracer.install()
    try:
        traced = runner.once(tracer)
    finally:
        tracer.uninstall()
    if traced is None:
        raise RuntimeError("the traced run failed")
    t0, t1 = runner.started, runner.ended
    led = tracer.ledger(t0, t1)
    metrics = {
        f"{L}.{m}": (led[f"{L}.{m}"], unit) for L in LAYERS for m, unit in LAYER_METRICS
    }
    counted = runner.wl.counters(runner.handle, runner.out, tracer)
    for name, unit in COUNTERS:
        metrics[name] = (counted.get(name, 0), unit)
    metrics.update({
        "trace.wall_s": (traced, "s"),
        "trace.overhead_s": (traced - untraced_wall, "s"),
        "trace.unattributed_s": (led["trace.unattributed_s"], "s"),
        "trace.ungrouped_jobs": (tracer.ungrouped_jobs(t0, t1), "count"),
        "corpus.gen_s": (gen_s, "s"),
    })
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny", "golden"), default="full",
                    help="tiny and golden (the reference's 5-line corpus under "
                    "config.GOLDEN) exist for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT)]
    import checks
    import workloads
    from mapreduce_minhash_lsh_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    work = ROOT / ".perfbench_work" / str(os.getpid())
    confine_to(work)
    # SIGTERM unwinds through the finally below, which stops the JVM and
    # removes the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        corpus = workloads.generate(args.workload, args.seed, args.scale)
        cfg = workloads.GOLDEN if args.scale == "golden" else workloads.PIPELINE_CFG
        wl = workloads.WORKLOADS[args.workload](corpus, str(work), cfg)
        wl.write_inputs()
        gen_s = time.perf_counter() - t0
        log(f"{args.workload} seed {args.seed}: {wl.input_docs} docs generated in {gen_s:.2f}s")

        # Set up once: JVM launch, session start, workload set-up and the
        # cold first run (codegen, JIT).
        runner = Runner(wl)
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores()}]")
        wl.spark = spark
        t_session = time.perf_counter() - t0
        wl.setup()
        t_store = time.perf_counter() - t0 - t_session
        runner.once()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.3f}s: session {t_session:.3f}s, workload set-up "
            f"{t_store:.3f}s, cold run {setup_s - t_session - t_store:.3f}s")
        # Taken after the same work in every process (one run in a fresh
        # session), before the timed runs.
        retained = jvm_retained_heap_mb(spark)

        walls = []
        t_loop = time.perf_counter()
        while len(walls) < MIN_RUNS or time.perf_counter() - t_loop < args.seconds:
            w = runner.once()
            if w is not None:
                walls.append(w)
            elif runner.failed > 2 * MIN_RUNS:
                break
        log(f"runs {[round(w, 3) for w in walls]}")
        if not walls:
            raise RuntimeError("no run succeeded")

        if args.trace:
            metrics = traced_metrics(runner, spark, walls[-1], gen_s)
        else:
            found = wl.found(runner.out) if runner.out is not None else set()
            recall, base = checks.planted_recall(corpus.planted, found, wl.cfg.threshold)
            log(f"planted_recall {recall:.4f} over {base} planted pairs")
            wall = statistics.median(walls)
            metrics = {
                "wall_s": (wall, "s"),
                "docs_per_s": (wl.input_docs / wall, "1/s"),
                "setup_s": (setup_s, "s"),
                "jvm_retained_heap_mb": (retained, "MB"),
                "planted_recall": (recall, "ratio"),
            }
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        # A signal may have cut a py4j call short and left the gateway
        # unusable; the JVM is still stopped and the scratch removed.
        if spark is not None:
            with contextlib.suppress(Exception):
                spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only once no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
