"""Benchmark entry point.

    python3 fencebench/run.py --workload files_bulk --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` in a separate process,
starts the engine's Spark session, warms the workload up, then times
batches for ``--seconds`` seconds.  Every batch is checked against the
generator's truth.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``.  The exit code is 1 when any
batch failed and 2 when the checkout holds no engine to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _halves(xs: list[float]) -> dict:
    """Median of the first and of the second half of the timed batches:
    a window still warming up shows a falling second half."""
    half = len(xs) // 2
    return {"first_half_p50": _median(xs[:half]), "second_half_p50": _median(xs[len(xs) - half:])}


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args):
        """Run and check one batch or probe; a raise or a mismatch
        counts it as failed and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failed batch is counted, reported and the run goes on
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)
            return None


def _timed(wl, counts: Counts, label: str, cpu: list | None = None):
    """One checked timed batch: (wall, per-rule fail counts) or None.
    Appends the batch's engine CPU seconds to ``cpu`` when given."""
    from fencebench.procs import engine_cpu_s

    def one():
        wl.prepare()
        c0 = engine_cpu_s()
        t0 = time.perf_counter()
        result = wl.batch()
        wall = time.perf_counter() - t0
        if cpu is not None:
            cpu.append(engine_cpu_s() - c0)
        return wall, wl.check(result)
    return counts.run(label, one)


def _timed_loop(wl, counts: Counts, seconds: float, label: str,
                cpu: list) -> list[tuple[float, dict]]:
    out, total = [], 0.0
    while total < seconds or len(out) < 2:
        r = _timed(wl, counts, f"{label} batch {len(out)}", cpu)
        if r is None:
            break
        out.append(r)
        total += r[0]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="fences_spark end-to-end benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fences_spark", "session.py")):
        print(f"error: no fences_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from fencebench import probes, workloads
    from fencebench.procs import RssMonitor, engine_cpu_s, stop_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # everything the run writes stays inside the checkout
    work = os.path.join(ROOT, ".fencebench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "inputs", "corpus"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Arrow-tier Python workers must import fences_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    counts = Counts()
    monitor = RssMonitor()
    spark = None
    metrics: dict = {}
    try:
        gen = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed)]
        subprocess.run(gen + ["--workload", args.workload, "--out",
                              os.path.join(work, "inputs")], check=True)
        if args.trace and args.workload == "files_bulk":
            subprocess.run(gen + ["--workload", "curate_pipeline", "--out",
                                  os.path.join(work, "corpus")], check=True)
        with open(os.path.join(work, "inputs", "truth.json")) as f:
            truth = json.load(f)
        wl = workloads.WORKLOADS[args.workload](os.path.join(work, "inputs"), work, truth)

        monitor.start()  # after generation: its memory is not the engine's
        c0, t0 = engine_cpu_s(), time.perf_counter()
        spark = workloads.start_session(work, ui=bool(args.trace))  # launches the JVM
        start_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_s, setup_cpu = time.perf_counter() - t0, engine_cpu_s() - c0

        warm, warm_cpu = [], []
        for i in range(wl.warmup_batches):
            def one(i=i):
                c0, t0 = engine_cpu_s(), time.perf_counter()
                result = wl.warmup(i)
                wall, cpu = time.perf_counter() - t0, engine_cpu_s() - c0
                wl.check(result)
                return wall, cpu
            r = counts.run(f"warm-up batch {i}", one)
            if r is None:
                break
            warm.append(r[0])
            warm_cpu.append(r[1])

        if not args.trace:
            cpu: list[float] = []
            walls = [w for w, _ in _timed_loop(wl, counts, args.seconds, "timed", cpu)]
            p50 = _median(cpu)
            monitor.sample()
            metrics = {
                "rows_per_cpu_s": (wl.rows / p50 if p50 else 0.0, "1/s"),
                "batch_cpu_s": (p50, "s"),
                "cold_batch_cpu_s": (warm_cpu[0] if warm_cpu else 0.0, "s"),
                "setup_s": (setup_cpu, "s"),
                "peak_rss_mb": (monitor.peak_mb, "MB"),
            }
            print(json.dumps({
                "wall_s": {"setup": setup_s, "session_start": start_s, "warmup": warm,
                           "timed": walls},
                "cpu_s": {"setup": setup_cpu, "warmup": warm_cpu, "timed": cpu},
                "trend": {"cpu": _halves(cpu), "wall": _halves(walls)},
                "peak_rss_kb_by_pid": monitor.peak_detail,
            }))
        else:
            metrics = probes.traced_run(spark, wl, counts, args.seconds, work, _timed, {
                "session.start_s": start_s, "wall.setup_s": setup_s,
                "wall.cold_batch_s": warm[0] if warm else 0.0})
    except Exception:  # any other failure ends the run without a result line
        traceback.print_exc()
        return 1
    finally:
        monitor.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if counts.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
