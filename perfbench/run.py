#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client against ``lib_gdal_spark``.

    python3 perfbench/run.py --workload pages_geojoin --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process starts a ``local[nproc // 2]``
session, generates the workload's inputs from the seed (timed as
``setup_s``, repeated and reported as the median), warms up, then submits
one job at a time for ``--seconds`` seconds and checks every output against
an oracle that does not use the program.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` measures the
per-layer metrics instead: untraced jobs alternating with traced ones (spans
and Spark's own counters), then the job's layer prefixes forced one at a time.

Human-readable lines go first; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# After the first job, warm-up lasts this share of --seconds.
WARMUP_SHARE = 0.5
TRACE_PREFIX_REPS = 2

# Metric names and units of the final JSON line (BENCHMARK.json lists the same).
END_TO_END = {"setup_s": "s", "job_s_p50": "s", "job_s_tail": "s",
              "items_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {"spark.tasks": "count", "spark.executor_run_s": "s", "spark.core_busy_frac": "ratio",
             "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
             "spark.arrow_bytes_to_python": "B", "spark.arrow_bytes_from_python": "B",
             "trace.overhead_frac": "ratio"}


class Tally:
    """Closed-loop results: one sample per job, plus the oracle verdicts."""

    def __init__(self):
        self.samples = []
        self.attempted = 0
        self.failed = 0

    def add(self, sample) -> None:
        self.samples.append(sample)
        self.attempted += 1
        self.failed += not sample.ok

    def merge(self, other: Tally) -> None:
        self.samples += other.samples
        self.attempted += other.attempted
        self.failed += other.failed

    def seconds(self) -> list[float]:
        return [s.seconds for s in self.samples]


def closed_loop(wl, seconds: float, first: int) -> Tally:
    """Submit jobs back to back until ``seconds`` have passed (at least one)."""
    tally = Tally()
    end = time.perf_counter() + seconds
    i = first
    while True:
        tally.add(wl.step(i))
        i += 1
        if time.perf_counter() >= end:
            return tally


def force(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def end_to_end(wl, tally: Tally, setup_s: list[float], peak_rss: int) -> tuple[dict, dict]:
    from harness import tail

    xs = tally.seconds()
    busy = sum(xs)
    items = sum(s.items for s in tally.samples)
    tail_v, tail_pct = tail(xs)
    metrics = {
        "setup_s": statistics.median(setup_s),
        "job_s_p50": statistics.median(xs),
        "job_s_tail": tail_v,
        "items_per_s": items / busy,
        "peak_rss_mb": peak_rss / 2**20,
    }
    detail = {
        wl.rate: (metrics["items_per_s"], "1/s"),
        "jobs": (len(xs), "count"),
        "job_s_tail_percentile": (tail_pct, "%"),
    }
    return metrics, detail


def traced(wl, spark, slots: int, seconds: float, first: int) -> tuple[dict, dict, Tally, list]:
    from harness import CounterReader, SparkCounters

    # Untraced and traced jobs alternate, so both see the same warm-up trend.
    reader = CounterReader(spark)
    totals = SparkCounters()
    skew: list[float] = []
    untraced, tr = Tally(), Tally()
    end = time.perf_counter() + 0.6 * seconds
    i = first
    while i < first + 2 or time.perf_counter() < end:
        wl.tracer.enabled = False
        untraced.add(wl.step(i))
        wl.tracer.enabled = True
        wl.tracer.job = i + 1
        reader.mark()
        tr.add(wl.step(i + 1))
        c = reader.read()
        totals.add(c)
        skew.append(c.task_skew)
        i += 2
    wl.tracer.enabled = False

    n = len(tr.samples)
    wall = sum(tr.seconds())
    metrics = {
        "spark.tasks": totals.tasks / n,
        "spark.executor_run_s": totals.executor_run_s / n,
        "spark.core_busy_frac": totals.executor_run_s / (wall * slots),
        "spark.shuffle_write_bytes": totals.shuffle_write_bytes / n,
        "spark.spill_bytes": totals.spill_bytes / n,
        "spark.arrow_bytes_to_python": totals.arrow_bytes_to_python / n,
        "spark.arrow_bytes_from_python": totals.arrow_bytes_from_python / n,
        "trace.overhead_frac": statistics.median(tr.seconds()) / statistics.median(untraced.seconds()) - 1.0,
    }

    # Layer self time: cumulative prefix forced, minus the prefix before it.
    layer: dict[str, tuple[float, str]] = {}
    selfs: dict[str, list[float]] = {}
    for rep in range(TRACE_PREFIX_REPS):
        prev = 0.0
        for name, df in wl.prefixes(i + rep):
            t = force(df)
            selfs.setdefault(name, []).append(t - prev)
            prev = t
        if wl.name == "raster_tiles":
            selfs.setdefault("tilestore.write_mbtiles", []).append(wl.write_seconds(i + rep) - prev)
    for name, xs in selfs.items():
        layer[f"{name}.self_s"] = (statistics.median(xs), "s")
    for name, s in wl.tracer.self_seconds().items():
        layer[f"span.{name}.self_s"] = (s / n, "s")
    if wl.name == "knn_hotcells":
        layer["knn.shuffle_write_bytes"] = (metrics["spark.shuffle_write_bytes"], "B")
        layer["knn.task_s_max_over_median"] = (statistics.median(skew), "ratio")
    layer.update(wl.layer_metrics())
    undeclared = {k for k, (_, unit) in layer.items() if wl.layer_map.get(k, ("",))[0] != unit}
    if undeclared:
        raise RuntimeError(f"layer metrics missing from {wl.name}.layer_map: {sorted(undeclared)}")
    # GC time is usually exactly 0 with the fixed heap, so it stays off the
    # final line, whose times must vary from run to run.
    layer["spark.gc_s"] = (totals.gc_s / n, "s")
    layer["job_s_p50.untraced"] = (statistics.median(untraced.seconds()), "s")
    layer["job_s_p50.traced"] = (statistics.median(tr.seconds()), "s")
    both = Tally()
    both.merge(untraced)
    both.merge(tr)
    both.attempted += len(wl.checks)
    both.failed += wl.checks.count(False)
    return metrics, layer, both, wl.tracer.spans


def run(args, work: str) -> tuple[dict, dict, Tally]:
    from harness import BenchSession, PeakRss, Tracer, timed
    from workloads import WORKLOADS

    # Half the cores as task slots: a Python UDF task keeps a JVM task thread,
    # its Arrow writer thread and a Python worker busy at once, so
    # local[nproc] oversubscribes the cores and measures the scheduler.
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    phases = {}
    t0 = time.perf_counter()
    session = BenchSession(work, slots)
    phases["spark_start_s"] = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](session.spark, work, args.seed, Tracer(False))
        setup_s, digests = [], {}
        for rep in range(SETUP_REPS):
            dt, digests = timed(wl.setup, rep)
            setup_s.append(dt)
        # Warm-up: one cold job (Python worker start-up, first compiles), then
        # jobs for a while, as job times keep falling over the next few.
        t0 = time.perf_counter()
        warm = closed_loop(wl, 0.0, 0)
        warm.merge(closed_loop(wl, WARMUP_SHARE * args.seconds, 1))
        phases["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        info = {"workload": wl.name, "seed": args.seed, "slots": slots, "load": "closed loop, 1 client",
                "sizes": wl.sizes, "input_digests": digests,
                "setup_s_reps": setup_s}
        if args.trace:
            metrics, layer, tally, spans = traced(wl, session.spark, slots, args.seconds, warm.attempted)
            span_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(span_dir, exist_ok=True)
            span_file = os.path.join(span_dir, f"{wl.name}-{args.seed}.json")
            with open(span_file, "w") as f:
                json.dump([asdict(s) for s in spans], f)
            info["spans"] = os.path.relpath(span_file, ROOT)
            info["layer_map"] = {k: {"unit": u, "moves": e} for k, (u, e) in wl.layer_map.items()}
            detail = layer
        else:
            with PeakRss() as rss:
                tally = closed_loop(wl, args.seconds, warm.attempted)
            metrics, detail = end_to_end(wl, tally, setup_s, rss.peak)
        phases["measure_s"] = time.perf_counter() - t0
        info["phases"] = phases
        info["job_s"] = tally.seconds()
        tally.attempted += warm.attempted
        tally.failed += warm.failed
        detail["failed_frac"] = (tally.failed / tally.attempted, "ratio")
        info["detail"] = {k: {"value": v, "unit": u} for k, (v, u) in detail.items()}
        return metrics, info, tally
    finally:
        session.close()


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lib_gdal_spark  # noqa: F401  (the program under test, from this checkout)
    except ImportError as e:
        print(f"perfbench: cannot import lib_gdal_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    # On SIGTERM, unwind so the session is stopped and the work files removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        metrics, info, tally = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    for k, d in info["detail"].items():
        print(f"{info['workload']}  {k} = {d['value']:.6g} {d['unit']}")
    for k, v in metrics.items():
        print(f"{info['workload']}  {k} = {v:.6g} {units[k]}")
    print(json.dumps(info))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
