"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_cow,cdc_mor} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates every input from the seed, sets up
(three times; the median is ``setup_s``), runs a closed loop for ``--seconds``
seconds, checks the outputs, and prints a ``REPORT`` line with every metric
that applies to the workload, then, as the last line, the result object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Exits non-zero without a result when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Metric name -> (unit, better). The end-to-end set is what every workload
# reports untraced; PER_LAYER is what every workload reports traced (0 where
# the layer does no work in that workload). BENCHMARK.json lists the same.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "commit_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.build_s": ("s", "lower"),
    "sources.read_s": ("s", "lower"),
    "operators.flatten_s": ("s", "lower"),
    "operators.transform_s": ("s", "lower"),
    "lake.upsert_s": ("s", "lower"),
    "lake.upsert_driver_s": ("s", "lower"),
    "lake.upsert_jobs": ("count", "lower"),
    "lake.files_per_commit": ("count", "lower"),
    "lake.bytes_written_per_commit": ("bytes", "lower"),
    "lake.read_s": ("s", "lower"),
    "lake.read_jobs": ("count", "lower"),
    "lake.log_files_at_read": ("count", "lower"),
    "lake.incr_read_s": ("s", "lower"),
    "lake.compact_s": ("s", "lower"),
    "lake.clean_s": ("s", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.input_rows": ("count", "higher"),
    "streaming.tables_per_batch": ("count", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.executor_busy_frac": ("ratio", "higher"),
    "rows_per_s": ("1/s", "higher"),
    "read_p50_s": ("s", "lower"),
    "storage_amp": ("ratio", "lower"),
    "failed_frac": ("ratio", "lower"),
}
# The user-visible commit of each workload, whose latency is commit_p50_s.
OP_KIND = {"ingest_cow": "import", "cdc_mor": "batch"}


def end_to_end(run) -> tuple[dict, dict]:
    """(contract metrics, report extras) of one run."""
    from harness import median, percentile

    ops = run.samples.get(OP_KIND[run.workload], [])
    v = run.values
    metrics = {
        "setup_s": v["setup_s"],
        "commit_p50_s": median(ops),
        "peak_rss_mb": v["peak_rss_mb"],  # the peak during the timed loop
    }
    extra = {"failed_frac": run.failed / max(1, run.attempted),
             # committed rows per second of commit time; reads excluded
             "rows_per_s": v["rows"] / sum(ops),
             "commit_p90_s": percentile(ops, 90),
             "storage_amp": v["storage_amp"]}
    if run.workload == "cdc_mor":
        reads = run.samples.get("read", [])
        extra["read_p50_s"] = median(reads)
        extra["read_p90_s"] = percentile(reads, 90)
    extra["samples"] = {k: len(s) for k, s in run.samples.items()}
    # raw walls, so that several runs can pool their tail percentiles
    extra["walls"] = {k: run.samples.get(k, [])
                      for k in (OP_KIND[run.workload], "read", "incr_read", "setup")}
    return metrics, extra


def per_layer(run, e2e_extra: dict) -> dict:
    from harness import (busy_interval_s, descendants, median, span_jobs, span_s,
                         spark_totals)

    tr = run.tracer
    loop = descendants(tr.spans, run.loop_spans)

    def named(name):
        return [s for s in loop if s["name"] == name and "t1" in s]

    def med_wall(name):
        return median([span_s(s) for s in named(name)])

    def med_jobs(name):
        return median([len(span_jobs(s, tr)) for s in named(name)])

    sm = run.samples
    m = {k: 0.0 for k in PER_LAYER}
    upserts = named("lake.upsert")
    m.update({
        "session.build_s": median(sm.get("session_build", [])),
        "sources.read_s": med_wall("sources.read"),
        "operators.flatten_s": med_wall("operators.flatten"),
        "operators.transform_s": med_wall("operators.transform"),
        "lake.upsert_s": med_wall("lake.upsert"),
        "lake.upsert_driver_s": median([
            span_s(s) - busy_interval_s(span_jobs(s, tr), s["t0"], s["t1"])
            for s in upserts]),
        "lake.upsert_jobs": med_jobs("lake.upsert"),
        "lake.files_per_commit": median(sm.get("files_per_commit", [])),
        "lake.bytes_written_per_commit": median(sm.get("bytes_per_commit", [])),
        "lake.read_s": med_wall("lake.read"),
        "lake.read_jobs": med_jobs("lake.read"),
        "lake.log_files_at_read": median(sm.get("log_files_at_read", [])),
        "lake.incr_read_s": med_wall("lake.read_incremental"),
        "lake.compact_s": med_wall("lake.compact"),
        "lake.clean_s": med_wall("lake.clean"),
        "streaming.add_batch_ms": median(sm.get("add_batch_ms", [])),
        "streaming.planning_ms": median(sm.get("planning_ms", [])),
        "streaming.wal_commit_ms": median(sm.get("wal_commit_ms", [])),
        "streaming.input_rows": median(sm.get("input_rows", [])),
        "streaming.tables_per_batch": median(sm.get("tables_per_batch", [])),
    })
    all_jobs = [j for s in loop for j in s.get("jobs", [])]
    m.update(spark_totals(all_jobs, sum(map(span_s, run.loop_spans)), run.cores))
    for k in ("rows_per_s", "read_p50_s", "storage_amp", "failed_frac"):
        m[k] = e2e_extra.get(k) or 0.0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import hudi_spark_utilities_plus_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    # Timestamps compare as local times on the Python side; pin them.
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Spark's Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from workloads import WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    try:
        WORKLOADS[args.workload](run)
        metrics, extra = end_to_end(run)
        layers = per_layer(run, extra) if args.trace else {}
    finally:
        run.tracer.unwrap_all()
        run.session.close()
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "end_to_end": metrics, **extra,
        "attempted": run.attempted, "failed": run.failed,
        "warmup_failed": run.warmup_failed, "failures": run.failures,
    }
    if args.trace:
        report["per_layer"] = layers
    print("REPORT " + json.dumps(report))
    chosen, units = (layers, PER_LAYER) if args.trace else (metrics, END_TO_END)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k][0]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
