"""Baseline artifact: two separate sets of seeded runs per workload, plus
traced runs.

    python3 perfbench/collect.py --label <commit>

Run from the repository root. Each run measures BENCHMARK.json's
``run_seconds``. For every workload, set A uses seeds 1..RUNS and set B
seeds 101..100+RUNS. Traced runs use set A's first TRACED seeds, each right
after the untraced run of the same seed.
Writes ``perfbench/baseline/<label>.json`` with, per workload and set, each
end-to-end metric's median and quartiles (``statistics.quantiles(n=4)``),
the pooled p50/p90 of the operation and read walls, the median of the
traced runs' per-layer numbers, and the tracing overhead: the median over
seeds of traced / untraced - 1, marked unresolved when the traced median
lies inside set A's inter-quartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import median, percentile, quartiles  # noqa: E402
from run import END_TO_END, OP_KIND  # noqa: E402

RUNS = 10  # per set
TRACED = 3


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    report = json.loads(next(line for line in out if line.startswith("REPORT "))[7:])
    report["result"] = json.loads(out[-1])
    report["wall_s"] = time.time() - t0
    print(f"{workload} seed={seed} trace={trace} {report['wall_s']:.0f}s "
          f"failed={report['failed']} {json.dumps(report['end_to_end'])}", flush=True)
    return report


def summarize(reports: list[dict], workload: str) -> dict:
    out = {"runs": [{"seed": r["seed"], "wall_s": r["wall_s"], **r["end_to_end"]}
                    for r in reports],
           "failed": sum(r["failed"] for r in reports),
           "attempted": sum(r["attempted"] for r in reports),
           "run_wall_s": quartiles([r["wall_s"] for r in reports])}
    for k in END_TO_END:
        out[k] = quartiles([r["end_to_end"][k] for r in reports])
    for k in ("rows_per_s", "storage_amp"):
        out[k] = quartiles([r[k] for r in reports])
    for kind in (OP_KIND[workload], "read"):
        pooled = [w for r in reports for w in r["walls"].get(kind, [])]
        if pooled:
            out[f"pooled_{kind}_walls"] = {"n": len(pooled), "p50": percentile(pooled, 50),
                                           "p90": percentile(pooled, 90)}
    return out


def tracing_overhead(untraced: list[dict], traced: list[dict], a: dict) -> dict:
    out = {}
    for k in END_TO_END:
        t = [r["end_to_end"][k] for r in traced]
        ratio = median([x / u["end_to_end"][k] for x, u in zip(t, untraced)]) - 1
        out[k] = {"ratio": ratio,
                  "resolved": not a[k]["q1"] <= median(t) <= a[k]["q3"]}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    art = {"label": args.label, "runs_per_set": RUNS, "seconds": seconds,
           "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    for w in OP_KIND:
        set_a, traced = [], []
        for i in range(RUNS):
            set_a.append(one_run(w, 1 + i, seconds, 0))
            if i < TRACED:
                traced.append(one_run(w, 1 + i, seconds, 1))
        set_b = [one_run(w, 101 + i, seconds, 0) for i in range(RUNS)]
        a = summarize(set_a, w)
        art["workloads"][w] = {
            "set_A": a,
            "set_B": summarize(set_b, w),
            "traced": {
                "seeds": [r["seed"] for r in traced],
                "failed": sum(r["failed"] for r in traced),
                "per_layer": {k: median([r["per_layer"][k] for r in traced])
                              for k in traced[0]["per_layer"]},
            },
            "tracing_overhead": tracing_overhead(set_a, traced, a),
        }
    path = os.path.join(HERE, "baseline", f"{args.label}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
