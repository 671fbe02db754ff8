#!/usr/bin/env python3
"""Run the benchmark once per seed for each workload and report, for every
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
over the runs, as `statistics.quantiles(values, n=4)` gives the quartiles.

    python3 perfbench/spread.py --seeds 101-110 --out set1.json
    python3 perfbench/spread.py --workloads stream_ingest --seeds 1-5

Workloads and --seconds default to those in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", help="write the summary as JSON here")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary = {}
    for wl in a.workloads.split(","):
        values, durations, failed = {}, [], 0
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", wl, "--seed", str(s), "--seconds", str(a.seconds),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            durations.append(time.time() - t0)
            try:
                result = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                result = {"correct": False, "metrics": {}}
            if p.returncode != 0 or not result["correct"]:
                failed += 1
                sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            print(f"{wl} seed={s} exit={p.returncode} correct={result['correct']} "
                  f"{durations[-1]:.1f}s", file=sys.stderr, flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        metrics = {}
        for k, xs in sorted(values.items()):
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [med, med, med]
            metrics[k] = {"median": med, "spread": (q[2] - q[0]) / med if med else None,
                          "bound": bounds.get(k), "values": xs}
            print(f"{wl:14s} {k:14s} median={med:<12.6g} spread={metrics[k]['spread']:.3f} "
                  f"bound={bounds.get(k)}")
        summary[wl] = {"seeds": a.seeds, "seconds": a.seconds, "failed_runs": failed,
                       "run_s_max": max(durations), "run_s_mean": statistics.mean(durations),
                       "metrics": metrics}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
