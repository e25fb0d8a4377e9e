#!/usr/bin/env python3
"""Run workloads over several seeds and report each end-to-end metric's
median and spread (interquartile distance as a share of the median).

    python3 perfbench/tools/spread.py --workloads batch_topology,stream_changelog \
        --seeds 1-10 [--seconds 10] [--out FILE]

Run from the repository root. Each run is one `perfbench/run.py` call.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                               capture_output=True, text=True)
            wall = time.time() - t0
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["wall_s"] = wall
            runs.append(res)
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  flush=True)
        rows = {}
        for name in sorted(runs[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in runs]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            rows[name] = {"median": med, "spread": (q[2] - q[0]) / med,
                          "bound": bounds.get(name), "values": vals}
            print(f"  {name}: median {med:.4g} spread {rows[name]['spread']:.3f} "
                  f"(bound {bounds.get(name)})", flush=True)
        report[w] = {"metrics": rows, "wall_s": [r["wall_s"] for r in runs],
                     "all_correct": all(r["correct"] for r in runs)}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
