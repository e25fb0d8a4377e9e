#!/usr/bin/env python3
"""Run one untraced and one traced run per workload and write the per-layer
tables under perfbench/results/.

    python3 perfbench/tools/trace_table.py [--seed 1] [--workloads a,b]

Run from the repository root. For each workload it writes
results/<workload>.md: the end-to-end metrics of the untraced run, the
per-layer metrics of the traced run with the tracing overhead, and for the
stream workload the per-batch table, so state growth shows by batch index.
"""
import argparse
import json
import os
import subprocess
import sys

RESULTS = "perfbench/results"
TRACE = ".bench_work/trace"


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if not p.stdout.strip():
        sys.exit(f"{workload} trace={trace}: no result\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def details(workload, seed, trace):
    path = os.path.join(TRACE, f"{workload}-seed{seed}-trace{trace}-details.tsv")
    with open(path) as f:
        return [line.rstrip("\n").split("\t", 1) for line in f if "\t" in line]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    os.makedirs(RESULTS, exist_ok=True)
    for w in names:
        plain = run(w, a.seed, bench["run_seconds"], 0)
        traced = run(w, a.seed, bench["run_seconds"], 1)
        out = [f"# {w}, seed {a.seed}", "", why[w], "",
               f"Run length {bench['run_seconds']} s, `local[3]` on a 4-vCPU machine. "
               f"Untraced: correct={plain['correct']}, attempted={plain['attempted']}, "
               f"failed={plain['failed']}. Traced: correct={traced['correct']}, "
               f"attempted={traced['attempted']}, failed={traced['failed']}.", "",
               "## End to end (untraced run)", "", "| metric | value | unit |", "|---|---|---|"]
        out += [f"| {k} | {fmt(v['value'])} | {v['unit']} |" for k, v in sorted(plain["metrics"].items())]
        out += ["", "## Per layer (traced run)", "", "| metric | value | unit |", "|---|---|---|"]
        out += [f"| {k} | {fmt(v['value'])} | {v['unit']} |" for k, v in sorted(traced["metrics"].items())]
        out += ["", "## Run details", "", "| run | key | value |", "|---|---|---|"]
        for t in (0, 1):
            out += [f"| {'traced' if t else 'untraced'} | {k} | {v} |" for k, v in details(w, a.seed, t)]
        batches = os.path.join(TRACE, f"{w}-seed{a.seed}-batches.tsv")
        if os.path.exists(batches):
            with open(batches) as f:
                rows = [line.rstrip("\n").split("\t") for line in f]
            out += ["", "## Micro-batches of the traced run, by batch index", "",
                    "| " + " | ".join(rows[0]) + " |", "|" + "---|" * len(rows[0])]
            out += ["| " + " | ".join(r) + " |" for r in rows[1:]]
        with open(os.path.join(RESULTS, f"{w}.md"), "w") as f:
            f.write("\n".join(out) + "\n")
        print(f"wrote {RESULTS}/{w}.md", flush=True)


if __name__ == "__main__":
    main()
