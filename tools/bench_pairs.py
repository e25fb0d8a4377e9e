#!/usr/bin/env python3
"""A/B one benchmark workload between two checkouts in alternating pairs.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload W \
        --seeds 801-810 [--trace] [--out FILE]

Each seed is one pair: both checkouts run `perfbench/run.py --trace 0` on
that seed, and which side runs first alternates from pair to pair. For each
end-to-end metric of BENCHMARK.json the report gives each side's median and
quartiles, the change/parent ratio of the medians, the pairs the change won
(ties count for neither side), the parent's quartile spread (interquartile
distance over its median) and the metric's bound. A gain is claimed when the
change wins at least nine tenths of the pairs and its median beats the
parent's by more than that spread. `--trace` runs every pair with
`--trace 1` instead and reports, for each per-layer metric of
BENCHMARK.json that the runs give, each side's median and quartiles and the
ratio of the medians. Exits 1 if any run is incorrect, has a failed
operation or gives no result line. `--out` writes every run's result line
as JSON; the tool writes nothing else.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return None


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q = statistics.quantiles(vals, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="801-810")
    ap.add_argument("--trace", action="store_true",
                    help="run traced and report the per-layer metrics")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    bad = 0
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, seed, bench["run_seconds"], int(a.trace))
            runs[side].append(res)
            if res is None or not res["correct"] or res["failed"] > 0:
                bad += 1
                print(f"seed {seed} {side}: INCORRECT OR FAILED: {res}", flush=True)
            else:
                print(f"seed {seed} {side}: " + " ".join(
                    f"{k}={v['value']:.5g}" for k, v in sorted(res["metrics"].items())), flush=True)

    # only pairs where both sides gave a result line are compared
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    print(f"\n{a.workload}: {len(pairs)} pairs")
    rows = per_layer_rows(bench, pairs) if a.trace else end_to_end_rows(bench, pairs)
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "trace": a.trace, "runs": runs},
                      f, indent=1)
    sys.exit(1 if bad else 0)


def sides_of(pairs, name):
    """Each side's values of `name`, or None when a result line lacks it."""
    if not pairs or any(name not in r["metrics"] for pair in pairs for r in pair):
        return None
    return ([p["metrics"][name]["value"] for p, _ in pairs],
            [c["metrics"][name]["value"] for _, c in pairs])


def summary(values):
    q1, q3 = quartiles(values)
    return f"{statistics.median(values):.5g} [{q1:.5g}, {q3:.5g}]"


def per_layer_rows(bench, pairs):
    rows = [["metric", "parent median [q1, q3]", "change median [q1, q3]", "ratio"]]
    for m in bench["per_layer"]:
        values = sides_of(pairs, m["name"])
        if values is None:
            continue
        par, chg = values
        pm, cm = statistics.median(par), statistics.median(chg)
        rows.append([m["name"], summary(par), summary(chg), f"{cm / pm:.3f}" if pm else "-"])
    return rows


def end_to_end_rows(bench, pairs):
    rows = [["metric", "parent median [q1, q3]", "change median [q1, q3]", "ratio", "wins",
             "spread", "bound", "gain"]]
    for m in bench["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        values = sides_of(pairs, name)
        if values is None:
            rows.append([name, "missing from a result line"] + [""] * 6)
            continue
        par, chg = values
        pm, cm = statistics.median(par), statistics.median(chg)
        p1, p3 = quartiles(par)
        wins = sum(1 for p, c in zip(par, chg) if (c > p if higher else c < p))
        spread = (p3 - p1) / pm
        gain = (cm - pm) / pm * (1 if higher else -1)
        claim = wins >= 0.9 * len(pairs) and gain > spread
        rows.append([name, summary(par), summary(chg), f"{cm / pm:.3f}", f"{wins}/{len(pairs)}",
                     f"{spread:.3f}", f"{m['bound']:.2f}", "yes" if claim else "no"])
    return rows


if __name__ == "__main__":
    main()
