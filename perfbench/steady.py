#!/usr/bin/env python3
"""Shows how steady the benchmark is: runs each workload of BENCHMARK.json
in two sets of ten runs (seeds 1..10, then 11..20) and prints per end-to-end
metric each set's median, quartiles and spread (q3 - q1) / median against
the metric's bound, and how far the second set's median moved from the
first's in the metric's worse direction. It exits 1 when a spread or a move
reaches its bound, when a run is not correct, or when the share of failed
operations differs between runs.

Usage (from the repository root):
  python3 perfbench/steady.py
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = (range(1, 11), range(11, 21))


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = True
    for w in (x["name"] for x in spec["workloads"]):
        sets = []
        for seeds in SETS:
            runs = []
            for seed in seeds:
                r = run_once(spec, w, seed)
                runs.append(r)
                print(f"{w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            sets.append(runs)
        everything = [r for runs in sets for r in runs]
        shares = {r["failed"] / r["attempted"] for r in everything}
        correct = all(r["correct"] for r in everything)
        ok = ok and correct and len(shares) == 1
        print(f"\n{w}: correct={correct} failed share(s)={sorted(shares)}")
        print(f"  {'metric':22s} {'set':>3s} {'median':>10s} {'q1':>10s} {'q3':>10s}"
              f" {'spread':>7s} {'move':>7s} {'bound':>6s}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = []
            for i, runs in enumerate(sets, 1):
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                medians.append(med)
                move = ""
                if i == 2:
                    worse = (med - medians[0]) / medians[0]
                    if m["better"] == "higher":
                        worse = -worse
                    move = f"{worse:7.3f}"
                    ok = ok and worse < bound
                ok = ok and spread < bound
                verdict = ("ok" if spread < bound / 3 else
                           "within bound" if spread < bound else "TOO WIDE")
                if move and float(move) >= bound:
                    verdict += ", MOVED TOO FAR"
                print(f"  {name:22s} {i:3d} {med:10.4g} {q1:10.4g} {q3:10.4g}"
                      f" {spread:7.3f} {move:>7s} {bound:6.2f}  {verdict}")
        print()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
