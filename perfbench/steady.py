#!/usr/bin/env python3
"""Steadiness check: run a workload N times, one seed each, and print every
end-to-end metric's median and quartiles against its bound.

The spread is (Q3 - Q1) / median with `statistics.quantiles(values, n=4)`.
A metric passes when its spread is within its bound from BENCHMARK.json
(`setup_s` is exempt from the spread test) and is flagged "tight" when it is
above a third of the bound. With `--against <earlier.json>` it also prints
how far each median moved from an earlier set of runs.

Usage (from the repository root):
  python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                              [--save out.json] [--against earlier.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {n: [] for n in bounds}
    bad_runs = 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        bad_runs += not res["correct"]
        for n in bounds:
            values[n].append(res["metrics"][n]["value"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{n}={values[n][-1]:.4g}" for n in bounds), file=sys.stderr)
    earlier = json.load(open(a.against))["values"] if a.against else None
    ok = bad_runs == 0
    print(f"{a.workload}: {a.runs} runs, {bad_runs} incorrect")
    print(f"{'metric':<14}{'q1':>11}{'median':>11}{'q3':>11}{'spread':>9}{'bound':>7}"
          + ("  median shift" if earlier else ""))
    for n, b in bounds.items():
        q1, med, q3, s = spread(values[n])
        verdict = "exempt" if n == "setup_s" else (
            "FAIL" if s > b else "tight" if s > b / 3 else "ok")
        ok &= verdict != "FAIL"
        line = f"{n:<14}{q1:>11.4g}{med:>11.4g}{q3:>11.4g}{s:>9.3f}{b:>7.2f}  {verdict}"
        if earlier:
            shift = med / statistics.median(earlier[n]) - 1
            ok &= shift <= b
            line += f"  {shift:+.3f}" + ("  FAIL" if shift > b else "")
        print(line)
    if a.save:
        os.makedirs(os.path.dirname(os.path.abspath(a.save)), exist_ok=True)
        with open(a.save, "w") as fh:
            json.dump({"workload": a.workload, "values": values}, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
