#!/usr/bin/env python3
"""Run every key of the key workloads once cold and twice warm.

Writes `perfbench/calibration.json` (each key's cold and warm time: the
ranking the per-run stratified key sample is cut from) and one full record
per workload to `perfbench/results/calibration_<workload>.json`, which
includes each key's cold-warm gap, the lazy artifact builds it triggered,
and its output check against the oracle count.

Usage:  python3 perfbench/calibrate.py [workload ...]   (from the repository root)
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

KEY_WORKLOADS = ["relational_keys", "llm_keys", "format_keys"]


def main():
    workloads = sys.argv[1:] or KEY_WORKLOADS
    classpath = build.build()
    data = run.data_dir()
    path = os.path.join(run.HERE, "calibration.json")
    calib = json.load(open(path)) if os.path.exists(path) else {}
    os.makedirs(os.path.join(run.HERE, "results"), exist_ok=True)
    for w in workloads:
        out = os.path.join(run.HERE, "results", f"calibration_{w}.json")
        run_dir = os.path.abspath(os.path.join(build.build_dir(), "runs", f"calibrate-{w}"))
        code, _ = run.harness(classpath, run_dir, [
            "--mode", "calibrate", "--workload", w, "--seed", "0", "--seconds", "0",
            "--trace", "0", "--k", str(run.cores()), "--data", data,
            "--expected", os.path.join(run.HERE, "expected", f"sf{run.SF}.json"),
            "--git-sha", run.git_sha(), "--out", out], timeout=3000)
        if code != 0:
            sys.exit(f"calibration of {w} failed ({code})")
        rec = json.load(open(out))
        calib[w] = {k: {"cold_ms": round(v["cold_ms"], 1), "warm_ms": round(v["warm_ms"], 1)}
                    for k, v in rec["keys"].items()}
        bad = {k: v["error"] for k, v in rec["keys"].items() if v["error"]}
        print(f"{w}: {len(rec['keys'])} keys, {len(bad)} failing", file=sys.stderr)
        for k, e in sorted(bad.items()):
            print(f"  {k}: {e}", file=sys.stderr)
        with open(path, "w") as fh:
            json.dump(calib, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
