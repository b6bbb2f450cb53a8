#!/usr/bin/env python3
"""Traced-run report: for each workload, one untraced and one traced run
with the same seed, then a Markdown report of the per-layer table, the top
three layers by seconds, the tracing overhead (traced over untraced, per
end-to-end metric) and the ten keys with the largest cold-warm gap.

Writes `perfbench/results/traced.md` and the two run records per workload
under `perfbench/results/`.

Usage:  python3 perfbench/report.py [--seed 1] [workload ...]
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

RESULTS = os.path.join(run.HERE, "results")


def layer_table(rec):
    layers = rec["per_layer"]
    rows = [f"| {n} | {v:.6g} |" for n, v in sorted(layers.items()) if v]
    return ["| layer metric | value |", "|---|---|"] + rows


def section(workload, plain, traced, calib):
    e_plain, e_traced = plain["end_to_end"], traced["end_to_end"]
    d = traced["details"]
    out = [f"## {workload}", "",
           f"seed {plain['env']['seed']}, k={plain['env']['k']}, "
           f"{plain['env']['seconds']} s window, git {plain['env']['git_sha'][:12]}; "
           f"fail_ratio untraced {plain['fail_ratio']:.4g}, traced {traced['fail_ratio']:.4g}", ""]
    failures = plain["failures"] + traced["failures"]
    if failures:
        out += ["Failing operations:", ""] + [f"- {f}" for f in failures] + [""]
    out += ["| end-to-end | untraced | traced | overhead |", "|---|---|---|---|"]
    for n, v in e_plain.items():
        t = e_traced[n]
        out.append(f"| {n} | {v:.4g} | {t:.4g} | {(t / v - 1) * 100 if v else 0:+.1f}% |")
    if "top3_layers_cold" in d:
        top = (f"warm passes: {', '.join(d['top3_layers_warm'])}; "
               f"cold pass: {', '.join(d['top3_layers_cold'])}")
    else:
        top = ", ".join(d["top3_layers"])
    out += ["", f"Top three layers by seconds ({top})", ""] + layer_table(traced) + [""]
    if "cold_gap_top10" in d:
        out += ["Largest cold-warm gaps in this run's sample:", "",
                "| key | gap ms | artifact builds |", "|---|---|---|"]
        out += [f"| {g['key']} | {g['gap_ms']:.0f} | {g['artifact_builds']} |"
                for g in d["cold_gap_top10"]] + [""]
    if calib:
        keys = sorted(calib["keys"].items(), key=lambda kv: -kv[1]["gap_ms"])[:10]
        out += [f"Largest cold-warm gaps over all {len(calib['keys'])} keys "
                "(calibration run):", "",
                "| key | cold ms | warm ms | gap ms | artifact builds |", "|---|---|---|---|---|"]
        out += [f"| {k} | {v['cold_ms']:.0f} | {v['warm_ms']:.0f} | {v['gap_ms']:.0f} "
                f"| {v['artifact_builds']} |" for k, v in keys] + [""]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open("BENCHMARK.json"))["run_seconds"])
    ap.add_argument("workloads", nargs="*", default=run.WORKLOADS)
    a = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)
    lines = ["# Traced runs", "",
             "Each workload ran twice with the same seed: untraced (end-to-end metrics) and",
             "traced (observers on). Overhead is traced over untraced. Layer metrics are",
             "defined in perfbench/README.md.", ""]
    for w in a.workloads:
        recs = []
        for trace in (0, 1):
            out = os.path.join(RESULTS, f"{w}_trace{trace}.json")
            run.run(w, a.seed, a.seconds, trace, out=out)
            recs.append(json.load(open(out)))
        cpath = os.path.join(RESULTS, f"calibration_{w}.json")
        calib = json.load(open(cpath)) if os.path.exists(cpath) else None
        lines += section(w, recs[0], recs[1], calib)
    with open(os.path.join(RESULTS, "traced.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
