#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if stale (perfbench/build.py), generates the
input tables once (perfbench/datagen.py), then runs the harness JVM in
`local[k]` mode. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics. The full record of the run (environment, per-key
times, cold-gap table, layer table, failures) goes to
`.bench_build/results/<workload>_seed<n>_trace<t>.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["relational_keys", "llm_keys", "format_keys", "table_history"]
SF = 0.1
DATA_SEED = 42
SETUP_REPS = 3
# The harness JVM must finish well inside the per-run limit.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return min(4, os.cpu_count() or 1)


def data_dir():
    """The generated sf data set, regenerated when the generator changes."""
    d = os.path.join(build.build_dir(), "data", f"sf{SF}")
    key = build.stamp([datagen.__file__], f"{SF}:{DATA_SEED}")
    marker = d + ".stamp"
    if not (os.path.exists(marker) and open(marker).read() == key):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, SF, DATA_SEED)
        with open(marker, "w") as fh:
            fh.write(key)
    return os.path.abspath(d)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def harness(classpath, run_dir, args, heap="4g", timeout=JVM_TIMEOUT_S):
    """Run graftbench.Main; return (exit code, stdout lines)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "graftbench.Main", "--tmp", tmp] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: harness exceeded {timeout} s, killed", file=sys.stderr)
        return 124, []
    return proc.returncode, out.splitlines()


def run(workload, seed, seconds, trace, out=None):
    classpath = build.build()
    data = data_dir()
    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    out = out or os.path.join(results, f"{workload}_seed{seed}_trace{trace}.json")
    run_dir = os.path.abspath(os.path.join(
        build.build_dir(), "runs", f"{workload}-{seed}-{trace}-{os.getpid()}"))
    try:
        code, lines = harness(classpath, run_dir, [
            "--mode", "run", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--k", str(cores()),
            "--setup-reps", str(SETUP_REPS), "--data", data,
            "--expected", os.path.join(HERE, "expected", f"sf{SF}.json"),
            "--calibration", os.path.join(HERE, "calibration.json"),
            "--git-sha", git_sha(), "--out", os.path.abspath(out)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not lines:
        sys.exit(f"perfbench: harness failed with exit code {code}")
    result = json.loads(lines[-1])
    return result, out


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    result, out = run(a.workload, a.seed, a.seconds, a.trace)
    print(f"perfbench: {a.workload} seed={a.seed} done in {time.time() - t0:.1f} s; "
          f"record in {out}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
