#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships with the Spark jars,
into `.bench_build/` (or `$BENCH_BUILD_DIR`). Each half is rebuilt only when
its sources change. No sbt, no dependency resolution, no network.

Usage:  python3 perfbench/build.py          (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
BENCH_SRC = "perfbench/src"


def build_dir():
    return os.environ.get("BENCH_BUILD_DIR", ".bench_build")


def jars_dir():
    """The Spark jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars, else the
    directory build.sbt names as its `unmanagedBase`."""
    candidates = [os.environ.get("SPARK_JARS_DIR")]
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        candidates.append(m and m.group(1))
    for d in candidates:
        if d and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    sys.exit("perfbench: Spark jars not found (set SPARK_JARS_DIR)")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(srcs, out, classpath, jars):
    compiler = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({len(srcs)} sources -> {out})")


def build():
    """Compile what is stale; return the runtime classpath."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        sys.exit("perfbench: engine or benchmark sources missing; run from the repository root")
    jars = jars_dir()
    jar_cp = os.path.join(jars, "*")
    base = build_dir()
    engine_out = os.path.join(base, "engine-classes")
    bench_out = os.path.join(base, "bench-classes")
    engine_stamp = stamp(engine, jars)
    bench_stamp = stamp(bench, engine_stamp)
    for out, srcs, key, cp in (
            (engine_out, engine, engine_stamp, jar_cp),
            (bench_out, bench, bench_stamp, f"{engine_out}:{jar_cp}")):
        marker = out + ".stamp"
        if os.path.exists(marker) and open(marker).read() == key:
            continue
        print(f"perfbench: compiling {len(srcs)} sources into {out}", file=sys.stderr)
        compile_scala(srcs, out, cp, jars)
        with open(marker, "w") as fh:
            fh.write(key)
    return ":".join([bench_out, engine_out, ENGINE_RES, jar_cp])


if __name__ == "__main__":
    print(build())
