#!/usr/bin/env python3
"""Store the DuckDB oracle's expected row count for every key.

Dumps each key's oracle SQL from the engine (`SparkEntry.oracleSql`), runs
it in DuckDB over the benchmark's generated tables at the benchmark's sf,
and writes `perfbench/expected/sf<sf>.json`. The benchmark checks every
timed `count()` against these counts; a key with no oracle must return
rows > 0. Re-run after changing the generator or an oracle query.

Usage:  python3 perfbench/oracle.py        (from the repository root)
"""
import json
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    classpath = build.build()
    data = run.data_dir()
    with tempfile.TemporaryDirectory(dir=build.build_dir()) as d:
        sql_file = os.path.join(d, "oracle_sql.json")
        code, _ = run.harness(classpath, d, ["--mode", "oracle-sql", "--out", sql_file])
        if code != 0:
            sys.exit(f"oracle-sql dump failed ({code})")
        oracles = json.load(open(sql_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    counts, errors = {}, {}
    for key, sql in sorted(oracles.items()):
        try:
            counts[key] = con.execute(f"SELECT count(*) FROM ({sql}) q").fetchone()[0]
        except duckdb.Error as e:
            errors[key] = str(e).splitlines()[0]
            print(f"oracle {key} failed: {errors[key]}", file=sys.stderr)
    out = os.path.join(run.HERE, "expected", f"sf{run.SF}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"sf": run.SF, "data_seed": run.DATA_SEED, "duckdb": duckdb.__version__,
                   "counts": counts, "oracle_errors": errors}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(counts)} oracle counts, {len(errors)} oracle errors -> {out}")


if __name__ == "__main__":
    main()
