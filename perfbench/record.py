#!/usr/bin/env python3
"""Records the expected result hash of every key of a batch workload.

    python3 perfbench/record.py <workload> [<workload> ...]

Run from the repository root. For each key it writes the order-insensitive
result hash to perfbench/expected/<workload>.json, and cross-checks every
key that has a `SparkEntry.oracleSql` entry against DuckDB on the same
parquet corpus: the Spark result must equal the oracle's, column for
column and row for row. A mismatch leaves the hash file unwritten. An
oracle that exceeds DuckDB's memory limit is reported and skipped.
"""

import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def oracle_mismatches(corpus, dump):
    """Keys whose dumped Spark result differs from their oracle SQL."""
    # bounded, so a runaway oracle fails instead of exhausting host memory
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 2,
                                 "temp_directory": str(dump / "duckdb.tmp")})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    bad = []
    for key, sql in sorted(oracle.items()):
        spark_df = con.sql(f"SELECT * FROM read_parquet('{dump}/{key}/*.parquet')").df()
        try:
            duck_df = con.sql(sql).df()
        except duckdb.OutOfMemoryException:
            print(f"skip {key}: the oracle exceeds DuckDB's memory limit; not cross-checked",
                  file=sys.stderr)
            continue
        s = spark_df.reindex(sorted(spark_df.columns), axis=1).reset_index(drop=True)
        d = duck_df.reindex(sorted(duck_df.columns), axis=1).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
            print(f"ok   {key}: {len(s)} rows match the oracle", file=sys.stderr)
        except AssertionError as e:
            print(f"FAIL {key}: {str(e)[:300]}", file=sys.stderr)
            bad.append(key)
    return bad


def record(workload):
    root = Path.cwd()
    classes, jars, build_dir = run.prepare(root)
    run_dir, scratch, work = run.fresh_run_dirs(build_dir)
    dump = run_dir / "dump"
    hashes = run_dir / "hashes.json"
    args = ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--corpus", str(run.HERE / "corpus"), "--scratch", str(scratch), "--work", str(work),
            "--out", str(run_dir / "artifact.json"), "--record", str(hashes), "--dump", str(dump)]
    code = run.run_jvm(classes, jars, args, run.jvm_env(scratch), run_dir / "jvm.log")
    if code != 0 or not hashes.exists():
        run.die(f"recording {workload} failed; log in {run_dir / 'jvm.log'}")
    bad = oracle_mismatches(run.HERE / "corpus", dump)
    if bad:
        run.die(f"{workload}: {len(bad)} key(s) disagree with the DuckDB oracle: {', '.join(bad)}")
    out = run.HERE / "expected" / f"{workload}.json"
    out.write_text(hashes.read_text() + "\n")
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    for w in sys.argv[1:]:
        record(w)
