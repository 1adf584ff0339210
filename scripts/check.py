#!/usr/bin/env python3
"""Dev-only pre-validation of SparkEntry.queries vs oracleSql (mimics the
driver's DuckDB compare). NOT part of the engine — the engine is pure
Scala/Spark; this script only replicates the driver-side check loop so we
catch oracle mismatches before the round gate.

Usage: python3 scripts/check.py [sfdir] [outdir] [key,key,...]
(Expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have been run.)
The optional third argument restricts the check to those keys, the same
comma-separated filter graft.Verify takes.

DuckDB runs with a memory limit of half the host's RAM and spills under
target/duckdb_tmp, so an oracle that needs more memory fails as
`FAIL <key>: oracle error ...` instead of getting the script killed.
"""
import json, sys, glob, os
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"
keys = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
con = duckdb.connect()
con.sql(f"SET memory_limit = '{host_mb // 2}MB'")
con.sql(f"SET temp_directory = '{os.path.join(repo, 'target', 'duckdb_tmp')}'")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if keys is not None:
    unknown = keys - oracle.keys() - {
        os.path.basename(p.rstrip("/")) for p in glob.glob(f"{outdir}/*/")}
    if unknown:
        sys.exit(f"unknown key(s): {', '.join(sorted(unknown))}")
    oracle = {k: v for k, v in oracle.items() if k in keys}
fails = 0
for name in sorted(oracle):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark result parquet"); fails += 1; continue
    spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        print(f"FAIL {name}: schema {list(s.columns)} vs {list(d.columns)}"); fails += 1; continue
    # strict dtype compare (int32-vs-int64 etc. may fail a strict driver)
    sd = con.sql(f"DESCRIBE SELECT * FROM read_parquet({files!r})").df()
    dd = con.sql(f"DESCRIBE {oracle[name]}").df()
    smap = dict(zip(sd.column_name, sd.column_type))
    dmap = dict(zip(dd.column_name, dd.column_type))
    dt = {c: (smap.get(c), dmap.get(c)) for c in smap if smap.get(c) != dmap.get(c)}
    if dt:
        print(f"FAIL {name}: dtype mismatch {dt}"); fails += 1; continue
    if len(s) != len(d):
        print(f"FAIL {name}: rows {len(s)} vs {len(d)}"); fails += 1; continue
    # exact value compare (the driver hashes; equality is the strong form)
    try:
        import pandas as pd
        pd.testing.assert_frame_equal(
            s.reset_index(drop=True), d.reset_index(drop=True),
            check_dtype=False, check_exact=True)
        print(f"ok   {name}: {len(s)} rows")
    except AssertionError as e:
        print(f"FAIL {name}: values differ\n{str(e)[:500]}"); fails += 1

# rows-only queries (no oracle): just confirm they produced output
for p in sorted(glob.glob(f"{outdir}/*/")):
    name = os.path.basename(p.rstrip("/"))
    if name not in oracle and (keys is None or name in keys):
        n = con.sql(f"SELECT count(*) FROM read_parquet('{p}*.parquet')").fetchone()[0]
        print(f"rows {name}: {n} rows (no oracle)")

print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
