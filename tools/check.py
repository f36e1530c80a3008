#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/check.py [verify_out_dir] [sf_dir]

For each query dir under verify_out: load the Spark-written parquet and the
oracle SQL result (run on the sf_dir tables), sort columns by name, sort
rows, compare cell-by-cell (exact; floats reported with max abs diff).
"""
import json, math, sys, time
import duckdb

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for tbl in ["region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf}/{tbl}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df):
    cols = sorted(df.columns)
    rows = [tuple(r[df.columns.index(c)] for c in cols) for r in df.fetchall()]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows

n_pass = n_fail = n_weak = 0
slow = []
for name in sorted(oracle):
    try:
        spark_df = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'")
        t0 = time.monotonic()
        orc_df = con.sql(oracle[name])
        oc, orows = canon(orc_df)  # fetchall forces oracle execution
        dt = time.monotonic() - t0
        if dt > 10.0:
            # An oracle this slow at sf0.01 will hang the driver's
            # harness at scale — treat as a bug even if it passes.
            slow.append((name, dt))
            print(f"SLOW {name}: oracle took {dt:.1f}s (>10s budget)")
        sc, sr = canon(spark_df)
        if sc != oc:
            print(f"FAIL {name}: schema {sc} vs {oc}")
            n_fail += 1
            continue
        if len(sr) != len(orows):
            print(f"FAIL {name}: rows {len(sr)} vs {len(orows)}")
            n_fail += 1
            continue
        bad = 0
        maxdiff = 0.0
        for a, b in zip(sr, orows):
            if a != b:
                for x, y in zip(a, b):
                    if x != y:
                        if isinstance(x, float) and isinstance(y, float) and not (math.isnan(x) or math.isnan(y)):
                            maxdiff = max(maxdiff, abs(x - y))
                        bad += 1
        if bad:
            print(f"FAIL {name}: {bad} differing cells over {len(sr)} rows, max float diff {maxdiff:.3e}")
            for a, b in zip(sr, orows):
                if a != b:
                    print(f"   spark  {a}\n   oracle {b}")
                    break
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    except Exception as e:
        print(f"ERROR {name}: {e}")
        n_fail += 1

for name in sorted(set(n for n in __import__('os').listdir(out)
                       if n != 'oracle_sql.json') - set(oracle)):
    print(f"WEAK {name}: no oracle (rows-only check)")
    n_weak += 1
if slow:
    print(f"\nSLOW ORACLES (>{10}s): " +
          ", ".join(f"{n}={d:.1f}s" for n, d in slow))
print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak, {len(slow)} slow")
# nonzero exit on any fail or slow oracle so callers (set -e
# pipelines) cannot read a red run as green
sys.exit(1 if (n_fail or slow) else 0)
