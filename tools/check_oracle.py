#!/usr/bin/env python3
"""Dev-only pre-validation of SparkEntry.oracleSql against graft.Verify output.

Mimics the driver's t2 correctness gate: run each oracle SQL in DuckDB over
the fixture parquet tables, load the Spark result parquet written by
`graft.Verify`, sort columns by name, and compare shape + values.

Usage:
  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out

NOT part of the shipped library (driver-side python/duckdb only).
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = 0
    fails = []
    for name in sorted(oracle):
        try:
            sdf = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        except Exception as e:
            fails.append((name, f"spark result unreadable: {e}"))
            continue
        try:
            ddf = con.sql(oracle[name]).df()
        except Exception as e:
            fails.append((name, f"oracle SQL failed: {e}"))
            continue
        sdf = sdf[sorted(sdf.columns)]
        ddf = ddf[sorted(ddf.columns)]
        if list(sdf.columns) != list(ddf.columns):
            fails.append((name, f"columns differ: spark={list(sdf.columns)} duck={list(ddf.columns)}"))
            continue
        if sdf.shape != ddf.shape:
            fails.append((name, f"shape differs: spark={sdf.shape} duck={ddf.shape}"))
            continue
        # Dtype-kind gate: the driver hashes typed values, so an int64 Spark
        # column against a float64 oracle column (e.g. DuckDB window
        # sum(BIGINT) -> HUGEINT -> float64) hash-mismatches even when every
        # value compares equal (7 vs 7.0). Width differences within a kind
        # (int32 vs int64) DO hash-match in the driver, so compare pandas
        # dtype .kind (i/u -> i, f, b, O), not the exact dtype.
        def kind(dt):
            k = dt.kind
            return "i" if k in ("i", "u") else k
        dt_bad = [
            f"col {c}: spark={sdf[c].dtype} duck={ddf[c].dtype}"
            for c in sdf.columns if kind(sdf[c].dtype) != kind(ddf[c].dtype)
        ]
        if dt_bad:
            fails.append((name, "dtype kinds differ (CAST the oracle): " + "; ".join(dt_bad)))
            continue
        bad = None
        for c in sdf.columns:
            a, b = sdf[c].tolist(), ddf[c].tolist()
            for i, (x, y) in enumerate(zip(a, b)):
                if isinstance(x, float) or isinstance(y, float):
                    xn = x is None or (isinstance(x, float) and math.isnan(x))
                    yn = y is None or (isinstance(y, float) and math.isnan(y))
                    if xn or yn:
                        ok = xn and yn
                    else:
                        ok = abs(float(x) - float(y)) < 1e-9
                else:
                    ok = str(x) == str(y)
                if not ok:
                    bad = f"col {c} row {i}: spark={x!r} duck={y!r}"
                    break
            if bad:
                break
        if bad:
            fails.append((name, bad))
        else:
            n_pass += 1
            print(f"PASS {name} ({sdf.shape[0]} rows)")
    for name, msg in fails:
        print(f"FAIL {name}: {msg}")
    print(f"\n{n_pass}/{n_pass + len(fails)} pass")
    # Verify dumps every entry; the ones without an oracle key are the
    # RowsOnly entries, which this gate cannot check beyond their rows.
    rows_only = sorted(d for d in os.listdir(out)
                       if os.path.isdir(os.path.join(out, d)) and d not in oracle)
    print(f"rows-only (no oracle): {len(rows_only)}: {', '.join(rows_only)}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
