#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare (dev tool only; the
engine itself is pure Scala/Spark).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads each `<verifyOutDir>/<name>/` parquet (written by graft.Verify), runs
the matching SQL from `<verifyOutDir>/oracle_sql.json` in DuckDB with every
testdata table registered as a view, then compares: columns sorted by name,
rows sorted, values stringified (floats repr'd via round-trip).

Each result line carries the query's DuckDB seconds (reading the Spark dump
plus running the oracle SQL); the run ends with the 10 slowest queries.
"""
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(round(v, 9))
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    secs = {}
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        # One execution per side, via pandas (the driver's own path): rows
        # AND dtypes both come from the same df, so NULL/date conversions
        # mirror what the driver hashes. The dtype check catches DuckDB
        # HUGEINT/DECIMAL aggregates (e.g. an uncast sum(BIGINT)) that
        # surface as float64 through pandas while the Spark parquet column
        # is int64 — "19525.0" vs "19525" hash-mismatch.
        t0 = time.monotonic()
        try:
            g_df = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            e_df = con.execute(sql).df()
        except Exception as exc:
            secs[name] = time.monotonic() - t0
            print(f"FAIL {name} [{secs[name]:.2f} s]: {exc}")
            n_bad += 1
            continue
        secs[name] = time.monotonic() - t0
        took = f"[{secs[name]:.2f} s]"
        g_cols = list(g_df.columns)
        g_rows = list(g_df.itertuples(index=False, name=None))
        e_cols = list(e_df.columns)
        e_rows = list(e_df.itertuples(index=False, name=None))
        g_kinds = {c: k.kind for c, k in g_df.dtypes.items()}
        e_kinds = {c: k.kind for c, k in e_df.dtypes.items()}
        kind_diff = {c: (g_kinds.get(c), e_kinds.get(c))
                     for c in set(g_kinds) | set(e_kinds)
                     if g_kinds.get(c) != e_kinds.get(c)
                     and {g_kinds.get(c), e_kinds.get(c)} & {"f"}}
        gc, gr = canon(g_rows, g_cols)
        ec, er = canon(e_rows, e_cols)
        if kind_diff:
            print(f"FAIL {name} {took}: dtype kind mismatch through pandas {kind_diff}"
                  " (cast the oracle aggregate, e.g. CAST(sum(x) AS BIGINT))")
            n_bad += 1
        elif gc != ec:
            print(f"FAIL {name} {took}: columns {gc} != {ec}")
            n_bad += 1
        elif gr != er:
            n_bad += 1
            print(f"FAIL {name} {took}: {len(gr)} vs {len(er)} rows; first diffs:")
            for a, b in list(zip(gr, er))[:200]:
                if a != b:
                    print(f"  spark={a}\n  duck ={b}")
                    break
            if len(gr) != len(er):
                print(f"  row-count mismatch")
        else:
            print(f"ok   {name} ({len(gr)} rows) {took}")
            n_ok += 1
    print("10 slowest (DuckDB seconds):")
    for name, t in sorted(secs.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:8.2f}  {name}")
    print(f"== {n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
