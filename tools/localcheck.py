#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev-only, not part of the
library). Runs each oracle SQL from Verify's oracle_sql.json in DuckDB over
the same parquet tables, and compares against the Spark parquet output:
columns sorted by name, values compared row-by-row (queries are required to
end in a total order, SURVEY.md §5.1).

Usage: python3 tools/localcheck.py <sfDir> <verifyOutDir>
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            # An empty glob is ALSO what a never-written query looks like
            # (partial/crashed Verify run): only degrade when the dir
            # exists and Spark's _SUCCESS commit marker is present —
            # otherwise an empty-result oracle would count a missing
            # output as PASS (ADVICE r19). A missing dir fails loudly.
            if not (os.path.isdir(f"{out_dir}/{name}")
                    and os.path.exists(f"{out_dir}/{name}/_SUCCESS")):
                print(f"FAIL {name}: missing output dir (no _SUCCESS; "
                      "partial Verify run?)")
                n_fail += 1
                continue
            # zero-part-file Spark output: a 0-partition empty frame
            # writes only _SUCCESS, so the read_parquet glob would raise
            # even when the result is legitimately empty (recorded r18
            # audit; unreachable behind the driver's rows>0 smoke check,
            # fixed here for tool correctness). No part file means no
            # Spark schema to compare, so the check degrades to an
            # empty-vs-empty row compare against the oracle.
            try:
                want = con.execute(sql).fetch_arrow_table()
            except Exception as e:
                print(f"FAIL {name}: {e}")
                n_fail += 1
                continue
            if want.num_rows == 0:
                print(f"PASS {name} (0 rows; zero part files, "
                      "schema unchecked)")
                n_pass += 1
            else:
                print(f"FAIL {name}: rows spark=0 (zero part files) "
                      f"oracle={want.num_rows}")
                n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetch_arrow_table()
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        g_cols, w_cols = sorted(got.column_names), sorted(want.column_names)
        if g_cols != w_cols:
            print(f"FAIL {name}: columns spark={g_cols} oracle={w_cols}")
            n_fail += 1
            continue
        g_types = {c: str(got.schema.field(c).type) for c in g_cols}
        w_types = {c: str(want.schema.field(c).type) for c in w_cols}
        if g_types != w_types:
            diff = {c: (g_types[c], w_types[c]) for c in g_cols
                    if g_types[c] != w_types[c]}
            print(f"WARN {name}: type mismatch (spark, oracle): {diff}")
        g_rows = [tuple(canon(r[c]) for c in g_cols) for r in got.to_pylist()]
        w_rows = [tuple(canon(r[c]) for c in w_cols) for r in want.to_pylist()]
        if len(g_rows) != len(w_rows):
            print(f"FAIL {name}: rows spark={len(g_rows)} oracle={len(w_rows)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)} differing rows; first at {i}:")
            print(f"  spark : {a}")
            print(f"  oracle: {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print("usage: localcheck.py <sfDir> <outDir>", file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
