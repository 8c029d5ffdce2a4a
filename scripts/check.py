#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev loop only).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
same sfDir parquet tables, and compares:
  - schema: same column-name set
  - rows: same count
  - values: exact match after sorting columns by name (rows compared
    in order), like the driver's exact value hash. A float pair that
    differs only within rel tol 1e-9 still FAILs; it is counted as
    approx-only to tell rounding drift from a wrong answer.
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            print(f"FAIL {name}: columns differ spark={gcols} oracle={ecols}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rowcount spark={len(got)} oracle={len(exp)}")
            n_fail += 1
            continue
        got, exp = got[gcols], exp[gcols]
        bad = 0
        approx = 0
        first = None
        for i in range(len(got)):
            for c in gcols:
                g, e = norm(got[c].iloc[i]), norm(exp[c].iloc[i])
                gn = g is None or (isinstance(g, float) and math.isnan(g))
                en = e is None or (isinstance(e, float) and math.isnan(e))
                if gn and en:
                    continue
                if gn != en:
                    bad += 1
                    first = first or (i, c, g, e)
                    continue
                if isinstance(g, float) and isinstance(e, float):
                    if g != e:
                        if abs(g - e) <= 1e-9 * max(1.0, abs(g), abs(e)):
                            approx += 1
                            first = first or (i, c, g, e)
                        else:
                            bad += 1
                            first = first or (i, c, g, e)
                elif str(g) != str(e):
                    bad += 1
                    first = first or (i, c, g, e)
        if bad or approx:
            print(f"FAIL {name}: exact-mismatch={bad} approx-only={approx} "
                  f"rows={len(got)} first={first}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(got)}")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
