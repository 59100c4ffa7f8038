#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (NOT part of the
library): compares each Verify output parquet against DuckDB running
the corresponding oracle SQL on the same testdata tables.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
       python3 scripts/check_oracle.py <verifyOutDir> --against <otherVerifyOutDir>

The second form compares two Verify dumps (say, a parent and a change
commit's) query by query, with the same canonical form, over every
query directory in either dump — including the rows-only queries that
have no oracle SQL.
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    # sort columns by name, then sort rows; stringify values
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(str(r[i]) for i in order) for r in rows]
    out.sort()
    return out

def spark_rows(con, pdir):
    """Sorted column names and canonical rows of one Verify output dir."""
    df = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").df()
    cols = list(df.columns)
    return sorted(cols), canon([tuple(r) for r in df.itertuples(index=False, name=None)], cols)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        pdir = f"{out_dir}/{name}"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        # Materialize BOTH sides via .df() — the driver's own coercion
        # path. fetchall() keeps DuckDB HUGEINT as exact Python ints,
        # which hid the round-8 bug class (sum(BIGINT)→HUGEINT→float64
        # on the driver, exact int locally). .df() reproduces it.
        try:
            duck_df = con.execute(sql).df()
            dcols = list(duck_df.columns)
            drows = [tuple(r) for r in duck_df.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        scols, a = spark_rows(con, pdir)
        if scols != sorted(dcols):
            print(f"FAIL {name}: columns spark={scols} duck={sorted(dcols)}")
            n_fail += 1; continue
        b = canon(drows, dcols)
        if a == b:
            print(f"PASS {name} ({len(a)} rows)"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff at {i}:\n    spark={x}\n    duck ={y}")
                    break
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

def against(out_dir, other_dir):
    con = duckdb.connect()
    def queries(d):
        return {os.path.basename(os.path.dirname(p))
                for p in glob.glob(f"{d}/*/*.parquet")}
    names = queries(out_dir) | queries(other_dir)
    n_same = n_diff = 0
    for name in sorted(names):
        a_dir, b_dir = f"{out_dir}/{name}", f"{other_dir}/{name}"
        if not (glob.glob(f"{a_dir}/*.parquet") and glob.glob(f"{b_dir}/*.parquet")):
            print(f"DIFF {name}: missing from one dump"); n_diff += 1; continue
        (acols, a), (bcols, b) = spark_rows(con, a_dir), spark_rows(con, b_dir)
        if acols == bcols and a == b:
            print(f"SAME {name} ({len(a)} rows)"); n_same += 1
        else:
            n_diff += 1
            print(f"DIFF {name}: columns {acols} vs {bcols}, rows {len(a)} vs {len(b)}")
    print(f"== {n_same} of {len(names)} identical, {n_diff} differ ==")
    return 1 if n_diff else 0

if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[2] == "--against":
        sys.exit(against(sys.argv[1], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
