#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same sf parquet dir and diff against the Spark parquet dumps
written by graft.Verify. Usage: compare.py <sfDir> <verifyOutDir> [--strict].
An entry that query_status.json records as an error and that has no oracle
(its oracle could not be built) fails too.

Default comparison: sort columns by name, round doubles to 6 significant
digits, sort rows, compare cell-by-cell.

--strict: exact cell comparison (NO float rounding — repr of the exact
value), a stricter-than-driver diagnostic. Expect it to flag raw-double
aggregates (partition-order ulp noise) and float32-kernel outputs that the
driver's rounding hasher accepts (r3/r4 driver-green evidence: q5/q7/q8/q9
sums, ann round(sim,4)); anything ELSE it flags is a real value diff.

Both modes additionally audit output dtypes against BANNED_DTYPES: any
column whose DuckDB type the driver's hasher treats asymmetrically between
the Spark parquet dump and the DuckDB result is an automatic FAIL, on
EITHER side's schema. Two rounds proved the class empirically:
  r4: 14/14 hash-fails were exactly the DECIMAL-output queries;
  r6: 64/64 hash-fails were exactly the sum(BIGINT)->HUGEINT queries.
So the audit bans the whole widened/exotic-numeric class up front —
DECIMAL, HUGEINT/UHUGEINT (int128), the unsigned ints, and the non-micro
TIMESTAMP precision variants. Use BIGINT fixed-point (cast the sums),
round(x, k) doubles, and plain TIMESTAMP instead. This keeps the builder
gate strictly HARSHER than the driver's, never laxer (the r6 lesson:
compare.py audited DECIMAL but not HUGEINT, and 64 red rows shipped as
locally green)."""
import sys, json, math, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

STRICT = False

# DuckDB dtypes the driver hasher handles asymmetrically vs a Spark parquet
# dump (substring match against the uppercased type name). Spark has no
# unsigned/int128/sub-micro types, so any of these in an output schema means
# the two engines canonicalize the same value differently.
BANNED_DTYPES = [
    "DECIMAL",                                      # r4: 14/14 fails
    "HUGEINT", "UHUGEINT",                          # r6: 64/64 fails (int128)
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",  # unsigned widenings
    "TIMESTAMP_S", "TIMESTAMP_MS", "TIMESTAMP_NS",   # precision variants
]


def banned(type_name):
    t = str(type_name).upper()
    return next((b for b in BANNED_DTYPES if b in t), None)


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return repr(v) if STRICT else f"{v:.6g}"
    # dates/timestamps/decimals → str
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def banned_cols(con, rel_sql):
    """(column, banned dtype) pairs in the given relation's schema."""
    rel = con.sql(rel_sql)
    return [(c, banned(t)) for c, t in zip(rel.columns, rel.types)
            if banned(t)]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark directory-style output (e.g. /tmp/sf1)
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            duck = con.sql(sql)
            dcols = [c.lower() for c in duck.columns]
            drows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            n_fail += 1
            continue
        sp_sql = f"SELECT * FROM '{spark_dir}/*.parquet'"
        # dtype audit: a banned dtype in either side's output schema fails
        bad = banned_cols(con, sp_sql) + [
            (c, banned(t)) for c, t in zip(duck.columns, duck.types)
            if banned(t)]
        if bad:
            print(f"FAIL {name}: banned output dtype(s) {sorted(set(bad))} "
                  f"(driver hashes these asymmetrically — cast to BIGINT "
                  f"fixed-point / round(x, k) / plain TIMESTAMP)")
            n_fail += 1
            continue
        sp = con.sql(sp_sql)
        scols = [c.lower() for c in sp.columns]
        srows = sp.fetchall()
        if sorted(dcols) != sorted(scols):
            print(f"FAIL {name}: columns {sorted(scols)} vs oracle {sorted(dcols)}")
            n_fail += 1
            continue
        _, dn = norm_rows(dcols, drows)
        _, sn = norm_rows(scols, srows)
        if dn == sn:
            print(f"PASS {name} ({len(sn)} rows)")
            n_pass += 1
        else:
            detail = (f"row counts {len(sn)} vs {len(dn)}"
                      if len(sn) != len(dn) else "cell contents differ")
            print(f"FAIL {name}: {detail}")
            only_s = [r for r in sn if r not in dn][:3]
            only_d = [r for r in dn if r not in sn][:3]
            print(f"  spark-only: {only_s}")
            print(f"  duck-only:  {only_d}")
            n_fail += 1
    # A query that threw in Verify with no oracle (e.g. its corpus file is
    # missing, so neither its run nor its oracle could be built) is a fail
    # too, not a silent omission.
    status_path = f"{out_dir}/query_status.json"
    if os.path.exists(status_path):
        status = json.load(open(status_path))
        for name in sorted(status):
            st = status[name]
            if st.get("status") == "error" and name not in oracle:
                print(f"FAIL {name}: {st.get('error', '')}")
                n_fail += 1
    mode = "strict" if STRICT else "default"
    print(f"\n{n_pass} pass / {n_fail} fail ({mode} mode)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--strict"]
    STRICT = "--strict" in sys.argv
    sys.exit(main(args[0], args[1]))
