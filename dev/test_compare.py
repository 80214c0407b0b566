#!/usr/bin/env python3
"""Unit test of dev/compare.py itself — the builder's gate must fail every
dtype the driver hasher treats asymmetrically (compare.py BANNED_DTYPES),
must fail value mismatches, and must pass a clean fixture. One fixture per
banned dtype; run with: python3 dev/test_compare.py"""
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


def run_case(name, oracle_sql, spark_sql, status=None):
    """One fixture: DuckDB oracle text + a 'Spark' parquet dump written by
    DuckDB COPY from spark_sql, plus an optional query_status.json. Returns
    (exit_code, captured stdout)."""
    out = tempfile.mkdtemp(prefix=f"cmp_{name}_")
    try:
        con = duckdb.connect()
        os.makedirs(f"{out}/{name}")
        con.sql(f"COPY ({spark_sql}) TO '{out}/{name}/part-0.parquet' "
                f"(FORMAT PARQUET)")
        json.dump({name: oracle_sql}, open(f"{out}/oracle_sql.json", "w"))
        if status is not None:
            json.dump(status, open(f"{out}/query_status.json", "w"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = compare.main("/nonexistent-sf-dir", out)
        return rc, buf.getvalue()
    finally:
        shutil.rmtree(out, ignore_errors=True)


FAILURES = []


def expect(cond, label, output):
    status = "ok" if cond else "FAIL"
    print(f"[{status}] {label}")
    if not cond:
        FAILURES.append(label)
        print(output)


# 1. Control: a clean BIGINT fixture must PASS.
rc, out = run_case("clean", "SELECT CAST(7 AS BIGINT) AS v",
                   "SELECT CAST(7 AS BIGINT) AS v")
expect(rc == 0 and "PASS clean" in out, "clean fixture passes", out)

# 2. Control: a value mismatch must FAIL.
rc, out = run_case("mismatch", "SELECT CAST(7 AS BIGINT) AS v",
                   "SELECT CAST(8 AS BIGINT) AS v")
expect(rc == 1, "value mismatch fails", out)

# 3. Each banned dtype on the ORACLE side must FAIL even when the values
#    would compare equal (the r6 lesson: identical values, asymmetric hash).
ORACLE_FIXTURES = {
    "DECIMAL": "SELECT CAST(1.50 AS DECIMAL(5,2)) AS v",
    "HUGEINT": "SELECT sum(CAST(7 AS BIGINT)) AS v",   # the exact r6 shape
    "UHUGEINT": "SELECT CAST(7 AS UHUGEINT) AS v",
    "UTINYINT": "SELECT CAST(7 AS UTINYINT) AS v",
    "USMALLINT": "SELECT CAST(7 AS USMALLINT) AS v",
    "UINTEGER": "SELECT CAST(7 AS UINTEGER) AS v",
    "UBIGINT": "SELECT CAST(7 AS UBIGINT) AS v",
    "TIMESTAMP_S": "SELECT CAST(TIMESTAMP '2020-01-02 03:04:05' "
                   "AS TIMESTAMP_S) AS v",
    "TIMESTAMP_MS": "SELECT CAST(TIMESTAMP '2020-01-02 03:04:05' "
                    "AS TIMESTAMP_MS) AS v",
    "TIMESTAMP_NS": "SELECT CAST(TIMESTAMP '2020-01-02 03:04:05' "
                    "AS TIMESTAMP_NS) AS v",
}
assert sorted(ORACLE_FIXTURES) == sorted(compare.BANNED_DTYPES), \
    "fixture list out of sync with compare.BANNED_DTYPES"
for dtype, sql in ORACLE_FIXTURES.items():
    # Spark dump side stays innocuous BIGINT/TIMESTAMP so only the banned
    # oracle dtype can trip the audit.
    spark_sql = ("SELECT TIMESTAMP '2020-01-02 03:04:05' AS v"
                 if dtype.startswith("TIMESTAMP")
                 else "SELECT CAST(7 AS BIGINT) AS v")
    rc, out = run_case(f"o_{dtype.lower()}", sql, spark_sql)
    expect(rc == 1 and "banned output dtype" in out,
           f"oracle-side {dtype} fails the dtype audit", out)

# 4. Banned dtype on the SPARK-dump side must also FAIL (a builder query
#    could emit DECIMAL parquet even when the oracle text looks clean).
rc, out = run_case("s_decimal", "SELECT CAST(1.50 AS DOUBLE) AS v",
                   "SELECT CAST(1.50 AS DECIMAL(5,2)) AS v")
expect(rc == 1 and "banned output dtype" in out,
       "spark-side DECIMAL fails the dtype audit", out)

# 5. An entry that errored in Verify and has no oracle (its corpus file is
#    missing) must FAIL with its error; an ok entry without an oracle and an
#    errored entry WITH an oracle (already failed as "no spark output") do
#    not add a second line.
missing = "java.nio.file.NoSuchFileException: /corpus/tpch/query/q1.sql"
rc, out = run_case("clean2", "SELECT CAST(7 AS BIGINT) AS v",
                   "SELECT CAST(7 AS BIGINT) AS v",
                   status={"clean2": {"status": "ok", "error": ""},
                           "reftpch_q1": {"status": "error", "error": missing},
                           "rows_only": {"status": "ok", "error": ""}})
expect(rc == 1 and f"FAIL reftpch_q1: {missing}" in out
       and "PASS clean2" in out and "rows_only" not in out
       and "1 pass / 1 fail" in out,
       "errored entry without an oracle fails with its error", out)

print()
if FAILURES:
    print(f"{len(FAILURES)} test(s) failed: {FAILURES}")
    sys.exit(1)
print(f"all {2 + len(ORACLE_FIXTURES) + 2} compare.py self-tests pass")
