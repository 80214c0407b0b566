"""Correctness checks of one run, made with DuckDB over the same generated
parquet files the program read.

Results are compared the way the repository's oracle compare does it: column
names sorted, doubles at six significant digits, rows order-insensitive.
Each check returns a list of failure strings; an empty list means correct.
"""
import datetime
import math
import re

import duckdb

import gen

# PostgreSQL type OIDs the wire server sends in RowDescription
INT_OIDS = {20, 21, 23}
FLOAT_OIDS = {700, 701, 1700}
BOOL_OID = 16
TS_OIDS = {1114, 1184}
PG_TIMESTAMP = re.compile(r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.\d{1,6})?$")


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
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def connect(data_dir):
    """DuckDB over the generated tables. Embeddings are exposed as DOUBLE[]
    (an exact widening of the stored floats) so oracle cosines are computed
    in double precision, as the program's kernels compute them; in float
    they differ in the fourth decimal that the ANN oracles round to."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        cols = "* REPLACE (embedding::DOUBLE[] AS embedding)" \
            if t == "embeddings" else "*"
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def spark_value(v, typ):
    """A JVM result cell (JSON) as the Python value DuckDB would return."""
    if v is None:
        return None
    if typ in ("double", "float"):
        return float(v)
    if isinstance(v, list):
        inner = typ[6:-1] if typ.startswith("array<") else typ
        return [spark_value(x, inner) for x in v]
    return v


def same(name, cols, rows, ref_cols, ref_rows):
    cols = [c.lower() for c in cols]
    ref_cols = [c.lower() for c in ref_cols]
    if sorted(cols) != sorted(ref_cols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(ref_cols)}"]
    _, a = norm_rows(cols, rows)
    _, b = norm_rows(ref_cols, ref_rows)
    if a == b:
        return []
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs oracle {len(b)}"]
    diff = next(x for x, y in zip(a, b) if x != y)
    return [f"{name}: cell contents differ, e.g. {diff}"]


def queries(con, outputs):
    """Registry query results against their DuckDB oracle SQL. Queries with
    no oracle are covered by the JVM's cross-pass digest check."""
    fails = []
    for name, out in sorted(outputs.items()):
        if name == "digests" or out.get("oracle") is None:
            continue
        rows = [[spark_value(v, t) for v, t in zip(r, out["types"])]
                for r in out["rows"]]
        try:
            ref = con.sql(out["oracle"])
            ref_cols, ref_rows = ref.columns, ref.fetchall()
        except duckdb.Error as e:
            fails.append(f"{name}: oracle error {e}")
            continue
        fails += same(name, out["columns"], rows, ref_cols, ref_rows)
    return fails


def wire_value(text, oid, findings):
    """A text-format wire value as a Python value. Timestamps are compared
    by value; text that is not PostgreSQL's timestamp format is reported
    as a finding."""
    if text is None:
        return None
    if oid in TS_OIDS:
        if not PG_TIMESTAMP.match(text):
            findings.setdefault("timestamp text is not in PostgreSQL's "
                                "'YYYY-MM-DD HH:MM:SS' format", text)
        return str(datetime.datetime.fromisoformat(text))
    if oid in INT_OIDS:
        return int(text)
    if oid in FLOAT_OIDS:
        return float(text)
    if oid == BOOL_OID:
        return text in ("t", "true")
    return text


def wire(con, statements):
    """Every distinct statement's answer against the same SQL in DuckDB;
    the catalog query must list every generated table. Returns (failures,
    findings): findings are protocol-format deviations that keep the
    values intact."""
    fails, findings = [], {}
    for sql, param, fields, rows in statements.values():
        cols = [f[0] for f in fields]
        got = [[wire_value(v, f[1], findings) for v, f in zip(r, fields)]
               for r in rows]
        if "pg_catalog" in sql:
            names = {r[cols.index("Name")] for r in got}
            missing = set(gen.TABLES) - names
            if missing:
                fails.append(f"catalog: tables missing {sorted(missing)}")
            continue
        ref = con.execute(sql, [param] if param is not None else [])
        ref_cols = [d[0] for d in ref.description]
        ref_rows = [[str(v) if isinstance(v, datetime.datetime) else v
                     for v in r] for r in ref.fetchall()]
        fails += same(f"wire[{sql.split()[1]}.. {param}]", cols, got,
                      ref_cols, ref_rows)
    return fails, [f"{k} (e.g. {v!r})" for k, v in sorted(findings.items())]


def lake_expected(con, plan):
    """What the lake pass must return, derived from the source `orders` and
    the plan: per-op row counts, scan and count results, merge and delete
    counts, and the final content checksum."""
    q = lambda s: con.execute(s).fetchall()
    n = q("SELECT count(*) FROM orders")[0][0]
    rows_after = [hi for _, hi in plan["batches"]]
    scans = [list(q(f"""SELECT count(*), coalesce(sum(o_orderkey), 0),
                  coalesce(sum(round(o_totalprice * 100)::BIGINT), 0)
                  FROM orders WHERE o_orderkey >= {lo}
                  AND o_orderkey < {hi}""")[0]) for lo, hi in plan["scans"]]
    counts = [q(f"SELECT count(*) FROM orders WHERE {p}")[0][0]
              for p in plan["counts"]]
    src = f"read_parquet('{plan['merge_source']}')"
    matched = q(f"SELECT count(*) FROM {src} WHERE o_orderkey < {n}")[0][0]
    inserted = q(f"SELECT count(*) FROM {src}")[0][0] - matched
    con.execute(f"""CREATE OR REPLACE TEMP VIEW merged AS
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {src})
        UNION ALL SELECT * FROM {src}""")
    deleted = q(f"SELECT count(*) FROM merged WHERE {plan['delete']}")[0][0]
    final = list(q(f"""SELECT count(*), sum(o_orderkey),
        sum(round(o_totalprice * 100)::BIGINT),
        sum(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END)
        FROM merged WHERE NOT ({plan['delete']})""")[0])
    total = n + inserted
    return {"scans": scans, "counts": counts, "merge": [matched, inserted],
            "deleted": deleted,
            "rows_after": rows_after + [total, total - deleted,
                                        total - deleted],
            "final": final}


def lake(con, plan, got):
    want = lake_expected(con, plan)
    return [f"lake.{k}: got {got.get(k)} want {v}"
            for k, v in want.items() if got.get(k) != v]
