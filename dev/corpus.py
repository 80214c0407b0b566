#!/usr/bin/env python3
"""The base texts of the committed SQL corpus, and each committed file's
deviation from its base.

    dev/corpus.py OUT_DIR   write the base texts, offline, from the installed
                            duckdb's tpch and tpcds extensions:
                              OUT_DIR/tpch/q1.sql .. q22.sql   tpch_queries()
                              OUT_DIR/tpcds/query1.sql .. query99.sql
                                                               tpcds_queries()
                              OUT_DIR/tpcds/ddl.sql  the schema of
                                                     CALL dsdgen(sf=0)
    dev/corpus.py --diff    print, for every file under
                            src/main/resources/queries, a unified diff of its
                            statement against its base (whole-line `--`
                            comments dropped on both sides, as SqlCorpus
                            drops them). Files written by hand are listed
                            as having no base.

A committed file `tpch/qN.sql` has base TPC-H query N, and `tpcds/qN.sql` has
base TPC-DS query N. Of the four two-statement TPC-DS queries duckdb ships one
statement: the first of 14, 24 and 39 and the second of 23, so `tpcds/q14a.sql`,
`q23b.sql`, `q24a.sql` and `q39a.sql` have base TPC-DS query N, and `q14b.sql`,
`q23a.sql`, `q24b.sql` and `q39b.sql` have none. `tpcds/ddl.sql` has the dsdgen
schema as its base; `tpch/ddl.sql` has none."""
import difflib
import os
import re
import sys

import duckdb

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                      "src", "main", "resources", "queries")


def bases():
    """{relative path: base text} for every text duckdb ships."""
    con = duckdb.connect()
    out = {}
    for n, text in con.execute("SELECT * FROM tpch_queries()").fetchall():
        out[f"tpch/q{n}.sql"] = text
    for n, text in con.execute("SELECT * FROM tpcds_queries()").fetchall():
        out[f"tpcds/query{n}.sql"] = text
    con.execute("CALL dsdgen(sf=0)")
    cols = con.execute(
        "SELECT table_name, column_name, data_type FROM information_schema.columns "
        "ORDER BY table_name, ordinal_position").fetchall()
    tables = {}
    for t, c, ty in cols:
        tables.setdefault(t, []).append(f"    {c} {ty.lower()}")
    out["tpcds/ddl.sql"] = "".join(
        f"CREATE TABLE {t} (\n" + ",\n".join(cs) + "\n);\n"
        for t, cs in tables.items())
    return out


# The statement duckdb ships of each two-statement TPC-DS query.
SHIPPED = {"14": "a", "23": "b", "24": "a", "39": "a"}


def base_of(rel):
    """The base path of committed file `rel`, or None when it has none."""
    m = re.fullmatch(r"tpcds/q(\d+)([ab]?)\.sql", rel)
    if m and SHIPPED.get(m.group(1), "") == m.group(2):
        return f"tpcds/query{m.group(1)}.sql"
    if re.fullmatch(r"tpch/q\d+\.sql", rel) or rel == "tpcds/ddl.sql":
        return rel
    return None


def statement_lines(text):
    return [l for l in text.strip().splitlines()
            if not l.strip().startswith("--")]


def write(out_dir):
    for rel, text in bases().items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    print(f"wrote the base texts under {out_dir}")


def diff():
    base = bases()
    files = sorted(
        os.path.relpath(os.path.join(d, f), CORPUS)
        for d, _, fs in os.walk(CORPUS) for f in fs if f.endswith(".sql"))
    for rel in files:
        b = base_of(rel)
        if b is None:
            print(f"== {rel}: written by hand, no base")
            continue
        with open(os.path.join(CORPUS, rel)) as f:
            mine = statement_lines(f.read())
        d = list(difflib.unified_diff(statement_lines(base[b]), mine,
                                      b, rel, lineterm="", n=1))
        print(f"== {rel}: " + ("as its base" if not d else f"against {b}"))
        for line in d[2:]:
            print(line)


if __name__ == "__main__":
    if sys.argv[1:] == ["--diff"]:
        diff()
    elif len(sys.argv) == 2 and not sys.argv[1].startswith("-"):
        write(sys.argv[1])
    else:
        sys.exit(__doc__)
