package graft.server

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the pg→Spark statement translator. */
class PgDialectSpec extends AnyFunSuite {

  /** Translate and collapse space runs (operator rewrites pad spaces). */
  private def t(s: String) = PgDialect.translate(s).replaceAll("  +", " ")

  test("double-quoted identifiers become backticks; strings untouched") {
    assert(t("""SELECT a AS "My Col" FROM x""") ==
      "SELECT a AS `My Col` FROM x")
    assert(t("""SELECT '"not an ident"' AS s""") ==
      """SELECT '"not an ident"' AS s""")
  }

  test("regex operators: OPERATOR(pg_catalog.~), ~, !~") {
    assert(t("a OPERATOR(pg_catalog.~) '^x$'") == "a RLIKE '^x$'")
    assert(t("n !~ '^pg_toast'") == "n NOT RLIKE '^pg_toast'")
    assert(t("n ~ '^pg_'") == "n RLIKE '^pg_'")
    // unary bitwise-not untouched (no preceding operand)
    assert(t("SELECT ~ 5") == "SELECT ~ 5")
  }

  test(":: casts map or drop by type") {
    assert(t("SELECT x::text FROM t") == "SELECT CAST(x AS STRING) FROM t")
    assert(t("SELECT c.reloftype::pg_catalog.regtype::pg_catalog.text") ==
      "SELECT CAST(c.reloftype AS STRING)")
    assert(t("WHERE oid = '123'::oid") == "WHERE oid = CAST('123' AS INT)")
    assert(t("SELECT (a+b)::int8") == "SELECT CAST((a+b) AS BIGINT)")
  }

  test(":: on a qualified name casts the whole name, quoted or not") {
    assert(t("""SELECT "t"."c"::text FROM t""") ==
      "SELECT CAST(`t`.`c` AS STRING) FROM t")
    assert(t("""SELECT t."c"::text FROM t""") ==
      "SELECT CAST(t.`c` AS STRING) FROM t")
    assert(t("""SELECT "t".c::text FROM t""") ==
      "SELECT CAST(`t`.c AS STRING) FROM t")
    assert(t("""SELECT "s"."t"."c"::int8 FROM s.t""") ==
      "SELECT CAST(`s`.`t`.`c` AS BIGINT) FROM s.t")
    assert(t("""SELECT "c"::text, 'x'::text FROM t""") ==
      "SELECT CAST(`c` AS STRING), CAST('x' AS STRING) FROM t")
  }

  test("COLLATE clauses are stripped") {
    assert(t("x ~ '^(n)$' COLLATE pg_catalog.default AND y") ==
      "x RLIKE '^(n)$' AND y")
  }

  test("= ANY(expr) becomes IN (expr)") {
    assert(t("WHERE oid = ANY (pol.polroles)") ==
      "WHERE oid IN (pol.polroles)")
    assert(t("WHERE k = any(SELECT v FROM s)") ==
      "WHERE k IN (SELECT v FROM s)")
    // comparison-ANY keeps its operator (no IN rewrite)
    assert(t("WHERE k >= ANY (SELECT v FROM s)") ==
      "WHERE k >= ANY (SELECT v FROM s)")
    // an array-literal argument is NOT rewritten: after the cast drop an
    // IN would silently compare strings — leave it to fail loudly instead
    assert(t("WHERE k = ANY('{1,2}'::int2[])") ==
      "WHERE k = ANY('{1,2}')")
  }

  test("array-typed casts drop cleanly (no dangling brackets)") {
    assert(t("SELECT a.x::pg_catalog.int2[] FROM t") ==
      "SELECT a.x FROM t")
    assert(t("SELECT b::text[] || c") == "SELECT b || c")
    assert(t("SELECT m::text[][]") == "SELECT m")       // multi-dim
    assert(t("SELECT x::int2[3]") == "SELECT x")        // sized bounds
    assert(t("SELECT y::int2 []") == "SELECT y")        // spaced bounds
  }

  test("quoted and multi-word type names cast correctly") {
    assert(t("""SELECT c.relkind::"char" FROM pg_class c""") ==
      "SELECT CAST(c.relkind AS STRING) FROM pg_class c")
    assert(t("SELECT x::double precision") ==
      "SELECT CAST(x AS DOUBLE)")
    assert(t("SELECT x::character varying") ==
      "SELECT CAST(x AS STRING)")
    assert(t("SELECT ts::timestamp with time zone") ==
      "SELECT CAST(ts AS TIMESTAMP)")
  }

  test("E'' escape strings lose the prefix, keep the body") {
    assert(t("""SELECT E'\n' AS nl""") == "SELECT '\\n' AS nl")
    assert(t("""SELECT E'it''s' AS s""") == "SELECT 'it''s' AS s")
  }

  test("array(select …) gains the scalar-subquery parens") {
    assert(t("SELECT array(select r from t where a = b)") ==
      "SELECT array((select r from t where a = b))")
  }

  test("COPY statements pass through verbatim") {
    val copy = """COPY "t" FROM '/x.csv' WITH (FORMAT csv)"""
    assert(t(copy) == copy)
  }

  test("comments pass through untouched") {
    assert(t("SELECT 1 -- a ~ b :: c\n, 2") == "SELECT 1 -- a ~ b :: c\n, 2")
    assert(t("SELECT /* x::y ~ */ 1") == "SELECT /* x::y ~ */ 1")
  }

  test("array(select …) inside comments never triggers paren rebalancing") {
    // regression: the wrap pass used to see through comments, so a
    // commented 'array(select' corrupted the statement's parens
    assert(t("SELECT 1 -- array(select x from t)\n+ 2") ==
      "SELECT 1 -- array(select x from t)\n+ 2")
    assert(t("SELECT /* array(select 1) */ (1 + 2)") ==
      "SELECT /* array(select 1) */ (1 + 2)")
  }

  test("dollar-quoted bodies pass through untouched in both passes") {
    assert(t("SELECT $$x::int ~ 'y' \"q\"$$ AS s") ==
      "SELECT $$x::int ~ 'y' \"q\"$$ AS s")
    assert(t("SELECT $fn$array(select 1)$fn$ AS b") ==
      "SELECT $fn$array(select 1)$fn$ AS b")
    // $1 parameter markers are not dollar-quote tags
    assert(t("SELECT $1::int8") == "SELECT CAST($1 AS BIGINT)")
  }

  test("numeric/decimal casts keep exactness (never DOUBLE)") {
    assert(t("SELECT x::numeric") == "SELECT CAST(x AS DECIMAL(38,18))")
    assert(t("SELECT x::numeric(10,2)") == "SELECT CAST(x AS DECIMAL(10,2))")
    assert(t("SELECT x::decimal(7)") == "SELECT CAST(x AS DECIMAL(7,0))")
    // over-wide precision clamps to 38 but KEEPS the declared scale:
    // widening the scale to 18 changed value semantics and shrank
    // integer-digit headroom to 20, silently nulling wide values
    assert(t("SELECT x::numeric(50,8)") == "SELECT CAST(x AS DECIMAL(38,8))")
    assert(t("SELECT x::numeric(99)") == "SELECT CAST(x AS DECIMAL(38,0))")
  }

  test("parenthesized type args never leak into the emitted CAST") {
    assert(t("SELECT x::varchar(64)") == "SELECT CAST(x AS STRING)")
    assert(t("SELECT x::bpchar(8) || y") == "SELECT CAST(x AS STRING) || y")
  }

  test("CREATE TABLE translates pg column types to Spark DDL types") {
    assert(t("CREATE TABLE t (id int8, note TEXT, ok bool)") ==
      "CREATE TABLE t (id BIGINT, note STRING, ok BOOLEAN)")
    assert(t("CREATE TABLE t (a double precision, b character varying(30)," +
      " c timestamp with time zone)") ==
      "CREATE TABLE t (a DOUBLE, b STRING, c TIMESTAMP)")
    assert(t("CREATE TABLE t (p numeric(10,2) NOT NULL, v varchar(5))") ==
      "CREATE TABLE t (p DECIMAL(10,2) NOT NULL, v STRING)")
    // constraint segments and type-named COLUMNS survive
    assert(t("CREATE TABLE t (text text, PRIMARY KEY (text))") ==
      "CREATE TABLE t (text STRING, PRIMARY KEY (text))")
    // Spark-native types and CTAS pass through
    assert(t("CREATE TABLE t (id BIGINT, s STRING)") ==
      "CREATE TABLE t (id BIGINT, s STRING)")
    assert(t("CREATE TABLE t AS (SELECT 1 AS text)") ==
      "CREATE TABLE t AS (SELECT 1 AS text)")
  }

  test("ALTER TABLE ADD COLUMN translates pg types too") {
    assert(t("ALTER TABLE t ADD COLUMN note text") ==
      "ALTER TABLE t ADD COLUMN note STRING")
    assert(t("ALTER TABLE t ADD x double precision NOT NULL") ==
      "ALTER TABLE t ADD x DOUBLE NOT NULL")
    assert(t("ALTER TABLE t ADD COLUMN p numeric(12,3)") ==
      "ALTER TABLE t ADD COLUMN p DECIMAL(12,3)")
    // quoted table names (pg clients quote freely)
    assert(t("""ALTER TABLE "my table" ADD COLUMN note text""") ==
      "ALTER TABLE `my table` ADD COLUMN note STRING")
    // non-ADD alters pass through
    assert(t("ALTER TABLE t DROP COLUMN text") ==
      "ALTER TABLE t DROP COLUMN text")
  }

  test("DDL splitter is quote-aware: parens/commas in DEFAULTs don't desync") {
    assert(t("CREATE TABLE t (a text DEFAULT '(', b int8)") ==
      "CREATE TABLE t (a STRING DEFAULT '(', b BIGINT)")
    assert(t("CREATE TABLE t (a text DEFAULT 'x,y', b float8)") ==
      "CREATE TABLE t (a STRING DEFAULT 'x,y', b DOUBLE)")
  }
}
