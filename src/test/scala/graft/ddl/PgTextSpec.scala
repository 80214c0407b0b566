package graft.ddl

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the one scanner of pg SQL text. */
class PgTextSpec extends AnyFunSuite {

  private def kinds(sql: String) = PgText.regions(sql)
    .filter(_.kind != PgText.Code)
    .map(r => r.kind -> sql.substring(r.start, r.end)).toSeq

  test("a ';' in a literal, a quoted identifier or a nested comment") {
    assert(PgText.statements("SELECT 'a;b' AS x") == Seq("SELECT 'a;b' AS x"))
    assert(PgText.statements(
      "SELECT 1 AS \"c;d\"; SELECT 2 /* x /* ; */ ; */ AS y;\n-- ; only\n") ==
      Seq("SELECT 1 AS \"c;d\"", "SELECT 2 /* x /* ; */ ; */ AS y"))
    assert(PgText.statements("SELECT E'a\\';b'; SELECT $q$;$q$") ==
      Seq("SELECT E'a\\';b'", "SELECT $q$;$q$"))
  }

  test("regions end by pg's rules") {
    // a standard string takes no backslash escapes; '' doubles a quote
    assert(kinds("'a\\' x 'it''s'") ==
      Seq(PgText.Str -> "'a\\'", PgText.Str -> "'it''s'"))
    // an escape string does; E after a word is part of the word
    assert(kinds("E'a\\'b' nameE'c'") ==
      Seq(PgText.EscStr -> "E'a\\'b'", PgText.Str -> "'c'"))
    assert(kinds("\"a\"\"b\" $$x'y$$ $t$z$t$") == Seq(
      PgText.Ident -> "\"a\"\"b\"", PgText.Dollar -> "$$x'y$$",
      PgText.Dollar -> "$t$z$t$"))
    // $1 is a marker and a$b$ an identifier: both code
    assert(kinds("a$b$ c $1") == Nil)
    assert(kinds("x -- c\ny /* a /* b */ c */") ==
      Seq(PgText.Comment -> "-- c", PgText.Comment -> "/* a /* b */ c */"))
    // an unterminated region runs to the end
    assert(kinds("x 'abc") == Seq(PgText.Str -> "'abc"))
  }

  test("split keeps pieces exact and skips separators in parens") {
    assert(PgText.split("a int, b decimal(10, 2), c text DEFAULT ','", ',') ==
      Seq("a int", " b decimal(10, 2)", " c text DEFAULT ','"))
    assert(PgText.parenGroup("CREATE TABLE \"t(\" (a int, b f(1))") ==
      Some((18, 32)))
    assert(PgText.identName("\"a\"\"b\"", PgText.regionAt("\"a\"\"b\"", 0)) ==
      "a\"b")
    assert(PgText.stripComments("a/* x */b -- y") == "a b  ")
  }
}
