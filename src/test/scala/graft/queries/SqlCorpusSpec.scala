package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths}

import graft.{Q, SparkTestBase}
import graft.queries.Edit.lit

/** [[SqlCorpus]] over the fixture corpus in src/test/resources/corpus:
  *   - a TPC-H-style file that opens with WITH and carries comment lines
  *     (q15), a file named in the cast table (q12 → reftpch_q12), a
  *     single-statement TPC-DS file named in the cast table (query3 →
  *     tpcds_q3), a two-statement file (query14) and a three-table TPC-DS
  *     DDL for [[TpcdsGen]];
  *   - the goldens in src/test/resources/corpus-goldens were written by
  *     the readers, `castWrap` and `oracleFor` that SqlCorpus replaced
  *     (RefSql.text, Tpcds.load/stmt, RefTpcds.statements/tables and the
  *     RefTpchFull/Tpcds copies of castWrap/oracleFor), run on these same
  *     files, so the texts and oracles here are byte-identical to theirs. */
class SqlCorpusSpec extends SparkTestBase {

  private val fixtureRoot = Paths.get("src/test/resources/corpus").toAbsolutePath
  private val goldenDir = Paths.get("src/test/resources/corpus-goldens")

  private def golden(file: String): String =
    new String(Files.readAllBytes(goldenDir.resolve(file)), UTF_8)

  /** (entry name, corpus file, statement, over the TPC-DS generator). */
  private val fixtures = Seq(
    ("reftpch_q15", "tpch/query/q15.sql", 0, false),
    ("reftpch_q12", "tpch/query/q12.sql", 0, false),
    ("tpcds_q3", "tpcds/query/query3.sql", 0, true),
    ("two_0", "tpcds/query/query14.sql", 0, true),
    ("two_1", "tpcds/query/query14.sql", 1, true))

  private def entries(corpus: SqlCorpus): Seq[Q] = {
    val tpcds = new TpcdsGen(corpus)
    fixtures.map { case (name, file, stmt, ds) =>
      corpus.entry(name, file, stmt, gen = if (ds) tpcds else TpchGen)
    }
  }

  private val fixture = new SqlCorpus(fixtureRoot)

  test("fixture texts and oracles are byte-identical to the goldens") {
    fixtures.zip(entries(fixture)).foreach { case ((name, file, stmt, _), q) =>
      assert(fixture.text(name, file, stmt) == golden(s"$name.text.sql"), name)
      assert(q.oracle.contains(golden(s"$name.oracle.sql")), name)
    }
    Seq(12, 15).foreach { n =>
      assert(fixture.statements(s"tpch/query/q$n.sql").head ==
        golden(s"ref_q$n.text.sql"))
    }
    assert(fixture.statements("tpcds/query/query14.sql").mkString("\n;\n") ==
      golden("query14.statements.sql"))
    val ddl = RefTpcds.tables(fixture)
      .map { case (t, s) => s"$t: ${s.toDDL}" }.mkString("", "\n", "\n")
    assert(ddl == golden("tpcds_ddl.txt"))
  }

  test("every fixture entry runs on Spark") {
    entries(fixture).foreach { q =>
      val df = q.run(spark, sf0001)
      assert(df.count() > 0, s"${q.name} returned no rows")
    }
    val q12 = entries(fixture).find(_.name == "reftpch_q12").get
      .run(spark, sf0001)
    assert(q12.schema("high_line_count").dataType.sql == "BIGINT")
  }

  test("a patch step rewrites a matching anchor and fails on a missing one") {
    val file = "tpch/query/q12.sql"
    val patched = fixture.entry("patched", file,
      patch = Seq(lit("'MAIL', 'SHIP'", "'MAIL', 'AIR'")), gen = TpchGen)
    assert(patched.oracle.exists(_.contains("l_shipmode in ('MAIL', 'AIR')")))
    val modes = patched.run(spark, sf0001).collect().map(_.getString(0)).toSet
    assert(modes == Set("AIR", "MAIL"))

    val stale = fixture.entry("stale", file,
      patch = Seq(lit("'MAIL', 'SHIP'", "'MAIL', 'AIR'"),
        lit("l_shipmode in ('TRUCK')", "l_shipmode in ('RAIL')")),
      gen = TpchGen)
    val runErr = intercept[IllegalArgumentException](stale.run(spark, sf0001))
    assert(runErr.getMessage.contains("stale"))
    assert(runErr.getMessage.contains("l_shipmode in ('TRUCK')"))
    val oracleErr = intercept[IllegalArgumentException](stale.oracle)
    assert(oracleErr.getMessage == runErr.getMessage)
  }

  test("an empty corpus fails only its own entries, naming the missing file") {
    val empty = Files.createTempDirectory("empty-corpus-")
    val corpus = new SqlCorpus(empty)
    val registry = entries(corpus) :+ Tpch.q1 // constructing reads nothing
    registry.zip(fixtures).foreach { case (q, (_, file, _, _)) =>
      val missing = empty.resolve(file).toString
      val runErr = intercept[NoSuchFileException](q.run(spark, sf0001))
      assert(runErr.getMessage == missing, q.name)
      val oracleErr = intercept[NoSuchFileException](q.oracle)
      assert(oracleErr.getMessage == missing, q.name)
    }
    assert(registry.last.run(spark, sf0001).count() > 0)
    assert(registry.last.oracle.nonEmpty)
  }
}
