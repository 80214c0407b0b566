package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths}

import graft.{Q, SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.NumericType

/** [[SqlCorpus]] over the fixture corpus in src/test/resources/corpus (on
  * the test classpath under `corpus`):
  *   - a TPC-H-style file that opens with WITH and carries comment lines
  *     (q15), a file whose outer SELECT casts DuckDB's HUGEINT sums to
  *     BIGINT (q12), a TPC-DS file with the same outer SELECT (q3), the two
  *     statements of a TPC-DS query as one file each (q14a, q14b) and a
  *     three-table TPC-DS DDL for [[TpcdsGen]];
  *   - the goldens in src/test/resources/corpus-goldens were written by
  *     the readers and the oracle builder SqlCorpus replaced, run on the
  *     same statements, so the texts and oracles here are byte-identical
  *     to theirs. */
class SqlCorpusSpec extends SparkTestBase {

  private val goldenDir = Paths.get("src/test/resources/corpus-goldens")

  private def golden(file: String): String =
    new String(Files.readAllBytes(goldenDir.resolve(file)), UTF_8)

  /** (entry name, corpus file, over the TPC-DS generator). */
  private val fixtures = Seq(
    ("reftpch_q15", "tpch/q15.sql", false),
    ("reftpch_q12", "tpch/q12.sql", false),
    ("tpcds_q3", "tpcds/q3.sql", true),
    ("tpcds_q14a", "tpcds/q14a.sql", true),
    ("tpcds_q14b", "tpcds/q14b.sql", true))

  private def entries(corpus: SqlCorpus): Seq[Q] = {
    val tpcds = new TpcdsGen(corpus)
    fixtures.map { case (name, file, ds) =>
      corpus.entry(name, file, if (ds) tpcds else TpchGen)
    }
  }

  private val fixture = new SqlCorpus("corpus")

  test("fixture texts and oracles are byte-identical to the goldens") {
    fixtures.zip(entries(fixture)).foreach { case ((name, file, _), q) =>
      assert(fixture.text(file) == golden(s"$name.text.sql"), name)
      assert(q.oracle.contains(golden(s"$name.oracle.sql")), name)
    }
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

  test("a query file holds one statement; a file with more fails, naming it") {
    val err = intercept[IllegalArgumentException](fixture.text("tpcds/ddl.sql"))
    assert(err.getMessage == "corpus/tpcds/ddl.sql holds 3 statements, not one")
  }

  test("an absent corpus fails only its own entries, naming the missing file") {
    val corpus = new SqlCorpus("no-such-corpus")
    val registry = entries(corpus) :+ Tpch.q1 // constructing reads nothing
    registry.zip(fixtures).foreach { case (q, (_, file, _)) =>
      val missing = s"no-such-corpus/$file"
      val runErr = intercept[NoSuchFileException](q.run(spark, sf0001))
      assert(runErr.getMessage == missing, q.name)
      val oracleErr = intercept[NoSuchFileException](q.oracle)
      assert(oracleErr.getMessage == missing, q.name)
    }
    assert(registry.last.run(spark, sf0001).count() > 0)
    assert(registry.last.oracle.nonEmpty)
  }

  /** Committed corpus entries whose oracle check passes on an empty
    * result, with the reason they are empty. An entry that returns no rows,
    * or only rows of NULLs and zeros (an aggregate over nothing), proves
    * nothing against its oracle, so it must be listed here. */
  private val emptyOnPurpose: Map[String, String] = Map.empty

  /** Rows holding some value other than NULL or a numeric zero. */
  private def informative(df: DataFrame): DataFrame =
    df.filter(df.schema.fields.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: NumericType => c.isNotNull && c =!= 0
        case _ => c.isNotNull
      }
    }.reduce(_ || _))

  test("no corpus oracle check is vacuous: every entry returns a value") {
    val corpus = SparkEntry.registry.filter(q =>
      Seq("reftpch_q", "ref_q", "tpcds_q").exists(q.name.startsWith))
    assert(corpus.size == 22 + RefSql.RowProducing.size + Tpcds.names.size)
    val empty = corpus.filter { q =>
      informative(q.run(spark, sf001)).limit(1).count() == 0
    }.map(_.name)
    assert(empty.toSet == emptyOnPurpose.keySet,
      s"empty results not listed with a reason: ${empty.filterNot(emptyOnPurpose.contains)}")
  }
}
