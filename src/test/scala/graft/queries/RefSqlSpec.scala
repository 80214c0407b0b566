package graft.queries

import org.apache.spark.sql.AnalysisException

import graft.{SparkTestBase, Tables}

/** Dialect-parity proof over the reference's own TPC-H corpus: every one
  * of its 22 query files either executes verbatim on Spark over the driver
  * testdata, or fails ONLY on schema resolution (a table/column the
  * TPC-H-ish generator doesn't ship) — never on parsing. A parse failure
  * here would mean the reference's pg-flavored SQL (date literals,
  * `interval '112 day'` arithmetic, `extract(year from ...)`,
  * `substring(x from 1 for 2)`, correlated EXISTS/IN) is outside our
  * dialect; none is. */
class RefSqlSpec extends SparkTestBase {

  private lazy val ready = { Tables.register(spark, sf001); () }

  test("the 7 schema-compatible reference files execute verbatim") {
    ready
    RefSql.Runnable.foreach { n =>
      val df = spark.sql(RefSql.text(n))
      val rows = df.count()
      assert(rows >= 0, s"q$n failed")
      if (RefSql.RowProducing.contains(n))
        assert(rows > 0, s"q$n expected rows on the driver data")
    }
  }

  test("the other 15 fail only on schema gaps, never on parsing") {
    ready
    val schemaGap = Set("TABLE_OR_VIEW_NOT_FOUND",
      "UNRESOLVED_COLUMN.WITH_SUGGESTION", "UNRESOLVED_COLUMN")
    ((1 to 22).toSet -- RefSql.Runnable).toSeq.sorted.foreach { n =>
      val text = RefSql.text(n)
      val e = intercept[AnalysisException] {
        spark.sql(text).collect()
      }
      assert(e.getCondition != null &&
        schemaGap.exists(e.getCondition.startsWith),
        s"q$n failed with ${e.getCondition} (${e.getMessage.take(120)}) — " +
          "expected a schema-resolution gap, not a dialect error")
    }
  }

  test("q5/q7/q8 emptiness is the data's value distribution, not the join") {
    ready
    // q5's shape with the generator's date range substituted produces rows
    // — the verbatim file is empty only because orders begin 1995-01-01
    val q5adapted = RefSql.text(5)
      .replace("date '1994-01-01'", "date '1995-01-01'")
    assert(spark.sql(q5adapted).count() > 0)
  }
}
