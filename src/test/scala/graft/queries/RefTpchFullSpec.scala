package graft.queries

import graft.SparkTestBase

/** The committed corpus's 22 TPC-H queries executed over [[TpchGen]]:
  * every file runs, returns rows (a 0-row pass would mean a literal missed
  * the generated distributions — each was measured in), and keeps banned
  * dtypes out of its output schema. Value-level truth is DuckDB via
  * dev/compare.py; these pins are the Spark-side invariants. */
class RefTpchFullSpec extends SparkTestBase {

  private lazy val results =
    RefTpchFull.all.map(q => q.name -> q.run(spark, sf0001)).toMap

  test("all 22 reference files execute verbatim and return rows") {
    assert(results.size == 22)
    results.foreach { case (name, df) =>
      assert(df.limit(1).count() == 1, s"$name returned no rows")
    }
  }

  test("no query exposes a DECIMAL output column") {
    results.foreach { case (name, df) =>
      val bad = df.schema.fields.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      assert(bad.isEmpty, s"$name decimal columns: ${bad.map(_.name).toSeq}")
    }
  }

  test("every entry ships a DuckDB oracle") {
    RefTpchFull.all.foreach(q => assert(q.oracle.nonEmpty, q.name))
  }

  test("q8's market share is non-vacuous (ARGENTINA lines exist)") {
    // the (11, 59) supplier stride was searched to put an ARGENTINA
    // supplier on ECONOMY BURNISHED TIN lines; share 0.0 would make the
    // oracle check trivially weak — pin the support
    val rows = results("reftpch_q8").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.forall(_.getDouble(1) > 0.0),
      s"mkt_share must be non-zero: ${rows.mkString(",")}")
  }

  test("q18's big-quantity band and q13's zero-order customers exist") {
    assert(results("reftpch_q18").count() >= 100) // limit binds
    // q13's c_count = 0 group: customers 1000+ never get orders
    val counts = results("reftpch_q13").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.contains(0L) && counts(0L) == 500L,
      s"custdist must contain the 500 zero-order customers: $counts")
  }

  test("LIMIT cuts are deterministic: no ties at the kit's sort boundaries") {
    // q18 orders by (o_totalprice desc, o_orderdate) under LIMIT 100 —
    // o_totalprice must be unique per order or any engine pair can
    // legally cut different row sets; q15's max-revenue supplier must be
    // unique for the same reason (equality against max)
    val s = spark.newSession()
    TpchGen.register(s)
    val dupPrices = s.sql(
      """SELECT count(*) FROM (SELECT o_totalprice FROM orders
        | GROUP BY 1 HAVING count(*) > 1)""".stripMargin)
      .collect().head.getLong(0)
    assert(dupPrices == 0L, s"$dupPrices duplicate o_totalprice values")
    val atMax = s.sql(
      """WITH r AS (SELECT l_suppkey,
        |    sum(l_extendedprice*(1-l_discount)) AS tr FROM lineitem
        |  WHERE l_shipdate >= date '1995-12-01'
        |    AND l_shipdate < date '1995-12-01' + interval '3' month
        |  GROUP BY 1)
        |SELECT count(*) FROM r WHERE tr = (SELECT max(tr) FROM r)
        |""".stripMargin).collect().head.getLong(0)
    assert(atMax == 1L, s"q15 max-revenue tie: $atMax suppliers")
  }

  test("generator FK shape: every lineitem (part, supp) pair is in partsupp") {
    val s = spark.newSession()
    TpchGen.register(s)
    val orphans = s.sql(
      """SELECT count(*) FROM lineitem l LEFT ANTI JOIN partsupp ps
        |  ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
        |""".stripMargin).collect().head.getLong(0)
    assert(orphans == 0L, s"$orphans lineitem rows without a partsupp pair")
  }
}
