package graft.queries

import graft.SparkTestBase

/** The committed TPC-DS corpus planned 99/99: the DDL's schemas registered,
  * every statement of every query parsed + analyzed + optimized. */
class RefTpcdsSpec extends SparkTestBase {

  test("the DDL yields all 24 benchmark tables with sane schemas") {
    val ts = RefTpcds.tables()
    assert(ts.size == 24, ts.map(_._1).mkString(","))
    val byName = ts.toMap
    assert(byName("store_sales").fieldNames.contains("ss_sold_date_sk"))
    assert(byName("date_dim").fieldNames.contains("d_year"))
    assert(byName.values.forall(_.fields.nonEmpty))
  }

  test("all 99 TPC-DS queries plan") {
    val isolated = spark.newSession()
    RefTpcds.registerEmpty(isolated)
    val failed = (1 to 99).flatMap(n => RefTpcds.planVerdict(isolated, n).map(n -> _))
    assert(failed.isEmpty,
      s"${failed.size} failed:\n${failed.map(f => s"q${f._1}: ${f._2}").mkString("\n")}")
  }

  test("registry entry reports one verdict row per query") {
    val rows = RefTpcds.tpcdsPlan.run(spark, sf0001).collect()
    assert(rows.length == 99)
    assert(rows.forall(_.getBoolean(2)))
    // the two-statement queries really carry their second statement
    val multi = rows.filter(_.getLong(1) > 1).map(_.getLong(0)).sorted
    assert(multi.toSeq == Seq(14L, 23L, 24L, 39L))
  }
}
