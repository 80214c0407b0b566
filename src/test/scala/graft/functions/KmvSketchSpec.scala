package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class KmvSketchSpec extends SparkTestBase {

  test("kmv_distinct is exact below k and within 10% above k") {
    import spark.implicits._
    // exact regime: 100 distinct values < k=256
    val small = (1 to 1000).map(i => s"v${i % 100}").toDF("x")
    val exactSmall = small.agg(call_function("kmv_distinct", col("x")))
      .collect().head.getLong(0)
    assert(exactSmall == 100)
    // estimation regime: 20k distinct longs
    val big = (1L to 20000L).toDF("x")
    val est = big.agg(call_function("kmv_distinct", col("x")))
      .collect().head.getLong(0)
    assert(math.abs(est - 20000) / 20000.0 <= 0.10, s"estimate $est")
  }

  test("kmv_distinct groups + merges across partitions like countDistinct") {
    val li = Tables.load(spark, sf0001, "lineitem").repartition(8)
    val est = li.groupBy("l_returnflag")
      .agg(call_function("kmv_distinct", col("l_orderkey")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n) / n.toDouble <= 0.10, s"$k: ${est(k)} vs $n")
    }
  }
}
