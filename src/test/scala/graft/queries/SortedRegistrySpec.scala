package graft.queries

import graft.{SparkEntry, SparkTestBase}
import graft.functions.SmallSortsSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Every registry entry that runs here and whose adaptive plan ends in a
  * global sort (the sorts [[graft.functions.SmallSorts]] may run in one
  * task) returns the same rows with adaptive execution on and off, and the
  * adaptive rows are in order under that sort's own ordering: rows that
  * tie on it may come either way. */
class SortedRegistrySpec extends SparkTestBase {

  private val aqe = "spark.sql.adaptive.enabled"

  /** `q`'s frame with adaptive execution `on`. The flag is set on the
    * frame's own session (corpus entries plan in a session of their own)
    * before it is planned. */
  private def frame(q: graft.Q, on: Boolean): DataFrame = {
    val df = q.run(spark, sf0001)
    df.sparkSession.conf.set(aqe, on.toString)
    df
  }

  test("registry results under a root sort: AQE on equals off, and in order") {
    val checked = try SparkEntry.registry.flatMap { q =>
      val df = frame(q, on = true)
      df.queryExecution.optimizedPlan match {
        case s: Sort if s.global =>
          val rows = df.collect().toSeq
          SmallSortsSpec.rootSort(df).map { sort =>
            SmallSortsSpec.assertOrdered(rows, df.schema, sort, q.name)
            val off = frame(q, on = false).collect().toSeq
            assert(SmallSortsSpec.multiset(rows) == SmallSortsSpec.multiset(off),
              s"${q.name}: rows differ with adaptive execution on and off")
            q.name
          }
        case _ => None
      }
    } finally spark.conf.unset(aqe)
    assert(checked.contains("q1_agg"), checked)
  }
}
