package graft.queries

import java.nio.file.NoSuchFileException

import graft.{SparkEntry, SparkTestBase}
import graft.functions.SmallSortsSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Every registry entry that runs here and whose adaptive plan ends in a
  * global sort (the sorts [[graft.functions.SmallSorts]] may run in one
  * task) returns the same rows with adaptive execution on and off, and the
  * adaptive rows are in order under that sort's own ordering: rows that
  * tie on it may come either way. Entries built from the SQL corpus run
  * only where the corpus is present. */
class SortedRegistrySpec extends SparkTestBase {

  private val aqe = "spark.sql.adaptive.enabled"

  /** `q`'s frame with adaptive execution `on`, or None when its corpus
    * file is absent. The flag is set on the frame's own session (corpus
    * entries plan in a session of their own) before it is planned. */
  private def frame(q: graft.Q, on: Boolean): Option[DataFrame] =
    try {
      val df = q.run(spark, sf0001)
      df.sparkSession.conf.set(aqe, on.toString)
      Some(df)
    } catch {
      case e: NoSuchFileException
          if e.getFile.startsWith(SqlCorpus.Root.toString) => None
    }

  test("registry results under a root sort: AQE on equals off, and in order") {
    val checked = try SparkEntry.registry.flatMap { q =>
      frame(q, on = true).filter(_.queryExecution.optimizedPlan match {
        case s: Sort => s.global
        case _ => false
      }).flatMap { df =>
        val rows = df.collect().toSeq
        SmallSortsSpec.rootSort(df).map { sort =>
          SmallSortsSpec.assertOrdered(rows, df.schema, sort, q.name)
          val off = frame(q, on = false).get.collect().toSeq
          assert(SmallSortsSpec.multiset(rows) == SmallSortsSpec.multiset(off),
            s"${q.name}: rows differ with adaptive execution on and off")
          q.name
        }
      }
    } finally spark.conf.unset(aqe)
    assert(checked.contains("q1_agg"), checked)
  }
}
