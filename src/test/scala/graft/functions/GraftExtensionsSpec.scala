package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.SparkSession

/** The services-file provider alone puts every graft function in a session:
  * a bare `SparkSession.builder()` session (no factory, no config) and its
  * `newSession()` child both resolve all of them through SQL. */
class GraftExtensionsSpec extends SparkTestBase {

  private def assertResolves(s: SparkSession): Unit = {
    GraftFunctions.builders.foreach { case (name, _) =>
      assert(s.catalog.functionExists(name), name)
    }
    val cos = s.sql("SELECT cosine_sim(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))," +
      " array(CAST(6 AS FLOAT), CAST(8 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
    val kmv = s.sql("SELECT kmv_distinct(id % 100) FROM range(1000)")
      .head().getLong(0)
    assert(kmv == 100L)
  }

  test("a bare builder session and its newSession child resolve every function") {
    withBareSession { bare =>
      assertResolves(bare)
      assertResolves(bare.newSession())
    }
  }
}
