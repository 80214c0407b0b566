package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (Test/fork := true → one JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `body` on a session the bare builder creates on the running
    * SparkContext, then restores the shared test session. */
  protected def withBareSession(body: SparkSession => Unit): Unit = {
    val shared = spark // the SparkContext is the test base's, not this one's
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val bare = SparkSession.builder().getOrCreate()
      assert(bare ne shared)
      body(bare)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
