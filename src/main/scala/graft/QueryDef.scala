package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver contract.
  *
  * @param name   stable key; shows up in CORRECTNESS_r{N}.json
  * @param run    Spark-side implementation ((session, sfDir) => result)
  * @param oracle equivalent DuckDB SQL over the same parquet tables, or None
  *               for capabilities not expressible in portable SQL (driver
  *               then records a weaker rows-only check; those get dedicated
  *               ScalaTest oracles instead). Built on first use: an entry
  *               whose oracle cannot be built (a corpus file is missing)
  *               throws here and from `run`, and fails alone.
  */
final class Q(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String]) {
  lazy val oracle: Option[String] = oracleSql
}

object Q {
  /** Query with a DuckDB oracle. */
  def apply(name: String, oracle: => String)(
      run: (SparkSession, String) => DataFrame): Q =
    new Q(name, run, Some(oracle))

  /** Query checked rows-only by the driver (ScalaTest covers semantics). */
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    new Q(name, run, None)

  /** ANSI-SQL query whose text runs verbatim on BOTH engines: Spark executes
    * it over the registered temp views (exercising Catalyst's parser, subquery
    * decorrelation, CTE inlining), DuckDB replays it as the oracle. The text
    * is evaluated on first use. */
  def sql(name: String, sharedSql: => String): Q = {
    lazy val text = sharedSql
    new Q(name, (s, dir) => { Tables.register(s, dir); s.sql(text) },
      Some(text))
  }
}
