package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for the two `private[sql]` hooks the repo needs. Nothing else in
  * this repo reaches into Spark internals; keep it that way.
  *  - A V1 streaming Source's `getBatch` must return a DataFrame whose
  *    logical plan is flagged `isStreaming` (MicroBatchExecution asserts
  *    it), and the only constructor for such a frame is
  *    `SparkSession.internalCreateDataFrame` — the same call Spark's own
  *    built-in V1 sources (FileStreamSource, KafkaSource before DSv2) use.
  *  - The lake keeps its predicates as Catalyst expressions, which prune
  *    fragments by their zonemaps and then filter rows as a `Column`;
  *    Spark 4 builds a `Column` from an expression only inside `sql`. */
object GraftSqlShims {
  def asStreamingFrame(df: Dataset[Row]): Dataset[Row] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
