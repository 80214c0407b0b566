package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an ~sf1 bench dataset by replicating sf0.1 10× with
  * key-shifting that preserves FK join structure (orders/lineitem keys
  * shift together; dimension tables stay single-copy, so each dimension row
  * simply gains 10× the facts — the usual scale-up shape). BENCH-ONLY data:
  * correctness stays anchored to the driver-generated SFs; this exists so
  * join-order and shuffle costs that sf0.1 hides are measured before a
  * review (round-2 verdict #10).
  *
  * Usage: `runMain graft.BenchScale [srcDir] [outDir] [copies]`, then
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench`. */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()

    def replicate(df: DataFrame, shiftCols: Map[String, Long]): DataFrame = {
      val one = df.withColumn("_copy", lit(0L))
      val all = (1 until copies).foldLeft(one) { (acc, i) =>
        acc.union(df.withColumn("_copy", lit(i.toLong)))
      }
      shiftCols.foldLeft(all) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("_copy") * stride)
      }.drop("_copy")
    }

    def write(name: String, df: DataFrame): Unit = {
      // The 10-way union arrives as copies × source-partitions tasks —
      // written as-is that was 2,639 files for a 103 MB lineitem, and every
      // bench query then measured file listing + footer reads instead of
      // the engine (sf1 numbers were 5-10× inflated). Sixteen ~6 MB files
      // is the realistic compact layout a table this size would have.
      df.repartition(16).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name -> ${df.count()} rows")
    }

    // dimensions: single copy
    Seq("region", "nation", "supplier", "part", "customer").foreach { t =>
      write(t, Tables.load(spark, src, t))
    }
    // facts: replicate with consistent key shifts (strides beyond max keys)
    val oStride = 10000000L
    write("orders", replicate(Tables.load(spark, src, "orders"),
      Map("o_orderkey" -> oStride)))
    write("lineitem", replicate(Tables.load(spark, src, "lineitem"),
      Map("l_orderkey" -> oStride)))
    // events.ts physical encoding varies by driver generation (timestamp[ns]
    // → nanos long under the legacy conf, or timestamp[us] → NTZ); replicate
    // it RAW so Tables.load's type-branching conversion applies to the copy
    // unchanged
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write("events", replicate(spark.read.parquet(s"$src/events.parquet"),
      Map("event_id" -> 100000000L)))
    write("documents", replicate(Tables.load(spark, src, "documents"),
      Map("doc_id" -> 10000000L)))
    write("embeddings", replicate(Tables.load(spark, src, "embeddings"),
      Map("vec_id" -> 10000000L)))
    spark.stop()
  }
}
