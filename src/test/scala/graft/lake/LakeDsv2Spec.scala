package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DSv2 door (`format("lake")` / `USING lake`): read/write round-trip,
  * version + tag pinning, and — the scale-critical part — fragment pruning
  * driven by pushed-down filters, asserted through the opaque connector
  * path via [[LakeDataSource.lastScan]]. */
class LakeDsv2Spec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-dsv2-").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def rows(r: (Long, String, Double)*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach { case (i, n, s) => data.add(Row(i, n, s)) }
    spark.createDataFrame(data, schema)
  }

  test("write creates the dataset; read round-trips; append accumulates") {
    val root = tmpDir()
    rows((1, "a", 1.0), (2, "b", 2.0)).coalesce(1)
      .write.format("lake").mode("append").save(root)
    assert(spark.read.format("lake").load(root).count() == 2)
    rows((3, "c", 3.0)).coalesce(1).write.format("lake").mode("append").save(root)
    val got = spark.read.format("lake").load(root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // both writes committed through the manifest protocol
    assert(LakeDataset.open(spark, root).versions == Seq(1L, 2L, 3L))
  }

  test("overwrite mode replaces content in one commit") {
    val root = tmpDir()
    rows((1, "a", 1.0)).coalesce(1).write.format("lake").mode("append").save(root)
    rows((9, "z", 9.0)).coalesce(1).write.format("lake").mode("overwrite").save(root)
    val got = spark.read.format("lake").load(root).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("versionAsOf and tag options pin the scan (time travel)") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0)))
    ds.createTag("first")
    ds.append(rows((2, "b", 2.0)))
    assert(spark.read.format("lake").load(root).count() == 2)
    assert(spark.read.format("lake")
      .option("versionAsOf", "2").load(root).count() == 1)
    assert(spark.read.format("lake")
      .option("tag", "first").load(root).count() == 1)
    intercept[Exception](
      rows((3, "c", 3.0)).write.format("lake")
        .option("versionAsOf", "2").mode("append").save(root))
  }

  test("spark.sql sees lake tables via USING lake and prunes fragments") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)).coalesce(1))
    ds.append(rows((100, "x", 10.0), (200, "y", 20.0)).coalesce(1))
    ds.append(rows((1000, "p", 30.0), (2000, "q", 40.0)).coalesce(1))
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW lake_t USING lake OPTIONS (path '$root')")
    val out = spark.sql("SELECT id, name FROM lake_t WHERE id = 200")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((200L, "y")))
    // the equality predicate reached the manifest zonemaps: only the one
    // fragment whose [min,max] covers 200 was opened
    assert(LakeDataSource.lastScan(root).contains((1, 3)))
  }

  test("pushed range predicates prune; residual evaluation stays correct") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)).coalesce(1))
    ds.append(rows((10, "x", 10.0), (11, "y", 11.0)).coalesce(1))
    val df = spark.read.format("lake").load(root).filter(col("id") >= 10)
    assert(df.count() == 2)
    assert(LakeDataSource.lastScan(root).contains((1, 2)))
    // a predicate the zonemap can't evaluate scans everything, still correct
    val all = spark.read.format("lake").load(root)
      .filter(col("name").contains("a"))
    assert(all.count() == 1)
    assert(LakeDataSource.lastScan(root).contains((2, 2)))
  }

  test("a pushed string equality keeps the fragment holding the value") {
    // the fragment's max is U+1F600 by UTF-8 byte order; U+FFFD lies inside
    // its range only in that order
    val root = tmpDir()
    rows((1, "a", 1.0), (2, "\uFFFD", 2.0), (3, "\uD83D\uDE00", 3.0))
      .coalesce(1).write.format("lake").mode("append").save(root)
    val t = spark.read.format("lake").load(root)
    assert(t.filter(col("name") === "\uFFFD").count() == 1)
    assert(LakeDataSource.lastScan(root).contains((1, 1)))
    assert(LakeDataset.open(spark, root)
      .prunedFileCount("name = '\uFFFD'") == 1)
  }

  test("a pushed string filter holding a backslash keeps its fragment") {
    val root = tmpDir()
    Seq(rows((1, "a\\b", 1.0)), rows((2, "z", 2.0))).foreach(
      _.coalesce(1).write.format("lake").mode("append").save(root))
    val t = spark.read.format("lake").load(root)
    assert(t.filter(col("name") === "a\\b").count() == 1)
    assert(LakeDataSource.lastScan(root).contains((1, 2)))
  }

  test("a pushed TIMESTAMP_NTZ filter prunes fragments") {
    val root = tmpDir()
    val ntz = StructType(Seq(StructField("ntz", TimestampNTZType)))
    Seq("2024-01-01T00:00:00", "2025-01-01T00:00:00").foreach { t =>
      spark.createDataFrame(
        java.util.List.of(Row(java.time.LocalDateTime.parse(t))), ntz)
        .coalesce(1).write.format("lake").mode("append").save(root)
    }
    val df = spark.read.format("lake").load(root)
      .filter("ntz >= TIMESTAMP_NTZ '2024-06-01 00:00:00'")
    assert(df.count() == 1)
    assert(LakeDataSource.lastScan(root).contains((1, 2)))
  }

  test("manifest statistics drive broadcast join planning") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1L to 25L).map(i => (i, s"n$i", i.toDouble)): _*)
      .coalesce(1))
    // a KB-sized lake dim joined to a larger fact: the scan must report its
    // real manifest size, or Catalyst treats it as unknown/infinite and
    // falls back to a shuffle join
    val fact = spark.range(50000)
      .withColumn("k", (org.apache.spark.sql.functions.col("id") % 25) + 1)
    val dim = spark.read.format("lake").load(root)
    val joined = fact.join(dim, fact("k") === dim("id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
    assert(joined.count() == 50000)
  }
}
