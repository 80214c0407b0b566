package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming corpus intake ≡ batch assembly gates: the same documents fed
  * as micro-batches pass the identical quality/language gates and exact
  * dedup, keeping the same content-hash set the batch operator keeps. */
class DocStreamSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("streaming intake keeps exactly the batch gate+dedup survivors") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "source", "n_chars")
      .as[(Long, String, String, Long)].collect()

    // batch truth: gates + one representative per content hash
    val batchHashes = graft.pipeline.Assemble.gates(
        Tables.load(spark, sf, "documents"))
      .select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet

    val stream = MemoryStream[(Long, String, String, Long)]
    val q = DocStream.intake(
        stream.toDF().toDF("doc_id", "text", "source", "n_chars"))
      .writeStream.format("memory").queryName("doc_intake")
      .outputMode("append")
      .start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      stream.addData(first.toIndexedSeq)
      q.processAllAvailable()
      // second batch re-sends some of the first (cross-batch duplicates):
      // dedup state must drop them
      stream.addData((second ++ first.take(20)).toIndexedSeq)
      q.processAllAvailable()

      val got = spark.table("doc_intake")
      val gotHashes = got.select("content_md5")
        .collect().map(_.getString(0)).toSet
      assert(gotHashes == batchHashes,
        s"streaming kept ${gotHashes.size}, batch kept ${batchHashes.size}")
      assert(got.count() == gotHashes.size, "no duplicate rows across batches")
    } finally q.stop()
  }
}
