package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus intake — the Structured-Streaming twin of the batch
  * assembly chain ([[graft.pipeline.Assemble]]): a stream of documents
  * passes the SAME quality + language gates (stateless narrow
  * projections, reused verbatim), then exact-dedups on the content hash
  * with `dropDuplicates` state.
  *
  * State posture at scale: dedup state is ONE fixed-width md5 per
  * distinct kept document — the streaming analogue of the batch
  * content-hash shuffle. For time-bounded ingestion, pass an event-time
  * column + watermark and the engine ages state out
  * (`dropDuplicatesWithinWatermark` semantics via the watermark overload);
  * for unbounded backfills run the batch operator instead — same gates,
  * same arithmetic, interchangeable by construction. */
object DocStream {

  /** Gate + dedup a streaming (or batch — identical plan) documents frame.
    * Emits one row per surviving doc: doc_id, source, n_chars, n (tokens),
    * content_md5. */
  def intake(docs: DataFrame): DataFrame = {
    graft.pipeline.Assemble.gates(docs)
      .withColumn("content_md5", md5(col("text")))
      .select("doc_id", "source", "n_chars", "n", "content_md5")
      .dropDuplicates("content_md5")
  }
}
