package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.lake.LakeDataset

/** Structured Streaming → lake ingestion: a `foreachBatch` handler that
  * lands every micro-batch as a versioned lake commit with exactly-once
  * semantics (beyond-reference north star: the reference has no streaming,
  * SURVEY §2.4; continuous ingest into the versioned table is the missing
  * WAL-shaped front door for an LLM-data pipeline).
  *
  * foreachBatch is at-least-once — after a failure the same batchId can
  * replay. [[LakeDataset.appendStreamingBatch]] commits the data AND the
  * per-query batch high-water mark in one atomic manifest swap, so replays
  * are detected and skipped: at-least-once delivery becomes exactly-once
  * table state. Compose upstream with
  * [[EventStream.dedupStream]] for source-side duplicates.
  *
  * {{{
  *   events.writeStream
  *     .foreachBatch(LakeSink.appendTo(root, "events_ingest"))
  *     .start()
  * }}}
  */
object LakeSink {

  /** Create-on-first-batch append sink. `branch` lands the stream on a
    * branch head instead of main (the write-side twin of the source's
    * `option("branch", ...)`) — the branch must exist; exactly-once
    * replay detection runs against the branch's own manifest chain. */
  def appendTo(root: String, queryKey: String = "default",
      branch: Option[String] = None): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      openOrCreate(df, root, branch)
        .appendStreamingBatch(df, queryKey, batchId)
      ()
  }

  /** Deduplicating append sink: each micro-batch is anti-joined on
    * `keys` against the CURRENT table state before landing, so
    * duplicates survive neither within a batch, across batches, across
    * STREAM RESTARTS WITH A FRESH CHECKPOINT, nor across different
    * queries feeding one table — cases `dropDuplicates` state cannot
    * cover, because that state is private to one query's checkpoint.
    * The lake itself is the dedup state: durable, shared, and exactly
    * as old as the data.
    *
    * Scale posture: the anti-join reads ONLY the key columns of the
    * target (columnar projection; one fixed-width digest per row when
    * keyed on a content hash) and shuffles keys, not documents — the
    * same shape as batch exact-dedup. Replayed batches skip before any
    * join work. Exactly-once: data + high-water mark in one commit via
    * [[LakeDataset.dedupAppendStreamingBatch]], whose anti-join runs
    * INSIDE the commit-CAS retry loop — a concurrent query landing the
    * same key between our snapshot and our commit fails our CAS, and the
    * anti-join is rebuilt against the refreshed table state, so cross-
    * query racing duplicates cannot both land. */
  def dedupAppendTo(root: String, keys: Seq[String],
      queryKey: String = "default",
      branch: Option[String] = None): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      openOrCreate(df, root, branch)
        .dedupAppendStreamingBatch(df, keys, queryKey, batchId)
      ()
  }

  /** Exactly-once UPSERT sink: each micro-batch merge-inserts on `keys`
    * (update matched, insert new) with the batch high-water mark in the
    * same commit ([[LakeDataset.upsertStreamingBatch]]) — the
    * foreachBatch CDC-apply pattern with lake-side replay protection. */
  def upsertTo(root: String, keys: Seq[String],
      queryKey: String = "default",
      branch: Option[String] = None): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      openOrCreate(df, root, branch)
        .upsertStreamingBatch(df, keys, queryKey, batchId)
      ()
  }

  /** Wrap any lake sink so each micro-batch also refreshes the given
    * [[graft.lake.MaterializedView]]s after the data commit — continuous
    * ingest with continuously-current grouped aggregates, at CDF-delta
    * cost per batch instead of per-batch recompute.
    *
    * Crash safety: the MV cursor commits atomically with the view state,
    * so dying between the data commit and a refresh only delays the view
    * one batch — the next refresh consumes the widened CDF window, and a
    * replayed (skipped) batch leaves the cursor at the head, making its
    * refresh a free no-op. Nothing is skipped or double-applied. */
  def withMvRefresh(inner: (DataFrame, Long) => Unit,
      viewRoots: Seq[String]): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      inner(df, batchId)
      viewRoots.foreach(r =>
        graft.lake.MaterializedView.open(df.sparkSession, r).refresh())
  }

  private def openOrCreate(df: DataFrame, root: String,
      branch: Option[String]): LakeDataset = {
    val spark = df.sparkSession
    branch match {
      case Some(b) => LakeDataset.openBranch(spark, root, b)
      case None =>
        if (LakeDataset.exists(root)) LakeDataset.open(spark, root)
        else LakeDataset.create(spark, root, df.schema)
    }
  }
}
