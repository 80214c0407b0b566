package graft.streaming

import graft.lake.LakeDataset
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SQLContext}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.streaming.{Offset => LegacyOffset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a lake dataset — the read-side twin of
  * [[LakeSink]]: `spark.readStream.format("lake").load(root)` tails the
  * manifest log, treating committed VERSIONS as offsets.
  *
  * Batch semantics:
  *  - The first batch is the full snapshot at the source's current version
  *    (Delta's initial-snapshot behavior) — unless `startingVersion` is set
  *    (a version number, or `latest`), in which case the snapshot is
  *    skipped and the stream tails commits after that version. At 100 TB
  *    the snapshot is the whole table; `startingVersion=latest` is how a
  *    new consumer attaches without reading it.
  *  - Every later batch is the NET inserted rows between two versions,
  *    computed by the manifest-diff change feed ([[LakeDataset.changes]]):
  *    only fragments added in the range are read, so a batch costs IO
  *    proportional to what was committed, never to the table.
  *  - `maxVersionsPerTrigger=N` caps each micro-batch at N commits
  *    (Delta's maxFilesPerTrigger analogue): a stream catching up on a
  *    large backlog drains it in bounded batches instead of one giant one.
  *    The cap binds from the second trigger of a fresh process onward
  *    (the legacy Source API doesn't expose the checkpointed offset before
  *    the first getBatch, so a restart's first catch-up batch is uncapped
  *    unless the engine replays an incomplete batch first).
  *  - Commits that deleted or rewrote rows poison an append-only tail; the
  *    source refuses them (metadata-only check against the commit log)
  *    unless the reader opted in with `skipChangeCommits=true` — Delta's
  *    contract. Compaction / z-order / index builds are net-invisible to
  *    the diff and stream through without the option.
  *
  * Exactly-once: offsets are versions; the engine checkpoints them, and
  * `getBatch` is a pure function of (startVersion, endVersion] over
  * immutable manifests — replays reproduce the same rows. */
final class LakeStreamSource(sqlContext: SQLContext, root: String,
    skipChangeCommits: Boolean,
    startingVersion: Option[String] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    branch: Option[String] = None) extends Source {

  private val spark = sqlContext.sparkSession

  // slim open: schema is version-file data; a chunked table must not
  // decode its fragment list at stream construction
  override val schema: StructType =
    LakeDataset.openSlim(spark, root, branch).schema

  /** Resolved snapshot-skip point: tail from (exclusive) this version. */
  private val startV0: Option[Long] = startingVersion.map {
    case s if s.equalsIgnoreCase("latest") =>
      LakeDataset.latestVersion(spark, root, branch)
    case s =>
      val v = s.toLong
      val cur = LakeDataset.latestVersion(spark, root, branch)
      require(v >= 1 && v <= cur,
        s"lake stream at $root: startingVersion=$v outside retained range 1..$cur")
      v
  }

  /** Highest version handed to the engine (offset or batch end) by THIS
    * process — the rate-limit base. Not checkpointed: after a restart the
    * first getBatch (incomplete-batch replay) or first getOffset re-seeds
    * it. */
  @volatile private var lastEnd: Option[Long] = None

  override def getOffset: Option[LegacyOffset] = {
    // version number only — a full open would chunk-decode a large
    // table's manifest on EVERY trigger poll, including idle ones
    val cur = LakeDataset.latestVersion(spark, root, branch)
    val capped = (maxVersionsPerTrigger, lastEnd) match {
      case (Some(n), Some(prev)) => math.min(cur, prev + n)
      case _ => cur
    }
    lastEnd = Some(capped)
    Some(LongOffset(capped))
  }

  private def versionOf(o: LegacyOffset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset after restart
  }

  private def tail(ds: LakeDataset, startV: Long, endV: Long): DataFrame = {
    if (!skipChangeCommits) {
      val changers = ds.changeCommitsBetween(startV, endV)
      require(changers.isEmpty,
        s"lake stream at $root: versions ${changers.map(_._1).mkString(",")} " +
          s"contain non-append operations (${changers.map(_._2).distinct.mkString(", ")}); " +
          "set skipChangeCommits=true to stream net inserts only")
    }
    ds.changes(startV, endV)
      .filter(col("_change_type") === "insert")
      .drop("_rowid", "_change_type")
  }

  override def getBatch(start: Option[LegacyOffset],
      end: LegacyOffset): DataFrame = {
    val endV = versionOf(end)
    lastEnd = Some(math.max(endV, lastEnd.getOrElse(endV)))
    // slim: the batch reads only the versions it names, and the guard
    // below needs only the head's fields
    val ds = LakeDataset.openSlim(spark, root, branch)
    val batch = start match {
      case None =>
        startV0 match {
          case Some(v) => tail(ds, math.min(v, endV), endV) // snapshot skipped
          case None => ds.readVersion(endV) // initial snapshot
        }
      case Some(s) => tail(ds, versionOf(s), endV)
    }
    // Schema evolution mid-stream changes the output shape; fail with the
    // real reason instead of the engine's attribute-mismatch assertion.
    // Full StructType comparison (round-4 ADVICE: a name-only guard let
    // type changes like int→long through to the engine assertion), pinned
    // to the BATCH's end-version schema so the remedy is accurate:
    //  - evolution inside this batch range → restarting picks up the new
    //    schema (Delta's contract);
    //  - a checkpointed batch replayed AFTER evolution (end version
    //    predates the current schema) → restarting cannot clear it; the
    //    stream must resume from a fresh checkpoint.
    val endSchema = LakeDataset.schemaAtVersion(spark, root, endV, branch)
    if (endSchema != schema) {
      val remedy =
        if (ds.schema == schema)
          "this checkpointed batch predates the current schema and cannot " +
            "replay against it; resume from a fresh checkpoint"
        else "restart the stream to pick up the new schema"
      throw new IllegalStateException(
        s"lake stream at $root: dataset schema changed " +
          s"($schema -> $endSchema); $remedy")
    }
    GraftSqlShims.asStreamingFrame(batch)
  }

  override def stop(): Unit = ()
}

object LakeStreamSource {
  /** Case-insensitive option lookup (DataStreamReader preserves key case). */
  private[streaming] def opt(parameters: Map[String, String],
      key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  def forOptions(sqlContext: SQLContext,
      parameters: Map[String, String]): LakeStreamSource = {
    val root = opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException("lake stream: 'path' is required"))
    val maxV = opt(parameters, "maxVersionsPerTrigger").map { s =>
      val n = s.toLong
      require(n >= 1, s"lake stream: maxVersionsPerTrigger=$n must be >= 1")
      n
    }
    new LakeStreamSource(sqlContext, root,
      opt(parameters, "skipChangeCommits").exists(_.toBoolean),
      opt(parameters, "startingVersion"),
      maxV,
      opt(parameters, "branch"))
  }

  def sourceSchema(sqlContext: SQLContext,
      parameters: Map[String, String]): StructType = {
    val root = opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException("lake stream: 'path' is required"))
    LakeDataset.openSlim(
      sqlContext.sparkSession.asInstanceOf[SparkSession], root,
      opt(parameters, "branch")).schema
  }
}
