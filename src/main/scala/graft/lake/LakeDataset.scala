package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, EvalMode, Expression => CExpr, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Optimistic-commit conflict (reference storage2/conflict.go:33-360). */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Pluggable atomic version publish (reference commit.go's handler family:
  * LocalRenameCommitHandler for POSIX, conditional PUT for S3). Contract:
  * exactly one concurrent publisher of a given target wins; losers throw
  * [[CommitConflictException]] and MUST NOT leave partial state. The
  * default handler delegates to the dataset's [[LakeIO]] (hard-link on
  * local roots, rename-if-absent through Hadoop-FS on scheme'd ones). */
trait CommitHandler {
  def publish(target: Path, content: String): Unit
}

/** Local-FS handler: write-to-temp + hard-link (link creation is atomic
  * and fails if the target exists — the rename-commit idiom). On an object
  * store this becomes a conditional PUT (If-None-Match: *). */
object HardLinkCommitHandler extends CommitHandler {
  def publish(target: Path, content: String): Unit =
    NioLakeIO.publishAtomic(target, content)
}

/** Versioned, copy-on-write dataset over parquet fragments + JSON manifests:
  * the Spark-native counterpart of the reference's storage2/sdk dataset API
  * (sdk/dataset.go: open/create 223-330, append/delete/update 579-1151,
  * merge-insert merge_insert.go:19-110, time travel refs.go:386-432,
  * schema evolution sdk/dataset.go:623-965, compaction 334-578).
  *
  * Scale design:
  *  - Data is immutable parquet fragments; every mutation is a copy-on-write
  *    rewrite of ONLY the fragments whose zonemap stats (and then an actual
  *    match scan) say they're touched — one Spark job per operation, no
  *    driver-side row handling.
  *  - Commits are manifest swaps via atomic hard-link publish (the local-FS
  *    analogue of the reference's LocalRenameCommitHandler,
  *    storage2/commit.go:22-25; on S3 this becomes a conditional PUT).
  *    Every write commits through ONE path, `commitOp`: the operation's
  *    plan returns the next manifest, `commitOp` stamps and publishes it,
  *    and a writer that loses the version-file race refreshes, checks the
  *    conflict matrix (conflict.go:33-360) against every intervening
  *    commit, and re-plans — or fails with [[CommitConflictException]].
  *  - Stable row ids: a physical `_rowid` column claimed from the manifest's
  *    `nextRowId` range at append time and preserved verbatim by every
  *    rewrite (delete/update/merge/compact) — the storage2 rowids.go model.
  */
final class LakeDataset private (
    val spark: SparkSession,
    val root: String,
    private var m: Manifest,
    /** True for handles from [[LakeDataset.openPruned]]: the manifest holds
      * only the chunk-surviving fragment subset, so committing from it
      * would silently drop every pruned fragment — commits are refused. */
    private val partial: Boolean = false,
    /** Branch namespace this handle operates in: None = main. A branch has
      * its own linear version history under `_refs/branches/<name>/`
      * (commit protocol, conflict matrix, time travel all unchanged — they
      * run per-namespace) while sharing the root's data files and
      * content-addressed manifest chunks. */
    private val branch: Option[String] = None) {

  import LakeDataset._

  /** All metadata/sidecar IO for this dataset (picked by root scheme). */
  private[lake] val io: LakeIO =
    LakeIO.forRoot(root, spark.sparkContext.hadoopConfiguration)

  /** This handle's namespace: every version it reads comes from here. */
  private[lake] val log: VersionLog = new VersionLog(io, rootPath, branch)

  private var commitHandler: CommitHandler = new CommitHandler {
    def publish(target: Path, content: String): Unit =
      io.publishAtomic(target, content)
  }

  /** Swap the commit backend (reference WithCommitHandler) — e.g. an
    * object-store conditional-PUT handler, or a fault-injecting wrapper in
    * tests. */
  def withCommitHandler(h: CommitHandler): this.type = {
    commitHandler = h; this
  }

  def version: Long = m.version
  def manifest: Manifest = m
  def schema: StructType = logicalSchema(m)

  /** Re-load the newest committed version. */
  def refresh(): LakeDataset = { m = log.head; this }

  // ---------------------------------------------------------------- reads

  /** Current-version DataFrame with logical column names. */
  def read(): DataFrame = readFragments(m, m.fragments, withRowId = false)

  /** Time travel: read as of a specific version. */
  def readVersion(v: Long): DataFrame = {
    val old = log.manifest(v)
    readFragments(old, old.fragments, withRowId = false)
  }

  /** A pinned handle at an older version (reads only; any write from it
    * loses the commit race by construction). */
  def checkout(v: Long): LakeDataset =
    new LakeDataset(spark, root, log.manifest(v), branch = branch)

  def versions: Seq[Long] = log.versions

  /** Commit log across all retained versions (Delta DESCRIBE HISTORY
    * shape): version, operation, parent, fragment/row counts, timestamp. */
  def history(): DataFrame = {
    val rows = log.slims.map { man =>
      // (fragments, rows) per chunk ref, else per fragment: only a legacy
      // ref (row total unknown) has its chunk read
      val refs = man.chunkFiles
      val counts =
        if (refs.nonEmpty && refs.forall(r => r.rows > 0 || r.count == 0))
          refs.map(r => (r.count.toInt, r.rows))
        else log.decode(man).fragments.map(f => (1, f.rowCount))
      Row(man.version, man.operation, man.parentVersion.orNull,
        counts.map(_._1).sum, counts.map(_._2).sum,
        new java.sql.Timestamp(man.createdMs))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(
        StructField("version", LongType),
        StructField("operation", StringType),
        StructField("parent_version", LongType),
        StructField("n_fragments", IntegerType),
        StructField("n_rows", LongType),
        StructField("committed_at", TimestampType))))
  }

  // ---------------------------------------------------- change data feed

  /** Net row-level changes between two versions — a Delta-style change
    * data feed derived from the manifests themselves, no logged feed
    * required (every commit already records exactly which fragments it
    * replaced, and rowids are stable across rewrites).
    *
    * Output: the `to` version's logical columns plus `_rowid` and
    * `_change_type` ∈ {insert, delete, update_preimage, update_postimage}.
    * A row rewritten with identical values (compaction, z-order layout)
    * produces NO change rows — layout maintenance is invisible to
    * downstream consumers.
    *
    * Scale: the fragment diff happens on manifest metadata; only fragments
    * added or removed in the range are read, and fragments common to both
    * versions are read only when the deletion-vector set changed between
    * them (then under a `_rowid` range filter so parquet row-group stats
    * skip the untouched majority). The classify step joins the two
    * candidate sides on fixed-width `_rowid`s — a commit range touching k
    * fragments costs IO proportional to k, never to the dataset. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes: from=$fromV > to=$toV")
    val mt = log.manifest(toV)
    changesBetween(log.manifest(fromV), mt, mt)
  }

  /** Per-commit change feed over `(fromV, toV]`: one [[changes]] step per
    * retained manifest, each tagged with `_commit_version` and
    * `_commit_timestamp` (the manifest's commit time — Delta CDF's column
    * pair), all aligned to `toV`'s schema (so the feed unions cleanly
    * across schema evolution). Requires the full version chain to still be
    * retained (not vacuumed). */
  def changeLog(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changeLog: from=$fromV > to=$toV")
    val vs = versions.filter(v => v >= fromV && v <= toV)
    require(vs.headOption.contains(fromV) &&
      vs == (fromV to toV).toSeq,
      s"changeLog: versions $fromV..$toV not fully retained (have $vs)")
    val out = log.manifest(toV)
    def stamp(df: DataFrame, man: Manifest): DataFrame = df
      .withColumn("_commit_version", lit(man.version))
      .withColumn("_commit_timestamp",
        timestamp_millis(lit(man.createdMs)))
    val steps = (fromV until toV).map { v =>
      val mTo = log.manifest(v + 1)
      stamp(changesBetween(log.manifest(v), mTo, out), mTo)
    }
    if (steps.isEmpty) stamp(changesBetween(out, out, out), out)
    else steps.reduce(_ unionByName _)
  }

  /** Commits in `(fromV, toV]` that may have deleted or rewritten rows
    * (anything beyond appends / index builds / schema ops / net-invisible
    * layout rewrites), as (version, operation). The streaming source uses
    * this metadata-only check to refuse silently dropping changes unless
    * the reader opted in (Delta's skipChangeCommits contract). */
  def changeCommitsBetween(fromV: Long, toV: Long): Seq[(Long, String)] =
    ((fromV + 1) to toV).flatMap { v =>
      val op = log.slim(v).operation
      kindOf(op) match {
        case OpKind.DeleteUpdate | OpKind.DeleteDv | OpKind.Merge |
            OpKind.Overwrite => Some(v -> op)
        case _ => None
      }
    }

  /** All deletion-vector rowids of a manifest as a one-column DataFrame. */
  private def dvRowIds(man: Manifest, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField(RowIdCol, LongType, nullable = false))))
    else spark.read.parquet(
      files.map(f => rootPath.resolve(f).toString): _*).select(RowIdCol)

  /** Project a df read under `src`'s field mapping onto `out`'s logical
    * schema by field id: renamed fields follow the id, widened fields cast,
    * fields absent in `src` become NULL. `_rowid` rides along. */
  private def alignByFieldId(df: DataFrame, src: Manifest,
      out: Manifest): DataFrame = {
    val byId = src.fields.map(f => f.id -> f).toMap
    df.select(out.fields.map { f =>
      byId.get(f.id) match {
        case Some(sf) =>
          col(sf.name).cast(DataType.fromJson(f.dataType)).as(f.name)
        case None => lit(null).cast(DataType.fromJson(f.dataType)).as(f.name)
      }
    } :+ col(RowIdCol): _*)
  }

  private def changesBetween(mf: Manifest, mt: Manifest,
      out: Manifest): DataFrame = {
    val outCols = out.fields.map(_.name)
    val emptyChanges = {
      val s = StructType(logicalSchema(out).fields.toSeq
        :+ StructField(RowIdCol, LongType)
        :+ StructField("_change_type", StringType, nullable = false))
      spark.createDataFrame(new java.util.ArrayList[Row](), s)
    }
    if (mf.version == mt.version) return emptyChanges

    val fromIds = mf.fragments.map(_.id).toSet
    val toIds = mt.fragments.map(_.id).toSet
    val removed = mf.fragments.filterNot(f => toIds(f.id))
    val added = mt.fragments.filterNot(f => fromIds(f.id))

    // Deletion-vector deltas matter only for fragments BOTH versions hold
    // (removed fragments' tombstones die with them; added fragments arrive
    // under `mt`'s vectors, which readFragments already applies). The DV
    // file lists are append-mostly and immutable, so set difference on the
    // NAMES decides — no Spark job — whether either direction needs a read.
    val dvAddedFiles = mt.deletionFiles.filterNot(mf.deletionFiles.contains)
    val dvRemovedFiles = mf.deletionFiles.filterNot(mt.deletionFiles.contains)

    // Rows of common fragments whose rowid was tombstoned in the range =
    // merge-on-read deletes. Read under the manifest where those rows are
    // LIVE (mf for deletes, mt for resurrections — readFragments applies
    // that manifest's own deletion vectors), with a rowid range filter:
    // appends claim monotonically increasing rowid blocks, so parquet
    // row-group stats on `_rowid` skip fragments far from the delta.
    def commonRowsMatching(man: Manifest, delta: DataFrame): DataFrame = {
      val bounds = delta.agg(min(RowIdCol), max(RowIdCol)).head()
      if (bounds.isNullAt(0)) null
      else readFragments(man, man.fragments.filter(f =>
          fromIds(f.id) && toIds(f.id)), withRowId = true)
        .filter(col(RowIdCol).between(bounds.getLong(0), bounds.getLong(1)))
        .join(delta, Seq(RowIdCol), "left_semi")
    }
    val dvDeletes =
      if (dvAddedFiles.isEmpty) null
      else commonRowsMatching(mf,
        dvRowIds(mt, dvAddedFiles)
          .join(dvRowIds(mf, mf.deletionFiles), Seq(RowIdCol), "left_anti"))
    // Un-tombstoned rowids on still-shared fragments (a restore across a
    // merge-on-read delete) come back = inserts.
    val dvResurrections =
      if (dvRemovedFiles.isEmpty) null
      else commonRowsMatching(mt,
        dvRowIds(mf, dvRemovedFiles)
          .join(dvRowIds(mt, mt.deletionFiles), Seq(RowIdCol), "left_anti"))

    def unionAll(parts: Seq[DataFrame]): Option[DataFrame] =
      parts.filter(_ != null).reduceOption(_ unionByName _)

    val delSide = unionAll(Seq(
      if (removed.isEmpty) null
      else alignByFieldId(
        readFragments(mf, removed, withRowId = true), mf, out),
      if (dvDeletes == null) null else alignByFieldId(dvDeletes, mf, out)))
    val insSide = unionAll(Seq(
      if (added.isEmpty) null
      else alignByFieldId(readFragments(mt, added, withRowId = true), mt, out),
      // resurrections were read under mt (where those rows are live again)
      if (dvResurrections == null) null
      else alignByFieldId(dvResurrections, mt, out)))

    (delSide, insSide) match {
      case (None, None) => emptyChanges
      case (Some(d), None) =>
        d.withColumn("_change_type", lit("delete"))
          .select((outCols :+ RowIdCol :+ "_change_type").map(col): _*)
      case (None, Some(i)) =>
        i.withColumn("_change_type", lit("insert"))
          .select((outCols :+ RowIdCol :+ "_change_type").map(col): _*)
      case (Some(d), Some(i)) =>
        // Same rowid on both sides = a copy-on-write rewrite of that row:
        // identical values (compaction/layout) emit nothing; changed values
        // emit an update pre/post pair.
        val dP = d.select(outCols.map(c => col(c).as(s"__cdf_d_$c"))
          :+ col(RowIdCol).as("__cdf_d_rid"): _*)
        val iP = i.select(outCols.map(c => col(c).as(s"__cdf_i_$c"))
          :+ col(RowIdCol).as("__cdf_i_rid"): _*)
        val joined = dP.join(iP,
          col("__cdf_d_rid") === col("__cdf_i_rid"), "full_outer")
        val same = outCols.map(c =>
          col(s"__cdf_d_$c") <=> col(s"__cdf_i_$c"))
          .reduceOption(_ && _).getOrElse(lit(true))
        def side(p: String, ct: String) = struct(
          outCols.map(c => col(s"__cdf_${p}_$c").as(c))
            :+ col(s"__cdf_${p}_rid").as(RowIdCol)
            :+ lit(ct).as("_change_type"): _*)
        val rows = when(col("__cdf_i_rid").isNull, array(side("d", "delete")))
          .when(col("__cdf_d_rid").isNull, array(side("i", "insert")))
          .when(same, slice(array(side("d", "delete")), 1, 0)) // typed empty
          .otherwise(array(side("d", "update_preimage"),
            side("i", "update_postimage")))
        joined.select(explode(rows).as("__cdf_row")).select(col("__cdf_row.*"))
    }
  }

  /** Random access by stable rowid (reference Take/TakeProjected,
    * sdk/dataset.go:1152-1160): the rows whose `_rowid` is in `rowIds`,
    * optionally projected. Appends claim monotonically increasing rowid
    * blocks, so the BETWEEN(min,max) pre-filter lets parquet row-group
    * stats skip everything far from the requested ids before the IN-set
    * evaluates — point lookups never scan the table. */
  def take(rowIds: Seq[Long], columns: Seq[String] = Nil): DataFrame = {
    require(rowIds.nonEmpty, "take: no rowids given")
    val base = readFragments(m, m.fragments, withRowId = true)
      .filter(col(RowIdCol).between(rowIds.min, rowIds.max))
      .filter(col(RowIdCol).isin(rowIds: _*))
    if (columns.isEmpty) base
    else base.select((columns :+ RowIdCol).map(col): _*)
  }

  /** Scanner builder (reference sdk/scanner.go:42-480). */
  def scanner(): Scanner =
    Scanner(this, None, None, Nil, None, None, false, false)

  /** Live row count, optionally under a filter (reference CountRows /
    * CountRowsWithFilter). The unfiltered count is manifest math minus
    * deletion-vector tombstones — no scan at all when no DVs exist. */
  def countRows(filter: Option[String] = None): Long = filter match {
    case Some(f) => scanner().withFilter(f).build().count()
    case None =>
      val physical = m.fragments.map(_.rowCount).sum
      if (m.deletionFiles.isEmpty) physical
      else read().count() // tombstones may overlap rewrites; count live
  }

  /** Total bytes of live data files (reference DataSize). */
  def dataSize(): Long = fragmentsSize(m.fragments)

  /** On-disk bytes of a fragment subset — the scan-size statistic the DSv2
    * scan reports so Catalyst's join planning (broadcast threshold, AQE)
    * sees real sizes instead of the "unknown = infinite" default. O(n)
    * driver-side stat calls over manifest entries, no data read. */
  private[lake] def fragmentsSize(frags: Seq[Fragment]): Long =
    frags.map(f =>
      // a file vacuumed under a stale handle counts 0; any other failure
      // to stat it propagates
      try io.size(rootPath.resolve(f.file)) catch {
        case _: java.io.FileNotFoundException |
            _: java.nio.file.NoSuchFileException => 0L
      }).sum

  /** Names of this namespace's persisted secondary indexes (FTS/vector,
    * see [[IndexStore]]; reference ListVectorIndexes, generalized). */
  def listIndexes(): Seq[String] = IndexStore.list(this)

  /** Drop a persisted secondary index by name (reference DropVectorIndex). */
  def dropIndex(name: String): Boolean = new IndexStore(this, name).drop()

  // --------------------------------------------------------------- writes

  /** Append rows; auto-rebases on concurrent commits the conflict matrix
    * allows (append coexists with append/delete/update/rewrite/index;
    * a committed overwrite/restore/merge/schema-op conflicts). */
  def append(df: DataFrame): Unit = append(df, Map.empty)

  /** Append with extra manifest properties landing in the SAME commit —
    * callers that would otherwise append-then-setProperties (e.g. the MV
    * initial build recording its refresh cursor) save a whole manifest
    * swap, and the property can never be observed without the data. */
  def append(df: DataFrame, extraProps: Map[String, String]): Unit =
    commitOp(OpKind.Append, "append") {
      withPrimaryKeyChecked(df)(appended(m, _))
        .copy(properties = m.properties ++ extraProps)
    }

  /** Append that auto-evolves the schema (reference Merge(fragments,
    * newSchema), sdk/dataset.go:1038; Delta's mergeSchema): columns present
    * in `df` but not in the dataset are ADDED (nullable, fresh field ids)
    * and the new fragments commit in the SAME manifest swap — readers never
    * see the schema without the data or vice versa. Existing rows read NULL
    * for the new fields via field-id projection; dataset columns missing
    * from `df` are filled with NULL in the new fragments. Commits under the
    * schema-op conflict row: every retry re-derives field ids and re-reads
    * the manifest, so concurrent appends/deletes/compactions rebase
    * cleanly; racing overwrite/merge still conflicts. A concurrent
    * appendMergeSchema that already added the same column simply drops it
    * from this commit's additions on retry (idempotent column add). */
  def appendMergeSchema(df: DataFrame): Unit =
    if (!evolvesSchema(df)) append(df)
    else commitOp(OpKind.Project, "append_merge_schema") {
      val (man2, filled) = mergedSchema(df)
      // the PK gate applies to THIS insert door too (a batch missing a
      // key column null-fills it and is rejected as a null key)
      withPrimaryKeyChecked(filled)(appended(man2, _))
    }

  /** Overwrite that evolves the schema in the SAME commit (round-4 ADVICE:
    * DSv2 mode("overwrite") + mergeSchema previously skipped alignment and
    * silently dropped new columns). Column semantics mirror
    * [[appendMergeSchema]]: columns new in `df` are ADDED (nullable, fresh
    * field ids), dataset columns missing from `df` are kept and null-filled,
    * names resolve with the session resolver. All prior data is replaced. */
  def overwriteMergeSchema(df: DataFrame): Unit =
    if (!evolvesSchema(df)) overwrite(df)
    else commitOp(OpKind.Overwrite, "overwrite_merge_schema") {
      val (man2, filled) = mergedSchema(df)
      withPrimaryKeyChecked(filled, probe = false)(overwritten(man2, _))
    }

  /** The current manifest with `df`'s new columns added (nullable, fresh
    * field ids), and `df` null-filled for every dataset column it lacks.
    * Session-resolver name comparison (round-4 ADVICE): Spark resolution
    * is case-insensitive by default, so a batch column differing only in
    * case must NOT be added as a duplicate field. */
  private def mergedSchema(df: DataFrame): (Manifest, DataFrame) = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val added = df.schema.fields
      .filterNot(f => m.fields.exists(mf => resolver(mf.name, f.name)))
      .zipWithIndex.map { case (sf, i) =>
        FieldDef(m.maxFieldId + i + 1, sf.name, sf.dataType.json,
          nullable = true)
      }
    val man2 = m.copy(fields = m.fields ++ added,
      maxFieldId = m.maxFieldId + added.length)
    val filled = man2.fields.foldLeft(df)((d, f) =>
      if (d.columns.exists(resolver(_, f.name))) d
      else d.withColumn(f.name, lit(null).cast(DataType.fromJson(f.dataType))))
    (man2, filled)
  }

  /** True when `df` adds a column or lacks one of the dataset's. */
  private def evolvesSchema(df: DataFrame): Boolean = {
    val (man2, filled) = mergedSchema(df)
    man2.maxFieldId != m.maxFieldId || (filled ne df)
  }

  /** Exactly-once micro-batch append for Structured Streaming's
    * `foreachBatch`: the appended fragments and the `(queryKey, batchId)`
    * high-water mark commit in ONE manifest swap, so a batch replay after a
    * failure (foreachBatch is at-least-once) is detected and skipped.
    * Returns false when the batch was already committed. */
  def appendStreamingBatch(df: DataFrame, queryKey: String,
      batchId: Long): Boolean =
    streamingAppend("append_stream", queryKey, batchId)(df)

  /** Deduplicating exactly-once micro-batch append: `df` is anti-joined on
    * `keys` against the CURRENT table state INSIDE the commit plan. The
    * commit is a create-if-absent CAS on the next version file, so a
    * success proves no other writer landed between the anti-join's manifest
    * snapshot and the publish; when a concurrent commit does land first, the
    * CAS fails, [[commitOp]] refreshes the manifest, and the anti-join is
    * REBUILT against the refreshed state before the next attempt — two
    * queries racing the same key cannot both land it (the losing racer
    * re-checks and drops the now-duplicate rows). Returns false when the
    * `(queryKey, batchId)` high-water mark shows a replay. */
  def dedupAppendStreamingBatch(df: DataFrame, keys: Seq[String],
      queryKey: String, batchId: Long): Boolean = {
    val incoming = df.dropDuplicates(keys)
    streamingAppend("append_stream_dedup", queryKey, batchId) {
      incoming.join(read().select(keys.map(col): _*).distinct(), keys,
        "left_anti")
    }
  }

  private def streamingKey(queryKey: String): String =
    s"streaming.$queryKey.lastBatchId"

  /** Appends `batch` (re-evaluated per attempt) with the batch's high-water
    * mark, unless the mark shows a replay. */
  private def streamingAppend(op: String, queryKey: String, batchId: Long)(
      batch: => DataFrame): Boolean = {
    val key = streamingKey(queryKey)
    commitOp(OpKind.Append, s"$op($queryKey,$batchId)") {
      if (m.properties.get(key).exists(_.toLong >= batchId)) m
      else appended(m, batch)
        .copy(properties = m.properties + (key -> batchId.toString))
    }
  }

  /** Two-phase ("detached") append: phase 1 writes the fragment files
    * without committing (long-running ingest, durable once staged); phase 2
    * commits the manifest swap. Mirrors the reference's detached
    * transactions (storage2/detached_txn.go:23-330). A staged append that
    * is never committed is garbage-collected by [[vacuum]]. */
  def stageAppend(df: DataFrame): StagedAppend = {
    val (frags, nextRowId) = stageFresh(df, m)
    StagedAppend(frags, m.nextRowId, nextRowId - 1)
  }

  // ------------------------------------------------- detached transactions

  private def detachedDir: Path = rootPath.resolve("_detached")

  private def persistDetached(t: DetachedTxn): String = {
    io.mkdirs(detachedDir)
    io.writeString(detachedDir.resolve(s"${t.id}.json"),
      DetachedTxn.toJson(t))
    t.id
  }

  /** Durable phase-1 append: fragment files written and the intent
    * persisted under `_detached/` (reference CreateDetachedAppend). */
  def createDetachedAppend(df: DataFrame): String = {
    val staged = stageAppend(df)
    persistDetached(DetachedTxn(UUID.randomUUID().toString, "append",
      staged.fragments, Nil, staged.baseRowId, staged.maxRowId, 0L,
      System.currentTimeMillis()))
  }

  /** Durable phase-1 delete: the surviving rows of touched fragments are
    * staged NOW; the swap commits later (reference CreateDetachedDelete).
    * Conflict handling at commit time is the normal rewrite matrix. */
  def createDetachedDelete(predicate: String): String = {
    val where = parsePredicate(spark, predicate)
    val touched = matchedFragments(where)
    if (touched.isEmpty)
      return persistDetached(DetachedTxn(UUID.randomUUID().toString,
        "delete", Nil, Nil, 0L, 0L, 0L, System.currentTimeMillis()))
    val remaining = readFragments(m, touched.map(_._1), withRowId = true)
      .filter(!coalesce(GraftSqlShims.column(where), lit(false)))
    val (frags, _) = stageFragments(toPhysicalPreservingRowId(remaining, m), m)
    persistDetached(DetachedTxn(UUID.randomUUID().toString, "delete",
      frags, touched.map(_._1.id), 0L, 0L, touched.map(_._2).sum,
      System.currentTimeMillis()))
  }

  /** Durable phase-1 overwrite (reference CreateDetachedOverwrite). */
  def createDetachedOverwrite(df: DataFrame): String = {
    val staged = stageAppend(df)
    persistDetached(DetachedTxn(UUID.randomUUID().toString, "overwrite",
      staged.fragments, Nil, staged.baseRowId, staged.maxRowId, 0L,
      System.currentTimeMillis()))
  }

  /** Pending detached transactions (reference ListDetached). */
  def listDetached(): Seq[DetachedTxn] = {
    if (!io.exists(detachedDir)) return Nil
    io.listNames(detachedDir)
      .filter(_.endsWith(".json"))
      .map(n => DetachedTxn.fromJson(io.readString(detachedDir.resolve(n))))
      .sortBy(_.createdMs)
  }

  /** "pending" | "unknown" (reference GetDetachedStatus). */
  def detachedStatus(id: String): String =
    if (io.exists(detachedDir.resolve(s"$id.json"))) "pending"
    else "unknown"

  /** Phase 2: commit a persisted detached txn through the same matrix-
    * checked paths as the live operations, then drop the intent record
    * (reference CommitDetached). Staged fragment ids are renumbered against
    * the manifest they commit to. Returns rows affected (appended rows /
    * deleted rows / new row count for overwrite). */
  def commitDetached(id: String): Long = {
    val p = detachedDir.resolve(s"$id.json")
    require(io.exists(p), s"no detached txn $id")
    val t = DetachedTxn.fromJson(io.readString(p))
    val affected: Long = t.op match {
      case "append" =>
        commitStaged(StagedAppend(t.fragments, t.baseRowId, t.maxRowId))
        t.fragments.map(_.rowCount).sum
      case "delete" =>
        if (t.touchedFragmentIds.nonEmpty)
          commitRewrite(OpKind.DeleteUpdate, t.touchedFragmentIds.toSet,
            t.fragments, "delete")
        t.matchedRows
      case "overwrite" =>
        commitOp(OpKind.Overwrite, "overwrite") {
          replacedBy(m, numbered(t.fragments))
            .copy(nextRowId = math.max(m.nextRowId, t.maxRowId + 1))
        }
        t.fragments.map(_.rowCount).sum
      case other =>
        throw new IllegalStateException(s"unknown detached op '$other'")
    }
    io.delete(p)
    affected
  }

  /** Explicitly abort one detached transaction (reference DeleteDetached):
    * drop the intent record; the staged files become unreferenced and are
    * reaped by [[vacuum]]. Returns false when no such txn exists (already
    * committed, cleaned, or never created). */
  def deleteDetached(id: String): Boolean =
    io.delete(detachedDir.resolve(s"$id.json"))

  /** Drop intent records older than `olderThanMs`; their staged files
    * become unreferenced and are reaped by [[vacuum]] (reference
    * CleanupExpiredDetached). Returns the number dropped. */
  def cleanupExpiredDetached(olderThanMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    listDetached().count { t =>
      t.createdMs <= cutoff &&
        io.delete(detachedDir.resolve(s"${t.id}.json"))
    }
  }

  /** Commit a staged append (rebases like [[append]], but staged files
    * carry their rowids already — if a concurrent commit claimed the same
    * rowid range, the conflict is surfaced instead of silently colliding). */
  def commitStaged(staged: StagedAppend): Unit =
    commitOp(OpKind.Append, "append_detached") {
      if (m.nextRowId > staged.baseRowId)
        throw new CommitConflictException(
          s"rowid range from ${staged.baseRowId} was claimed concurrently; re-stage")
      m.copy(fragments = m.fragments ++ numbered(staged.fragments),
        nextRowId = math.max(m.nextRowId, staged.maxRowId + 1))
    }

  /** Replace all data with `df` in one commit, with `extraProps` landing
    * in the same manifest swap (as for [[append]]). Overwrite depends on
    * no prior state, so it rebases over any concurrent commit (matrix row:
    * all compatible). */
  def overwrite(df: DataFrame,
      extraProps: Map[String, String] = Map.empty): Unit =
    commitOp(OpKind.Overwrite, "overwrite") {
      withPrimaryKeyChecked(df, probe = false)(overwritten(m, _))
        .copy(properties = m.properties ++ extraProps)
    }

  /** Delete rows matching the predicate (Spark SQL expression string — a
    * superset of the reference filter DSL, filter_parser.go:15-270).
    * Returns the number of deleted rows. Copy-on-write: only fragments that
    * actually contain matches are rewritten (update.go:208-340 zonemap-
    * pruned planning). */
  def delete(predicate: String,
      useDeletionVectors: Boolean = false): Long =
    deleteWhere(parsePredicate(spark, predicate), useDeletionVectors)

  /** [[delete]] of the rows where `where` holds. */
  private[lake] def deleteWhere(where: CExpr,
      useDeletionVectors: Boolean): Long = {
    if (useDeletionVectors) return deleteWithVectors(where)
    val touched = matchedFragments(where)
    if (touched.isEmpty) return 0L
    val touchedIds = touched.map(_._1.id).toSet
    // SQL DELETE three-valued semantics: delete only where `where` IS TRUE,
    // so keep rows where it is FALSE or NULL — a bare NOT would silently
    // drop NULL-evaluating rows (NOT(NULL) = NULL is filtered out).
    val frags = stageRewriteGroups(touched.map(_._1), g =>
      readFragments(m, g, withRowId = true)
        .filter(!coalesce(GraftSqlShims.column(where), lit(false))))
    commitRewrite(OpKind.DeleteUpdate, touchedIds, frags, "delete")
    touched.map(_._2).sum
  }

  /** Update rows matching the predicate with `set` (column → SQL expression
    * over the pre-image). Returns matched-row count. */
  def update(predicate: String, set: Map[String, String]): Long = {
    val bad = set.keySet -- m.fields.map(_.name).toSet
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    val where = parsePredicate(spark, predicate)
    val touched = matchedFragments(where)
    if (touched.isEmpty) return 0L
    val touchedIds = touched.map(_._1.id).toSet
    val frags = stageRewriteGroups(touched.map(_._1), g =>
      set.foldLeft(readFragments(m, g, withRowId = true)) {
        case (df, (c, e)) => df.withColumn(c,
          when(GraftSqlShims.column(where), expr(e)).otherwise(col(c)))
      })
    commitRewrite(OpKind.DeleteUpdate, touchedIds, frags, "update")
    touched.map(_._2).sum
  }

  /** Upsert (reference merge_insert.go:19-110): join source to target on
    * `keys`; matched target rows get source values for every shared non-key
    * column (when `updateMatched`); unmatched source rows are inserted
    * (when `insertNotMatched`). Returns (matchedRows, insertedRows). */
  def mergeInsert(source: DataFrame, keys: Seq[String],
      updateMatched: Boolean = true,
      insertNotMatched: Boolean = true,
      extraProps: Map[String, String] = Map.empty): (Long, Long) = {
    val fieldNames = m.fields.map(_.name)
    require(keys.forall(source.columns.contains), "source missing key columns")
    // With an enforced PRIMARY KEY this insert door must uphold it too:
    // merging on anything else could insert a row whose merge key is new
    // but whose PK already exists (or update a PK column into a
    // duplicate). Upsert-on-the-PK is the sound (and canonical) shape —
    // then the anti-join IS the PK probe and keys never update.
    val pkCols = primaryKey
    if (pkCols.nonEmpty) {
      require(keys.toSet == pkCols.toSet,
        s"mergeInsert on a PRIMARY KEY table must merge on the key " +
          s"(pk=$pkCols, keys=$keys)")
    }
    // ONE pass over the source validates both invariants (it used to be
    // two jobs — a null-key probe and a dup-key probe). A duplicate source
    // key would multiply each matched target row in the left_outer rewrite
    // join, duplicating _rowid values and breaking the stable-rowid
    // invariant (the reference resolves exactly one source row per target
    // row); a null PK would break the enforced key — fail fast on either.
    val probe = source.groupBy(keys.map(field): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(max(col("_n")).as("_mx"),
        sum(when(keys.map(field(_).isNull).reduce(_ || _), 1L).otherwise(0L))
          .as("_nullkeys"))
      .collect()(0)
    if (pkCols.nonEmpty)
      require(probe.isNullAt(1) || probe.getLong(1) == 0L,
        s"PRIMARY KEY violation: null key in merge source on $pkCols")
    require(probe.isNullAt(0) || probe.getLong(0) <= 1L,
      s"mergeInsert source has duplicate keys on $keys")
    val srcCols = source.columns.filter(fieldNames.contains).toSeq
    val src = source.select(srcCols.map(c => field(c).as(s"_src_$c")): _*)
    val keyCond = keys.map(k => field(k) === field(s"_src_$k")).reduce(_ && _)

    val target = readFragments(m, m.fragments, withRowId = false,
      withFileName = true)
    // One semi-join pass yields BOTH the touched file set and the matched
    // row count (it used to be two full passes: a distinct-file collect,
    // then a count over the touched fragments — the same semi-join).
    val matchedPerFile = target.join(src, keyCond, "left_semi")
      .groupBy("_file").agg(count(lit(1)).as("_n"))
      .collect()
    // base-name Set lookup: the old `exists(_.endsWith(...))` scanned the
    // touched list per fragment — O(fragments × touched) driver work at
    // millions-of-fragments manifest scale (r8 verdict #5)
    val touchedNames = matchedPerFile.map(r => fileName(r.getString(0))).toSet
    val touched = m.fragments.filter(f => touchedNames(fileName(f.file)))
    val touchedIds = touched.map(_.id).toSet

    var matched = 0L
    var newFrags = Seq.empty[Fragment]
    if (touched.nonEmpty) {
      matched = matchedPerFile.map(_.getLong(1)).sum
      // same job-level chunking as DELETE/UPDATE: a merge matching most of
      // a huge table must not rewrite it in one Spark job (the source side
      // re-joins per group — broadcast-sized by the usual merge shape)
      newFrags ++= stageRewriteGroups(touched, g => {
        val joined = readFragments(m, g, withRowId = true)
          .join(src, keyCond, "left_outer")
        val isMatch = field(s"_src_${keys.head}").isNotNull
        val merged0 = srcCols.filterNot(keys.contains).foldLeft(joined) {
          case (df, c) =>
            if (updateMatched)
              df.withColumn(c, when(isMatch, field(s"_src_$c")).otherwise(field(c)))
            else df
        }
        merged0.select(
          (m.fields.map(f => field(f.name)) :+ col(RowIdCol)): _*)
      })
    }

    var inserted = 0L
    var nextRid = m.nextRowId
    if (insertNotMatched) {
      // Any source key matching ANY live target row is — by the semi-join
      // that defined `touched` — in a touched file, so the anti-join probe
      // side needs only the touched fragments' keys. This replaces the
      // merge's second full-table scan with a touched-files-only read
      // (identical visibility: readFragments applies the same DV filter
      // read() does).
      val targetKeys = readFragments(m, touched, withRowId = false)
        .select(keys.map(field): _*)
      val keyCondSwapped = keys.map(k => field(s"_src_$k") === field(k)).reduce(_ && _)
      val ins = src.join(targetKeys, keyCondSwapped, "left_anti")
      val insLogical = m.fields.foldLeft(ins) { (df, f) =>
        if (srcCols.contains(f.name)) df.withColumn(f.name, field(s"_src_${f.name}"))
        else df.withColumn(f.name, lit(null).cast(DataType.fromJson(f.dataType)))
      }.select(m.fields.map(f => field(f.name)): _*)
      // Stage first, count from the written fragments — running the insert
      // plan once, not count()-then-write twice.
      val (fr, next) = stageFresh(insLogical, m)
      inserted = fr.map(_.rowCount).sum
      if (inserted > 0) {
        newFrags ++= fr
        nextRid = next
      }
    }
    if (newFrags.isEmpty && matched == 0) return (0L, 0L)
    // the rewrite and insert stages each numbered from the same base
    // manifest; commitRewrite renumbers the combined set
    commitRewrite(OpKind.Merge, touchedIds, newFrags, "merge",
      nextRowIdOpt = Some(nextRid), extraProps = extraProps)
    (matched, inserted)
  }

  /** Exactly-once micro-batch UPSERT for Structured Streaming's
    * `foreachBatch` — the merge twin of [[appendStreamingBatch]]: the
    * rewritten/inserted fragments and the `(queryKey, batchId)` high-water
    * mark land in ONE manifest swap, so an at-least-once batch replay is
    * detected and skipped. A batch that changes nothing still advances
    * the mark (metadata-only commit). Returns false when the batch was
    * already committed. Single-writer-per-queryKey is the posture, as
    * with any Structured Streaming sink. */
  def upsertStreamingBatch(source: DataFrame, keys: Seq[String],
      queryKey: String, batchId: Long): Boolean = {
    val key = streamingKey(queryKey)
    refresh()
    if (m.properties.get(key).exists(_.toLong >= batchId)) return false
    mergeInsert(source, keys, extraProps = Map(key -> batchId.toString))
    refresh()
    // all-duplicate/no-op batch: mergeInsert returned without a commit —
    // record the mark so the replay-detection contract still holds
    if (!m.properties.get(key).exists(_.toLong >= batchId))
      setProperties(Map(key -> batchId.toString))
    true
  }

  /** Merge `props` into the manifest properties (metadata-only commit).
    * Reserved keys steer engine behavior — e.g. `write.dml.mode = mor`
    * switches SQL UPDATE/DELETE to merge-on-read deltas. */
  def setProperties(props: Map[String, String]): Unit =
    commitOp(OpKind.Project,
      s"set_properties(${props.keys.mkString(",")})") {
      m.copy(properties = m.properties ++ props)
    }

  def removeProperties(keys: Seq[String]): Unit =
    commitOp(OpKind.Project, s"unset_properties(${keys.mkString(",")})") {
      m.copy(properties = m.properties -- keys)
    }

  /** Commit a merge-on-read delta: tombstone rowids (deletion-vector files
    * already written under `_deletes/`) plus appended delta fragments, in
    * one manifest swap. Used by the DSv2 delta write (SQL UPDATE/DELETE in
    * `mor` mode).
    *
    * `idBase`: when the delta introduced fresh rowids (MoR UPDATE rewrites
    * rows as delete+insert), an intervening commit that advanced
    * `nextRowId` past the base the ids were minted from means a potential
    * rowid collision — surfaced as a conflict instead of committed. */
  private[lake] def commitDelta(touchedIds: Set[Long], dvNames: Seq[String],
      nDeleted: Long, newFrags: Seq[Fragment],
      idBase: Option[Long], nextRowIdOpt: Option[Long], op: String): Unit =
    commitOp(OpKind.DeleteUpdate, op, touchedIds) {
      idBase.foreach { b =>
        if (m.nextRowId > b)
          throw new CommitConflictException(
            s"rowid block raced: minted from $b but nextRowId is now " +
              s"${m.nextRowId}")
      }
      // tombstoned fragments must still exist
      requireUnrewritten(touchedIds)
      m.copy(
        fragments = m.fragments ++ numbered(newFrags),
        nextRowId = math.max(m.nextRowId, nextRowIdOpt.getOrElse(m.nextRowId)),
        deletionFiles = m.deletionFiles ++ dvNames,
        deletedRowCount = m.deletedRowCount + nDeleted)
    }

  // ------------------------------------------------------ schema evolution

  /** Add null-filled columns: metadata-only commit (field-id mapping means
    * old fragments simply lack the physical column → read as NULL). */
  def addColumns(newCols: StructType): Unit =
    commitOp(OpKind.Project, "add_columns") {
      val existing = m.fields.map(_.name).toSet
      require(newCols.fields.forall(f => !existing(f.name)), "column exists")
      val added = newCols.fields.zipWithIndex.map { case (sf, i) =>
        FieldDef(m.maxFieldId + i + 1, sf.name, sf.dataType.json, nullable = true)
      }
      m.copy(fields = m.fields ++ added,
        maxFieldId = m.maxFieldId + added.length)
    }

  /** Drop columns: metadata-only (data stays in old fragments, unread). */
  def dropColumns(names: Seq[String]): Unit =
    commitOp(OpKind.Project, "drop_columns") {
      val keep = m.fields.filterNot(f => names.contains(f.name))
      require(keep.size + names.size == m.fields.size, "unknown column")
      require(keep.nonEmpty, "cannot drop all columns")
      m.copy(fields = keep)
    }

  /** Widen a column's type: metadata-only commit (reference AlterColumns
    * with type change, sdk/dataset.go:623-965). Old fragments keep their
    * physical type and are widened on read by Spark's parquet vectorized
    * reader (int→long, int→double, float→double are the reader-supported
    * promotions); new fragments are written at the widened type. Blooms on
    * the widened field are dropped (the hash of a value differs across
    * physical types — keeping them would cause false-negative pruning);
    * re-run [[enableBloomIndex]] to rebuild at the new type. */
  def alterColumnType(name: String, to: DataType): Unit =
    commitOp(OpKind.Project, s"alter_column_type($name)") {
      val f = m.fields.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      val from = DataType.fromJson(f.dataType)
      val ok = (from, to) match {
        case (IntegerType, LongType) => true
        case (IntegerType, DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => from == to
      }
      require(ok, s"unsupported type change $from -> $to (widening only)")
      if (from == to) m
      else m.copy(
        fields = m.fields.map(x =>
          if (x.id == f.id) x.copy(dataType = to.json) else x),
        fragments = m.fragments.map(fr =>
          fr.copy(blooms = fr.blooms - f.id.toString)),
        bloomFields = m.bloomFields.filterNot(_ == f.id))
    }

  /** Drop a NESTED field inside a struct column (reference sdk DropPath,
    * sdk/dataset.go:623-965). Unlike top-level [[dropColumns]] — metadata-
    * only via field-id projection — a nested drop must rewrite data: the
    * struct is one physical parquet column. `path` is dot-separated
    * relative to the struct column (`Column.dropFields` semantics: `"a"`
    * or `"a.b"`). See [[rewriteStruct]]. */
  def dropNestedField(column: String, path: String): Unit =
    rewriteStruct(column, s"drop_nested_field($column.$path)") { st =>
      val newDt = LakeDataset
        .dropPathFromStruct(st, path.split('.').toList)
        .getOrElse(throw new IllegalArgumentException(
          s"no nested path $path in $column"))
      require(newDt.fields.nonEmpty,
        s"dropping $path would empty $column; use dropColumns instead")
      (newDt, col(column).dropFields(path))
    }

  /** Add a NESTED field inside a struct column (the reference schema model
    * is nested via parent ids — sdk AddColumns reaches sub-structs). The
    * new field is appended to the struct at `path`'s parent with NULL for
    * every existing row. `path` is the dotted location of the NEW field. */
  def addNestedField(column: String, path: String, dt: DataType): Unit =
    rewriteStruct(column, s"add_nested_field($column.$path)") { st =>
      val newDt = LakeDataset
        .addPathToStruct(st, path.split('.').toList, dt)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot add $path to $column (missing parent or field exists)"))
      (newDt, col(column).withField(path, lit(null).cast(dt)))
    }

  /** Rename a NESTED field inside a struct column: data-preserving —
    * the value is copied to the new name and the old path dropped in the
    * same rewrite. `path` is the dotted OLD location; `to` the new leaf
    * name within the same parent. */
  def renameNestedField(column: String, path: String, to: String): Unit =
    rewriteStruct(column, s"rename_nested_field($column.$path -> $to)") { st =>
      val parts = path.split('.').toList
      val parent = parts.dropRight(1)
      val leafDt = LakeDataset.nestedFieldType(st, parts).getOrElse(
        throw new IllegalArgumentException(s"no nested path $path in $column"))
      val newDt = LakeDataset.dropPathFromStruct(st, parts)
        .flatMap(LakeDataset.addPathToStruct(_, parent :+ to, leafDt))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot rename $path to $to in $column (target exists?)"))
      (newDt, col(column)
        .withField((parent :+ to).mkString("."), col(s"$column.$path"))
        .dropFields(path))
    }

  /** Shared body of the nested-field ops: `change` maps the struct type of
    * `column` to its new type and the column expression producing it. The
    * struct is one physical parquet column, so every fragment is rewritten
    * in bounded groups (the DELETE/UPDATE machinery) staged against the
    * POST-change schema, and lands with the field-type update in ONE
    * commit; rowids are preserved, and pending merge-on-read tombstones are
    * folded in by the rewrite (the staged rows are the live set).
    * Full-table rewrite → Overwrite conflict kind. */
  private def rewriteStruct(column: String, operation: String)(
      change: StructType => (StructType, Column)): Unit =
    commitOp(OpKind.Overwrite, operation, m.fragments.map(_.id).toSet) {
      val f = m.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"no column $column"))
      val (newDt, rewritten) = DataType.fromJson(f.dataType) match {
        case s: StructType => change(s)
        case other =>
          throw new IllegalArgumentException(s"$column is $other, not a struct")
      }
      val man2 = m.copy(fields = m.fields.map(x =>
        if (x.id == f.id) x.copy(dataType = newDt.json) else x))
      val frags = stageRewriteGroups(m.fragments, g =>
        readFragments(m, g, withRowId = true).withColumn(column, rewritten),
        stageMan = man2)
      replacedBy(man2, numbered(frags))
    }

  /** Rename a column: metadata-only (physical name is the field id). */
  def renameColumn(from: String, to: String): Unit =
    commitOp(OpKind.Project, "rename_column") {
      require(m.fields.exists(_.name == from), s"no column $from")
      require(!m.fields.exists(_.name == to), s"column $to exists")
      m.copy(fields =
        m.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    }

  // ----------------------------------------------------------- time travel

  /** Restore: new commit whose content is an old version's (refs.go model —
    * history is preserved; restore is itself a version). */
  def restore(v: Long): Unit = commitOp(OpKind.Overwrite, s"restore($v)") {
    val old = log.manifest(v)
    m.copy(
      fields = old.fields,
      maxFieldId = math.max(m.maxFieldId, old.maxFieldId),
      fragments = old.fragments,
      // the old version's merge-on-read tombstones are part of its content:
      // without them a restore across a purge resurrects deleted rows, and
      // a restore TO a version with pending tombstones must re-apply them
      deletionFiles = old.deletionFiles,
      deletedRowCount = old.deletedRowCount,
      // index declarations describe the restored fragments' sidecars
      bloomFields = old.bloomFields,
      bloomNumBits = old.bloomNumBits,
      bloomNumHashes = old.bloomNumHashes,
      valueSetFields = old.valueSetFields,
      valueSetMaxDistinct = old.valueSetMaxDistinct)
  }

  /** Shallow clone (reference ShallowClone, sdk/dataset.go:623-965): a new
    * dataset whose v1 manifest references THIS dataset's fragment files
    * (absolute paths) without copying data. The clone then diverges freely —
    * its writes stage into its own data dir, and its copy-on-write rewrites
    * replace references to source files with clone-local ones. The clone's
    * vacuum only ever touches its own data dir, so source files are safe
    * from the clone; like Delta shallow clones, vacuuming the SOURCE can
    * break clones that still reference its files. */
  def shallowClone(targetPath: String): LakeDataset = {
    val tio = LakeIO.forRoot(targetPath, spark.sparkContext.hadoopConfiguration)
    val target = new Path(targetPath)
    val tlog = VersionLog.init(tio, target, targetPath)
    tio.mkdirs(target.resolve("data"))
    val abs = io.absolute(rootPath)
    val frags = m.fragments.map(f => f.copy(
      file = abs.resolve(f.file).toString,
      blooms = f.blooms.map { case (k, v) => k -> abs.resolve(v).toString }))
    val cm = m.copy(
      version = 1,
      fragments = frags,
      // deletion vectors are source files too: absolutize like the blooms,
      // or the clone resolves '_deletes/...' under its own (empty) root —
      // every read fails, or worse, tombstoned rows silently resurrect
      deletionFiles = m.deletionFiles.map(d => abs.resolve(d).toString),
      parentVersion = None,
      createdMs = System.currentTimeMillis(),
      operation = s"shallow_clone($root@${m.version})",
      touchedFragmentIds = Nil)
    // fragment paths were rewritten to absolute, so parent chunks can't be
    // re-listed — encode fresh against the TARGET root's chunk store
    val (cmMat, cmJson) = LakeDataset.encodeManifest(tio, target, cm,
      parent = None, chunkSize = manifestChunkSize,
      threshold = manifestChunkThreshold)
    tio.writeString(tlog.file(1), cmJson)
    new LakeDataset(spark, targetPath, cmMat)
  }

  def createTag(name: String, v: Long = version): Unit = {
    require(versions.contains(v), s"no version $v")
    log.createTag(name, v)
  }

  def deleteTag(name: String): Unit = log.deleteTag(name)

  def tags: Map[String, Long] = log.tags

  def checkoutTag(name: String): LakeDataset =
    checkout(tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name")))

  // ------------------------------------------------------------- branches

  /** This handle's branch, None = main. */
  def branchName: Option[String] = branch
  private def namespaceId: String = branch.getOrElse("main")

  /** Fork a writable branch at version `v` of THIS namespace (beyond the
    * reference, whose refs are immutable tags; the Git/Nessie model).
    * The branch gets its own linear manifest history starting from a
    * verbatim copy of v — data files and manifest chunks stay shared, so
    * the fork is one small JSON copy regardless of table size. Writes on
    * the branch run the normal commit protocol (atomic publish, conflict
    * matrix, rebase) entirely inside the branch namespace. */
  def createBranch(name: String, v: Long = version): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"invalid branch name '$name'")
    val b = new VersionLog(io, rootPath, Some(name))
    require(b.versions.isEmpty, s"branch $name exists")
    val head = log.text(v)
    io.mkdirs(b.dir)
    // fork metadata first (merge validates it), head manifest second; a
    // fork that dies between the two is re-creatable (the exists check
    // above counts only version files)
    io.writeString(b.dir.resolve("branch.json"),
      s"""{"forkedFrom": "$namespaceId", "forkVersion": $v}""")
    io.publishAtomic(b.file(v), head)
  }

  /** Branch name → head version. */
  def branches: Map[String, Long] =
    VersionLog.branchNames(io, rootPath).flatMap(n =>
      new VersionLog(io, rootPath, Some(n)).versions.lastOption.map(n -> _))
      .toMap

  /** Writable handle on a branch's head. */
  def checkoutBranch(name: String): LakeDataset = {
    require(branches.contains(name), s"no branch $name")
    val b = new LakeDataset(spark, root, m, partial = false,
      branch = Some(name))
    b.refresh()
  }

  /** Delete a branch's manifests and its indexes (shared data files are
    * untouched; chunks and fragments referenced only by the branch become
    * garbage for [[vacuum]], whose liveness scan spans every namespace). */
  def deleteBranch(name: String): Unit = {
    val dir = new VersionLog(io, rootPath, Some(name)).dir
    require(io.exists(dir), s"no branch $name")
    io.deleteRecursive(dir)
  }

  /** Fast-forward merge `name` into THIS namespace: requires the branch to
    * have forked FROM this namespace and this namespace's head to still be
    * the fork point (no divergence — the Git --ff-only contract; diverged
    * histories raise and the caller rebases by re-branching). Branch
    * version numbers continue the fork point's sequence, so the merge is a
    * verbatim copy of the branch's post-fork version files; each lands via
    * the atomic publish, so a concurrent writer on this namespace loses
    * the race cleanly (first copied version wins or conflicts). */
  def mergeBranch(name: String): Long = {
    val (b, forkV) = forkOf(name)
    refresh()
    if (m.version != forkV)
      throw new CommitConflictException(
        s"$namespaceId advanced to v${m.version} since branch $name forked " +
          s"at v$forkV — fast-forward impossible; re-branch and replay")
    b.versions.filter(_ > forkV).foreach { v =>
      try io.publishAtomic(log.file(v), b.text(v))
      catch {
        case _: CommitConflictException =>
          throw new CommitConflictException(
            s"concurrent commit on $namespaceId during merge of $name at v$v")
      }
    }
    refresh()
    m.version
  }

  /** Version log and fork version of branch `name`, which must have forked
    * from THIS namespace (its `branch.json`). */
  private def forkOf(name: String): (VersionLog, Long) = {
    val b = new VersionLog(io, rootPath, Some(name))
    require(io.exists(b.dir), s"no branch $name")
    val meta = io.readString(b.dir.resolve("branch.json"))
    def field(re: String): String = re.r.findFirstMatchIn(meta).get.group(1)
    val forkedFrom = field(""""forkedFrom"\s*:\s*"([^"]+)"""")
    require(forkedFrom == namespaceId,
      s"branch $name forked from $forkedFrom, not $namespaceId")
    (b, field(""""forkVersion"\s*:\s*(\d+)""").toLong)
  }

  /** Merge a DIVERGED branch into this namespace (the non-fast-forward
    * case [[mergeBranch]] refuses): a squash rebase-merge. The branch's
    * net state change since its fork point is computed, checked pairwise
    * against every commit this namespace made since the fork with the
    * same conflict matrix concurrent writers use, and applied as ONE
    * commit (`merge_branch(name)` — Merge kind, so later conflicters see
    * it at full strictness). The branch itself is left untouched.
    *
    * Stable-rowid discipline across the merge:
    *  - branch fragments whose rowids all predate the fork
    *    (copy-on-write rewrites of fork data) are adopted verbatim —
    *    fork-level deletion vectors and the change feed keep addressing
    *    them exactly;
    *  - branch-append fragments (rowids claimed after the fork) are
    *    adopted verbatim when this namespace made no claims of its own,
    *    and otherwise re-based onto a fresh rowid range in a bounded
    *    Spark job over ONLY those fragments (per-row arithmetic, no
    *    shuffle) — the two divergent histories claimed overlapping
    *    ranges for different rows, so one side must move;
    *  - a branch fragment MIXING pre- and post-fork rowids (the branch
    *    compacted fork data together with its own appends) is refused —
    *    merge before compacting on the branch.
    *
    * Refused (CommitConflictException) rather than silently merged:
    * matrix conflicts (e.g. both sides deleted from the same fragment),
    * both sides changing schema, branch tombstones on branch-appended
    * rows while a rowid re-base is needed, and a branch DV purge racing
    * target DV changes. Fragment ids from the branch are always remapped
    * onto fresh target ids (both sides allocate from the fork point, so
    * ids collide even when rowids do not). */
  def mergeBranchRebase(name: String): Long = {
    val (b, forkV) = forkOf(name)
    refresh()
    if (m.version == forkV) return mergeBranch(name) // pure fast-forward

    val branchVersions = b.versions.filter(_ > forkV)
    if (branchVersions.isEmpty) return m.version // nothing to merge
    val fork = log.manifest(forkV)
    val bh = b.manifest(branchVersions.last)

    // Pairwise matrix check: every branch op (my side) against every
    // target op committed since the fork (other side) — the exact check a
    // concurrent writer's rebase would run, applied across namespaces.
    val branchOps = branchVersions.map { v =>
      val w = b.slim(v)
      (w.operation, LakeDataset.kindOf(w.operation), w.touchedFragmentIds.toSet)
    }
    val targetOps = (forkV + 1 to m.version).map { v =>
      val w = log.slim(v)
      (w.operation, LakeDataset.kindOf(w.operation), w.touchedFragmentIds.toSet)
    }
    for ((bop, bk, bt) <- branchOps; (top, tk, tt) <- targetOps)
      if (LakeDataset.conflicts(bk, bt, tk, tt))
        throw new CommitConflictException(
          s"branch $name op '$bop' conflicts with $namespaceId op '$top' " +
            s"committed since fork v$forkV")

    // Net branch delta vs the fork point.
    val forkIds = fork.fragments.map(_.id).toSet
    val headIds = bh.fragments.map(_.id).toSet
    val branchAdds = bh.fragments.filterNot(f => forkIds.contains(f.id))
    val branchRemovedIds = forkIds.filterNot(headIds.contains)
    val dvAdds = bh.deletionFiles.filterNot(fork.deletionFiles.contains)
    val dvRemoved = fork.deletionFiles.filterNot(bh.deletionFiles.contains)
    if (dvRemoved.nonEmpty && m.deletionFiles != fork.deletionFiles)
      throw new CommitConflictException(
        s"branch $name purged deletion vectors while $namespaceId changed " +
          "its own — merge the DV states manually (re-branch and replay)")
    val schemaChanged = bh.fields != fork.fields
    if (schemaChanged && m.fields != fork.fields)
      throw new CommitConflictException(
        s"both $namespaceId and branch $name changed the schema since " +
          s"fork v$forkV — re-branch and replay the schema change")

    commitOp(OpKind.Merge, s"merge_branch($name)", branchRemovedIds) {
      // Rowid disposition per added fragment, from a rowid-only columnar
      // scan of just the branch-added files (min/max of one long column).
      val targetClaimed = m.nextRowId > fork.nextRowId
      val branchClaimed = bh.nextRowId > fork.nextRowId
      val needRebase = targetClaimed && branchClaimed
      val ranges: Map[String, (Long, Long)] =
        if (branchAdds.isEmpty) Map.empty
        else {
          val files = branchAdds.map(f => rootPath.resolve(f.file).toString)
          spark.read
            .schema(new StructType().add(RowIdCol, LongType))
            .parquet(files: _*)
            .groupBy(input_file_name().as("_f"))
            .agg(min(col(RowIdCol)).as("_lo"), max(col(RowIdCol)).as("_hi"))
            .collect()
            .map(r => (fileName(r.getString(0)), (r.getLong(1), r.getLong(2))))
            .toMap
        }
      def rangeOf(f: Fragment): (Long, Long) =
        ranges.getOrElse(fileName(f.file),
          throw new IllegalStateException(s"no rowid range for ${f.file}"))
      val (preserved, toRebase) =
        if (!needRebase) (branchAdds, Nil)
        else branchAdds.partition(f => rangeOf(f)._2 < fork.nextRowId)
      toRebase.foreach { f =>
        if (rangeOf(f)._1 < fork.nextRowId)
          throw new CommitConflictException(
            s"branch $name fragment ${f.file} mixes pre- and post-fork " +
              "rowids (branch-side compaction across the fork line) — " +
              "merge before compacting on the branch")
      }
      if (dvAdds.nonEmpty && toRebase.nonEmpty) {
        // new tombstones may address branch-append rowids that are about
        // to move; verify they all predate the fork
        val dvMax = spark.read
          .parquet(dvAdds.map(f => rootPath.resolve(f).toString): _*)
          .agg(max(col(RowIdCol))).collect()(0).getLong(0)
        if (dvMax >= fork.nextRowId)
          throw new CommitConflictException(
            s"branch $name tombstones rows it appended after the fork " +
              "while a rowid re-base is required — purge deletes on the " +
              "branch before merging")
      }

      val fieldsAfter = if (schemaChanged) bh.fields else m.fields
      val manForStage = m.copy(fields = fieldsAfter,
        maxFieldId = math.max(m.maxFieldId, bh.maxFieldId))
      // Re-base branch-append rowids: fresh contiguous-claim arithmetic,
      // one narrow job over only the re-based fragments.
      val rebaseBase = m.nextRowId
      val (rebasedFrags, rebasedMaxRid) =
        if (toRebase.isEmpty) (Nil, m.nextRowId - 1)
        else {
          val files = toRebase.map(f => rootPath.resolve(f.file).toString)
          val phys = spark.read
            .schema(LakeDataset.physicalSchema(
              bh.copy(fields = fieldsAfter)))
            .parquet(files: _*)
            .withColumn(RowIdCol,
              col(RowIdCol) - lit(fork.nextRowId) + lit(rebaseBase))
          stageFragments(phys, manForStage)
        }
      val preservedMaxRid =
        if (!needRebase && branchClaimed) bh.nextRowId - 1 else m.nextRowId - 1
      // preserved branch fragments are adopted by metadata (file bytes,
      // stats, blooms, value-sets all carry over) under fresh ids
      manForStage.copy(
        fragments = m.fragments.filterNot(f => branchRemovedIds.contains(f.id))
          ++ numbered(rebasedFrags ++ preserved),
        nextRowId = math.max(m.nextRowId,
          math.max(rebasedMaxRid, preservedMaxRid) + 1),
        deletionFiles =
          m.deletionFiles.filterNot(dvRemoved.contains) ++ dvAdds,
        deletedRowCount = math.max(0L,
          m.deletedRowCount + (bh.deletedRowCount - fork.deletedRowCount)))
    }
    m.version
  }

  // ------------------------------------------------------- secondary index

  /** Build per-fragment bloom filters on `cols` (high-cardinality point-
    * lookup columns) and declare them in the manifest; every future
    * append/rewrite stages blooms for its new fragments automatically.
    * One distributed job for all existing fragments (bloom state is a
    * mergeable bit array — map-side partials, OR-merge). Sidecar files live
    * under `_indexes/bloom/`, keeping manifests metadata-sized.
    * (Reference: bloomfilter_index.go; consulted by the equality arm of
    * [[pruneFragments]] per index_selector.go:36-170.) */
  def enableBloomIndex(cols: Seq[String], bitsPerRow: Int = 10,
      numHashes: Int = 5): Unit =
    commitOp(OpKind.CreateIndex, s"create_bloom_index(${cols.mkString(",")})") {
      val fields = cols.map(c => m.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c")))
      val maxRows = (m.fragments.map(_.rowCount) :+ 4096L).max
      val next = m.copy(bloomFields = fields.map(_.id),
        bloomNumBits = bitsPerRow * maxRows, bloomNumHashes = numHashes)
      val byFile = buildBlooms(next, m.fragments)
      // merge: keep blooms already present on other fields
      next.copy(fragments = m.fragments.map(f =>
        f.copy(blooms = f.blooms ++ byFile.getOrElse(f.id, Map.empty))))
    }

  /** One job: per (fragment, bloom field) serialized bloom → sidecar file.
    * Returns fragmentId → (fieldId → sidecar relative path). */
  private def buildBlooms(man: Manifest,
      frags: Seq[Fragment]): Map[Long, Map[String, String]] = {
    if (man.bloomFields.isEmpty || frags.isEmpty) return Map.empty
    io.mkdirs(bloomDir)
    val phys = physicalSchema(man)
    val aggCols = man.bloomFields.map { fid =>
      call_function("bloom_agg", xxhash64(col(physName(fid))),
        lit(man.bloomNumBits), lit(man.bloomNumHashes)).as(s"_bloom_$fid")
    }
    val rows = spark.read.schema(phys)
      .parquet(frags.map(f => rootPath.resolve(f.file).toString): _*)
      .groupBy(input_file_name().as("_file"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    frags.flatMap { f =>
      rows.find(_.getString(0).endsWith(fileName(f.file))).map { r =>
        f.id -> man.bloomFields.map { fid =>
          val bytes = r.getAs[Array[Byte]](s"_bloom_$fid")
          val name = s"bloom-${f.id}-f$fid-${UUID.randomUUID()}.bin"
          io.writeBytes(bloomDir.resolve(name), bytes)
          fid.toString -> s"_indexes/bloom/$name"
        }.toMap
      }
    }.toMap
  }

  /** Merge-on-read delete (reference deletion_bitmap.go): write the
    * matching rowids as a deletion file instead of rewriting fragments —
    * at scale, deleting one row from a 1M-row fragment costs a few KB of
    * tombstones, not a 256 MB rewrite. Reads anti-join the tombstones;
    * [[purgeDeletes]] (or any full rewrite) folds them in physically.
    * Commit-wise this behaves like Delete in the conflict matrix but
    * touches no fragments: stable rowids stay valid across concurrent
    * compactions (rewrites preserve them), so disjoint ops rebase. */
  private def deleteWithVectors(where: CExpr): Long = {
    val pred = GraftSqlShims.column(where)
    val candidates = pruneFragments(m, where)
    if (candidates.isEmpty) return 0L
    val dvName = s"_deletes/dv-${UUID.randomUUID()}.parquet"
    val dvPath = rootPath.resolve(dvName)
    io.mkdirs(dvPath.getParent)
    readFragments(m, candidates, withRowId = true)
      .filter(coalesce(pred, lit(false)))
      .select(col(RowIdCol))
      .write.option("compression", "zstd").parquet(dvPath.toString)
    val n = spark.read.parquet(dvPath.toString).count()
    if (n == 0) {
      io.deleteRecursive(dvPath)
      return 0L
    }
    // Record the pruned candidates as this commit's touched fragments so
    // value-rewriting ops (CoW update/delete, MoR update/merge) get the
    // conflict matrix's overlap refinement against this delete — their
    // rewrites may not preserve the tombstoned rowids' identity. Pruning
    // is conservative, so candidates ⊇ the fragments actually holding
    // deleted rows. Tombstone-only deletes themselves commute (rowid
    // unions are order-independent), hence the dedicated DeleteDv kind;
    // a purge re-plans its fold on every attempt, so it never clears a
    // tombstone it did not fold.
    // Recomputed from the CURRENT manifest on every attempt: a rebase over
    // a concurrent compaction replaces fragment ids (rowids survive, ids
    // don't), and committing the pre-race ids would rob later
    // value-rewriting ops of the overlap refinement — their rewrite of the
    // compacted fragment would see no overlap with this delete and could
    // resurrect its rows.
    commitOp(OpKind.DeleteDv, "delete_dv",
        pruneFragments(m, where).map(_.id).toSet) {
      m.copy(deletionFiles = m.deletionFiles :+ dvName,
        deletedRowCount = m.deletedRowCount + n)
    }
    n
  }

  /** Fold all deletion vectors into the data: rewrite every fragment
    * without the tombstoned rows and clear the deletion list, in one
    * commit. The fold is staged inside the plan: a retry after a lost
    * publish re-stages from the refreshed manifest, so a tombstone that
    * landed meanwhile is folded too instead of dropped with the list. */
  def purgeDeletes(targetRows: Long = 1 << 20): Unit =
    commitOp(OpKind.Rewrite, "purge_deletes", m.fragments.map(_.id).toSet) {
      if (m.deletionFiles.isEmpty) m
      else {
        val live = readFragments(m, m.fragments, withRowId = true)
          .repartition(partsFor(m.fragments, targetRows))
        replacedBy(m, stageFragments(toPhysicalPreservingRowId(live, m), m)._1)
      }
    }

  /** Declare a value-set (bitmap-style) index on low-cardinality `cols`:
    * one job computes each fragment's complete distinct set (discarded per
    * fragment when it exceeds `maxDistinct`); future stages maintain it.
    * Equality and IN predicates then prune exactly on membership. */
  def enableValueSetIndex(cols: Seq[String], maxDistinct: Int = 64): Unit =
      commitOp(OpKind.CreateIndex,
          s"create_valueset_index(${cols.mkString(",")})") {
    val fields = cols.map(c => m.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column $c")))
    val next = m.copy(valueSetFields = fields.map(_.id),
      valueSetMaxDistinct = maxDistinct)
    val updated =
      if (m.fragments.isEmpty) m.fragments
      else {
        val phys = physicalSchema(m)
        val aggs = next.valueSetFields.map { fid =>
          slice(sort_array(collect_set(valueSetRender(next, fid))),
            1, maxDistinct + 1).as(s"_vs_$fid")
        }
        val rows = spark.read.schema(phys)
          .parquet(m.fragments.map(f => rootPath.resolve(f.file).toString): _*)
          .groupBy(input_file_name().as("_file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        m.fragments.map { f =>
          rows.find(_.getString(0).endsWith(fileName(f.file))).map { r =>
            val vsets = next.valueSetFields.flatMap { fid =>
              val vs = r.getSeq[String](r.fieldIndex(s"_vs_$fid"))
              if (vs.size <= maxDistinct) Some(fid.toString -> vs.toSeq)
              else None
            }.toMap
            f.copy(valueSets = f.valueSets ++ vsets)
          }.getOrElse(f)
        }
      }
    next.copy(fragments = updated)
  }

  /** Rewrite the dataset range-partitioned and sorted by `sortCol` so
    * fragment zonemaps become DISJOINT ranges — after this, range and
    * point predicates prune to the few fragments whose interval overlaps
    * (the Spark-native role of the reference's btree_index.go: ordered
    * access by key, expressed as physical layout instead of a tree). One
    * commit; preserves rowids. */
  def optimizeLayout(sortCols: String*): Unit =
    optimizeLayoutWith(sortCols, 1 << 20)

  /** Multi-column form: hierarchical range layout (lead column splits
    * fragments, further columns order within), the linear cousin of
    * Z-ordering — lead-column predicates prune via disjoint zonemaps and
    * secondary columns get tight per-fragment ranges. */
  def optimizeLayoutWith(sortCols: Seq[String],
      targetRows: Long): Unit =
    layoutRewrite(sortCols, targetRows, s"optimize_layout(${sortCols.mkString(",")})") {
      (df, parts) =>
        df.repartitionByRange(parts, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    }

  /** Shared layout-rewrite core: validates columns and targetRows, plans
    * the partition count, applies the layout transform, and commits one
    * rowid-preserving rewrite of every fragment. No-op on empty datasets. */
  private def layoutRewrite(cols: Seq[String], targetRows: Long,
      operation: String)(
      layout: (DataFrame, Int) => DataFrame): Unit = {
    require(cols.nonEmpty, "need at least one layout column")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    cols.foreach(c =>
      require(m.fields.exists(_.name == c), s"no column $c"))
    if (m.fragments.isEmpty) return
    rewriteFragments(m.fragments, operation)(df =>
      layout(df, partsFor(m.fragments, targetRows)))
  }

  /** Z-order (Morton) layout: rank each z column into 256 quantile buckets,
    * interleave the rank bits ([[graft.functions.ZOrderKernel]]), and
    * rewrite range-partitioned + sorted by the z-value. Unlike
    * [[optimizeLayoutWith]]'s lexicographic sort — which only gives the
    * LEAD column disjoint zonemaps — every z column ends up clustered, so
    * predicates on any of them prune fragments (Delta's OPTIMIZE ZORDER
    * BY; Morton 1966). Quantile cuts (one multi-column approxQuantile
    * pass) keep ranks uniform under value skew, so fragments stay
    * balanced regardless of distribution. Strings rank by hash bucket:
    * equality predicates still prune via the fragment value-set/bloom
    * stats, range predicates on strings don't (documented trade-off).
    * One commit; preserves rowids. */
  def optimizeLayoutZOrder(zCols: Seq[String],
      targetRows: Long = 1 << 20): Unit = {
    require(zCols.size >= 2 && zCols.size <= 8,
      s"z-order needs 2..8 columns, got ${zCols.size}")
    // the rankable numeric projection of each z column (DATE has no legal
    // cast to DOUBLE — rank its epoch-day number instead)
    def numericOf(c: String): Option[Column] =
      DataType.fromJson(m.fields.find(_.name == c).get.dataType) match {
        case DateType => Some(unix_date(col(c)).cast("double"))
        case _: NumericType | TimestampType => Some(col(c).cast("double"))
        case _ => None
      }
    layoutRewrite(zCols, targetRows,
      s"optimize_layout_zorder(${zCols.mkString(",")})") { (df, parts) =>
      val numericCols = zCols.filter(c => numericOf(c).isDefined)
      // one pass over the numeric z columns: 255 cuts each, 1% rank error
      val cuts: Map[String, Array[Double]] = if (numericCols.isEmpty) Map.empty
        else numericCols.zip(df.select(numericCols.map(c =>
          numericOf(c).get.as(c)): _*).stat.approxQuantile(
            numericCols.toArray, (1 to 255).map(_ / 256.0).toArray, 0.01))
          .map { case (c, b) => c -> b.distinct.sorted }.toMap
      val ranks = zCols.map { c =>
        cuts.get(c) match {
          case Some(b) if b.nonEmpty =>
            coalesce(call_function("quantile_rank",
              numericOf(c).get, typedlit(b.toSeq)), lit(0))
          case _ => // strings (or constant columns): 256 hash buckets
            pmod(xxhash64(col(c)), lit(256)).cast("int")
        }
      }
      df.withColumn("__z", call_function("z_value", array(ranks: _*)))
        .repartitionByRange(parts, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
  }

  // ------------------------------------------------------------ compaction

  /** OPTIMIZE-style rewrite: merge fragments smaller than `targetRows` into
    * ~targetRows-sized ones (reference compaction_*.go as a Spark job). */
  def compact(targetRows: Long = 1 << 20): Unit = {
    val small = m.fragments.filter(_.rowCount < targetRows)
    if (small.size <= 1) return
    rewriteFragments(small, "compact")(
      _.repartition(partsFor(small, targetRows)))
  }

  /** Compaction plan: greedy bin-pack of small fragments into groups of
    * ~targetRows (reference compaction_planner.go). Each group is an
    * independent rewrite unit: groups touch disjoint fragments, so their
    * commits — from this process or any number of workers — rebase over
    * each other through the conflict matrix instead of serializing on a
    * coordinator lock (compaction_coordinator.go's job, done here by the
    * optimistic manifest protocol itself). */
  def planCompaction(targetRows: Long = 1 << 20): Seq[Seq[Long]] = {
    val small = m.fragments.filter(_.rowCount < targetRows)
    if (small.size <= 1) return Nil
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rows = 0L
    small.foreach { f =>
      cur += f.id
      rows += f.rowCount
      if (rows >= targetRows) { groups += cur.toSeq; cur.clear(); rows = 0 }
    }
    if (cur.size >= 2) groups += cur.toSeq
    groups.filter(_.size >= 2).toSeq
  }

  /** Execute one planned group (a worker's unit, compaction_worker.go):
    * rewrite exactly those fragments into ~targetRows-sized ones. Safe to
    * run concurrently with other groups' workers — disjoint rewrites rebase;
    * racing the SAME group surfaces a conflict. */
  def compactGroup(fragmentIds: Seq[Long], targetRows: Long = 1 << 20): Unit = {
    val ids = fragmentIds.toSet
    val frags = m.fragments.filter(f => ids(f.id))
    require(frags.size == ids.size, "plan is stale: fragment(s) gone")
    rewriteFragments(frags, "compact")(
      _.repartition(partsFor(frags, targetRows)))
  }

  /** Parts for rewriting `frags` into ~`targetRows`-row fragments. */
  private def partsFor(frags: Seq[Fragment], targetRows: Long): Int = {
    val total = frags.map(_.rowCount).sum
    math.max(1, (total / targetRows).toInt +
      (if (total % targetRows > 0) 1 else 0))
  }

  /** One rowid-preserving Rewrite commit replacing `frags` with their rows
    * as laid out by `layout` (the compaction and layout ops). */
  private def rewriteFragments(frags: Seq[Fragment], operation: String)(
      layout: DataFrame => DataFrame): Unit = {
    val laid = layout(readFragments(m, frags, withRowId = true))
    commitRewrite(OpKind.Rewrite, frags.map(_.id).toSet,
      stageFragments(toPhysicalPreservingRowId(laid, m), m)._1, operation)
  }

  /** Plan + execute all groups with `parallelism` workers (the
    * coordinator loop). Returns the number of groups compacted. */
  def compactAll(targetRows: Long = 1 << 20, parallelism: Int = 2): Int = {
    val plan = planCompaction(targetRows)
    if (plan.isEmpty) return 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, parallelism))
    try {
      // one handle per worker: a LakeDataset instance's manifest pointer is
      // not thread-safe, and separate handles is exactly the multi-process
      // worker shape the commit protocol coordinates
      val futures = plan.map(g => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          LakeDataset.open(spark, root).compactGroup(g, targetRows)
      }))
      futures.foreach(_.get())
      refresh()
      plan.size
    } finally pool.shutdown()
  }

  /** Garbage-collect data files referenced by no retained manifest: keep the
    * newest `keepVersions` manifests (plus every tagged version), delete the
    * rest and any fragment file only they reference (Delta VACUUM shape;
    * also reaps stage leftovers from failed/rebased commits). Returns the
    * number of files deleted.
    *
    * `graceMs` (Delta VACUUM's retention model): files whose mtime is within
    * the window are kept even when unreferenced, so a concurrent writer
    * mid-commit (fragments staged/moved but manifest not yet published, or a
    * pending [[stageAppend]]) never has its data deleted out from under it.
    * Pass 0 only when no other writer can exist (tests, single-process). */
  def vacuum(keepVersions: Int = 2,
      graceMs: Long = DefaultVacuumGraceMs): Int = {
    val all = versions
    val tagged = tags.values.toSet
    val keep = (all.takeRight(keepVersions).toSet ++ tagged + m.version)
    val namespaces = VersionLog.namespaces(io, rootPath)
    // branches share data files: every version of every other namespace
    // is live w.r.t. this vacuum
    val keptManifests = keep.toSeq.sorted.map(log.manifest) ++
      namespaces.filterNot(_.dir == log.dir)
        .flatMap(ns => ns.slims.map(ns.decode))
    // pending detached txns reference staged files too — not garbage
    val referenced =
      (keptManifests.flatMap(_.fragments.map(f => fileName(f.file))) ++
        listDetached().flatMap(_.fragments.map(f => fileName(f.file)))).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // a file gone since the listing is not deleted; any other failure to
    // stat it propagates
    def oldEnough(p: Path): Boolean =
      try io.lastModifiedMs(p) <= cutoff
      catch { case _: java.io.FileNotFoundException |
          _: java.nio.file.NoSuchFileException => false }
    var deleted = 0
    // drop unreferenced data files older than the grace window
    io.listNames(dataDir).foreach { n =>
      val p = dataDir.resolve(n)
      val isFrag = n.startsWith("frag-") && n.endsWith(".parquet")
      if (((isFrag && !referenced(n)) || n.startsWith("stage-")) && oldEnough(p)) {
        io.deleteRecursive(p)
        deleted += 1
      }
    }
    // drop unreferenced deletion-vector files older than the grace window
    val dvRoot = rootPath.resolve("_deletes")
    if (io.exists(dvRoot)) {
      val refDv = keptManifests.flatMap(_.deletionFiles)
        .map(fileName).toSet
      io.listNames(dvRoot).foreach { n =>
        val p = dvRoot.resolve(n)
        if (!refDv(n) && oldEnough(p)) {
          io.deleteRecursive(p)
          deleted += 1
        }
      }
    }
    // drop unreferenced bloom sidecars older than the grace window
    if (io.exists(bloomDir)) {
      val refBlooms = keptManifests
        .flatMap(_.fragments.flatMap(_.blooms.values)).map(fileName).toSet
      io.listNames(bloomDir).foreach { n =>
        val p = bloomDir.resolve(n)
        if (!refBlooms(n) && oldEnough(p)) {
          io.delete(p); deleted += 1
        }
      }
    }
    // drop unretained manifests
    all.filterNot(keep).foreach(v => io.delete(log.file(v)))
    // drop fragment-list chunks no surviving version references (manifest-
    // list split); the grace window covers a chunk published just before
    // its commit lands
    val chunksDir = VersionLog.chunksDir(rootPath)
    if (io.exists(chunksDir)) {
      // the chunk store is shared by every namespace — liveness must scan
      // main + all branch manifest dirs
      val refChunks = namespaces.flatMap(_.slims)
        .flatMap(_.chunkFiles.map(_.file)).toSet
      io.listNames(chunksDir).foreach { n =>
        val p = chunksDir.resolve(n)
        if (!refChunks(n) && oldEnough(p)) {
          io.delete(p); deleted += 1
        }
      }
    }
    deleted
  }

  // ------------------------------------------------------------- internals

  private def rootPath: Path = new Path(root)
  private[lake] def rootAbs: Path = rootPath
  private[lake] def dataDir: Path = rootPath.resolve("data")
  private def bloomDir: Path =
    rootPath.resolve("_indexes").resolve("bloom")

  // Bloom sidecars are immutable once written; cache deserialized filters
  // per handle so repeated point-lookup planning doesn't re-read files.
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.BloomFilter]
  private def loadBloom(rel: String): graft.functions.BloomFilter =
    bloomCache.computeIfAbsent(rel, r =>
      graft.functions.BloomFilter.deserialize(
        io.readBytes(rootPath.resolve(r))))

  /** The one commit path: every manifest change of this dataset goes
    * through here (reference storage2/commit.go:22-25 + conflict.go).
    *  - `plan` reads the current `m` (it may stage files, as appends do to
    *    claim fresh rowids) and returns the next manifest; returning `m`
    *    itself commits nothing. A [[CommitConflictException]] raised by
    *    `plan` means the plan is stale and fails the operation at once.
    *  - The version, parent, timestamp, operation, touched fragment ids and
    *    `maxFragmentId` are stamped here; the result is published through
    *    `commitHandler`, the version file's create-if-absent swap.
    *  - Only a lost publish retries: refresh, check every intervening
    *    commit against the conflict matrix, and re-run `plan` —
    *    [[CommitAttempts]] attempts in all.
    * `touched` is by-name so the stamp and the matrix check see the ids of
    * the manifest the attempt planned against (a rebase over a compaction
    * replaces fragment ids). Returns false when `plan` committed nothing. */
  private def commitOp(kind: OpKind.Value, operation: String,
      touched: => Set[Long] = Set.empty)(plan: => Manifest): Boolean = {
    @scala.annotation.tailrec
    def attempt(left: Int): Boolean = {
      val next = plan
      if (next eq m) return false
      require(!partial,
        "this handle was opened chunk-pruned (openPruned) and holds a partial " +
          "fragment list; committing would drop the pruned fragments — " +
          "use LakeDataset.open for writes")
      val (mat, content) = LakeDataset.encodeManifest(io, rootPath, next.copy(
        version = m.version + 1,
        maxFragmentId = (next.maxFragmentId +: next.fragments.map(_.id)).max,
        parentVersion = Some(m.version),
        createdMs = System.currentTimeMillis(),
        operation = operation,
        touchedFragmentIds = touched.toSeq.sorted),
        parent = Some(m), chunkSize = manifestChunkSize,
        threshold = manifestChunkThreshold)
      val published =
        try {
          commitHandler.publish(log.file(mat.version), content)
          true
        } catch { case _: CommitConflictException if left > 1 => false }
      if (published) { m = mat; true }
      else {
        val base = m.version
        refresh()
        checkIntervening(base, kind, touched)
        attempt(left - 1)
      }
    }
    attempt(CommitAttempts)
  }

  /** Commit a copy-on-write rewrite (delete/update/compact/merge): replace
    * `touchedIds` with `newFrags`. A compatible concurrent winner (see
    * [[commitOp]]) is rebased over: untouched fragments come from the
    * winner, new fragment ids are renumbered past its own. Every attempt
    * first checks that the fragments this rewrite replaces still exist —
    * a plan whose staged state predates another rewrite of the same
    * fragments (e.g. a detached delete after a live delete) would
    * otherwise silently resurrect rows, a lost update the version-file
    * race alone cannot catch when commits are sequential on one handle. */
  private[lake] def commitRewrite(kind: OpKind.Value, touchedIds: Set[Long],
      newFrags: Seq[Fragment], op: String, nextRowIdOpt: Option[Long] = None,
      extraProps: Map[String, String] = Map.empty): Unit =
    commitOp(kind, op, touchedIds) {
      requireUnrewritten(touchedIds)
      m.copy(
        fragments = m.fragments.filterNot(f => touchedIds(f.id)) ++
          numbered(newFrags),
        nextRowId = math.max(m.nextRowId, nextRowIdOpt.getOrElse(m.nextRowId)),
        properties = m.properties ++ extraProps)
    }

  /** Stale-plan check: every fragment in `ids` is still in `m`. */
  private def requireUnrewritten(ids: Set[Long]): Unit = {
    val gone = ids -- m.fragments.map(_.id)
    if (gone.nonEmpty)
      throw new CommitConflictException(
        s"fragments ${gone.toSeq.sorted.mkString(",")}" +
          " were rewritten since this operation was planned")
  }

  /** The one place new fragments get their ids: after `m.maxFragmentId`.
    * Staging numbers from the same base, so on a first attempt this keeps
    * the staged ids; on a retry it moves them past a winner's fragments. */
  private def numbered(frags: Seq[Fragment]): Seq[Fragment] =
    frags.zipWithIndex.map { case (f, i) =>
      f.copy(id = m.maxFragmentId + 1 + i)
    }

  /** Matrix-check every committed txn in (base, current]. */
  private def checkIntervening(base: Long, kind: OpKind.Value,
      touched: Set[Long]): Unit =
    (base + 1 to m.version).foreach { v =>
      val w = log.slim(v)
      if (conflicts(kind, touched, kindOf(w.operation),
          w.touchedFragmentIds.toSet))
        throw new CommitConflictException(
          s"$kind conflicts with committed '${w.operation}' (v$v)")
    }

  /** Fragments whose [min,max] stats may satisfy the predicate (zonemap
    * skipping; conservative — unknown shapes keep the fragment).
    *
    * Index selector disposition (reference index_selector.go:36-170):
    * equality → bloom + value-set + zonemap; IN → per-value equality
    * probes; ranges → zonemaps (made effective by [[optimizeLayout]]'s
    * disjoint sorted ranges — the btree role as physical layout). The
    * reference's rtree maps to the same machinery: a fragment's per-column
    * min/max IS its bounding box, so a spatial intersects-predicate over
    * (x, y) columns prunes as the conjunction of two range probes; no
    * separate tree structure is needed at fragment granularity. */
  def pruneFragments(man: Manifest, predicate: String): Seq[Fragment] =
    pruneFragments(man, parsePredicate(spark, predicate))

  private[lake] def pruneFragments(man: Manifest,
      where: CExpr): Seq[Fragment] =
    man.fragments.filter(statTest(man, where))

  /** Chunk-granularity pruning over ChunkRef aggregate stats — the same
    * probes as [[pruneFragments]], applied to a pseudo-fragment built from
    * each chunk's min-of-mins/max-of-maxes. A ref without stats (legacy) is
    * always kept. Used by [[LakeDataset.openPruned]] to decide which chunk
    * files to read AT ALL. */
  private[lake] def pruneChunks(man: Manifest, refs: Seq[ChunkRef],
      where: CExpr): Seq[ChunkRef] = {
    val mayMatch = statTest(man, where)
    // rowCount = the chunk's TOTAL ROWS (ref.rows; 0 = legacy-unknown, which
    // the IS NOT NULL probe treats as keep), not its fragment count
    refs.filter(ref => ref.stats.isEmpty ||
      mayMatch(Fragment(-1L, ref.file, ref.rows, ref.stats)))
  }

  /** The predicate, literals coerced to their columns' types, compiled by
    * [[ZoneMaps.mayMatch]] into one fragment test. */
  private def statTest(man: Manifest, where: CExpr): Fragment => Boolean = {
    val byName = man.fields.map(f => f.name -> f).toMap
    ZoneMaps.mayMatch(coerceLiterals(where, byName), fieldOf(byName),
      bloomMayContain)
  }

  /** A top-level column reference's field; a nested one (`s.x`) has none. */
  private def fieldOf(byName: Map[String, FieldDef])(attr: CExpr)
      : Option[FieldDef] = attr match {
    case UnresolvedAttribute(Seq(name)) => byName.get(name)
    case _ => None
  }

  /** `man`'s live rows where `where` holds: fragments its stats rule out
    * are never opened, and the rest are filtered row by row. */
  private[lake] def readWhere(man: Manifest, where: Option[CExpr],
      withRowId: Boolean): DataFrame = {
    val df = readFragments(man,
      where.fold(man.fragments)(pruneFragments(man, _)), withRowId)
    where.fold(df)(w => df.filter(GraftSqlShims.column(w)))
  }

  /** The predicate is UNRESOLVED — no analyzer coercion ever runs —
    * so `ts >= '2026-01-01'` arrives with a STRING literal while the stat
    * is epoch micros. Cast every literal compared against a known column to
    * that column's declared type up front (one pass per predicate, not per
    * fragment). The engine casts a string literal to the column's type as
    * well; one whose cast fails stays as written, so its conjunct prunes
    * nothing and the engine's own evaluation decides (an error under ANSI
    * mode, no row without it). Any other literal compares in the wider of
    * the two types, so only an exact cast may stand in for it (1.5 to
    * BIGINT is 1: not exact), and never against a string column, which the
    * engine casts to the literal's type instead ('05' = 5). A literal left
    * as-is decides nothing: [[ZoneMaps]] keeps the fragment. */
  private def coerceLiterals(e: CExpr,
      byName: Map[String, FieldDef]): CExpr = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def coerce(attr: CExpr, l: Literal): Literal =
      fieldOf(byName)(attr).map(f => DataType.fromJson(f.dataType)) match {
        case Some(t) if t != l.dataType && l.value != null &&
            Cast.canTryCast(l.dataType, t) =>
          val v = Cast(l, t, tz, EvalMode.TRY).eval(null)
          val exact = v != null &&
            Cast(Literal(v, t), l.dataType, tz, EvalMode.TRY).eval(null) ==
              l.value
          if (v != null && l.dataType == StringType || exact && t != StringType)
            Literal(v, t)
          else l
        case _ => l
      }
    e transformUp {
      case EqualTo(a, l: Literal) => EqualTo(a, coerce(a, l))
      case GreaterThan(a, l: Literal) => GreaterThan(a, coerce(a, l))
      case GreaterThanOrEqual(a, l: Literal) =>
        GreaterThanOrEqual(a, coerce(a, l))
      case LessThan(a, l: Literal) => LessThan(a, coerce(a, l))
      case LessThanOrEqual(a, l: Literal) => LessThanOrEqual(a, coerce(a, l))
      case in @ In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        in.copy(list = vs.map(v => coerce(a, v.asInstanceOf[Literal])))
    }
  }

  /** Visible-for-tests: file count scanned for a filter. */
  def prunedFileCount(predicate: String): Int =
    pruneFragments(m, predicate).size

  /** Equality-predicate bloom probe (the index-selector rule: equality →
    * bloom, ranges → zonemaps). The literal, already of the field's type,
    * is hashed exactly as the build job hashed column values (xxhash64 seed
    * 42), so probe and index agree bit-for-bit. A fragment without a bloom
    * for the field is kept. */
  private def bloomMayContain(frag: Fragment, f: FieldDef,
      l: Literal): Boolean =
    frag.blooms.get(f.id.toString).forall { rel =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(l))
        .eval(null).asInstanceOf[Long]
      loadBloom(rel).mightContain(h)
    }

  /** (fragment, matchedRowCount) for fragments with ≥1 row where `where`
    * holds: the stats prune the candidates, then one job counts their
    * matches. */
  private def matchedFragments(where: CExpr): Seq[(Fragment, Long)] = {
    val candidates = pruneFragments(m, where)
    if (candidates.isEmpty) return Nil
    val counts = readFragments(m, candidates, withRowId = false,
        withFileName = true)
      .filter(GraftSqlShims.column(where))
      .groupBy("_file").agg(count(lit(1)).as("n"))
      .collect().map(r => (fileName(r.getString(0)), r.getLong(1))).toMap
    candidates.flatMap(f => counts.get(fileName(f.file)).map(n => (f, n)))
  }

  /** Read given fragments with logical names (+ optional `_rowid`),
    * subtracting the manifest's deletion vectors (merge-on-read: an
    * anti-join against the deleted-rowid files — typically broadcast-sized,
    * and absent entirely when no DV deletes happened). */
  private[lake] def readFragments(man: Manifest, frags: Seq[Fragment],
      withRowId: Boolean, withFileName: Boolean = false): DataFrame = {
    val logical = logicalSchema(man)
    if (frags.isEmpty) {
      var s = if (withRowId) logical.add(RowIdCol, LongType) else logical
      if (withFileName) s = s.add("_file", StringType)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), s)
    }
    val phys = physicalSchema(man)
    val files = frags.map(f => rootPath.resolve(f.file).toString)
    // input_file_name is captured on the single-source scan BEFORE any DV
    // anti-join introduces a second source
    val raw0 = spark.read.schema(phys).parquet(files: _*)
    val raw =
      if (withFileName) raw0.withColumn("_file", input_file_name()) else raw0
    val live =
      if (man.deletionFiles.isEmpty) raw
      else {
        val dv = spark.read.parquet(
          man.deletionFiles.map(f => rootPath.resolve(f).toString): _*)
        raw.join(dv, Seq(RowIdCol), "left_anti")
      }
    val out = man.fields.map(f => col(physName(f.id)).as(f.name)) ++
      (if (withRowId) Seq(col(RowIdCol)) else Nil) ++
      (if (withFileName) Seq(col("_file")) else Nil)
    live.select(out: _*)
  }

  /** TIMESTAMP (with local-time-zone) fields render zonemap / value-set
    * stats as epoch micros — session-timezone-independent. NTZ timestamps,
    * dates and everything else cast to string zone-independently already. */
  private def isTimestampField(f: FieldDef): Boolean =
    DataType.fromJson(f.dataType) == TimestampType

  /** How a value-set entry for field `fid` is rendered at index-build time;
    * [[ZoneMaps.decoder]] reads entries back the same way. */
  private def valueSetRender(man: Manifest, fid: Int): Column = {
    val f = man.fields.find(_.id == fid).get
    if (isTimestampField(f)) unix_micros(col(physName(fid))).cast("string")
    else col(physName(fid)).cast("string")
  }

  /** Logical df → physical columns (cast + rename to f<id>). Column lookup
    * uses the session resolver (case-insensitive by default), matching how
    * Spark itself resolves `col(name)` against the frame. */
  private def toPhysical(df: DataFrame, man: Manifest): DataFrame = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val missing = man.fields.map(_.name)
      .filterNot(n => df.columns.exists(resolver(_, n)))
    require(missing.isEmpty, s"append missing columns: $missing")
    withCheckConstraints(df, man).select(man.fields.map(f =>
      field(f.name).cast(DataType.fromJson(f.dataType)).as(physName(f.id))): _*)
  }

  private def toPhysicalPreservingRowId(df: DataFrame, man: Manifest): DataFrame =
    withCheckConstraints(df, man).select(man.fields.map(f =>
      field(f.name).cast(DataType.fromJson(f.dataType)).as(physName(f.id)))
      :+ col(RowIdCol): _*)

  /** Inline CHECK-constraint enforcement (Delta's CheckInvariant shape):
    * each declared constraint becomes a row-level `assert_true` inside
    * the write job itself — a violating row aborts the write BEFORE any
    * commit, with zero extra data passes. Applied on the logical frame,
    * so constraint SQL uses logical column names, and at every staging
    * chokepoint: append, overwrite, update SET values, merge, rewrites. */
  private def withCheckConstraints(df: DataFrame, man: Manifest): DataFrame =
    checkConstraintsOf(man).foldLeft(df) { case (d, (name, sql)) =>
      // SQL CHECK semantics: NULL evaluates as PASS (unknown ≠ violation),
      // hence the inner coalesce-to-true before assert_true
      d.where(coalesce(
        assert_true(coalesce(expr(sql), lit(true)),
          lit(s"CHECK constraint '$name' violated: $sql")),
        lit(true)))
    }

  private def checkConstraintsOf(man: Manifest): Seq[(String, String)] =
    man.properties.toSeq.collect {
      case (k, v) if k.startsWith("constraint.check.") =>
        (k.stripPrefix("constraint.check."), v)
    }.sortBy(_._1)

  /** Declare a CHECK constraint (reference table_constraint.go enforces
    * NOT NULL/PK on its SQL tables; this is the lake-table analogue,
    * Delta `ALTER TABLE ADD CONSTRAINT` parity). Existing rows are
    * validated FIRST — a constraint the current data violates is refused
    * — then the declaration commits as a metadata-only schema-op; every
    * later write enforces it inline. */
  def addCheckConstraint(name: String, constraintSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"), s"invalid constraint name '$name'")
    val bad = read().filter(!expr(constraintSql)).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"existing data violates CHECK '$name' ($constraintSql): ${bad.head}")
    setProperties(Map(s"constraint.check.$name" -> constraintSql))
  }

  def dropCheckConstraint(name: String): Unit =
    removeProperties(Seq(s"constraint.check.$name"))

  /** Declared CHECK constraints, name → SQL. */
  def checkConstraints: Map[String, String] = checkConstraintsOf(m).toMap

  /** Declare an ENFORCED primary key (reference storage/index.go:19-61 +
    * table_constraint.go check every insert against the PK index; the
    * catalog-table door — ddl.Engine.insertInto — already does this for
    * SQL tables, this is the lake-dataset analogue). Existing rows are
    * validated unique and non-null FIRST, then the declaration commits as
    * metadata; every later [[append]] probes its batch against the table
    * through the stat-pruned point-lookup path — the zonemap/bloom/
    * value-set fragment stats ARE the index, so a probe of k keys opens
    * only the fragments that may hold them, not the table. Same
    * single-writer caveat as the reference's engine: two concurrent
    * appends of one key can both pass the probe (no table lock).
    * UPDATEs are deliberately not probed — parity with the reference,
    * whose VerifyUpdateConstraints checks only NOT NULL
    * (storage/table.go:785-800); uniqueness is an insert-door check in
    * both engines. */
  def setPrimaryKey(cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "empty primary key")
    // the declaration persists comma-joined; refuse the separator rather
    // than silently re-parsing a 'a,b'-named column as two keys later
    cols.foreach(c => require(!c.contains(","),
      s"primary key column name may not contain ',' ($c)"))
    cols.foreach(c => require(m.fields.exists(_.name == c),
      s"primary key column $c does not exist"))
    val nulls = read()
      .filter(cols.map(field(_).isNull).reduce(_ || _)).limit(1).collect()
    if (nulls.nonEmpty) throw new IllegalArgumentException(
      s"existing data violates PRIMARY KEY ($cols): null key ${nulls.head}")
    val dup = read().groupBy(cols.map(field): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"existing data violates PRIMARY KEY ($cols): duplicate ${dup.head}")
    setProperties(Map(LakeDataset.PropPrimaryKey -> cols.mkString(",")))
  }

  def dropPrimaryKey(): Unit =
    removeProperties(Seq(LakeDataset.PropPrimaryKey))

  /** Declared primary key columns (empty = none). */
  def primaryKey: Seq[String] =
    m.properties.get(LakeDataset.PropPrimaryKey)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Max distinct single-column keys inlined as a pushed IN list for the
    * existence probe; beyond this (or for composite keys) the probe is a
    * distributed semi-join of the batch keys against the key columns. */
  private val MaxInlinePkProbe = 1000

  /** PK gate for the insert doors: pins the batch (the rows checked ARE
    * the rows written), rejects null keys and in-batch duplicates, and
    * with `probe` probes the table for the incoming keys; then runs
    * `write` on the pinned batch and unpins it. An overwrite replaces
    * every row, so it checks the batch alone (`probe = false`). Runs
    * inside the commit plan so a rebase re-probes against the rebased
    * snapshot. */
  private def withPrimaryKeyChecked[A](df: DataFrame, probe: Boolean = true)(
      write: DataFrame => A): A = {
    val checked = enforcePrimaryKey(df, probe)
    try write(checked)
    finally if (checked ne df) graft.Materialize.unpin(checked)
  }

  private def enforcePrimaryKey(df: DataFrame, probe: Boolean): DataFrame = {
    val pk = primaryKey
    if (pk.isEmpty) return df
    val batch = df.localCheckpoint(true)
    val nullKey = batch
      .filter(pk.map(field(_).isNull).reduce(_ || _)).limit(1)
    if (!nullKey.isEmpty) throw new IllegalArgumentException(
      s"PRIMARY KEY violation: null key value on $pk")
    val dupIn = batch.groupBy(pk.map(field): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1)
    if (!dupIn.isEmpty) throw new IllegalArgumentException(
      s"PRIMARY KEY violation: duplicate key within the batch on $pk")
    if (!probe) return batch
    val keys = batch.select(pk.map(field): _*).distinct()
    // a single small key set: one IN predicate prunes fragments by
    // zonemap/bloom/value-set stats FIRST — a probe of k keys opens only
    // the fragments that may hold them (the lake_pointlookup machinery),
    // not the table. Everything else takes the distributed semi-join.
    val inline: Option[DataFrame] =
      if (pk.size == 1) {
        val vals = keys.limit(MaxInlinePkProbe + 1).collect().map(_.get(0))
        if (vals.length <= MaxInlinePkProbe && vals.nonEmpty) {
          val dt = keys.schema.head.dataType
          val probe = In(UnresolvedAttribute(Seq(pk.head)),
            vals.toSeq.map(Literal.create(_, dt)))
          val frags = pruneFragments(m, probe)
          if (frags.isEmpty) Some(spark.emptyDataFrame.limit(1))
          else Some(readFragments(m, frags, withRowId = false)
            .filter(GraftSqlShims.column(probe)).limit(1))
        } else None
      } else None
    val clash = inline.getOrElse(
      read().select(pk.map(field): _*).join(keys, pk, "left_semi").limit(1))
    if (!clash.isEmpty) throw new IllegalArgumentException(
      s"PRIMARY KEY violation: key already present on $pk")
    batch
  }

  /** Write a physical-schema df as fragment files; returns the fragments
    * (with per-file zonemap stats from one re-read job) and the max rowid
    * written. */
  private def stageFragments(physDf: DataFrame,
      man: Manifest): (Seq[Fragment], Long) = {
    val stage = dataDir.resolve(s"stage-${UUID.randomUUID()}")
    try {
      physDf.write
        // zstd: ~2× better ratio than snappy at comparable scan speed — at
        // 100 TB the scan is IO-bound, so smaller files win twice (storage +
        // read). Bounded rows/file keeps copy-on-write rewrite units and
        // zonemap granularity predictable regardless of input partitioning.
        .option("compression", "zstd")
        .option("maxRecordsPerFile", 1 << 20)
        .parquet(stage.toString)
    } catch {
      case e: Throwable =>
        // a failed write leaves a stage-*/_temporary tree; drop it so
        // aborted operations don't accumulate dead staging dirs. Killed
        // tasks can still be flushing _temporary files while we delete —
        // FileOutputCommitter races its own cleanup the same way — so
        // retry until the tree stays gone.
        var attempts = 0
        while (attempts < 5 && io.exists(stage)) {
          try io.deleteRecursive(stage)
          catch { case scala.util.control.NonFatal(_) => () }
          attempts += 1
          if (io.exists(stage)) Thread.sleep(200L * attempts)
        }
        throw e
    }
    val parts = io.listNames(stage)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted
      .map(stage.resolve)
    adoptStagedFiles(parts, man, Some(stage))
  }

  /** Stage logical `df` under fresh rowids claimed from `man.nextRowId`:
    * the new fragments and the `nextRowId` past them. */
  private def stageFresh(df: DataFrame,
      man: Manifest): (Seq[Fragment], Long) = {
    val (frags, maxRid) = stageFragments(toPhysical(df, man)
      .withColumn(RowIdCol, lit(man.nextRowId) + monotonically_increasing_id()),
      man)
    (frags, math.max(man.nextRowId, maxRid + 1))
  }

  /** `man` with `df` appended under fresh rowids. */
  private def appended(man: Manifest, df: DataFrame): Manifest = {
    val (frags, nextRowId) = stageFresh(df, man)
    man.copy(fragments = man.fragments ++ frags, nextRowId = nextRowId)
  }

  /** `man` with all its data replaced by `df` under fresh rowids. */
  private def overwritten(man: Manifest, df: DataFrame): Manifest = {
    val (frags, nextRowId) = stageFresh(df, man)
    replacedBy(man, frags).copy(nextRowId = nextRowId)
  }

  /** `man` with all its data replaced by `frags`: the tombstones of the
    * replaced rows go with them. */
  private def replacedBy(man: Manifest, frags: Seq[Fragment]): Manifest =
    man.copy(fragments = frags, deletionFiles = Nil, deletedRowCount = 0L)

  /** Copy-on-write rewrite with job-level chunking (SCALE.md "what breaks
    * first" #1): a predicate that touches most of a 100 TB dataset must not
    * rewrite it in ONE Spark job — staging temp space, shuffle state, and
    * the failure blast radius all scale with the touched set. Touched
    * fragments are greedily packed into groups of at most
    * `spark.graft.dml.rewriteGroupRows` rows (default 2^28 ≈ 268M — tens of
    * GB per group at typical row widths; tests shrink it to exercise the
    * split); each group is read, rewritten by `rewrite`, and staged as its
    * OWN Spark job (with one driver-level retry for transient job faults),
    * and the results land in a SINGLE atomic commit, so readers never see a
    * partial update. On abort, already-staged group files are deleted
    * eagerly (they are unreferenced by any manifest, so vacuum would also
    * collect them). Each group stages against the same base manifest, so
    * fragment ids collide across groups until the commit renumbers them
    * ([[numbered]]). */
  private def stageRewriteGroups(touched: Seq[Fragment],
      rewrite: Seq[Fragment] => DataFrame,
      // stage against a DIFFERENT manifest than the read side when the
      // rewrite also changes the schema (e.g. dropNestedField): the staged
      // physical projection must use the POST-change field types
      stageMan: Manifest = null): Seq[Fragment] = {
    val target = Option(stageMan).getOrElse(m)
    val maxRows = spark.conf.get("spark.graft.dml.rewriteGroupRows",
      (1L << 28).toString).toLong
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Fragment])
    var rows = 0L
    touched.foreach { f =>
      if (groups.last.nonEmpty && rows + f.rowCount > maxRows) {
        groups += scala.collection.mutable.ArrayBuffer.empty[Fragment]
        rows = 0L
      }
      groups.last += f
      rows += f.rowCount
    }
    val staged = scala.collection.mutable.ArrayBuffer.empty[Fragment]
    try {
      groups.filter(_.nonEmpty).foreach { g =>
        val frags =
          try stageFragments(
            toPhysicalPreservingRowId(rewrite(g.toSeq), target), target)._1
          catch { case scala.util.control.NonFatal(_) =>
            stageFragments(
              toPhysicalPreservingRowId(rewrite(g.toSeq), target), target)._1
          }
        staged ++= frags
      }
    } catch {
      case e: Throwable =>
        staged.foreach(f =>
          try io.delete(rootPath.resolve(f.file))
          catch { case scala.util.control.NonFatal(_) => () })
        throw e
    }
    staged.toSeq
  }

  /** Adopt already-written physical-schema parquet files (from a staging
    * dir) as fragments: move them to `data/frag-*` names, compute zonemap /
    * bloom / value-set stats with one re-read job, return the fragments and
    * the max rowid seen. Shared by the DataFrame write path
    * ([[stageFragments]]) and the DSv2 row-level-operation write, whose
    * executors write the staged files directly. */
  private[lake] def adoptStagedFiles(parts: Seq[Path], man: Manifest,
      cleanupDir: Option[Path] = None): (Seq[Fragment], Long) = {
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val name = s"frag-${UUID.randomUUID()}-$i.parquet"
      io.move(p, dataDir.resolve(name))
      name
    }
    cleanupDir.foreach(stage => io.deleteRecursive(stage))
    if (moved.isEmpty) return (Nil, man.nextRowId - 1)

    // Stats from the staged files' parquet FOOTERS — a driver-side metadata
    // read instead of a second full Spark job over just-written data (guide
    // §6: the re-scan doubled write IO at scale). Files whose footers can't
    // reproduce the scan rendering exactly (FooterStats doc) fall through to
    // the original scan job below; bloom/value-set tables always scan (those
    // aggregates need the data).
    val useFooters = man.bloomFields.isEmpty && man.valueSetFields.isEmpty &&
      spark.conf.get("spark.graft.stats.fromFooters", "true").toBoolean
    val footerByName: Map[String, FooterStats.FileStats] =
      if (!useFooters) Map.empty
      else {
        val hconf = spark.sessionState.newHadoopConf()
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        // footer reads are independent metadata IO — a sequential loop made
        // many-small-file commits SLOWER than the scan job it replaces
        // (measured: lake_spatial_* 0.8 → 3.0 s); bounded pool keeps the
        // driver from serializing on per-file open latency
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(16, moved.size)))
        try {
          moved.map { name =>
            name -> pool.submit(new java.util.concurrent.Callable[
                Option[FooterStats.FileStats]] {
              def call(): Option[FooterStats.FileStats] =
                FooterStats.tryRead(hconf, dataDir.resolve(name).toString,
                  man, zone)
            })
          }.flatMap { case (name, fut) => fut.get().map(name -> _) }.toMap
        } finally pool.shutdown()
      }
    val needScan = moved.filterNot(footerByName.contains)

    val phys = physicalSchema(man)
    if (man.bloomFields.nonEmpty) io.mkdirs(bloomDir)
    val bloomAggs = man.bloomFields.map { fid =>
      call_function("bloom_agg", xxhash64(col(physName(fid))),
        lit(man.bloomNumBits), lit(man.bloomNumHashes)).as(s"_bloom_$fid")
    }
    // distinct sets capped at max+1: an overflowing set comes back with
    // max+1 entries and is discarded (column not low-card in this file)
    val vsAggs = man.valueSetFields.map { fid =>
      slice(sort_array(collect_set(valueSetRender(man, fid))),
        1, man.valueSetMaxDistinct + 1).as(s"_vs_$fid")
    }
    val aggs = count(lit(1)).as("_cnt") +: max(col(RowIdCol)).as("_maxrid") +:
      (man.fields.flatMap { f =>
        val p = physName(f.id)
        // TIMESTAMP stats as epoch micros: a cast-to-string renders in the
        // WRITER session's timezone, and a reader probing in a different
        // zone would prune fragments that contain matches (silent wrong
        // results). Epoch micros are zone-independent and exact.
        val statCol =
          if (isTimestampField(f)) unix_micros(col(p)) else col(p)
        // -0.0 == 0.0, so min/max keep whichever zero came first: render
        // both as 0.0, as FooterStats does
        val signedZero = DataType.fromJson(f.dataType) match {
          case DoubleType | FloatType => true
          case _ => false
        }
        def render(bound: Column): Column =
          if (signedZero) when(bound === 0, "0.0").otherwise(bound.cast("string"))
          else bound.cast("string")
        Seq(render(min(statCol)).as(s"_min_${f.id}"),
          render(max(statCol)).as(s"_max_${f.id}"),
          sum(when(col(p).isNull, 1L).otherwise(0L)).as(s"_nulls_${f.id}"))
      } ++ bloomAggs ++ vsAggs)
    val statRows =
      if (needScan.isEmpty) Array.empty[Row]
      else spark.read.schema(phys)
        .parquet(needScan.map(n => dataDir.resolve(n).toString): _*)
        .groupBy(input_file_name().as("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    // base-name keyed (the old per-fragment endsWith .find was
    // O(files × files) driver work)
    val statByName = statRows.map(r => fileName(r.getString(0)) -> r).toMap
    var fragId = man.maxFragmentId
    var maxRid = man.nextRowId - 1
    val frags = moved.flatMap { name =>
      footerByName.get(name).filter(_.rows > 0).map { fs =>
        fragId += 1
        fs.maxRowId.foreach(r => maxRid = math.max(maxRid, r))
        Fragment(fragId, s"data/$name", fs.rows, fs.cols)
      }.orElse(if (footerByName.contains(name)) None // empty staged file
      else statByName.get(name).map { r =>
        fragId += 1
        if (!r.isNullAt(r.fieldIndex("_maxrid")))
          maxRid = math.max(maxRid, r.getLong(r.fieldIndex("_maxrid")))
        val stats = man.fields.map { f =>
          val mn = Option(r.getAs[String](s"_min_${f.id}"))
          val mx = Option(r.getAs[String](s"_max_${f.id}"))
          f.id.toString -> ColumnStats(mn, mx, r.getAs[Long](s"_nulls_${f.id}"))
        }.toMap
        val blooms = man.bloomFields.map { fid =>
          val sidecar = s"bloom-$fragId-f$fid-${UUID.randomUUID()}.bin"
          io.writeBytes(bloomDir.resolve(sidecar),
            r.getAs[Array[Byte]](s"_bloom_$fid"))
          fid.toString -> s"_indexes/bloom/$sidecar"
        }.toMap
        val vsets = man.valueSetFields.flatMap { fid =>
          val vs = r.getSeq[String](r.fieldIndex(s"_vs_$fid"))
          if (vs.size <= man.valueSetMaxDistinct)
            Some(fid.toString -> vs.toSeq)
          else None
        }.toMap
        Fragment(fragId, s"data/$name", r.getLong(r.fieldIndex("_cnt")), stats,
          blooms, vsets)
      })
    }
    (frags, maxRid)
  }

  /** Manifest-list split knobs (SCALE.md): above `threshold` fragments the
    * version JSON stops inlining the fragment list and spills it to
    * content-addressed chunk files, keeping commit IO O(delta). Session
    * confs so specs can exercise the split at toy scale. */
  private[lake] def manifestChunkThreshold: Int =
    spark.conf.get("spark.graft.manifestChunkThreshold", "65536").toInt
  private[lake] def manifestChunkSize: Int =
    spark.conf.get("spark.graft.manifestChunkSize", "8192").toInt
}

/** Durable uncommitted append (phase 1 of a detached transaction). */
final case class StagedAppend(fragments: Seq[Fragment], baseRowId: Long,
    maxRowId: Long)

/** Persisted detached transaction (reference detached_txn.go:23-330):
  * phase-1 work (staged fragment files + intent) recorded under
  * `_detached/<id>.json`, durable across process restarts, committed /
  * listed / cleaned up later. */
final case class DetachedTxn(
    id: String,
    op: String, // append | delete | overwrite
    fragments: Seq[Fragment],
    touchedFragmentIds: Seq[Long],
    baseRowId: Long,
    maxRowId: Long,
    matchedRows: Long,
    createdMs: Long)

object DetachedTxn {
  import org.json4s.DefaultFormats
  import org.json4s.jackson.Serialization
  implicit val formats: org.json4s.Formats = DefaultFormats
  def toJson(t: DetachedTxn): String = Serialization.writePretty(t)
  def fromJson(s: String): DetachedTxn = Serialization.read[DetachedTxn](s)
}

object LakeDataset {
  val RowIdCol = "_rowid"

  /** The top-level column named `name`, quoted so that a dot or a backtick
    * in it is part of the name rather than a path or a syntax error. */
  private[lake] def field(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Property recording an enforced primary key (see setPrimaryKey). */
  val PropPrimaryKey = "constraint.pk"

  /** Metadata-column name exposing the fragment file basename — the GROUP
    * identity runtime group filtering pushes back into row-level scans. */
  val FileCol = "_file"

  /** Operation kinds for the optimistic-commit conflict matrix (the
    * Lance-style matrix the reference implements, conflict.go:33-360).
    * Project = schema-shape ops (add/drop/rename/alter columns). */
  private[lake] object OpKind extends Enumeration {
    val Append, DeleteUpdate, DeleteDv, Rewrite, Merge, Overwrite,
      CreateIndex, Project = Value
  }

  private[lake] def kindOf(operation: String): OpKind.Value =
    operation.takeWhile(_ != '(') match {
      case "append" | "append_detached" | "append_stream" |
          "append_stream_dedup" | "create" =>
        OpKind.Append
      case "delete" | "update" | "update_mor" | "merge_mor" =>
        OpKind.DeleteUpdate
      // tombstone-only delete: no fragment content changes; commutes with
      // anything that preserves rowids (other DV deletes, compaction)
      case "delete_dv" => OpKind.DeleteDv
      case "compact" | "optimize_layout" | "optimize_layout_zorder" |
          "purge_deletes" => OpKind.Rewrite
      case "merge" => OpKind.Merge
      // schema-op + data-op in one commit: the schema-op row (appends and
      // data rewrites commute with it; overwrite/merge conflict)
      case "append_merge_schema" => OpKind.Project
      // nested-field ops rewrite EVERY fragment and change the struct
      // type in one commit: Overwrite semantics, so a racing append
      // (staged against the old struct shape) conflicts and re-stages
      // under the new schema instead of landing mixed-shape fragments
      case "overwrite" | "restore" | "shallow_clone" | "drop_nested_field" |
          "add_nested_field" | "rename_nested_field" => OpKind.Overwrite
      case "add_columns" | "drop_columns" | "rename_column" |
          "alter_column_type" | "set_properties" | "unset_properties" =>
        OpKind.Project
      case "create_bloom_index" | "create_valueset_index" =>
        OpKind.CreateIndex
      case _ => OpKind.Merge // unknown: strictest row
    }

  /** True iff `my` (in-flight, touching `myTouched` fragments) conflicts
    * with the already-committed `other`. Rows = current op, columns =
    * committed op; the Delete/Update–Rewrite cells conflict only on
    * touched-fragment overlap (conflict.go deleteDeleteConflict/
    * deleteRewriteConflict/rewriteRewriteConflict). Merge-vs-rewrite is
    * additionally refined by fragment overlap (conservative: the reference
    * allows it unconditionally after id remapping, which our rebase only
    * performs for disjoint sets). */
  private[lake] def conflicts(my: OpKind.Value, myTouched: Set[Long],
      other: OpKind.Value, otherTouched: Set[Long]): Boolean = {
    def overlap = myTouched.exists(otherTouched)
    my match {
      case OpKind.Overwrite => false
      case OpKind.Append => other match {
        case OpKind.Append | OpKind.DeleteUpdate | OpKind.DeleteDv |
            OpKind.Rewrite | OpKind.CreateIndex => false
        case _ => true
      }
      case OpKind.DeleteUpdate => other match {
        case OpKind.Append | OpKind.CreateIndex => false
        case OpKind.DeleteUpdate | OpKind.Rewrite => overlap
        // a committed tombstone delete survives a CoW rewrite of its
        // fragments: tombstones address stable rowids, and rewrites
        // preserve them, so the retained deletionFiles keep applying —
        // but be conservative when fragments overlap, like delete-delete
        case OpKind.DeleteDv => overlap
        case _ => true
      }
      // Tombstone-only delete (merge-on-read): fragment content is
      // untouched, rowid unions commute. It conflicts only with ops that
      // rewrite VALUES in its candidate fragments (the tombstones were
      // planned against the old values — deleteUpdateConflict), and with
      // the schema/overwrite family like any delete.
      case OpKind.DeleteDv => other match {
        case OpKind.Append | OpKind.CreateIndex | OpKind.DeleteDv => false
        // compaction/optimize/purge preserve rowids and values, so the
        // tombstones still address the same rows after them
        case OpKind.Rewrite => false
        case OpKind.DeleteUpdate => overlap
        case _ => true
      }
      case OpKind.Rewrite => other match {
        case OpKind.Append => false
        case OpKind.DeleteUpdate | OpKind.Rewrite => overlap
        // rowids survive this rewrite, so committed tombstones keep
        // applying to the rewritten fragments; a purge re-plans its fold
        // on every attempt, so it folds them rather than dropping them
        case OpKind.DeleteDv => false
        case _ => true
      }
      case OpKind.Merge => other match {
        case OpKind.Rewrite => overlap
        case _ => true
      }
      case OpKind.CreateIndex => other match {
        case OpKind.Overwrite => true
        case _ => false
      }
      case OpKind.Project => other match {
        case OpKind.Append | OpKind.DeleteUpdate | OpKind.DeleteDv |
            OpKind.Rewrite | OpKind.Project => false
        case _ => true
      }
    }
  }

  /** Publish attempts a commit gets (see `commitOp`). */
  private val CommitAttempts = 5

  /** Default vacuum retention: 7 days, Delta VACUUM's model. */
  val DefaultVacuumGraceMs: Long = 7L * 24 * 3600 * 1000

  private[lake] def physName(id: Int): String = s"f$id"
  private[lake] def fileName(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  private[lake] def logicalSchema(m: Manifest): StructType =
    StructType(m.fields.map(f =>
      StructField(f.name, DataType.fromJson(f.dataType), f.nullable)))

  private[lake] def physicalSchema(m: Manifest): StructType =
    StructType(m.fields.map(f =>
      StructField(physName(f.id), DataType.fromJson(f.dataType), nullable = true))
      :+ StructField(RowIdCol, LongType, nullable = true))

  /** Create a new dataset at `path` (fails if one exists). */
  def create(spark: SparkSession, path: String, schema: StructType): LakeDataset = {
    val io = LakeIO.forRoot(path, spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val log = VersionLog.init(io, root, path)
    io.mkdirs(root.resolve("data"))
    val fields = schema.fields.zipWithIndex.map { case (sf, i) =>
      FieldDef(i + 1, sf.name, sf.dataType.json, sf.nullable)
    }.toSeq
    val m = Manifest(1, fields, fields.size, Nil, 0, 0, None,
      System.currentTimeMillis(), "create")
    io.writeString(log.file(1), Manifest.toJson(m))
    new LakeDataset(spark, path, m)
  }

  /** True iff a dataset (≥1 committed manifest) exists at `path`. */
  def exists(path: String): Boolean =
    new VersionLog(LakeIO.forRoot(path), new Path(path), None).versions.nonEmpty

  /** Open the latest version of an existing dataset (main namespace). */
  def open(spark: SparkSession, path: String): LakeDataset =
    new LakeDataset(spark, path, VersionLog(spark, path, None).head)

  /** Writable handle on a branch's head (see createBranch). */
  def openBranch(spark: SparkSession, path: String,
      name: String): LakeDataset =
    new LakeDataset(spark, path, VersionLog(spark, path, Some(name)).head,
      partial = false, branch = Some(name))

  /** Read-only open that consults per-chunk aggregate stats BEFORE reading
    * chunk files: chunks whose min/max range a conjunct of `predicate`
    * excludes are never read or parsed, so open cost on a chunk-encoded
    * table scales with the chunks a query can touch, not the table
    * (SCALE.md "manifest-list split" tail gap; Iceberg's manifest-list
    * partition summaries). The returned handle carries only the surviving
    * fragments and REFUSES commits — writers must use [[open]]. Falls back
    * to a plain full open when the table isn't chunk-encoded, no predicate
    * is given, or nothing can be skipped. */
  def openPruned(spark: SparkSession, path: String,
      predicate: Option[String],
      branch: Option[String] = None): LakeDataset = {
    val log = VersionLog(spark, path, branch)
    openAt(spark, path, log, log.slim(log.latest),
      predicate.map(parsePredicate(spark, _)))
  }

  /** A caller's predicate text (a Spark SQL expression, a superset of the
    * reference filter DSL, filter_parser.go:15-270) as the expression
    * every lake path takes. Each string door parses once, here. */
  private[lake] def parsePredicate(spark: SparkSession, text: String): CExpr =
    spark.sessionState.sqlParser.parseExpression(text)

  /** A handle that reads `m`, a version of `log`'s namespace, and refuses
    * commits. */
  private[lake] def reader(spark: SparkSession, path: String, log: VersionLog,
      m: Manifest): LakeDataset =
    new LakeDataset(spark, path, m, partial = true, branch = log.branch)

  /** [[openPruned]] at `slim`, a version of `log`'s namespace. */
  private[lake] def openAt(spark: SparkSession, path: String, log: VersionLog,
      slim: Manifest, where: Option[CExpr]): LakeDataset = {
    def handle(chunks: Seq[ChunkRef]) = new LakeDataset(spark, path,
      log.decode(slim.copy(chunkFiles = chunks)),
      partial = chunks.size < slim.chunkFiles.size, branch = log.branch)
    if (slim.chunkFiles.isEmpty || where.isEmpty) handle(slim.chunkFiles)
    else {
      val probe = reader(spark, path, log, slim.copy(fragments = Nil))
      handle(probe.pruneChunks(slim, slim.chunkFiles, where.get))
    }
  }

  /** Read-only handle over the UNDECODED latest manifest: fields, version,
    * tags, refs and properties are all version-file data, so schema/metadata
    * resolution never pays the chunk decode of a large table. The handle
    * refuses commits, and on a chunk-encoded table its fragment list is
    * EMPTY — callers must not read data through it, only versions it
    * loads itself ([[changes]], [[readVersion]]). */
  private[graft] def openSlim(spark: SparkSession, path: String,
      branch: Option[String] = None): LakeDataset = {
    val log = VersionLog(spark, path, branch)
    reader(spark, path, log, log.slim(log.latest))
  }

  /** Latest committed version number alone — version-file listing, no
    * manifest parse or chunk decode. The streaming source polls this every
    * trigger; on a chunk-encoded table a full open per poll would decode
    * the whole fragment list just to read one number. */
  def latestVersion(spark: SparkSession, path: String,
      branch: Option[String] = None): Long =
    VersionLog(spark, path, branch).latest

  /** A pinned version's logical schema without chunk decode — fields are
    * version-file data (the streaming source's per-batch schema guard). */
  def schemaAtVersion(spark: SparkSession, path: String,
      v: Long, branch: Option[String] = None): StructType =
    logicalSchema(VersionLog(spark, path, branch).slim(v))

  // ---- manifest-list split (SCALE.md "Manifest-list split") -------------
  //
  // Past `threshold` fragments the version JSON carries ChunkRefs instead
  // of the inline fragment list; fragments live in immutable JSON-lines
  // chunk files under _manifests/chunks/, named by content hash. A commit
  // re-lists every parent chunk whose fragments are untouched (zero IO)
  // and writes only the delta as new chunks; the version file stays the
  // single atomic-swap unit, so the commit protocol and conflict matrix
  // are untouched. JSON-lines rather than parquet keeps a small commit
  // free of Spark jobs; a distributed planner can still `spark.read
  // .json` the chunk files (per-fragment rows) when fragment pruning
  // itself needs to leave the driver. [[VersionLog.decode]] reads them.

  /** Parent chunk grouping, recovered from the invariant that a decoded
    * manifest's fragment list is its chunks concatenated in order. */
  private[lake] def chunkGroups(man: Manifest): Seq[(ChunkRef, Seq[Fragment])] = {
    var rest = man.fragments
    man.chunkFiles.map { ref =>
      val (head, tail) = rest.splitAt(ref.count.toInt)
      rest = tail
      ref -> head
    }
  }

  /** Remove a dot-path from a (possibly nested) struct type; None when the
    * path doesn't resolve through struct fields. */
  private[lake] def dropPathFromStruct(st: StructType,
      path: List[String]): Option[StructType] = path match {
    case name :: Nil =>
      if (!st.fieldNames.contains(name)) None
      else Some(StructType(st.fields.filterNot(_.name == name)))
    case name :: rest =>
      st.fields.find(_.name == name).flatMap { sf =>
        sf.dataType match {
          case inner: StructType =>
            dropPathFromStruct(inner, rest).map(n2 =>
              StructType(st.fields.map(x =>
                if (x.name == name) x.copy(dataType = n2) else x)))
          case _ => None
        }
      }
    case Nil => None
  }

  /** Append a new field of type `dt` at a dot-path inside a struct; None
    * when the parent path doesn't resolve or the leaf already exists. */
  private[lake] def addPathToStruct(st: StructType, path: List[String],
      dt: DataType): Option[StructType] = path match {
    case name :: Nil =>
      if (st.fieldNames.contains(name)) None
      else Some(StructType(st.fields :+ StructField(name, dt)))
    case name :: rest =>
      st.fields.find(_.name == name).flatMap { sf =>
        sf.dataType match {
          case inner: StructType =>
            addPathToStruct(inner, rest, dt).map(n2 =>
              StructType(st.fields.map(x =>
                if (x.name == name) x.copy(dataType = n2) else x)))
          case _ => None
        }
      }
    case Nil => None
  }

  /** Type of the field at a dot-path inside a struct, if it resolves. */
  private[lake] def nestedFieldType(st: StructType,
      path: List[String]): Option[DataType] = path match {
    case name :: Nil => st.fields.find(_.name == name).map(_.dataType)
    case name :: rest =>
      st.fields.find(_.name == name).flatMap(_.dataType match {
        case inner: StructType => nestedFieldType(inner, rest)
        case _ => None
      })
    case Nil => None
  }

  /** Returns (the materialized manifest to keep in memory, the version-file
    * JSON to publish). Inline below `threshold`; chunked above, reusing
    * every parent chunk that is still ≥ half full and fully unchanged
    * (half-full floor bounds chunk-count growth at ≤ 2·fragments/size). */
  private[lake] def encodeManifest(io: LakeIO, root: Path, next: Manifest,
      parent: Option[Manifest], chunkSize: Int, threshold: Int)
      : (Manifest, String) = {
    import Manifest.formats
    if (next.fragments.size <= threshold) {
      val inline = next.copy(chunkFiles = Nil)
      (inline, Manifest.toJson(inline))
    } else {
      val nextById = next.fragments.iterator.map(f => f.id -> f).toMap
      val used = scala.collection.mutable.HashSet.empty[Long]
      val reused = parent.toSeq.flatMap(chunkGroups).filter { case (_, fs) =>
        fs.size >= (chunkSize + 1) / 2 &&
          fs.forall(f => nextById.get(f.id).contains(f)) &&
          { used ++= fs.map(_.id); true }
      }.map { case (ref, fs) =>
        // legacy refs predate chunk stats / row counts: fill from the
        // in-memory fragments so older tables gain chunk skipping on
        // their next commit
        var r = ref
        if (r.stats.isEmpty)
          r = r.copy(stats = ZoneMaps.chunkStats(next.fields, fs))
        if (r.rows == 0L) r = r.copy(rows = fs.map(_.rowCount).sum)
        r -> fs
      }
      val rest = next.fragments.filterNot(f => used.contains(f.id))
      val dir = VersionLog.chunksDir(root)
      io.mkdirs(dir)
      val fresh = rest.grouped(chunkSize).map { fs =>
        val content = fs.map(f =>
          org.json4s.jackson.Serialization.write(f)).mkString("\n")
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(content.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val name = s"c$digest.jsonl"
        val p = dir.resolve(name)
        if (!io.exists(p)) {
          // content-addressed: a concurrent writer of the same name wrote
          // the same bytes, so losing the publish race is success
          try io.publishAtomic(p, content)
          catch { case _: CommitConflictException => () }
        }
        ChunkRef(name, fs.size.toLong, ZoneMaps.chunkStats(next.fields, fs),
          rows = fs.map(_.rowCount).sum) -> fs
      }.toSeq
      val groups = reused ++ fresh
      val slim = next.copy(fragments = Nil, chunkFiles = groups.map(_._1))
      (next.copy(fragments = groups.flatMap(_._2),
        chunkFiles = slim.chunkFiles), Manifest.toJson(slim))
    }
  }
}

/** Fluent scanner (reference sdk/scanner.go: WithFilter/WithColumns/
  * WithLimit/WithOffset/WithRowId). `filter` is a Spark SQL expression
  * string — a strict superset of the reference's filter DSL. */
final case class Scanner(
    ds: LakeDataset,
    version: Option[Long],
    filter: Option[String],
    columns: Seq[String],
    limit: Option[Int],
    offset: Option[Int],
    rowId: Boolean,
    inOrder: Boolean) {

  /** Pin the scan to an older version (time travel without checkout). */
  def withVersion(v: Long): Scanner = copy(version = Some(v))
  def withFilter(f: String): Scanner = copy(filter = Some(f))
  def withColumns(cs: String*): Scanner = copy(columns = cs)
  def withLimit(n: Int): Scanner = copy(limit = Some(n))
  def withOffset(n: Int): Scanner = copy(offset = Some(n))
  def withRowId: Scanner = copy(rowId = true)
  /** Stable row-id order (reference ScanInOrder); implies withRowId. */
  def scanInOrder: Scanner = copy(rowId = true, inOrder = true)

  def build(): DataFrame = {
    val man = version
      .map(ds.log.manifest)
      .getOrElse(ds.manifest)
    var df = ds.readWhere(man,
      filter.map(LakeDataset.parsePredicate(ds.spark, _)), withRowId = rowId)
    if (inOrder)
      df = df.orderBy(org.apache.spark.sql.functions.col(LakeDataset.RowIdCol))
    if (columns.nonEmpty) {
      val cs = if (rowId) columns :+ LakeDataset.RowIdCol else columns
      df = df.select(cs.map(org.apache.spark.sql.functions.col): _*)
    }
    offset.foreach(n => df = df.offset(n))
    limit.foreach(n => df = df.limit(n))
    df
  }
}
