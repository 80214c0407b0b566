package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / rewrite-path `DELETE` for lake tables via
  * Spark's group-based row-level operation API
  * (`SupportsRowLevelOperations`): Catalyst rewrites the DML statement into
  * a `ReplaceData` plan that (1) scans the candidate fragments through
  * [[LakeGroupScanBuilder]] — pushed filters select WHOLE fragments via
  * zonemap/bloom/value-set pruning, never filter rows, because every
  * surviving row of a replaced fragment must be rewritten — and (2) writes
  * the rewritten rows back through [[LakeReplaceBatchWrite]], which commits
  * a copy-on-write manifest swap replacing exactly the scanned fragments.
  *
  * This is the SQL door to the same copy-on-write semantics as the
  * programmatic [[LakeDataset.update]]/[[LakeDataset.mergeInsert]] (the
  * reference exposes these only programmatically: storage2/update.go:33-660,
  * merge_insert.go:19-110 — its SQL surface has no UPDATE/MERGE at all, so
  * this exceeds reference parity).
  *
  * Stable row ids: `_rowid` is declared as a required metadata attribute, so
  * Spark carries each scanned row's id through the rewrite and updated rows
  * KEEP their ids (rowids.go model). Rows inserted by MERGE arrive with a
  * NULL `_rowid` and are assigned fresh ids from disjoint per-task blocks
  * above the manifest's `nextRowId`; the commit conflict matrix makes
  * MERGE-vs-anything conflicting, so a concurrent append can never interleave
  * ids with an in-flight merge.
  *
  * The executor-side writers produce the same physical parquet layout as the
  * DataFrame path (`f<fieldId>` columns + `_rowid`, zstd), via Spark's own
  * public `ParquetWriteSupport`; the driver-side commit then adopts the
  * staged files with [[LakeDataset.adoptStagedFiles]] — one stats job, same
  * zonemaps/blooms/value-sets as any other write.
  */
final class LakeRowLevelOperationBuilder(root: String,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // `write.dml.mode = mor` switches UPDATE/DELETE/MERGE to merge-on-read
    // deltas (tombstone rowids + delta fragments — no fragment rewrite);
    // the default is group-based copy-on-write, whose runtime group
    // filtering bounds rewrites to matched fragments.
    val mor = LakeDataset.exists(root) &&
      LakeDataset.openSlim(SparkSession.active, root)
        .manifest.properties.get("write.dml.mode").contains("mor")
    if (mor) new LakeDeltaOperation(root, info.command)
    else new LakeRowLevelOperation(root, info.command)
  }
}

/** Scan-to-write coordination shared by both row-level strategies. */
sealed trait LakeRowLevelOpState {
  /** Fragment ids the scan selected. Group-based: the groups the write
    * replaces. Delta: the fragments whose rows may be tombstoned
    * (recorded as the commit's touched set for conflict detection). */
  @volatile private[lake] var touchedIds: Set[Long] = Set.empty
  /** Manifest version the scan planned against (commit re-validates). */
  @volatile private[lake] var plannedVersion: Long = -1L
}

final class LakeRowLevelOperation(root: String, cmd: Command)
  extends RowLevelOperation with LakeRowLevelOpState {

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeGroupScanBuilder(this, root)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new LakeReplaceWrite(LakeRowLevelOperation.this, root, info)
    }

  /** `_rowid` FIRST — the metadata projection delivered to the write
    * follows this order, and the writer reads the carried rowid at
    * position 0. `_file` rides along so runtime group filtering can
    * resolve the group identity against the row-level read relation. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(LakeDataset.RowIdCol),
      Expressions.column(LakeDataset.FileCol))

  override def description(): String = s"lake row-level $cmd"
}

/** Group-selecting scan: pushed filters prune FRAGMENTS (zonemap / bloom /
  * value-set), but are never applied to rows — the ReplaceData contract is
  * "return every live row of every group you claim", since unmatched rows in
  * a replaced fragment must be carried over by the rewrite, not dropped.
  *
  * Unlike the main read path (a V1Scan bridge into Spark's vectorized
  * parquet source), this scan must be a real DSv2 `Batch`: the row-level
  * rewrite rules build the scan relation directly (bypassing
  * V2ScanRelationPushDown, which is where V1 scans get wrapped), so
  * `BatchScanExec` executes it. Partition = one fragment file, read
  * row-based through Spark's own `ParquetReadSupport`, minus any
  * deletion-vector rowids. */
private[lake] final class LakeGroupScanBuilder(op: LakeRowLevelOpState,
    root: String)
  extends ScanBuilder with LakePushdown {

  // the head the scan plans against: filters translate over its schema
  private lazy val ds = LakeDataset.open(SparkSession.active, root)
  protected def tableSchema: StructType = ds.schema

  override def build(): Scan = {
    val man = ds.manifest
    val frags = where.fold(man.fragments)(ds.pruneFragments(man, _))
    // record the replaced groups for the write side
    op.touchedIds = frags.map(_.id).toSet
    op.plannedVersion = man.version
    LakeDataSource.recordScan(root, frags.size, man.fragments.size)

    val outSchema: StructType = required.getOrElse(
      StructType(LakeDataset.logicalSchema(man)
        .fields :+ StructField(LakeDataset.RowIdCol, LongType, nullable = true)))
    new LakeGroupScan(op, ds, man, frags, outSchema)
  }
}

private[lake] final class LakeGroupScan(op: LakeRowLevelOpState,
    ds: LakeDataset, man: Manifest,
    initialFrags: Seq[Fragment], outSchema: StructType)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var frags: Seq[Fragment] = initialFrags

  override def readSchema(): StructType = outSchema

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def description(): String =
    s"lake row-level scan v${man.version} " +
      s"[${frags.size}/${man.fragments.size} fragments]"

  /** Runtime group filtering: Catalyst evaluates the DML condition through
    * a separate scan projecting `_file`, then hands the distinct matching
    * files back here as an IN predicate. Narrowing `frags` (and the
    * operation's touched set — the write replaces exactly these groups)
    * turns e.g. MERGE from a full-table rewrite into a rewrite of only the
    * fragments that contain matches. Conservative: anything unparseable
    * leaves the fragment set as planned. */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(LakeDataset.FileCol))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Unit = {
    val keep = new java.util.HashSet[String]()
    var parsed = false
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        val onFile = p.children().head match {
          case r: NamedReference =>
            r.fieldNames().sameElements(Array(LakeDataset.FileCol))
          case _ => false
        }
        if (onFile) {
          p.children().drop(1).foreach {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              keep.add(String.valueOf(l.value())); parsed = true
            case _ => ()
          }
        }
      }
    }
    if (parsed) {
      frags = frags.filter(f => keep.contains(LakeDataset.fileName(f.file)))
      op.touchedIds = frags.map(_.id).toSet
    }
  }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val dvFiles =
      man.deletionFiles.map(f => ds.rootAbs.resolve(f).toString)
    frags.map(f => LakeFragmentPartition(
      ds.rootAbs.resolve(f.file).toString, dvFiles)
      : org.apache.spark.sql.connector.read.InputPartition).toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    // physical (f<id>) name + type for each requested output column;
    // `_file` has no physical column — the reader injects it per partition
    val byName = man.fields.map(f => f.name -> f).toMap
    val physFields = outSchema.fields.flatMap { sf =>
      if (sf.name == LakeDataset.FileCol) None
      else if (sf.name == LakeDataset.RowIdCol)
        Some(StructField(LakeDataset.RowIdCol, LongType, nullable = true))
      else {
        val fd = byName(sf.name)
        Some(StructField(LakeDataset.physName(fd.id),
          DataType.fromJson(fd.dataType), nullable = true))
      }
    }
    new LakeFragmentReaderFactory(StructType(physFields),
      outSchema.fieldNames.indexOf(LakeDataset.RowIdCol),
      outSchema.fieldNames.indexOf(LakeDataset.FileCol))
  }
}

private[lake] final case class LakeFragmentPartition(file: String,
    dvFiles: Seq[String])
  extends org.apache.spark.sql.connector.read.InputPartition

/** Row-based fragment reader on executors: parquet-mr + Spark's public
  * `ParquetReadSupport` (same converter stack as Spark's non-vectorized
  * parquet path), with merge-on-read deletion vectors subtracted by rowid
  * and the `_file` metadata column injected as a per-partition constant.
  * Used only by DML rewrites — the hot analytical read path stays on the
  * vectorized V1 bridge.
  *
  * @param physSchema parquet request schema (out columns minus `_file`)
  * @param rowIdIdxInOut index of `_rowid` in the OUT schema, -1 if absent
  * @param fileIdxInOut  index of `_file` in the OUT schema, -1 if absent */
private[lake] final class LakeFragmentReaderFactory(physSchema: StructType,
    rowIdIdxInOut: Int, fileIdxInOut: Int)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeFragmentPartition]
    // When DVs exist the reader must see _rowid even if the query didn't
    // ask for it: read it as an extra trailing column, drop before emit.
    val needHiddenRowId = p.dvFiles.nonEmpty && rowIdIdxInOut < 0
    val readSchema =
      if (needHiddenRowId)
        StructType(physSchema.fields :+
          StructField(LakeDataset.RowIdCol, LongType, nullable = true))
      else physSchema
    val deleted: java.util.HashSet[java.lang.Long] =
      if (p.dvFiles.isEmpty) null
      else {
        val set = new java.util.HashSet[java.lang.Long]()
        val dvSchema = StructType(Seq(
          StructField(LakeDataset.RowIdCol, LongType, nullable = true)))
        p.dvFiles.foreach { dv =>
          val r = LakeParquetIo.openReader(dv, dvSchema)
          try {
            var row = r.read()
            while (row != null) {
              if (!row.isNullAt(0)) set.add(row.getLong(0))
              row = r.read()
            }
          } finally r.close()
        }
        set
      }
    // out position i reads parquet position i shifted past the `_file` slot
    def readPos(outIdx: Int): Int =
      if (fileIdxInOut >= 0 && outIdx > fileIdxInOut) outIdx - 1 else outIdx
    val rowIdIdxInRead =
      if (rowIdIdxInOut >= 0) readPos(rowIdIdxInOut)
      else if (needHiddenRowId) physSchema.length
      else -1
    val reader = LakeParquetIo.openReader(p.file, readSchema)
    val passThrough = fileIdxInOut < 0 && !needHiddenRowId
    val outLen = physSchema.length + (if (fileIdxInOut >= 0) 1 else 0)
    val readTypes = physSchema.fields.map(_.dataType)
    val fileValue = org.apache.spark.unsafe.types.UTF8String.fromString(
      p.file.substring(p.file.lastIndexOf('/') + 1))

    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var current: InternalRow = _

      override def next(): Boolean = {
        var row = reader.read()
        while (row != null && deleted != null && rowIdIdxInRead >= 0 &&
            !row.isNullAt(rowIdIdxInRead) &&
            deleted.contains(row.getLong(rowIdIdxInRead))) {
          row = reader.read()
        }
        if (row == null) { current = null; false }
        else {
          current =
            if (passThrough) row
            else {
              val vals = new Array[Any](outLen)
              var i = 0
              while (i < outLen) {
                vals(i) =
                  if (i == fileIdxInOut) fileValue
                  else {
                    val j = readPos(i)
                    if (row.isNullAt(j)) null else row.get(j, readTypes(j))
                  }
                i += 1
              }
              new GenericInternalRow(vals)
            }
          true
        }
      }

      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}

/** Executor-side parquet row IO via Spark's public read/write supports.
  * Every conf key the support classes read is pinned explicitly (via the
  * SQLConf entry constants, so names can't drift) — executors have no
  * session, and several of those reads are a bare `.toBoolean` on the raw
  * conf value that NPEs when the key is missing. */
private[lake] object LakeParquetIo {
  import org.apache.spark.sql.internal.SQLConf

  def writerConf(physSchema: StructType): Configuration = {
    val conf = new Configuration()
    ParquetWriteSupport.setSchema(physSchema, conf)
    // same physical format choices as the DataFrame write path
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    conf
  }

  def readerConf(requested: StructType): Configuration = {
    val conf = new Configuration()
    conf.set(org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    conf.set(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key,
      SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.defaultValueString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.defaultValueString)
    conf.set(SQLConf.LEGACY_PARQUET_RETURN_NULL_STRUCT_IF_ALL_FIELDS_MISSING.key,
      SQLConf.LEGACY_PARQUET_RETURN_NULL_STRUCT_IF_ALL_FIELDS_MISSING
        .defaultValueString)
    conf.set(SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.key,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.defaultValueString)
    conf.set(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION
        .defaultValueString)
    conf.set(SQLConf.VARIANT_ALLOW_READING_SHREDDED.key,
      SQLConf.VARIANT_ALLOW_READING_SHREDDED.defaultValueString)
    conf
  }

  def openReader(file: String,
      requested: StructType): org.apache.parquet.hadoop.ParquetReader[InternalRow] = {
    val support = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport(
        None, // convertTz: stats/values are written UTC
        false, // row-based converters, not the vectorized reader
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None),
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None))
    org.apache.parquet.hadoop.ParquetReader
      .builder(support, new org.apache.hadoop.fs.Path(file))
      .withConf(readerConf(requested))
      .build()
  }
}

/** The ReplaceData write: executors write physical parquet into a staging
  * dir under the dataset root; the driver commit adopts the files as
  * fragments and swaps the manifest, replacing the scanned groups. */
private[lake] final class LakeReplaceWrite(op: LakeRowLevelOperation,
    root: String, info: LogicalWriteInfo) extends Write {
  override def toBatch: BatchWrite =
    new LakeReplaceBatchWrite(op, root, info.schema())
  override def description(): String = s"lake replace-data (${op.command()})"
}

private[lake] final class LakeReplaceBatchWrite(op: LakeRowLevelOperation,
    root: String, writeSchema: StructType) extends BatchWrite {

  private val spark = SparkSession.active
  private val ds = LakeDataset.open(spark, root)
  private val man = ds.manifest
  private val stage: Path =
    ds.dataDir.resolve(s"stage-rlo-${UUID.randomUUID()}")

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DataWriterFactory = {
    ds.io.mkdirs(stage)
    // input column index for each physical output column, by logical name;
    // -1 for a column absent from the write schema (written as NULL)
    val lower = writeSchema.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
    val fieldIdx = man.fields.map(f => lower.getOrElse(f.name.toLowerCase, -1))
    val fieldTypes = man.fields.map(f => DataType.fromJson(f.dataType))
    val rowIdIdx = lower.getOrElse(LakeDataset.RowIdCol, -1)
    new LakeReplaceWriterFactory(stage.toString,
      StructType(man.fields.map(f => StructField(LakeDataset.physName(f.id),
        DataType.fromJson(f.dataType), nullable = true))
        :+ StructField(LakeDataset.RowIdCol, LongType, nullable = true)),
      fieldIdx.toArray, fieldTypes.toArray, rowIdIdx, man.nextRowId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case m: LakeReplaceCommitMessage => m.files
    }.flatten.map(new Path(_)).toSeq
    val (frags, maxRid) =
      ds.adoptStagedFiles(files.sortBy(_.getName), man,
        cleanupDir = Some(stage))
    val (kind, opName) = op.command() match {
      case Command.UPDATE => (LakeDataset.OpKind.DeleteUpdate, "update")
      case Command.DELETE => (LakeDataset.OpKind.DeleteUpdate, "delete")
      case _ => (LakeDataset.OpKind.Merge, "merge")
    }
    val nextRid =
      if (op.command() == Command.MERGE)
        Some(math.max(man.nextRowId, maxRid + 1))
      else None
    ds.commitRewrite(kind, op.touchedIds, frags, opName,
      nextRowIdOpt = nextRid)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ds.io.deleteRecursive(stage): Unit
}

private[lake] final case class LakeReplaceCommitMessage(files: Seq[String])
  extends WriterCommitMessage

private[lake] final class LakeReplaceWriterFactory(stageDir: String,
    physSchema: StructType, fieldIdx: Array[Int], fieldTypes: Array[DataType],
    rowIdIdx: Int, rowIdBase: Long) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LakeReplaceDataWriter(stageDir, physSchema, fieldIdx, fieldTypes,
      rowIdIdx, rowIdBase, partitionId, taskId)
}

/** Executor-side parquet writer: projects the incoming row to the physical
  * fragment layout and writes through Spark's own `ParquetWriteSupport`, so
  * row-level-op fragments are bit-compatible with DataFrame-written ones. */
private[lake] final class LakeReplaceDataWriter(stageDir: String,
    physSchema: StructType, fieldIdx: Array[Int], fieldTypes: Array[DataType],
    rowIdIdx: Int, rowIdBase: Long, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  // Fresh-rowid block for rows with no carried id (MERGE inserts): disjoint
  // per partition; commit() raises nextRowId past the max actually written.
  private val blockBase = rowIdBase + (partitionId.toLong << 34)
  private var assigned = 0L

  private val file =
    s"$stageDir/part-${"%05d".format(partitionId)}-$taskId.parquet"

  private val writer: ParquetWriter[InternalRow] = {
    val conf = LakeParquetIo.writerConf(physSchema)
    new LakeParquetWriterBuilder(new org.apache.hadoop.fs.Path(file), conf)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .withConf(conf)
      .build()
  }

  /** Metadata-carrying path (ReplaceData plans mark every row
    * WRITE_WITH_METADATA_OPERATION): `meta` holds the required metadata
    * attributes — here just `_rowid` — and `rec` the data columns. The
    * interface DEFAULT drops `meta` on the floor; overriding is what makes
    * updated/deleted-survivor rows keep their stable ids. */
  override def write(meta: InternalRow, rec: InternalRow): Unit =
    writeRow(rec,
      if (meta.numFields > 0 && !meta.isNullAt(0)) meta.getLong(0)
      else freshRowId())

  override def write(row: InternalRow): Unit =
    writeRow(row,
      if (rowIdIdx >= 0 && !row.isNullAt(rowIdIdx)) row.getLong(rowIdIdx)
      else freshRowId())

  private def freshRowId(): Long = {
    val id = blockBase + assigned; assigned += 1; id
  }

  private def writeRow(row: InternalRow, rowId: Long): Unit = {
    val out = new Array[Any](physSchema.length)
    var i = 0
    while (i < fieldIdx.length) {
      val src = fieldIdx(i)
      out(i) = if (src < 0 || row.isNullAt(src)) null
        else row.get(src, fieldTypes(i))
      i += 1
    }
    out(fieldIdx.length) = rowId
    writer.write(new GenericInternalRow(out))
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    LakeReplaceCommitMessage(Seq(file))
  }

  override def abort(): Unit = {
    writer.close()
    // executor-side: delete through the file's own Hadoop filesystem
    val p = new Path(file)
    p.getFileSystem(new Configuration()).delete(p, false): Unit
  }

  override def close(): Unit = ()
}

private[lake] final class LakeParquetWriterBuilder(
    path: org.apache.hadoop.fs.Path, conf: Configuration)
  extends ParquetWriter.Builder[InternalRow, LakeParquetWriterBuilder](path) {
  override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport
  override def self(): LakeParquetWriterBuilder = this
}

// ---------------------------------------------------------------------------
// Merge-on-read (delta) row-level operations: SQL UPDATE / DELETE on tables
// with `write.dml.mode = mor` write rowid TOMBSTONES (deletion-vector files)
// plus delta fragments for the new row images, instead of rewriting whole
// fragments. At 100 TB this turns a point UPDATE from a fragment-sized write
// into a delta-sized one; reads subtract tombstones via the existing DV
// anti-join, and `purgeDeletes` folds them back in. UPDATE is represented as
// delete+insert (the new row image gets a FRESH rowid — MoR trades rowid
// stability for write amplification; the CoW default preserves ids).
// ---------------------------------------------------------------------------

final class LakeDeltaOperation(root: String, cmd: Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta
  with LakeRowLevelOpState {

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeGroupScanBuilder(this, root)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeDataset.RowIdCol))

  // MoR UPDATE = tombstone old rowid + insert fresh row image. Updating
  // in place would keep the old rowid on the new image, and the global
  // DV anti-join would tombstone the new image along with the old one.
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  // `_file` lets runtime group filtering resolve the group identity, so a
  // MoR MERGE's tombstone scan reads only fragments containing matches
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(LakeDataset.FileCol))

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new LakeDeltaWrite(LakeDeltaOperation.this, root, info)
    }

  override def description(): String = s"lake delta $cmd"
}

private[lake] final class LakeDeltaWrite(op: LakeDeltaOperation,
    root: String, info: LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new LakeDeltaBatchWrite(op, root, info.schema())
  override def description(): String = s"lake delta write (${op.command()})"
}

private[lake] final class LakeDeltaBatchWrite(op: LakeDeltaOperation,
    root: String, writeSchema: StructType)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val spark = SparkSession.active
  private val ds = LakeDataset.open(spark, root)
  private val man = ds.manifest
  private val stage: Path =
    ds.dataDir.resolve(s"stage-rlo-${UUID.randomUUID()}")
  private val deletesDir: Path = ds.rootAbs.resolve("_deletes")

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    ds.io.mkdirs(stage)
    ds.io.mkdirs(deletesDir)
    val lower = writeSchema.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
    val fieldIdx = man.fields.map(f => lower.getOrElse(f.name.toLowerCase, -1))
    val fieldTypes = man.fields.map(f => DataType.fromJson(f.dataType))
    new LakeDeltaWriterFactory(stage.toString, deletesDir.toString,
      StructType(man.fields.map(f => StructField(LakeDataset.physName(f.id),
        DataType.fromJson(f.dataType), nullable = true))
        :+ StructField(LakeDataset.RowIdCol, LongType, nullable = true)),
      fieldIdx.toArray, fieldTypes.toArray, man.nextRowId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: LakeDeltaCommitMessage => m }
    val insertFiles = msgs.flatMap(_.insertFiles).map(new Path(_)).toSeq
    val dvNames = msgs.flatMap(_.dvFile).toSeq
    val nDeleted = msgs.map(_.nDeleted).sum
    if (insertFiles.isEmpty && dvNames.isEmpty) {
      abort(messages); return
    }
    val (frags, maxRid) =
      ds.adoptStagedFiles(insertFiles.sortBy(_.getName), man,
        cleanupDir = Some(stage))
    val opName = op.command() match {
      case Command.DELETE => "delete_dv"
      case Command.MERGE => "merge_mor"
      case _ => "update_mor"
    }
    val (idBase, nextRid) =
      if (frags.nonEmpty)
        (Some(man.nextRowId), Some(math.max(man.nextRowId, maxRid + 1)))
      else (None, None)
    ds.commitDelta(op.touchedIds, dvNames, nDeleted, frags, idBase, nextRid,
      opName)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: LakeDeltaCommitMessage => m }
      .flatMap(_.dvFile)
      .foreach(n => ds.io.delete(ds.rootAbs.resolve(n)))
    if (ds.io.exists(stage)) {
      ds.io.deleteRecursive(stage)
    }
  }
}

private[lake] final case class LakeDeltaCommitMessage(
    insertFiles: Seq[String], dvFile: Option[String], nDeleted: Long)
  extends WriterCommitMessage

private[lake] final class LakeDeltaWriterFactory(stageDir: String,
    deletesDir: String, physSchema: StructType, fieldIdx: Array[Int],
    fieldTypes: Array[DataType], rowIdBase: Long)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new LakeDeltaWriter(stageDir, deletesDir, physSchema, fieldIdx,
      fieldTypes, rowIdBase, partitionId, taskId)
}

/** Executor-side delta writer: DELETE ops buffer tombstoned rowids (written
  * as one `_deletes/dv-*.parquet` per task at commit); INSERT ops (including
  * the insert half of a represented update) go through the same parquet
  * fragment writer as the group-based path, with fresh per-task rowid
  * blocks. */
private[lake] final class LakeDeltaWriter(stageDir: String, deletesDir: String,
    physSchema: StructType, fieldIdx: Array[Int], fieldTypes: Array[DataType],
    rowIdBase: Long, partitionId: Int, taskId: Long)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val tombstones = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var insertWriter: LakeReplaceDataWriter = _

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    tombstones += id.getLong(0)

  override def insert(row: InternalRow): Unit = {
    if (insertWriter == null)
      insertWriter = new LakeReplaceDataWriter(stageDir, physSchema,
        fieldIdx, fieldTypes, rowIdIdx = -1, rowIdBase, partitionId, taskId)
    insertWriter.write(row)
  }

  // not reached with representUpdateAsDeleteAndInsert=true; defensive
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    val insertFiles =
      if (insertWriter == null) Nil
      else insertWriter.commit() match {
        case LakeReplaceCommitMessage(files) => files
        case _ => Nil
      }
    val dvFile =
      if (tombstones.isEmpty) None
      else {
        val name = s"dv-${UUID.randomUUID()}-p$partitionId.parquet"
        val path = s"$deletesDir/$name"
        val dvSchema = StructType(Seq(
          StructField(LakeDataset.RowIdCol, LongType, nullable = false)))
        val conf = LakeParquetIo.writerConf(dvSchema)
        val w = new LakeParquetWriterBuilder(
          new org.apache.hadoop.fs.Path(path), conf)
          .withCompressionCodec(CompressionCodecName.ZSTD)
          .withConf(conf)
          .build()
        try tombstones.foreach(id =>
          w.write(new GenericInternalRow(Array[Any](id))))
        finally w.close()
        Some(s"_deletes/$name")
      }
    LakeDeltaCommitMessage(insertFiles, dvFile, tombstones.size.toLong)
  }

  override def abort(): Unit =
    if (insertWriter != null) insertWriter.abort()

  override def close(): Unit = ()
}
