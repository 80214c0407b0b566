package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 integration for the lake: `spark.read.format("lake")`,
  * `CREATE TEMPORARY VIEW ... USING lake OPTIONS (...)`, and
  * `df.write.format("lake")` all route through the versioned manifest.
  *
  * This is the SQL-facing door the reference exposes through its sdk (the
  * sdk surface is storage2's only user entry point, sdk/dataset.go:223-330);
  * here the door is Spark's connector API instead of a bespoke client.
  *
  * Options:
  *  - `path`        dataset root (also the `.load(path)` argument)
  *  - `versionAsOf` pin the scan to a version (time travel)
  *  - `tag`         pin the scan to a named tag
  *
  * Read path: DSv2 `ScanBuilder` with filter + column pushdown. Pushed
  * filters prune whole fragments via the manifest zonemaps BEFORE any file
  * is opened; the surviving fragments are then read through Spark's own
  * vectorized parquet source (via the connector V1 read bridge, the same
  * shape the built-in JDBC connector uses), so parquet row-group pruning
  * and columnar decoding stay native. All filters are also reported back as
  * residuals, keeping Spark's evaluation authoritative — zonemap pruning is
  * a strict IO optimization and can never change results.
  *
  * Write path: `append` / `overwrite` save modes commit through
  * [[LakeDataset]]'s optimistic manifest swap, so SQL writers and API
  * writers share one commit protocol.
  */
final class LakeDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "lake"

  // ------------------------------------------------- streaming read door
  // `spark.readStream.format("lake").load(root)` tails the manifest log
  // (versions = offsets). The table reports no MICRO_BATCH_READ capability,
  // so Spark falls back to this V1 StreamSourceProvider — the same bridge
  // pattern as the batch read path's V1Scan.

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      graft.streaming.LakeStreamSource.sourceSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    graft.streaming.LakeStreamSource.forOptions(sqlContext, parameters)

  // Writes may target a dataset that doesn't exist yet (created on first
  // insert): Spark then passes the query schema instead of calling
  // inferSchema on a missing dataset.
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "lake: 'path' option is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeDataSource.schemaOf(rootOf(options), options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new LakeTable(rootOf(options), options, Option(schema))
  }
}

object LakeDataSource {
  /** Branch selected for a read (`option("branch", name)`); branch tables
    * are read-only through SQL — writes go through the native API. */
  private[lake] def branchOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch"))

  /** The version a read selects, in the namespace it selects. */
  private[lake] final class Pin(val log: VersionLog, val version: Long) {
    /** Fields, properties and chunk refs: no chunk decode. */
    lazy val slim: Manifest = log.slim(version)
    lazy val manifest: Manifest = log.decode(slim)
  }

  /** The one reading of a read's options: the namespace (`branch`, else
    * main), then the version. A change-feed read (`changesFrom`) ends at
    * `changesTo`, else the head, and ignores `versionAsOf` and `tag`; any
    * other read pins `versionAsOf`, else `tag`, else the head, and ignores
    * `changesTo`. Schema resolution, aggregate pushdown, the change feed
    * and the batch scan all read the version it picks. */
  private[lake] def pin(root: String,
      options: CaseInsensitiveStringMap): Pin = {
    val log = VersionLog(SparkSession.active, root, branchOf(options))
    def opt(key: String) = Option(options.get(key))
    val pinned =
      if (options.containsKey("changesFrom")) opt("changesTo").map(_.toLong)
      else opt("versionAsOf").map(_.toLong)
        .orElse(opt("tag").map(t => log.tags.getOrElse(t,
          throw new IllegalArgumentException(s"lake: no tag '$t'"))))
    new Pin(log, pinned.getOrElse(log.latest))
  }

  /** A read's logical schema, from the pinned version file alone: table
    * resolution (every query) must not pay a large table's chunk decode. */
  private[lake] def schemaOf(root: String,
      options: CaseInsensitiveStringMap): StructType = {
    val base = LakeDataset.logicalSchema(pin(root, options).slim)
    if (options.containsKey("changesFrom")) changesSchema(base) else base
  }

  /** Output shape of a change-feed scan (`option("changesFrom", v)`). */
  private[lake] def changesSchema(base: StructType): StructType =
    StructType(base.fields.toSeq
      :+ org.apache.spark.sql.types.StructField(LakeDataset.RowIdCol,
        org.apache.spark.sql.types.LongType)
      :+ org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false))

  /** Last scan's (scannedFragments, totalFragments) per dataset root —
    * test observability for pruning through the opaque DSv2 path (specs
    * assert point lookups open fewer files than the full fragment list). */
  private val scanStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]
  private[lake] def recordScan(root: String, scanned: Int, total: Int): Unit =
    scanStats.put(root, (scanned, total))
  def lastScan(root: String): Option[(Int, Int)] = Option(scanStats.get(root))
}

private[lake] final class LakeTable(root: String,
    options: CaseInsensitiveStringMap,
    providedSchema: Option[StructType])
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  // version-pinned and change-feed handles are read-only views
  private def pinned: Boolean =
    options.containsKey("versionAsOf") || options.containsKey("tag") ||
      options.containsKey("changesFrom") || options.containsKey("branch")

  private[lake] def rootPath: String = root
  // pinned/branched/CDF handles read something other than the current
  // main snapshot — MvRewrite must never answer them from a view
  private[lake] def isPinnedHandle: Boolean =
    pinned || options.containsKey("rowid")

  override def name(): String = s"lake.`$root`"

  // The manifest is authoritative once the dataset exists; the schema Spark
  // passed in (the write query's) only describes a dataset about to be
  // created on first insert.
  override lazy val schema: StructType =
    if (LakeDataset.exists(root)) LakeDataSource.schemaOf(root, options)
    else providedSchema.getOrElse(
      throw new IllegalArgumentException(s"lake: no dataset at $root"))

  override def capabilities(): java.util.Set[TableCapability] = {
    // BATCH_WRITE admits the write at the DataFrameWriter gate;
    // V1_BATCH_WRITE routes execution through the V1Write bridge.
    // No ACCEPT_ANY_SCHEMA by default: Spark's TableOutputResolver
    // aligns/casts insert queries against the table schema (and row-level
    // DML assignment alignment — UPDATE/MERGE rewrites — requires that
    // resolution to run). The one exception: an explicit mergeSchema write
    // MUST bypass the resolver (extra columns are the point); path-based
    // writer options land in the table options, so the capability flips
    // only for that writer's table handle.
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
    if (options.getBoolean("mergeSchema", false))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(root, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, "lake: cannot write through a version-pinned or branch-read table (branch writes go through the native API)")
    new LakeWriteBuilder(root,
      info.options.getBoolean("mergeSchema", false)
        || options.getBoolean("mergeSchema", false))
  }

  // SQL UPDATE / MERGE INTO / non-pushable DELETE: Catalyst's group-based
  // row-level rewrite (ReplaceData) over copy-on-write fragment replacement.
  // Pushable DELETEs still take the SupportsDelete fast path below
  // (OptimizeMetadataOnlyDeleteFromTable prefers it).
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!pinned, "lake: cannot modify a version-pinned table")
    new LakeRowLevelOperationBuilder(root, info)
  }

  // The stable row id surfaces as a METADATA column (reference scanner's
  // WithRowId through the SQL door): `SELECT _rowid, * FROM t` works, but
  // `SELECT *` doesn't include it. `_file` (fragment file basename) is the
  // GROUP identity for row-level operations — Catalyst's runtime group
  // filtering (RowLevelOperationRuntimeGroupFiltering) evaluates the DML
  // condition through this scan, collects distinct `_file`s, and pushes
  // them back into the row-level scan so only matching fragments rewrite.
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = LakeDataset.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      // nullable: MERGE-inserted rows have no source fragment
      override def isNullable: Boolean = true
      override def comment(): String = "fragment file (group id for DML)"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = LakeDataset.RowIdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      // non-nullable: SupportsDelta row-id attrs must not be nullable
      // (NULLABLE_ROW_ID_ATTRIBUTES); group-based MERGE still delivers
      // null literals for inserted rows — the write assigns fresh ids
      override def isNullable: Boolean = false
      override def comment(): String =
        "stable row id (survives rewrites/compaction)"
      // row-level rewrites must carry the id through UPDATE/DELETE
      // projections (stable-rowid invariant); fresh rows (MERGE insert /
      // reinsert) get NULL and the write assigns new ids
      override def metadataInJSON(): String =
        s"""{"${org.apache.spark.sql.connector.catalog.MetadataColumn
          .PRESERVE_ON_UPDATE}": true,
           | "${org.apache.spark.sql.connector.catalog.MetadataColumn
          .PRESERVE_ON_DELETE}": true}""".stripMargin
    })

  // SQL `DELETE FROM <table> WHERE ...` (and TRUNCATE via empty filters):
  // routed to the copy-on-write predicate delete, which plans touched
  // fragments by zonemap/bloom/value-set pruning first.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && filters.forall(f => LakeFilters.toSql(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val ds = LakeDataset.open(SparkSession.active, root)
    // honor the table's DML mode: `mor` tombstones rowids instead of
    // rewriting fragments
    val mor = ds.manifest.properties.get("write.dml.mode").contains("mor")
    val pred =
      if (filters.isEmpty) "true"
      else filters.flatMap(LakeFilters.toSql).mkString(" AND ")
    ds.delete(pred, useDeletionVectors = mor)
    ()
  }
}

private[lake] final class LakeScanBuilder(root: String,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var predicates: Seq[String] = Nil
  private var required: Option[StructType] = None
  private var pushedAgg: Option[LakeAggPushdown.Plan] = None
  // the options read once: every scan this builder makes reads this version
  private lazy val pin = LakeDataSource.pin(root, options)

  // Whole-table COUNT(*) / COUNT(col) / MIN / MAX answered from manifest
  // math + zonemap stats — zero data IO (the reference answers CountRows
  // the same way, sdk/dataset.go:239; JDBC connector precedent for the
  // connector shape). Spark only offers aggregates here when every filter
  // was fully pushed; ours are all residual, so only unfiltered scans
  // qualify — exactly the safe cases.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = pushedAgg.isDefined || plan(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = plan(agg)
    pushedAgg.isDefined
  }

  private def plan(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[LakeAggPushdown.Plan] = {
    if (predicates.nonEmpty || options.containsKey("changesFrom")) return None
    LakeAggPushdown.plan(agg, pin.manifest)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.flatMap(f => LakeFilters.toSql(f).map(f -> _))
    pushed = translated.map(_._1)
    predicates = translated.map(_._2).toSeq
    // Everything stays a residual: Spark re-evaluates every filter after the
    // scan, so fragment pruning is purely an IO win and never a semantics
    // risk (mirrors how conservative zonemap pruning must behave).
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan =
    if (pushedAgg.isDefined) aggScan(pushedAgg.get)
    else if (options.containsKey("changesFrom")) changesScan() else batchScan()

  /** Complete aggregate pushdown: one row from manifest metadata. */
  private def aggScan(p: LakeAggPushdown.Plan): Scan = new V1Scan {
    override def readSchema(): StructType = p.schema
    override def description(): String =
      s"lake agg-pushdown [${p.schema.fieldNames.mkString(", ")}]"
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = p.schema
        override def buildScan(): RDD[Row] = {
          LakeDataSource.recordScan(root, 0, p.totalFragments)
          context.sparkSession.sparkContext
            .parallelize(Seq(Row.fromSeq(p.values)), 1)
        }
      }.asInstanceOf[T]
  }

  /** Change-feed scan (`option("changesFrom", a)[.option("changesTo", b)]`):
    * the SQL door to [[LakeDataset.changes]]. Change sets are commit-sized,
    * so no fragment pruning is attempted; column pruning still applies. */
  private def changesScan(): Scan = new V1Scan {
    private val ds =
      LakeDataset.reader(SparkSession.active, root, pin.log, pin.slim)
    private val fromV = options.get("changesFrom").toLong
    private val toV = pin.version
    private val outSchema = required.getOrElse(
      LakeDataSource.changesSchema(LakeDataset.logicalSchema(pin.slim)))

    override def readSchema(): StructType = outSchema

    override def description(): String = s"lake changes ($fromV, $toV]"

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = outSchema
        override def buildScan(): RDD[Row] =
          ds.changes(fromV, toV)
            .select(outSchema.fieldNames.map(col).toSeq: _*).rdd
      }.asInstanceOf[T]
  }

  private def batchScan(): Scan = new V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    // Chunk-pruned open of the pinned version: whole manifest chunks the
    // pushed predicate excludes are never read.
    private val ds = LakeDataset.openAt(SparkSession.active, root, pin.log,
      pin.slim,
      if (predicates.nonEmpty) Some(predicates.mkString(" AND ")) else None)
    private val man = ds.manifest
    private val outSchema = required.getOrElse(LakeDataset.logicalSchema(man))

    // lazy val, not def: Catalyst may ask for statistics/description
    // several times while planning a multi-join query, and each pruning
    // pass re-parses the predicate and probes blooms/value-sets (plus one
    // driver-side Files.size per fragment in fragmentsSize). The manifest
    // is pinned, so one computation serves every call — including the
    // actual scan below.
    private lazy val prunedFrags =
      if (predicates.isEmpty) man.fragments
      else ds.pruneFragments(man, predicates.mkString(" AND "))

    override def readSchema(): StructType = outSchema

    // Real sizes from the manifest (post-pruning), so a small lake table
    // broadcasts instead of inheriting the "unknown = never broadcast"
    // default — at scale this is the difference between a broadcast hash
    // join and an all-to-all shuffle of the fact table.
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = {
      val frags = prunedFrags
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(math.max(1L, ds.fragmentsSize(frags)))
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(frags.map(_.rowCount).sum)
      }
    }

    override def description(): String = {
      val frags = prunedFrags
      s"lake v${man.version} [${frags.size}/${man.fragments.size} fragments," +
        s" pushed: ${predicates.mkString(" AND ")}]"
    }

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = outSchema
        override def buildScan(): RDD[Row] = {
          val frags = prunedFrags
          LakeDataSource.recordScan(root, frags.size, man.fragments.size)
          // metadata columns are read only when the query named them
          val needRowId =
            outSchema.fieldNames.contains(LakeDataset.RowIdCol)
          val needFile =
            outSchema.fieldNames.contains(LakeDataset.FileCol)
          var df: DataFrame =
            ds.readFragments(man, frags, withRowId = needRowId,
              withFileName = needFile)
          if (needFile) // absolute scan URI → manifest-relative basename
            df = df.withColumn(LakeDataset.FileCol,
              expr(s"regexp_extract(${LakeDataset.FileCol}, '[^/]+$$', 0)"))
          // Re-apply pushed predicates inside the inner parquet scan too, so
          // row groups within surviving fragments are skipped natively.
          predicates.foreach(p => df = df.filter(expr(p)))
          df.select(outSchema.fieldNames.map(col).toSeq: _*).rdd
        }
      }.asInstanceOf[T]
  }
}

/** Plans whole-table aggregate pushdown from manifest metadata.
  *
  * Safe cases only:
  *  - no deletion vectors (tombstones can overlap later rewrites, so
  *    manifest arithmetic over-subtracts — [[LakeDataset.countRows]] makes
  *    the same call and falls back to a scan);
  *  - COUNT(*): Σ fragment rowCounts;
  *  - COUNT(col): Σ rowCounts − Σ nullCounts, when every fragment carries
  *    stats for the field;
  *  - MIN/MAX(col): [[ZoneMaps.extreme]] over the exact (untruncated)
  *    per-fragment zonemap min/max, when every fragment carries them and
  *    every bound decodes. All-null fragments contribute nothing; an
  *    all-null column yields SQL NULL.
  * At 100 TB these turn metadata-only questions into actual metadata
  * reads — zero data IO instead of a full table scan. */
private[lake] object LakeAggPushdown {
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  final case class Plan(schema: StructType, values: Seq[Any],
      totalFragments: Int)

  private def colNameOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames()(0))
    case _ => None
  }

  def plan(agg: Aggregation, man: Manifest): Option[Plan] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (man.deletionFiles.nonEmpty) return None
    val totalRows = man.fragments.map(_.rowCount).sum

    def field(name: String): Option[FieldDef] = man.fields.find(_.name == name)
    def statsFor(fid: Int): Option[Seq[ColumnStats]] = {
      val per = man.fragments.map(_.stats.get(fid.toString))
      if (per.forall(_.isDefined)) Some(per.flatten) else None
    }
    // a bound that does not decode (e.g. a legacy session-timezone
    // timestamp) falls back to the scan path
    def extreme(c: org.apache.spark.sql.connector.expressions.Expression,
        prefix: String, greatest: Boolean): Option[(StructField, Any)] =
      for {
        name <- colNameOf(c)
        f <- field(name)
        dt = DataType.fromJson(f.dataType)
        st <- statsFor(f.id)
        v <- ZoneMaps.extreme(
          st.flatMap(s => if (greatest) s.max else s.min), dt, greatest)
      } yield (StructField(s"${prefix}_${f.name}", dt),
        v.map(e => CatalystTypeConverters.convertToScala(e._2, dt)).orNull)

    val cols = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          totalRows: Any))
      case c: Count if !c.isDistinct =>
        for {
          name <- colNameOf(c.column)
          f <- field(name)
          st <- statsFor(f.id)
        } yield (StructField(s"count_${f.name}", LongType, nullable = false),
          (totalRows - st.map(_.nullCount).sum): Any)
      case m: Min => extreme(m.column, "min", greatest = false)
      case m: Max => extreme(m.column, "max", greatest = true)
      case _ => None
    }
    if (cols.exists(_.isEmpty)) None
    else Some(Plan(StructType(cols.flatten.map(_._1)),
      cols.flatten.map(_._2), man.fragments.size))
  }
}

/** Translate connector pushdown filters to the lake predicate DSL (Spark SQL
  * expression strings) for zonemap pruning. Unsupported shapes translate to
  * None and simply don't prune. */
private[lake] object LakeFilters {

  /** A filter value as Spark SQL text, by Spark's own `Literal.sql`: it
    * escapes quotes and backslashes and types every temporal value. A
    * FLOAT renders as a cast, which the zonemaps do not read, so it goes
    * as the DOUBLE of the same value. A value no literal holds (a struct,
    * array or map) is not pushed. */
  private def lit(v: Any): Option[String] = v match {
    case f: java.lang.Float => lit(f.toDouble)
    case _ =>
      try Some(org.apache.spark.sql.catalyst.expressions.Literal.create(v).sql)
      catch {
        case e: org.apache.spark.SparkThrowable
            if e.getCondition == "UNSUPPORTED_FEATURE.LITERAL_TYPE" => None
      }
  }

  def toSql(f: Filter): Option[String] = f match {
    case _: AlwaysTrue => Some("true")
    case _: AlwaysFalse => Some("false")
    case EqualTo(a, v) => lit(v).map(r => s"`$a` = $r")
    case GreaterThan(a, v) => lit(v).map(r => s"`$a` > $r")
    case GreaterThanOrEqual(a, v) => lit(v).map(r => s"`$a` >= $r")
    case LessThan(a, v) => lit(v).map(r => s"`$a` < $r")
    case LessThanOrEqual(a, v) => lit(v).map(r => s"`$a` <= $r")
    case IsNull(a) => Some(s"`$a` IS NULL")
    case IsNotNull(a) => Some(s"`$a` IS NOT NULL")
    // point-lookup IN lists push so the value-set/bloom equality arsenal
    // prunes per value (index_selector's equality arm per disjunct)
    case In(a, vs) if vs.nonEmpty =>
      val rs = vs.toSeq.map(lit)
      if (rs.exists(_.isEmpty)) None
      else Some(s"`$a` IN (${rs.flatten.mkString(", ")})")
    case And(l, r) =>
      for { ls <- toSql(l); rs <- toSql(r) } yield s"($ls AND $rs)"
    case _ => None
  }
}

private[lake] final class LakeWriteBuilder(root: String,
    mergeSchema: Boolean = false)
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
          val spark = data.sparkSession
          val ds =
            if (LakeDataset.exists(root)) LakeDataset.open(spark, root)
            else LakeDataset.create(spark, root, data.schema)
          // name-based when the query provides the table's columns;
          // positional otherwise (SQL INSERT INTO arrives with synthetic
          // names — ACCEPT_ANY_SCHEMA means Spark didn't rewrite them)
          val names = ds.schema.fieldNames
          val aligned =
            if (names.forall(data.columns.contains) || mergeSchema) data
            else if (data.columns.length == names.length)
              data.toDF(names.toIndexedSeq: _*)
            else data
          if (overwrite && mergeSchema) ds.overwriteMergeSchema(aligned)
          else if (overwrite) ds.overwrite(aligned)
          else if (mergeSchema) ds.appendMergeSchema(aligned)
          else ds.append(aligned)
        }
      }
  }
}
