package graft.server

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A read-only `pg_catalog` for wire-protocol clients: enough of
  * pg_class / pg_namespace / pg_attribute / pg_type (and their satellite
  * tables, empty but analyzable) plus the psql-called functions
  * (pg_table_is_visible, pg_get_userbyid, format_type, pg_get_expr) that
  * a stock psql's `\dt` and `\d table` introspection queries execute
  * against the engine's own session catalog. The reference binds the same
  * client but answers no metadata at all (its psql-wire setup serves
  * queries only, cmd/main/main.go:68) — here `\dt` actually lists tables.
  *
  * Everything is driver-local metadata: tables materialize as [[LocalScan]]
  * rows snapshotted from the session catalog at scan time, never remotely
  * large. A query over them still runs as Spark jobs (joins, sorts), which
  * the scans' reported sizes keep to broadcast joins. Registered on the
  * wire server's session as `spark.sql.catalog.pg_catalog`, so
  * `pg_catalog.pg_class` resolves through normal DSv2 lookup.
  */
class PgCatalog extends TableCatalog with FunctionCatalog {

  private var catName = "pg_catalog"
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catName = name }
  override def name(): String = catName

  // ------------------------------------------------------------- relations

  /** Stable oid for a relation name (positive, deterministic across the
    * psql query sequence: resolve-by-name then probe-by-oid). Assigned
    * from a process-lifetime monotonic counter on first sight of the name
    * — collision-free (unlike a name hash, where two names hashing
    * together would make pg_attribute merge both relations' columns) AND
    * stable across catalog changes (unlike positional assignment, where a
    * table created or dropped between psql's resolve-by-name and its
    * probe-by-oid renumbers every later relation and \d renders another
    * table's columns). Starts past pg's own FirstNormalObjectId so the
    * oids read plausibly in psql output. */
  private def oidOf(name: String): Int = PgCatalog.oidOf(name)

  /** Postgres type oid for a Spark type (pg_attribute.atttypid and the
    * format_type rendering both key off this). */
  private[server] def pgTypeOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case ByteType | ShortType => 21
    case IntegerType => 23
    case LongType => 20
    case FloatType => 700
    case DoubleType => 701
    case StringType => 25
    case BinaryType => 17
    case DateType => 1082
    case _: TimestampType | _: TimestampNTZType => 1114
    case _: DecimalType => 1700
    case _ => 25
  }

  private def relations(): Seq[(String, StructType)] =
    PgCatalog.sessionRelations()

  private def str(s: String) = UTF8String.fromString(s)

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  // schema DSL: name -> DataType pairs
  private def sch(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  private val pgClassSchema = sch(
    "oid" -> IntegerType, "relname" -> StringType,
    "relnamespace" -> IntegerType, "relkind" -> StringType,
    "relowner" -> IntegerType, "relam" -> IntegerType,
    "relchecks" -> IntegerType, "relhasindex" -> BooleanType,
    "relhasrules" -> BooleanType, "relhastriggers" -> BooleanType,
    "relrowsecurity" -> BooleanType, "relforcerowsecurity" -> BooleanType,
    "relispartition" -> BooleanType, "reltablespace" -> IntegerType,
    "reloftype" -> IntegerType, "relpersistence" -> StringType,
    "relreplident" -> StringType, "relpages" -> IntegerType,
    "reltuples" -> DoubleType, "relhassubclass" -> BooleanType,
    "relpartbound" -> StringType, "reltoastrelid" -> IntegerType,
    "reloptions" -> ArrayType(StringType), "relacl" -> StringType,
    "relfilenode" -> IntegerType)

  private def pgClassRows(): Array[InternalRow] =
    relations().map { case (n, _) =>
      row(oidOf(n), str(n), 2200, str("r"), 10, 2,
        0, false, false, false, false, false,
        false, 0, 0, str("p"), str("d"), 0, 0.0d, false, null,
        0, null, null, 0)
    }.toArray

  private val pgNamespaceSchema = sch("oid" -> IntegerType,
    "nspname" -> StringType, "nspowner" -> IntegerType)
  private def pgNamespaceRows() = Array(
    row(2200, str("public"), 10), row(11, str("pg_catalog"), 10),
    row(13212, str("information_schema"), 10))

  private val pgAmSchema =
    sch("oid" -> IntegerType, "amname" -> StringType)
  private def pgAmRows() = Array(row(2, str("heap")))

  private val pgTypeSchema = sch("oid" -> IntegerType,
    "typname" -> StringType, "typcollation" -> IntegerType)
  private def pgTypeRows() = PgCatalog.typeNames.map {
    case (oid, n) => row(oid, str(n), 0)
  }.toArray

  private val pgAttributeSchema = sch(
    "attrelid" -> IntegerType, "attname" -> StringType,
    "atttypid" -> IntegerType, "atttypmod" -> IntegerType,
    "attnotnull" -> BooleanType, "atthasdef" -> BooleanType,
    "attnum" -> IntegerType, "attisdropped" -> BooleanType,
    "attcollation" -> IntegerType, "attidentity" -> StringType,
    "attgenerated" -> StringType, "attstattarget" -> IntegerType,
    "attstorage" -> StringType, "attcompression" -> StringType,
    "attfdwoptions" -> StringType)
  private def pgAttributeRows(): Array[InternalRow] =
    relations().flatMap { case (n, schema) =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        row(oidOf(n), str(f.name), pgTypeOid(f.dataType), -1,
          !f.nullable, false, i + 1, false, 0, str(""), str(""),
          -1, str("p"), str(""), null)
      }
    }.toArray

  /** Satellite tables psql's probes join against: present and typed so
    * every query analyzes, empty so every footer stays silent. */
  private val emptyTables: Map[String, StructType] = Map(
    "pg_attrdef" -> sch("oid" -> IntegerType, "adrelid" -> IntegerType,
      "adnum" -> IntegerType, "adbin" -> StringType),
    "pg_collation" -> sch("oid" -> IntegerType, "collname" -> StringType),
    "pg_inherits" -> sch("inhrelid" -> IntegerType,
      "inhparent" -> IntegerType, "inhseqno" -> IntegerType,
      "inhdetachpending" -> BooleanType),
    "pg_index" -> sch("indexrelid" -> IntegerType, "indrelid" -> IntegerType,
      "indisprimary" -> BooleanType, "indisunique" -> BooleanType,
      "indisclustered" -> BooleanType, "indisvalid" -> BooleanType,
      "indisreplident" -> BooleanType, "indnullsnotdistinct" -> BooleanType,
      "indimmediate" -> BooleanType, "indkey" -> StringType),
    "pg_constraint" -> sch("oid" -> IntegerType, "conrelid" -> IntegerType,
      "contype" -> StringType, "conname" -> StringType,
      "condeferrable" -> BooleanType, "condeferred" -> BooleanType,
      "convalidated" -> BooleanType, "conbin" -> StringType,
      "confrelid" -> IntegerType, "conparentid" -> IntegerType),
    "pg_statistic_ext" -> sch("oid" -> IntegerType,
      "stxrelid" -> IntegerType, "stxnamespace" -> IntegerType,
      "stxname" -> StringType, "stxkind" -> StringType,
      "stxstattarget" -> IntegerType),
    "pg_policy" -> sch("oid" -> IntegerType, "polname" -> StringType,
      "polpermissive" -> BooleanType, "polroles" -> IntegerType,
      "polqual" -> StringType, "polwithcheck" -> StringType,
      "polrelid" -> IntegerType, "polcmd" -> StringType),
    "pg_publication" -> sch("oid" -> IntegerType, "pubname" -> StringType,
      "puballtables" -> BooleanType),
    "pg_publication_rel" -> sch("prpubid" -> IntegerType,
      "prrelid" -> IntegerType),
    "pg_rewrite" -> sch("oid" -> IntegerType, "ev_class" -> IntegerType,
      "rulename" -> StringType, "ev_enabled" -> StringType),
    "pg_trigger" -> sch("oid" -> IntegerType, "tgrelid" -> IntegerType,
      "tgname" -> StringType, "tgenabled" -> StringType,
      "tgisinternal" -> BooleanType, "tgconstraint" -> IntegerType),
    "pg_description" -> sch("objoid" -> IntegerType,
      "classoid" -> IntegerType, "objsubid" -> IntegerType,
      "description" -> StringType),
    "pg_proc" -> sch("oid" -> IntegerType, "proname" -> StringType,
      "pronamespace" -> IntegerType, "prokind" -> StringType,
      "proretset" -> BooleanType, "prorettype" -> IntegerType),
    "pg_auth_members" -> sch("roleid" -> IntegerType,
      "member" -> IntegerType, "grantor" -> IntegerType,
      "admin_option" -> BooleanType))

  private val pgRolesSchema = sch("oid" -> IntegerType,
    "rolname" -> StringType, "rolsuper" -> BooleanType,
    "rolinherit" -> BooleanType, "rolcreaterole" -> BooleanType,
    "rolcreatedb" -> BooleanType, "rolcanlogin" -> BooleanType,
    "rolconnlimit" -> IntegerType, "rolvaliduntil" -> StringType,
    "rolreplication" -> BooleanType, "rolbypassrls" -> BooleanType)
  private def pgRolesRows() = Array(
    row(10, str("graft"), true, true, true, true, true, -1, null,
      false, false))

  private val pgDatabaseSchema = sch("oid" -> IntegerType,
    "datname" -> StringType, "datdba" -> IntegerType,
    "encoding" -> IntegerType, "datcollate" -> StringType,
    "datctype" -> StringType, "daticulocale" -> StringType,
    "datlocprovider" -> StringType,
    "datacl" -> ArrayType(StringType), "datistemplate" -> BooleanType,
    "datallowconn" -> BooleanType)
  private def pgDatabaseRows() = Array(
    row(1, str("graft"), 10, 6, str("C"), str("C"), null, str("c"),
      null, false, true))

  private def tableDef(name: String)
      : Option[(StructType, () => Array[InternalRow])] =
    name match {
      case "pg_class" => Some(pgClassSchema -> (() => pgClassRows()))
      case "pg_namespace" => Some(pgNamespaceSchema -> (() => pgNamespaceRows()))
      case "pg_am" => Some(pgAmSchema -> (() => pgAmRows()))
      case "pg_type" => Some(pgTypeSchema -> (() => pgTypeRows()))
      case "pg_attribute" => Some(pgAttributeSchema -> (() => pgAttributeRows()))
      case "pg_roles" => Some(pgRolesSchema -> (() => pgRolesRows()))
      case "pg_database" => Some(pgDatabaseSchema -> (() => pgDatabaseRows()))
      case n => emptyTables.get(n).map(s => s -> (() => Array.empty[InternalRow]))
    }

  // --------------------------------------------------------- TableCatalog

  private def names: Seq[String] =
    Seq("pg_class", "pg_namespace", "pg_am", "pg_type", "pg_attribute",
      "pg_roles", "pg_database") ++ emptyTables.keys.toSeq.sorted

  override def listTables(namespace: Array[String]): Array[Identifier] =
    names.map(Identifier.of(Array.empty[String], _)).toArray

  override def loadTable(ident: Identifier): Table = {
    val n = ident.name.toLowerCase
    tableDef(n) match {
      case Some((schema, rows)) => new PgLocalTable(n, schema, rows)
      case None => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table =
    throw new UnsupportedOperationException("pg_catalog is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("pg_catalog is read-only")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("pg_catalog is read-only")

  // ------------------------------------------------------ FunctionCatalog

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    PgCatalog.functions.keys
      .map(Identifier.of(Array.empty[String], _)).toArray

  override def loadFunction(ident: Identifier): UnboundFunction =
    PgCatalog.functions.getOrElse(ident.name.toLowerCase,
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(catName, ident.name))
}

object PgCatalog {

  // name -> oid, assigned once per process (see oidOf in the class)
  private val oidByName =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val nextOid = new java.util.concurrent.atomic.AtomicInteger(16384)
  private[server] def oidOf(name: String): Int =
    oidByName.computeIfAbsent(name, _ => nextOid.getAndIncrement()).intValue

  /** Conf-register the metadata catalogs on a session (idempotent). */
  def install(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.pg_catalog",
      classOf[PgCatalog].getName)
    spark.conf.set("spark.sql.catalog.information_schema",
      classOf[InformationSchemaCatalog].getName)
  }

  /** The relations a client should see: the session's temp views and the
    * default database's tables. Listed through SessionCatalog directly
    * (pure driver metadata — no job). */
  private[server] def sessionRelations(): Seq[(String, StructType)] = {
    val s = SparkSession.active
    val names = s.sessionState.catalog.listTables("default")
      .map(_.table).distinct.sorted
    names.flatMap { n =>
      try Some(n -> s.table(n).schema)
      // a temp view over a dropped table no longer analyzes: left out
      catch { case _: AnalysisException => None }
    }
  }

  private[server] val typeNames: Seq[(Int, String)] = Seq(
    16 -> "boolean", 17 -> "bytea", 20 -> "bigint", 21 -> "smallint",
    23 -> "integer", 25 -> "text", 700 -> "real", 701 -> "double precision",
    1042 -> "character", 1043 -> "character varying", 1082 -> "date",
    1114 -> "timestamp without time zone", 1700 -> "numeric")

  private val typeNameByOid = typeNames.toMap

  /** Generic driver-evaluated scalar stub: psql's metadata queries are
    * tiny and driver-local, so the non-codegen produceResult path is the
    * right cost. */
  private final class PgScalar(fname: String, args: Seq[DataType],
      out: DataType, f: InternalRow => Any) extends UnboundFunction {
    override def name(): String = fname
    override def description(): String = s"pg_catalog.$fname"
    /** Bind to whatever arity/types the caller used: pg overloads several
      * of these (pg_get_expr has 2- and 3-arg forms, format_type takes
      * anyelement), and the stubs don't care. */
    override def bind(inputType: StructType): BoundFunction =
      new ScalarFunction[Any] {
        override def name(): String = fname
        override def inputTypes(): Array[DataType] =
          inputType.fields.zipWithIndex.map { case (fld, i) =>
            if (i < args.size && fld.dataType == NullType) args(i)
            else fld.dataType
          }
        override def resultType(): DataType = out
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): Any = f(input)
      }
  }

  /** The functions psql 14–16 call during `\dt` / `\d`: visibility and
    * ownership are answered truthfully for a single-namespace engine;
    * expression-decompilers return NULL (we have no stored defaults). */
  private[server] val functions: Map[String, UnboundFunction] = Map(
    "pg_table_is_visible" -> new PgScalar("pg_table_is_visible",
      Seq(IntegerType), BooleanType, _ => true),
    "pg_get_userbyid" -> new PgScalar("pg_get_userbyid",
      Seq(IntegerType), StringType,
      _ => UTF8String.fromString("graft")),
    "format_type" -> new PgScalar("format_type",
      Seq(IntegerType, IntegerType), StringType, in => {
        val oid = if (in.isNullAt(0)) 25 else in.getInt(0)
        UTF8String.fromString(typeNameByOid.getOrElse(oid, "text"))
      }),
    "pg_get_expr" -> new PgScalar("pg_get_expr",
      Seq(StringType, IntegerType, BooleanType), StringType, _ => null),
    "pg_get_partkeydef" -> new PgScalar("pg_get_partkeydef",
      Seq(IntegerType), StringType, _ => null),
    "pg_get_statisticsobjdef_columns" -> new PgScalar(
      "pg_get_statisticsobjdef_columns", Seq(IntegerType), StringType,
      _ => null),
    "pg_get_constraintdef" -> new PgScalar("pg_get_constraintdef",
      Seq(IntegerType, BooleanType), StringType, _ => null),
    "pg_get_indexdef" -> new PgScalar("pg_get_indexdef",
      Seq(IntegerType, IntegerType, BooleanType), StringType, _ => null),
    "pg_encoding_to_char" -> new PgScalar("pg_encoding_to_char",
      Seq(IntegerType), StringType,
      _ => UTF8String.fromString("UTF8")),
    "pg_size_pretty" -> new PgScalar("pg_size_pretty",
      Seq(LongType), StringType, in => {
        val b = if (in.isNullAt(0)) 0L else in.getLong(0)
        UTF8String.fromString(
          if (b < 10240) s"$b bytes"
          else if (b < 10485760) s"${b / 1024} kB"
          else s"${b / 1048576} MB")
      }),
    "pg_table_size" -> new PgScalar("pg_table_size",
      Seq(IntegerType), LongType, _ => 0L),
    "pg_relation_size" -> new PgScalar("pg_relation_size",
      Seq(IntegerType), LongType, _ => 0L),
    "pg_total_relation_size" -> new PgScalar("pg_total_relation_size",
      Seq(IntegerType), LongType, _ => 0L),
    "pg_indexes_size" -> new PgScalar("pg_indexes_size",
      Seq(IntegerType), LongType, _ => 0L),
    "pg_get_function_result" -> new PgScalar("pg_get_function_result",
      Seq(IntegerType), StringType, _ => null),
    "pg_get_function_arguments" -> new PgScalar(
      "pg_get_function_arguments", Seq(IntegerType), StringType, _ => null),
    "pg_function_is_visible" -> new PgScalar("pg_function_is_visible",
      Seq(IntegerType), BooleanType, _ => true),
    "col_description" -> new PgScalar("col_description",
      Seq(IntegerType, IntegerType), StringType, _ => null),
    "obj_description" -> new PgScalar("obj_description",
      Seq(IntegerType, StringType), StringType, _ => null),
    "shobj_description" -> new PgScalar("shobj_description",
      Seq(IntegerType, StringType), StringType, _ => null),
    "array_to_string" -> new PgScalar("array_to_string",
      Seq(ArrayType(StringType), StringType), StringType, in => {
        if (in.isNullAt(0)) null
        else {
          val arr = in.getArray(0)
          val sep = in.getUTF8String(1).toString
          UTF8String.fromString((0 until arr.numElements())
            .map(i => if (arr.isNullAt(i)) "" else arr.getUTF8String(i))
            .mkString(sep))
        }
      }))
}

/** ANSI `information_schema.{tables,columns}` over the same session
  * catalog — the introspection surface BI tools and generic SQL clients
  * query (psql speaks pg_catalog; nearly everything else speaks this). */
class InformationSchemaCatalog extends TableCatalog {

  private var catName = "information_schema"
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catName = name }
  override def name(): String = catName

  private def str(s: String) = UTF8String.fromString(s)
  private def sch(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = true) })

  private val tablesSchema = sch("table_catalog" -> StringType,
    "table_schema" -> StringType, "table_name" -> StringType,
    "table_type" -> StringType)

  private def tablesRows(): Array[InternalRow] =
    PgCatalog.sessionRelations().map { case (n, _) =>
      new GenericInternalRow(Array[Any](str("graft"), str("public"),
        str(n), str("BASE TABLE")))
    }.toArray

  private val columnsSchema = sch("table_catalog" -> StringType,
    "table_schema" -> StringType, "table_name" -> StringType,
    "column_name" -> StringType, "ordinal_position" -> IntegerType,
    "is_nullable" -> StringType, "data_type" -> StringType)

  private def columnsRows(): Array[InternalRow] = {
    val byOid = PgCatalog.typeNames.toMap
    val pg = new PgCatalog
    PgCatalog.sessionRelations().flatMap { case (n, schema) =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        new GenericInternalRow(Array[Any](str("graft"), str("public"),
          str(n), str(f.name), i + 1,
          str(if (f.nullable) "YES" else "NO"),
          str(byOid.getOrElse(pg.pgTypeOid(f.dataType), "text"))))
      }
    }.toArray
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array("tables", "columns").map(Identifier.of(Array.empty[String], _))

  override def loadTable(ident: Identifier): Table =
    ident.name.toLowerCase match {
      case "tables" =>
        new PgLocalTable("tables", tablesSchema, () => tablesRows())
      case "columns" =>
        new PgLocalTable("columns", columnsSchema, () => columnsRows())
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table =
    throw new UnsupportedOperationException("information_schema is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("information_schema is read-only")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("information_schema is read-only")
}

/** One driver-local metadata relation: rows snapshot at scan creation.
  * The scan reports their count and size, so joins between catalog
  * relations plan as broadcasts, not shuffled sort-merge joins. */
private[server] final class PgLocalTable(tname: String, tschema: StructType,
    rowsFn: () => Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tname
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new LocalScan with SupportsReportStatistics {
      private val snapshot = rowsFn()
      override def readSchema(): StructType = tschema
      override def rows(): Array[InternalRow] = snapshot
      override def description(): String = s"pg_catalog.$tname"
      override def estimateStatistics(): Statistics = new Statistics {
        override def sizeInBytes(): OptionalLong =
          OptionalLong.of(snapshot.length.toLong * tschema.defaultSize)
        override def numRows(): OptionalLong =
          OptionalLong.of(snapshot.length.toLong)
      }
    }
  }
}
