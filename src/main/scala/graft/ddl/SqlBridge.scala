package graft.ddl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dialect bridge for the two statement shapes the reference's SQL surface
  * has and Spark SQL's parser doesn't: CREATE TABLE with inline
  * `PRIMARY KEY (...)` / `NOT NULL` constraints (executor_ddl.go,
  * storage/table_constraint.go — the shape of cases/tpch/query/ddl.sql),
  * and pg-style `COPY <table|(query)> FROM/TO '<path>' [WITH] (options)`
  * (builder_dml.go:325-469). Everything else passes through `spark.sql`
  * untouched — this is the "tiny SQL-preprocess shim" SURVEY §7.1 allows,
  * not a parser: [[PgText]]'s splitter plus two anchored patterns.
  *
  * [[graft.server.WireServer]] and [[graft.Runner]] route statements here,
  * so the reference's ddl.sql runs byte-for-byte through the wire. */
object SqlBridge {

  private val CreateTableRe =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*)\)\s*""".r
  private val CopyFromRe =
    """(?is)\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:WITH\s*)?(?:\((.*)\))?\s*""".r
  private val CopyToRe =
    """(?is)\s*COPY\s+(?:\((.*)\)|([\w.]+))\s+TO\s+'([^']+)'\s*(?:WITH\s*)?(?:\((.*)\))?\s*""".r

  /** Execute one statement, bridging dialect where needed. Returns the
    * statement's result frame (empty for DDL; a 1-row count for COPY). */
  def execute(spark: SparkSession, stmt: String): DataFrame = stmt match {
    case CreateTableRe(_, name, body) if hasConstraintSyntax(body) =>
      val (schema, pk) = parseColumns(PgText.stripComments(body))
      Engine.createTable(spark, name, schema, pk)
      spark.emptyDataFrame
    case CopyFromRe(table, path, opts) =>
      val o = parseOptions(Option(opts))
      val format = o.getOrElse("format", "csv")
      val readerOpts = copyReaderOptions(o)
      val n =
        if (format.equalsIgnoreCase("csv") &&
            !readerOpts.get("header").exists(_.toBoolean)) {
          // headerless csv has positional _c0.. names; bind the table's
          // schema at read so the name-aligned insert sees real columns
          val target = spark.table(table)
          Engine.insertInto(spark, table,
            spark.read.options(readerOpts).schema(target.schema)
              .format("csv").load(path))
        } else Engine.copyFrom(spark, table, path, format, readerOpts)
      copyResult(spark, n)
    case CopyToRe(query, table, path, opts) =>
      val o = parseOptions(Option(opts))
      val df =
        if (query != null) spark.sql(query) else spark.table(table)
      Engine.copyTo(df, path, o.getOrElse("format", "csv"),
        copyReaderOptions(o))
      copyResult(spark, -1L)
    case other => spark.sql(other)
  }

  /** The result schema of a statement this bridge runs itself, or None
    * for one that passes through to `spark.sql`. Known without running
    * the statement, so a wire Describe can report it. */
  def bridgedSchema(stmt: String): Option[StructType] = stmt match {
    case CreateTableRe(_, _, body) if hasConstraintSyntax(body) =>
      Some(new StructType())
    case CopyFromRe(_, _, _) | CopyToRe(_, _, _, _) =>
      Some(StructType(Seq(StructField("count", LongType, nullable = false))))
    case _ => None
  }

  private def copyResult(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("count")
  }

  /** Inline constraints Spark's parser rejects for file-source tables. */
  private def hasConstraintSyntax(body: String): Boolean = {
    val b = PgText.stripComments(body).toUpperCase
    b.contains("PRIMARY KEY") || b.contains("NOT NULL")
  }

  /** Split `body` at top-level commas into column defs + PRIMARY KEY
    * entries; NOT NULL marks nullable=false; types go through Spark's own
    * DDL type parser (VARCHAR(n)/CHAR(n)/DECIMAL(p,s)/INTEGER/... all
    * native). */
  private[ddl] def parseColumns(body: String): (StructType, Seq[String]) = {
    val parts = PgText.split(body, ',').filter(_.trim.nonEmpty)
    val pk = scala.collection.mutable.ArrayBuffer.empty[String]
    val fields = parts.flatMap { p0 =>
      val p = p0.trim
      val up = p.toUpperCase
      if (up.startsWith("PRIMARY KEY")) {
        val inner = p.substring(p.indexOf('(') + 1, p.lastIndexOf(')'))
        pk ++= inner.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
        None
      } else if (up.startsWith("UNIQUE") || up.startsWith("FOREIGN KEY") ||
          up.startsWith("CHECK") || up.startsWith("CONSTRAINT")) {
        None // declarative-only in the reference too; recorded nowhere yet
      } else {
        val notNull = up.contains("NOT NULL")
        val cleaned = p.replaceAll("(?i)\\s+NOT\\s+NULL", "")
          .replaceAll("(?i)\\s+PRIMARY\\s+KEY", "")
        val Array(name, tpe) = cleaned.trim.split("\\s+", 2)
        if (cleaned.trim.toUpperCase.endsWith("PRIMARY KEY"))
          pk += name.toLowerCase
        val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(tpe.trim)
        Some(StructField(name.toLowerCase, dt, nullable = !notNull))
      }
    }
    (StructType(fields), pk.toSeq)
  }

  /** pg COPY option list: `FORMAT csv, DELIMITER '|', HEADER` →
    * reader options (lower-cased keys; bare flags become "true"; a string
    * literal value is what it spells, so `E'\t'` is a TAB). */
  private[ddl] def parseOptions(opts: Option[String]): Map[String, String] =
    opts.filter(_ != null).map(_.trim).filter(_.nonEmpty) match {
      case None => Map.empty
      case Some(s) =>
        PgText.split(s, ',').filter(_.trim.nonEmpty).map { kv =>
          kv.trim.split("\\s+", 2) match {
            case Array(k) => k.toLowerCase -> "true"
            case Array(k, v) =>
              k.toLowerCase -> PgText.literal(v.trim).getOrElse(v.trim)
          }
        }.toMap
    }

  /** COPY options → Spark reader/writer options (drop the format key;
    * map pg names onto Spark's csv option names). */
  private def copyReaderOptions(o: Map[String, String]): Map[String, String] =
    (o - "format").map {
      case ("delimiter", v) => "sep" -> v
      case ("null", v) => "nullValue" -> v
      case (k, v) => k -> v
    }
}
