package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Q

/** The reference's TPC-DS corpus, PLANNED end to end.
  *
  * The reference ships all 99 TPC-DS query files plus the official DDL
  * (corpus files tpcds/query/query1..99.sql and tpcds/tpcds.sql, read
  * through [[SqlCorpus]]; Makefile targets exist) but its engine cannot
  * run most of them — no window functions, no set operations, no ROLLUP
  * (SURVEY §5: "treat as stretch surface, not supported surface").
  * Catalyst has the whole surface, so
  * this module proves the aspiration is MET here: every table from the
  * official DDL is registered (schema-faithful empty views — TPC-DS data
  * isn't in the driver testdata), and every query file is parsed,
  * analyzed, and OPTIMIZED — full logical planning, the everything-
  * but-execution gate. Window functions, INTERSECT/EXCEPT, ROLLUP,
  * GROUPING SETS, correlated subqueries across 99 queries, one dialect.
  *
  * The registry entry reports one row per query file with its planning
  * verdict, pinned to all-99-ok by RefTpcdsSpec. */
object RefTpcds {

  private val DdlFile = "tpcds/tpcds.sql"

  /** Corpus file of TPC-DS query n. */
  def file(n: Int): String = s"tpcds/query/query$n.sql"

  /** Column type in the official DDL → Spark type. `time` has no Spark
    * equivalent (reference maps it to its TIME logical type) → STRING,
    * which no query filters on arithmetically. */
  private def sparkType(t: String): DataType = {
    val lower = t.toLowerCase
    if (lower.startsWith("varchar") || lower.startsWith("char")) StringType
    else if (lower.startsWith("decimal")) {
      val ps = lower.stripPrefix("decimal").stripPrefix("(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(ps(0), ps(1))
    }
    else lower match {
      case "integer" | "int" => IntegerType
      case "bigint" => LongType
      case "smallint" => ShortType
      case "date" => DateType
      case "time" => StringType
      case "float" | "double" => DoubleType
      case other => throw new IllegalArgumentException(s"DDL type $other")
    }
  }

  /** Parse the official DDL of `corpus` into (table, schema) pairs. */
  def tables(corpus: SqlCorpus = SqlCorpus.reference)
      : Seq[(String, StructType)] = {
    val create = """(?is)create\s+table\s+(?:if\s+not\s+exists\s+)?(\w+)\s*\((.*)\)\s*\z""".r
    corpus.statements(DdlFile).flatMap(create.findFirstMatchIn).map { m =>
      val name = m.group(1)
      val body = m.group(2)
      // split columns on top-level commas (decimal(7,2) has a nested one)
      val cols = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      body.foreach {
        case '(' => depth += 1; cur.append('(')
        case ')' => depth -= 1; cur.append(')')
        case ',' if depth == 0 => cols += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      if (cur.nonEmpty) cols += cur.toString
      val fields = cols.map(_.trim).filter(_.nonEmpty)
        .filterNot(_.toLowerCase.startsWith("primary key"))
        .map { c =>
          val parts = c.split("\\s+", 3)
          StructField(parts(0), sparkType(parts(1)), nullable = true)
        }
      (name, StructType(fields.toSeq))
    }
  }

  /** Register every TPC-DS table as an empty temp view. */
  def registerEmpty(spark: SparkSession): Unit =
    tables().foreach { case (name, schema) =>
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        .createOrReplaceTempView(name)
    }

  /** Statements of queryN.sql (a few files hold two), comments stripped. */
  def statements(n: Int): Seq[String] =
    SqlCorpus.reference.statements(file(n))

  /** Query files that reference `customer.c_last_review_date_sk` while
    * the reference's own DDL declares `c_last_review_date` — the TPC-DS
    * kit renamed the column between versions, and the reference shipped
    * a DDL and a query generated from DIFFERENT kit versions. Not a
    * dialect gap: no engine can plan that corpus pair as-is. */
  val KitMismatch = Set(30)

  /** Plan (parse + analyze + optimize) every statement of queryN; returns
    * None on success or the failure summary. Runs under ANSI
    * double-quoted-identifier mode: the official qgen emits aliases like
    * `as "30 days"`, which is quoted-identifier SQL (q50/q62/q99 and the
    * order-count family q16/q32/q92/q94/q95). */
  def planVerdict(spark: SparkSession, n: Int): Option[String] = {
    val key = "spark.sql.ansi.doubleQuotedIdentifiers"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      statements(n).foreach { sql =>
        spark.sql(sql).queryExecution.optimizedPlan // forces full planning
      }
      None
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** One row per reference TPC-DS query file: (query_id, n_statements,
    * plans_ok). Planning runs in `spark.newSession()` — its own temp-view
    * catalog over the shared context — so TPC-DS table names (customer,
    * ...) never shadow the TPC-H views other registry queries use.
    * Deterministic; RefTpcdsSpec pins the 98/99 verdict. */
  val tpcdsPlan: Q = Q.noOracle("ref_tpcds_plan") { (s, _) =>
    val isolated = s.newSession()
    registerEmpty(isolated)
    import s.implicits._
    (1 to 99).map { n =>
      (n.toLong, statements(n).size.toLong, planVerdict(isolated, n).isEmpty)
    }.toDF("query_id", "n_statements", "plans_ok")
  }

  lazy val all: Seq[Q] = Seq(tpcdsPlan)
}
