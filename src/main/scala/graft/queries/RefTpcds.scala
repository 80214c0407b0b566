package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Q

/** The TPC-DS corpus, PLANNED end to end.
  *
  * The reference ships all 99 TPC-DS queries plus the official DDL, but
  * its engine cannot run most of them — no window functions, no set
  * operations, no ROLLUP (SURVEY §5: "treat as stretch surface, not
  * supported surface"). Catalyst has the whole surface, so this module
  * proves the aspiration is MET here: every table of the committed DDL
  * (`tpcds/ddl.sql`, DuckDB's dsdgen schema, read through [[SqlCorpus]])
  * is registered as a schema-faithful empty view, and every statement of
  * the committed slice texts ([[Tpcds.files]]) is parsed, analyzed and
  * OPTIMIZED — full logical planning, the everything-but-execution gate.
  * Window functions, INTERSECT/EXCEPT, ROLLUP, GROUPING SETS, correlated
  * subqueries across 99 queries, one dialect.
  *
  * The registry entry reports one row per query with its planning
  * verdict, pinned to all-99-ok by RefTpcdsSpec. */
object RefTpcds {

  private val DdlFile = "tpcds/ddl.sql"

  private val Decimal = """decimal\((\d+),(\d+)\)""".r

  /** Column type in the DDL → Spark type. */
  private def sparkType(t: String): DataType = t.toLowerCase match {
    case "varchar" => StringType
    case "integer" => IntegerType
    case "date" => DateType
    case Decimal(p, s) => DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(s"DDL type $other")
  }

  /** Parse the DDL of `corpus` (one `name type` column per line, as
    * `dev/corpus.py` writes it) into (table, schema) pairs. */
  def tables(corpus: SqlCorpus = SqlCorpus.queries)
      : Seq[(String, StructType)] = {
    val create = """(?is)create\s+table\s+(\w+)\s*\((.*)\)""".r
    corpus.statements(DdlFile).collect { case create(name, body) =>
      name -> StructType(body.split(",\\s*\n").toSeq.map { c =>
        val Array(col, tpe) = c.trim.split("\\s+")
        StructField(col, sparkType(tpe))
      })
    }
  }

  /** Register every TPC-DS table as an empty temp view. */
  def registerEmpty(spark: SparkSession): Unit =
    tables().foreach { case (name, schema) =>
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        .createOrReplaceTempView(name)
    }

  /** Plan (parse + analyze + optimize) every statement of query n;
    * returns None on success or the failure summary. */
  def planVerdict(spark: SparkSession, n: Int): Option[String] =
    try {
      Tpcds.files(n).foreach { file =>
        // forces full planning
        spark.sql(SqlCorpus.queries.text(file)).queryExecution.optimizedPlan
      }
      None
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    }

  /** One row per TPC-DS query: (query_id, n_statements, plans_ok).
    * Planning runs in `spark.newSession()` — its own temp-view catalog
    * over the shared context — so TPC-DS table names (customer, ...) never
    * shadow the TPC-H views other registry queries use. Deterministic;
    * RefTpcdsSpec pins the 99/99 verdict. */
  val tpcdsPlan: Q = Q.noOracle("ref_tpcds_plan") { (s, _) =>
    val isolated = s.newSession()
    registerEmpty(isolated)
    import s.implicits._
    (1 to 99).map { n =>
      (n.toLong, Tpcds.files(n).size.toLong, planVerdict(isolated, n).isEmpty)
    }.toDF("query_id", "n_statements", "plans_ok")
  }

  lazy val all: Seq[Q] = Seq(tpcdsPlan)
}
