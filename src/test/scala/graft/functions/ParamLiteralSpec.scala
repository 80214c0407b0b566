package graft.functions

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}

import graft.{SparkTestBase, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Constants in physical filters become [[ParamLiteral]]s: statements that
  * differ only in a constant share one compiled class, while results,
  * scan pushdown and `explain` text stay what plain literals give. Every
  * check runs with adaptive execution on and off. */
class ParamLiteralSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Classes Janino compiled while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The [[ParamLiteral]]s in a run frame's executed plan, stages included. */
  private def params(df: DataFrame): Seq[ParamLiteral] =
    flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(
      _.collect { case p: ParamLiteral => p }))

  private def point(s: SparkSession, key: Long): DataFrame = s.sql(
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |  o_orderdate, o_orderpriority
       |FROM orders WHERE o_orderkey = $key""".stripMargin)

  private def aggregate(year: Int, price: Int = 1000): DataFrame = spark.sql(
    s"""SELECT o_orderstatus, count(*) AS n
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '$year-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '${year + 1}-01-01 00:00:00'
       |  AND o_totalprice > $price.5D
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)

  /** The typed table the result checks filter: an id plus one column per
    * rewritten type, holding boundary values, NaN, ±0.0 and nulls. */
  private lazy val typed: (DataFrame, Seq[Row]) = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType)))
    def date(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    def ntz(s: String) = LocalDateTime.parse(s)
    val cols: Seq[Seq[Any]] = Seq(
      Seq(Int.MinValue, -1, 0, 1, 7, Int.MaxValue, null, 7, null),
      Seq(Long.MinValue, -1L, 0L, 1L, 7L, Long.MaxValue, null, 7L, null),
      Seq(Double.NegativeInfinity, -0.0, 0.0, 1.5, Double.NaN,
        Double.PositiveInfinity, null, Double.MaxValue, Double.NaN),
      Seq(date("1900-01-01"), date("1969-12-31"), date("1970-01-01"),
        date("2000-02-29"), date("9999-12-31"), null, null,
        date("2000-02-29"), date("1970-01-02")),
      Seq(ts("1900-01-01T00:00:00Z"), ts("1969-12-31T23:59:59.999999Z"),
        ts("1970-01-01T00:00:00Z"), ts("2024-02-29T12:00:00.5Z"),
        ts("9999-12-31T23:59:59.999999Z"), null, null,
        ts("1970-01-01T00:00:00.000001Z"), ts("2024-02-29T12:00:00.5Z")),
      Seq(ntz("1900-01-01T00:00:00"), ntz("1969-12-31T23:59:59.999999"),
        ntz("1970-01-01T00:00:00"), ntz("2024-02-29T12:00:00.5"),
        ntz("9999-12-31T23:59:59.999999"), null, null,
        ntz("1970-01-01T00:00:00.000001"), ntz("2024-02-29T12:00:00.5")))
    val rows = cols.head.indices.map(r => Row.fromSeq(r +: cols.map(_(r))))
    val dir = Files.createTempDirectory("param-literal-").resolve("t").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(dir)
    (spark.read.parquet(dir), spark.read.parquet(dir).collect().toSeq)
  }

  /** Spark's ordering of two non-null values of one column: NaN equals
    * NaN and sorts above every double, -0.0 equals 0.0. */
  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Double, y: Double) =>
      if (x.isNaN) { if (y.isNaN) 0 else 1 }
      else if (y.isNaN) -1
      else if (x == y) 0
      else java.lang.Double.compare(x, y)
    case (x: java.sql.Date, y: java.sql.Date) =>
      x.toLocalDate.compareTo(y.toLocalDate)
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] =
    Seq(("=", _ === _, _ == 0), ("<=>", _ <=> _, _ == 0),
      ("<", _ < _, _ < 0), ("<=", _ <= _, _ <= 0),
      (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))

  for (aqe <- Seq(true, false)) {
    val mode = if (aqe) "AQE on" else "AQE off"
    def aqeConf = "spark.sql.adaptive.enabled" -> aqe.toString

    test(s"distinct constants compile no new class after one warm-up ($mode)") {
      withConf(aqeConf) {
        Tables.register(spark, sf0001)
        point(spark, 1L).collect()
        aggregate(1995).collect()
        // distinct constants in each mode: a class compiled under the
        // other mode cannot hide a per-constant compile. Every aggregate
        // has rows: adaptive execution plans an empty input differently.
        val shift = if (aqe) 1 else 2
        val keys = (1 to 20).map(k => 3L * k + shift)
        val n = compiles(keys.foreach(k => point(spark, k).collect()))
        assert(n == 0, s"$n classes compiled for 20 point lookups")
        val aggs = for (y <- 1995 to 1998; p <- Seq(1000, 2000)) yield (y, p + shift)
        val m = compiles(aggs.foreach { case (y, p) =>
          assert(aggregate(y, p).collect().nonEmpty)
        })
        assert(m == 0, s"$m classes compiled for ${aggs.size} aggregates")
      }
    }

    test(s"filters on every rewritten type equal a Scala-side filter ($mode)") {
      withConf(aqeConf) {
        val (df, all) = typed
        for ((name, c) <- df.schema.fieldNames.zipWithIndex.drop(1);
             v <- all.map(_.get(c)).filter(_ != null).distinct;
             (op, build, holds) <- ops;
             flipped <- Seq(false, true)) {
          val cond =
            if (flipped) build(lit(v), col(name)) else build(col(name), lit(v))
          val got = df.filter(cond)
          val ids = got.select("id").collect().map(_.getInt(0)).toSet
          val want = all.filter { r =>
            !r.isNullAt(c) && holds(
              if (flipped) compare(v, r.get(c)) else compare(r.get(c), v))
          }.map(_.getInt(0)).toSet
          assert(ids == want, s"$name $op $v (flipped=$flipped)")
          assert(params(got).nonEmpty, s"$name $op $v kept a plain literal")
        }
      }
    }

    test(s"point lookups push EqualTo(o_orderkey,k) into the scan ($mode)") {
      withConf(aqeConf) {
        Tables.register(spark, sf0001)
        val df = point(spark, 103L)
        assert(df.collect().map(_.getLong(0)).toSeq == Seq(103L))
        val pushed = collect(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s.metadata("PushedFilters")
        }
        assert(pushed.exists(_.contains("EqualTo(o_orderkey,103)")), pushed)
        assert(params(df).map(_.value) == Seq(103L))
      }
    }

    test(s"explain text is unchanged by the rewrite ($mode)") {
      withConf(aqeConf, "spark.sql.maxMetadataStringLength" -> "10000",
          "spark.sql.debug.maxToStringFields" -> "1000") {
        Tables.register(spark, sf0001)
        for ((q, df) <- Seq("point" -> point(spark, 103L),
               "aggregate" -> aggregate(1995));
             explain <- Seq("simple", "extended", "formatted")) {
          df.collect()
          assert(params(df).nonEmpty)
          val name = s"$q-${if (aqe) "aqe" else "noaqe"}-$explain"
          val got = ParamLiteralSpec.normalize(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(explain)))
          val want = Files.readString(
            Paths.get(s"src/test/resources/param-goldens/$name.txt"))
          assert(got == want, s"$name\n--- got ---\n$got\n--- want ---\n$want")
        }
      }
    }
  }

  test("a bare builder session and its newSession child carry the rule") {
    withBareSession { bare =>
      for (s <- Seq(bare, bare.newSession())) {
        Tables.register(s, sf0001)
        val df = point(s, 7L)
        assert(df.collect().map(_.getLong(0)).toSeq == Seq(7L))
        assert(params(df).map(_.value) == Seq(7L))
      }
    }
  }

  test("a ParamLiteral evaluates, renders and compares as its Literal") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val day = LocalDate.parse("1998-12-01").toEpochDay.toInt
    val p = ParamLiteral(day, DateType)
    assert(p.eval(null) == day)
    assert(p.toString == Literal(day, DateType).toString)
    assert(p.sql == "DATE '1998-12-01'")
    assert(!p.foldable)
    assert(p == ParamLiteral(day, DateType))
    assert(p != ParamLiteral(day + 1, DateType))
    assert(p.canonicalized != ParamLiteral(day + 1, DateType).canonicalized)
    assert(ParamLiteral(Double.NaN, DoubleType) == ParamLiteral(Double.NaN, DoubleType))
  }
}

object ParamLiteralSpec {
  /** Strips what differs between runs of one plan: expression and plan
    * ids, file paths, trailing blanks. */
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+[L]?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("file:[^\\]\\,\\s]+", "path")
      .replaceAll("\\[id=#x\\]", "")
      .replaceAll("(?m)\\s+$", "")
}
