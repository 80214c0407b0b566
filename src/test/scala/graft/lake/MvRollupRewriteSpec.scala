package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ROLLUP / CUBE / GROUPING SETS answered from a materialized view
  * ([[MvRewrite]]'s Expand rewrite): the Expand machinery survives, the
  * fact scan under it becomes the groups-sized view scan, every
  * aggregate folds, and all unsafe shapes fall back to the base. */
class MvRollupRewriteSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("g", StringType),
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def frame(rows: (String, String, Long, Long)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach { case (k, g, id, v) => list.add(Row(k, g, id, v)) }
    spark.createDataFrame(list, schema).coalesce(1)
  }

  private def scansView(df: DataFrame, viewRoot: String): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation
          if r.relation.table.name.contains(viewRoot) => r
    }.nonEmpty

  private def fixture(): (LakeDataset, String) = {
    val root = Files.createTempDirectory("lake-mvru-").toString
    val base = LakeDataset.create(spark, s"$root/base", schema)
    base.append(frame(
      ("a", "x", 1L, 10L), ("a", "x", 2L, 20L), ("a", "y", 3L, 30L),
      ("b", "x", 4L, 5L), ("b", "y", 5L, 50L)))
    val mv = MaterializedView.create(spark, base, s"$root/view",
      keys = Seq("k", "g"), sumCols = Seq("v"), maxCols = Seq("v"),
      minCols = Seq("v"))
    (base, mv.view.root)
  }

  private def baseDf(base: LakeDataset): DataFrame =
    spark.read.format("lake").load(base.root)

  /** Rows of `q` computed twice: without the view registered (truth from
    * the base) and with it (must scan the view) — and they must agree. */
  private def sameWithAndWithoutView(base: LakeDataset, viewRoot: String)(
      q: DataFrame => DataFrame): Unit = {
    val truth = q(baseDf(base)).collect().map(_.toString).sorted.toSeq
    MvRewrite.register(spark, viewRoot)
    try {
      val df = q(baseDf(base))
      assert(scansView(df, viewRoot),
        df.queryExecution.optimizedPlan.toString)
      assert(df.collect().map(_.toString).sorted.toSeq == truth)
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("rollup folds count/sum/max/min from the view, rows identical") {
    val (base, viewRoot) = fixture()
    sameWithAndWithoutView(base, viewRoot)(
      _.rollup("k", "g").agg(count(lit(1)).as("n"), sum("v").as("sv"),
        max("v").as("mx"), min("v").as("mn")))
  }

  test("cube with GROUPING() disambiguation folds; avg folds exactly") {
    val (base, viewRoot) = fixture()
    sameWithAndWithoutView(base, viewRoot) { df =>
      df.createOrReplaceTempView("mvru_base")
      df.sparkSession.sql(
        """SELECT k, g, GROUPING(k) AS gk, GROUPING(g) AS gg,
          |  count(*) AS n, sum(v) AS sv, avg(v) AS av
          |FROM mvru_base GROUP BY CUBE (k, g)""".stripMargin)
    }
  }

  test("explicit GROUPING SETS with a key filter commutes to the view") {
    val (base, viewRoot) = fixture()
    sameWithAndWithoutView(base, viewRoot) { df =>
      df.createOrReplaceTempView("mvru_base2")
      df.sparkSession.sql(
        """SELECT k, g, count(*) AS n, min(v) AS mn
          |FROM mvru_base2 WHERE k = 'a'
          |GROUP BY GROUPING SETS ((k, g), (k), ())""".stripMargin)
    }
  }

  test("stale view never answers a rollup") {
    val (base, viewRoot) = fixture()
    MvRewrite.register(spark, viewRoot)
    try {
      base.append(frame(("c", "z", 6L, 7L))) // view now behind
      val q = baseDf(base).rollup("k").agg(sum("v").as("sv"))
      assert(!scansView(q, viewRoot))
      val got = q.orderBy(col("k").asc_nulls_first).collect()
        .map(r => (Option(r.getString(0)).getOrElse("-"), r.getLong(1)))
      assert(got.toSeq ==
        Seq(("-", 122L), ("a", 60L), ("b", 55L), ("c", 7L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("non-key grouping or untranslatable aggregate falls back to base") {
    val (base, viewRoot) = fixture()
    MvRewrite.register(spark, viewRoot)
    try {
      // id is not a view key: grouping on it cannot use the view
      val q1 = baseDf(base).rollup("k", "id").agg(sum("v").as("sv"))
      assert(!scansView(q1, viewRoot))
      assert(q1.collect().nonEmpty)
      // count(g): non-null count of a non-key column — untranslatable
      val q2 = baseDf(base).rollup("k").agg(count(col("g")).as("ng"))
      assert(!scansView(q2, viewRoot))
      assert(q2.collect().nonEmpty)
    } finally MvRewrite.unregister(spark, viewRoot)
  }
}
