package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-join materialized views ([[MaterializedView]] with dims + the
  * [[MvRewrite]] join match): a matching fact⋈dim aggregate must be
  * answered from the view with identical rows; stale views, moved dims
  * and non-matching shapes must fall back to the base plan. */
class MvJoinRewriteSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-mvj-").toString

  private val factSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cust", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))
  private val dimSchema = StructType(Seq(
    StructField("ck", LongType, nullable = false),
    StructField("seg", StringType),
    StructField("region", StringType)))

  private def factRows(rows: (Long, Long, Long)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach { case (i, c, v) => list.add(Row(i, c, v)) }
    spark.createDataFrame(list, factSchema).coalesce(1)
  }
  private def dimRows(rows: (Long, String, String)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach { case (c, s, r) => list.add(Row(c, s, r)) }
    spark.createDataFrame(list, dimSchema).coalesce(1)
  }

  private def scansView(df: DataFrame, viewRoot: String): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation
          if r.relation.table.name.contains(viewRoot) => r
    }.nonEmpty

  /** fact(id, cust, v) ⋈ dim(ck, seg, region): 3 customers in 2 segments. */
  private def fixture()
      : (LakeDataset, LakeDataset, MaterializedView, String) = {
    val root = tmpDir()
    val fact = LakeDataset.create(spark, s"$root/fact", factSchema)
    fact.append(factRows(
      (1L, 10L, 100L), (2L, 10L, 20L), (3L, 11L, 3L),
      (4L, 12L, 40L), (5L, 12L, 5L), (6L, 99L, 7L))) // 99: no dim row
    val dim = LakeDataset.create(spark, s"$root/dim", dimSchema)
    dim.append(dimRows(
      (10L, "auto", "emea"), (11L, "auto", "apac"), (12L, "bank", "emea")))
    val jmv = MaterializedView.create(spark, fact, s"$root/view",
      keys = Seq("seg"), sumCols = Seq("v"), maxCols = Seq("v"),
      dims = Seq(MvDim(dim.root, "cust", "ck", Seq("seg"))))
    MvRewrite.register(spark, jmv.view.root)
    (fact, dim, jmv, jmv.view.root)
  }

  private def starQuery(fact: LakeDataset, dim: LakeDataset): DataFrame = {
    val f = spark.read.format("lake").load(fact.root)
    val d = spark.read.format("lake").load(dim.root)
    f.join(d, f("cust") === d("ck"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("v").as("mx"))
  }

  test("star-join aggregate is answered from the join view, same rows") {
    val (fact, dim, _, viewRoot) = fixture()
    try {
      val q = starQuery(fact, dim)
      assert(scansView(q, viewRoot), q.queryExecution.optimizedPlan.toString)
      // the inner join drops cust=99 (no dim row) in both plans
      val got = q.orderBy("seg").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == Seq(("auto", 3L, 123L, 100L), ("bank", 2L, 45L, 40L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("key filter commutes into the view; SQL path rewrites too") {
    val (fact, dim, _, viewRoot) = fixture()
    try {
      val f = spark.read.format("lake").load(fact.root)
      val d = spark.read.format("lake").load(dim.root)
      val q = f.join(d, f("cust") === d("ck"))
        .filter(col("seg") === "auto")
        .groupBy("seg").agg(sum("v").as("sv"), avg("v").as("av"))
      assert(scansView(q, viewRoot))
      assert(q.collect().toSeq == Seq(Row("auto", 123L, 41.0)))

      f.createOrReplaceTempView("mvj_fact")
      d.createOrReplaceTempView("mvj_dim")
      val sq = spark.sql(
        """SELECT seg, sum(v) AS sv, count(*) AS n FROM mvj_fact
          | JOIN mvj_dim ON cust = ck GROUP BY seg""".stripMargin)
      assert(scansView(sq, viewRoot))
      assert(sq.orderBy("seg").collect().toSeq ==
        Seq(Row("auto", 123L, 3L), Row("bank", 45L, 2L)))
    } finally {
      MvRewrite.unregister(spark, viewRoot)
      spark.catalog.dropTempView("mvj_fact")
      spark.catalog.dropTempView("mvj_dim")
    }
  }

  test("fact DML + refresh: incremental fold matches full recompute") {
    val (fact, dim, jmv, viewRoot) = fixture()
    try {
      fact.delete("id = 1")          // auto loses its max row
      fact.append(factRows((7L, 11L, 500L), (8L, 12L, 1L)))
      // stale: the base plan answers, not the view
      val qStale = starQuery(fact, dim)
      assert(!scansView(qStale, viewRoot))
      val stats = jmv.refresh()
      assert(stats.removedGroups >= 0L, "fact-only window must fold, not rebuild")
      val expect = MaterializedView.expected(fact,
        keys = Seq("seg"), sumCols = Seq("v"), maxCols = Seq("v"),
        dims = Seq(MvDim(dim.root, "cust", "ck", Seq("seg"))))
        .orderBy("seg").collect().toSeq
      assert(jmv.read().select("seg", "mv_cnt", "sum_v", "max_v")
        .orderBy("seg").collect().toSeq == expect)
      val q = starQuery(fact, dim)
      assert(scansView(q, viewRoot))
      assert(q.orderBy("seg").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq ==
        Seq(("auto", 3L, 523L, 500L), ("bank", 3L, 46L, 40L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("dim movement: stale until refresh, which rebuilds") {
    val (fact, dim, jmv, viewRoot) = fixture()
    try {
      dim.update("ck = 12", Map("seg" -> "'retail'"))
      assert(!scansView(starQuery(fact, dim), viewRoot))
      val before = jmv.view.version
      val stats = jmv.refresh()
      assert(stats.removedGroups == -1L, "dim movement must take the rebuild path")
      // state and cursor land in ONE commit
      assert(jmv.view.version == before + 1)
      assert(stats.upsertedGroups == 2L)
      val q = starQuery(fact, dim)
      assert(scansView(q, viewRoot))
      assert(q.orderBy("seg").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq ==
        Seq(("auto", 123L), ("retail", 45L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("ROLLUP over the star join is answered from the join view") {
    val (fact, dim, _, viewRoot) = fixture()
    try {
      spark.read.format("lake").load(fact.root)
        .createOrReplaceTempView("mvjr_fact")
      spark.read.format("lake").load(dim.root)
        .createOrReplaceTempView("mvjr_dim")
      val q = spark.sql(
        """SELECT seg, CAST(grouping(seg) AS BIGINT) AS g,
          |  count(*) AS n, sum(v) AS sv
          |FROM mvjr_fact JOIN mvjr_dim ON cust = ck
          |GROUP BY ROLLUP (seg)""".stripMargin)
      assert(scansView(q, viewRoot), q.queryExecution.optimizedPlan.toString)
      val got = q.collect().map(r => (Option(r.getString(0)).getOrElse("-"),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        ("auto", 0L, 3L, 123L), ("bank", 0L, 2L, 45L),
        ("-", 1L, 5L, 168L)), got.toString)
    } finally {
      MvRewrite.unregister(spark, viewRoot)
      spark.catalog.dropTempView("mvjr_fact")
      spark.catalog.dropTempView("mvjr_dim")
    }
  }

  test("non-matching shapes fall back to the base plan") {
    val (fact, dim, _, viewRoot) = fixture()
    try {
      val f = spark.read.format("lake").load(fact.root)
      val d = spark.read.format("lake").load(dim.root)
      // wrong join keys
      assert(!scansView(
        f.join(d, f("id") === d("ck")).groupBy("seg").agg(sum("v")),
        viewRoot))
      // non-key filter (a measure predicate cannot commute)
      assert(!scansView(
        f.join(d, f("cust") === d("ck")).filter(col("v") > 10)
          .groupBy("seg").agg(sum("v")), viewRoot))
      // grouping on a column the view does not expose
      assert(!scansView(
        f.join(d, f("cust") === d("ck")).groupBy("region").agg(sum("v")),
        viewRoot))
      // extra join predicate beyond the declared pair
      assert(!scansView(
        f.join(d, f("cust") === d("ck") && f("id") === d("ck"))
          .groupBy("seg").agg(sum("v")), viewRoot))
      // left outer join keeps unmatched fact rows — never the view
      assert(!scansView(
        f.join(d, f("cust") === d("ck"), "left")
          .groupBy("seg").agg(sum("v")), viewRoot))
      // DISTINCT aggregate
      assert(!scansView(
        f.join(d, f("cust") === d("ck")).groupBy("seg")
          .agg(countDistinct("v")), viewRoot))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("dim roots with separator characters round-trip through the view") {
    val root = tmpDir()
    val fact = LakeDataset.create(spark, s"$root/fact", factSchema)
    fact.append(factRows((1L, 10L, 100L), (2L, 11L, 3L)))
    // '%7C' must come back as written, not as the '|' it escapes
    val dim = LakeDataset.create(spark, s"$root/dim|a;b+c%7C", dimSchema)
    dim.append(dimRows((10L, "auto", "emea"), (11L, "bank", "apac")))
    val dims = Seq(MvDim(dim.root, "cust", "ck", Seq("seg", "region")))
    val mv = MaterializedView.create(spark, fact, s"$root/view",
      keys = Seq("seg", "region"), sumCols = Seq("v"), dims = dims)
    val reopened = MaterializedView.open(spark, mv.view.root)
    assert(reopened.dims == dims)
    fact.append(factRows((3L, 11L, 7L)))
    dim.update("ck = 10", Map("region" -> "'apac'"))
    assert(reopened.refresh().removedGroups == -1L)
    fact.append(factRows((4L, 10L, 1L)))
    assert(reopened.refresh().removedGroups >= 0L)
    val cols = Seq("seg", "region", "mv_cnt", "sum_v")
    assert(reopened.read().select(cols.map(col): _*).orderBy("seg")
      .collect().toSeq ==
      MaterializedView.expected(fact, Seq("seg", "region"), Seq("v"),
        dims = dims).select(cols.map(col): _*).orderBy("seg").collect().toSeq)
  }
}
