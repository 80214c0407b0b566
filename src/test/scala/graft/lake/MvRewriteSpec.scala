package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transparent MV query rewriting ([[MvRewrite]]): matching aggregates
  * over the base table must be answered from the view — same rows, view
  * scan in the plan — and every unsafe shape must be left alone. */
class MvRewriteSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-mvr-").toString

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

  private def fixture(): (LakeDataset, MaterializedView, String) = {
    val root = tmpDir()
    val base = LakeDataset.create(spark, s"$root/base", schema)
    base.append(frame(
      ("a", "x", 1L, 10L), ("a", "x", 2L, 20L), ("a", "y", 3L, 30L),
      ("b", "x", 4L, 5L), ("b", "y", 5L, 50L)))
    val mv = MaterializedView.create(spark, base, s"$root/view",
      keys = Seq("k", "g"), sumCols = Seq("v"), maxCols = Seq("v"),
      minCols = Seq("v"))
    MvRewrite.register(spark, mv.view.root)
    (base, mv, mv.view.root)
  }

  private def baseDf(base: LakeDataset): DataFrame =
    spark.read.format("lake").load(base.root)

  test("exact-key aggregate is answered from the view, same rows") {
    val (base, _, viewRoot) = fixture()
    try {
      val q = baseDf(base).groupBy("k", "g").agg(
        count(lit(1)).as("n"), sum("v").as("sv"),
        max("v").as("mx"), min("v").as("mn"))
      assert(scansView(q, viewRoot), q.queryExecution.optimizedPlan.toString)
      val got = q.orderBy("k", "g").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(got == Seq(
        ("a", "x", 2L, 30L, 20L, 10L), ("a", "y", 1L, 30L, 30L, 30L),
        ("b", "x", 1L, 5L, 5L, 5L), ("b", "y", 1L, 50L, 50L, 50L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("coarser grouping re-aggregates the view; avg folds exactly") {
    val (base, _, viewRoot) = fixture()
    try {
      val q = baseDf(base).groupBy("k").agg(
        count(lit(1)).as("n"), sum("v").as("sv"), avg("v").as("av"),
        max("v").as("mx"))
      assert(scansView(q, viewRoot))
      val got = q.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      assert(got == Seq(("a", 3L, 60L, 20.0, 30L), ("b", 2L, 55L, 27.5, 50L)))
      // global (no grouping) also folds
      val g = baseDf(base).agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(scansView(g, viewRoot))
      assert(g.collect().head == Row(5L, 115L))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("key-only filters commute into the view; non-key filters do not") {
    val (base, _, viewRoot) = fixture()
    try {
      val q = baseDf(base).filter("k = 'a'").groupBy("g")
        .agg(sum("v").as("sv"))
      assert(scansView(q, viewRoot))
      assert(q.orderBy("g").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 30L), ("y", 30L)))

      val nk = baseDf(base).filter("v > 10").groupBy("k")
        .agg(sum("v").as("sv"))
      assert(!scansView(nk, viewRoot))
      assert(nk.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 50L), ("b", 50L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("stale view never answers; refresh re-enables the rewrite") {
    val (base, mv, viewRoot) = fixture()
    try {
      base.append(frame(("c", "x", 6L, 7L)))
      val q = baseDf(base).groupBy("k").agg(sum("v").as("sv"))
      assert(!scansView(q, viewRoot))
      // the un-rewritten plan sees the new row
      assert(q.filter("k = 'c'").collect().head.getLong(1) == 7L)
      mv.refresh()
      val q2 = baseDf(base).groupBy("k").agg(sum("v").as("sv"))
      assert(scansView(q2, viewRoot))
      assert(q2.filter("k = 'c'").collect().head.getLong(1) == 7L)
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("a view whose directory is gone falls back to the base plan") {
    val (base, _, viewRoot) = fixture()
    try {
      Files.walk(java.nio.file.Paths.get(viewRoot))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      val q = baseDf(base).groupBy("k").agg(sum("v").as("sv"))
      assert(!scansView(q, viewRoot))
      assert(q.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 60L), ("b", 55L)))
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("untranslatable shapes are left alone") {
    val (base, _, viewRoot) = fixture()
    try {
      // DISTINCT aggregate
      assert(!scansView(
        baseDf(base).groupBy("k").agg(countDistinct("v")), viewRoot))
      // aggregate over an expression of a measure
      assert(!scansView(
        baseDf(base).groupBy("k").agg(sum(col("v") * 2)), viewRoot))
      // non-key column in the output
      assert(!scansView(
        baseDf(base).groupBy("k", "id").agg(sum("v")), viewRoot))
      // time travel reads the pinned version, never the view
      assert(!scansView(
        spark.read.format("lake").option("versionAsOf", "1")
          .load(base.root).groupBy("k").agg(sum("v")), viewRoot))
      // avg over a NULLABLE column must not fold (cnt != value count)
      val nroot = tmpDir()
      val nb = LakeDataset.create(spark, s"$nroot/b", StructType(Seq(
        StructField("k", StringType), StructField("v", LongType))))
      val rows = new java.util.ArrayList[Row]()
      rows.add(Row("a", java.lang.Long.valueOf(10L))); rows.add(Row("a", null))
      nb.append(spark.createDataFrame(rows, nb.schema).coalesce(1))
      val nmv = MaterializedView.create(spark, nb, s"$nroot/v",
        keys = Seq("k"), sumCols = Seq("v"))
      MvRewrite.register(spark, nmv.view.root)
      try {
        val q = spark.read.format("lake").load(nb.root)
          .groupBy("k").agg(avg("v").as("av"), sum("v").as("sv"))
        assert(!scansView(q, nmv.view.root))
        assert(q.collect().head.getDouble(1) == 10.0) // avg skips the null
      } finally MvRewrite.unregister(spark, nmv.view.root)
    } finally MvRewrite.unregister(spark, viewRoot)
  }

  test("multiple views per base: the narrowest fresh covering view wins") {
    val (base, _, wideRoot) = fixture() // keyed (k, g)
    val narrow = MaterializedView.create(spark, base,
      s"${tmpDir()}/narrow", keys = Seq("k"), sumCols = Seq("v"))
    MvRewrite.register(spark, narrow.view.root)
    try {
      // group by k: both cover; the single-key view must answer
      val qk = baseDf(base).groupBy("k").agg(sum("v").as("sv"))
      assert(scansView(qk, narrow.view.root))
      assert(!scansView(qk, wideRoot))
      assert(qk.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 60L), ("b", 55L)))
      // group by k,g: only the two-key view covers
      val qkg = baseDf(base).groupBy("k", "g").agg(sum("v").as("sv"))
      assert(scansView(qkg, wideRoot))
      // max(v): the narrow view has no max column; the wide one does
      val qm = baseDf(base).groupBy("k").agg(max("v").as("mx"))
      assert(scansView(qm, wideRoot))
      assert(qm.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 30L), ("b", 50L)))
    } finally {
      MvRewrite.unregister(spark, narrow.view.root)
      MvRewrite.unregister(spark, wideRoot)
    }
  }

  test("SQL over a temp view on the base path rewrites too") {
    val (base, _, viewRoot) = fixture()
    try {
      baseDf(base).createOrReplaceTempView("mvr_base")
      val q = spark.sql(
        "SELECT k, sum(v) AS sv, count(*) AS n FROM mvr_base GROUP BY k")
      assert(scansView(q, viewRoot))
      assert(q.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("a", 60L, 3L), ("b", 55L, 2L)))
    } finally {
      MvRewrite.unregister(spark, viewRoot)
      spark.catalog.dropTempView("mvr_base")
    }
  }
}
