package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The footer-stats fast path must produce BYTE-IDENTICAL fragment stats
  * to the scan-job path it replaces: same dataset contents written once
  * with `spark.graft.stats.fromFooters=true` (default) and once with the
  * scan fallback forced, manifests compared field by field. Covers the
  * engine's stat-bearing types incl. nulls, negative values, empty
  * strings, decimals, signed zeros, timestamps, and the exactness edges (a
  * > 4 KB string, a NaN double and INT96 timestamps must FALL BACK, not
  * drop or corrupt stats). */
class FooterStatsSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-footer-").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("flag", BooleanType),
    StructField("day", DateType),
    StructField("amt", DecimalType(12, 2)),
    StructField("small", IntegerType)))

  private def frame(r: Row*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach(data.add)
    spark.createDataFrame(data, schema)
  }

  private def sampleRows = Seq(
    Row(1L, "apple", -1.5, true, java.sql.Date.valueOf("2023-01-05"),
      new java.math.BigDecimal("123.45"), 7),
    Row(2L, null, 0.0, false, null, new java.math.BigDecimal("-99.10"), null),
    Row(3L, "", 2.75, null, java.sql.Date.valueOf("2024-06-01"),
      null, -4),
    Row(4L, "zebra" * 40, 1e300, true, java.sql.Date.valueOf("2020-12-31"),
      new java.math.BigDecimal("0.01"), 2000000000))

  private def statsOf(root: String): Map[String, Map[String, ColumnStats]] = {
    val ds = LakeDataset.open(spark, root)
    ds.manifest.fragments.map(f => f.file -> f.stats).toMap
  }

  test("footer stats are byte-identical to the scan-job stats") {
    val rootA = tmpDir()
    val rootB = tmpDir()
    val dsA = LakeDataset.create(spark, s"$rootA/t", schema)
    dsA.append(frame(sampleRows: _*).repartition(2))
    spark.conf.set("spark.graft.stats.fromFooters", "false")
    try {
      val dsB = LakeDataset.create(spark, s"$rootB/t", schema)
      dsB.append(frame(sampleRows: _*).repartition(2))
      val a = statsOf(s"$rootA/t").values.toSeq
        .sortBy(_.toSeq.sortBy(_._1).toString)
      val b = statsOf(s"$rootB/t").values.toSeq
        .sortBy(_.toSeq.sortBy(_._1).toString)
      assert(a == b)
      // same rowid accounting either way
      assert(LakeDataset.open(spark, s"$rootA/t").manifest.nextRowId ==
        LakeDataset.open(spark, s"$rootB/t").manifest.nextRowId)
    } finally spark.conf.set("spark.graft.stats.fromFooters", "true")
  }

  test("exactness edges fall back to the scan, never corrupt stats") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, s"$root/t", schema)
    // > 4 KB string: parquet drops the chunk stats; NaN double: parquet
    // omits min/max. Both must land on scan-computed stats.
    ds.append(frame(
      Row(10L, "x" * 5000, Double.NaN, true,
        java.sql.Date.valueOf("2023-01-05"),
        new java.math.BigDecimal("5.00"), 1),
      Row(11L, "abc", 3.5, false, null,
        new java.math.BigDecimal("6.00"), 2)).coalesce(1))
    val st = statsOf(s"$root/t").values.head
    val byField = LakeDataset.open(spark, s"$root/t").manifest.fields
      .map(f => f.name -> st(f.id.toString)).toMap
    assert(byField("name").min.contains("abc"))
    assert(byField("name").max.exists(_.startsWith("xxx")))
    // Spark max treats NaN as greater than any double
    assert(byField("score").min.contains("3.5"))
    assert(byField("score").max.contains("NaN"))
    assert(byField("id").min.contains("10") && byField("id").max.contains("11"))
  }

  /** Writes `batches` (one fragment each) to a footer-path dataset and to a
    * scan-forced one under `conf`; asserts byte-identical stats and returns
    * the footer dataset's stats by field name plus, per fragment, whether
    * its footer served them (false = the commit fell back to the scan). */
  private def bothPaths(sch: StructType, conf: Map[String, String],
      batches: Seq[Row]*): (Seq[Map[String, ColumnStats]], Seq[Boolean]) = {
    def write(footers: Boolean): LakeDataset = {
      val ds = LakeDataset.create(spark, s"${tmpDir()}/t", sch)
      val all = conf + ("spark.graft.stats.fromFooters" -> footers.toString)
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try batches.foreach { rows =>
        val data = new java.util.ArrayList[Row]()
        rows.foreach(data.add)
        ds.append(spark.createDataFrame(data, sch).coalesce(1))
      } finally all.keys.foreach(spark.conf.unset)
      LakeDataset.open(spark, ds.root)
    }
    val (a, b) = (write(footers = true), write(footers = false))
    def byName(ds: LakeDataset) = ds.manifest.fragments.sortBy(_.id).map(f =>
      ds.manifest.fields.map(fd => fd.name -> f.stats(fd.id.toString)).toMap)
    assert(byName(a) == byName(b))
    val served = a.manifest.fragments.sortBy(_.id).map { f =>
      FooterStats.tryRead(spark.sessionState.newHadoopConf(),
        a.rootAbs.resolve(f.file).toString, a.manifest,
        spark.sessionState.conf.sessionLocalTimeZone).isDefined
    }
    (byName(a), served)
  }

  test("signed zeros: footer and scan both render 0.0") {
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("d", DoubleType), StructField("f", FloatType)))
    val (stats, served) = bothPaths(sch, Map.empty,
      Seq(Row(1L, -0.0, -0.0f), Row(2L, 0.0, 0.0f), Row(3L, 1.5, 1.5f)),
      Seq(Row(4L, 0.0, 0.0f), Row(5L, -0.0, -0.0f), Row(6L, -2.0, -2.0f)),
      Seq(Row(7L, -0.0, -0.0f), Row(8L, null, null)))
    assert(served == Seq(true, true, true))
    val ends = stats.map(st => Seq("d", "f").map(c => (st(c).min, st(c).max)))
    assert(ends == Seq(
      Seq((Some("0.0"), Some("1.5")), (Some("0.0"), Some("1.5"))),
      Seq((Some("-2.0"), Some("0.0")), (Some("-2.0"), Some("0.0"))),
      Seq((Some("0.0"), Some("0.0")), (Some("0.0"), Some("0.0")))))
    assert(stats(2)("d").nullCount == 1L)
  }

  test("TIMESTAMP and TIMESTAMP_NTZ with nulls: identical on both paths") {
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType)))
    val rows = Seq(
      Seq(Row(1L, java.sql.Timestamp.valueOf("2023-01-05 10:00:00.123456"),
          java.time.LocalDateTime.parse("2023-01-05T10:00:00.123456")),
        Row(2L, null, null),
        Row(3L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59"),
          java.time.LocalDateTime.parse("1969-12-31T23:59:59"))),
      Seq(Row(4L, java.sql.Timestamp.valueOf("2024-02-29 00:00:00"), null),
        Row(5L, null, java.time.LocalDateTime.parse("2024-02-29T00:00:00"))))
    // Spark's default INT96 timestamps carry no footer stats: the scan serves
    val (int96, int96Served) = bothPaths(sch, Map.empty, rows: _*)
    assert(int96Served == Seq(false, false))
    // INT64 MICROS timestamps: the footer serves, byte-identical
    val (micros, microsServed) = bothPaths(sch,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"),
      rows: _*)
    assert(microsServed == Seq(true, true))
    assert(micros == int96)
    assert(micros.map(_("ts").nullCount) == Seq(1L, 1L))
    assert(micros.map(_("ntz").nullCount) == Seq(1L, 1L))
    assert(micros(0)("ntz").min.contains("1969-12-31 23:59:59"))
    assert(micros(0)("ntz").max.contains("2023-01-05 10:00:00.123456"))
    // TIMESTAMP renders epoch micros, zone-independent
    assert(micros(0)("ts").min.contains("-1000000"))
    assert(micros(1)("ts").max.contains("1709164800000000"))
    assert(micros(1)("ntz").min.contains("2024-02-29 00:00:00"))
  }

  test("delete/update/merge keep exact stats through rewrites") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, s"$root/t", schema)
    ds.append(frame(sampleRows: _*).coalesce(1))
    ds.delete("id = 2")
    ds.update("id = 1", Map("score" -> "score + 10"))
    val merged = frame(
      Row(3L, "updated", 9.9, true, java.sql.Date.valueOf("2025-01-01"),
        new java.math.BigDecimal("1.00"), 5),
      Row(99L, "new", 0.5, false, null,
        new java.math.BigDecimal("2.00"), 6))
    ds.mergeInsert(merged, Seq("id"))
    val got = ds.read().orderBy("id")
      .select("id", "name", "score").collect().toSeq
    assert(got.map(_.getLong(0)) == Seq(1L, 3L, 4L, 99L))
    // stats agree with a fresh scan-path recompute of the same live rows
    val mn = ds.read().agg(min("id"), max("id"), min("score"), max("score"))
      .collect()(0)
    val idStats = ds.manifest.fragments.flatMap(_.stats.get(
      ds.manifest.fields.find(_.name == "id").get.id.toString))
    assert(idStats.flatMap(_.min).map(_.toLong).min == mn.getLong(0))
    assert(idStats.flatMap(_.max).map(_.toLong).max == mn.getLong(1))
  }
}
