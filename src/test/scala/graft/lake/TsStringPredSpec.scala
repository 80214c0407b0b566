package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** String-literal predicates against typed columns: the pruning predicate
  * is parsed UNRESOLVED (no analyzer coercion), so literals must be cast
  * to the column's declared type before probing string-rendered stats —
  * micros-rendered timestamp stats vs '2026-01-01' compared lexically
  * pruned every fragment (silent empty results) before the fix. */
class TsStringPredSpec extends SparkTestBase {

  private def freshDs() = {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("ts-str-").toString
    val tsSchema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("score", DoubleType)))
    val ds = LakeDataset.create(spark, dir, tsSchema)
    def row(i: Long, s: String, sc: Double) = Row(i, Timestamp.valueOf(s), sc)
    ds.append(spark.createDataFrame(
      java.util.List.of(row(1, "2025-01-01 00:00:00", 1.0),
        row(2, "2025-06-01 00:00:00", 2.0)), tsSchema).coalesce(1))
    ds.append(spark.createDataFrame(
      java.util.List.of(row(3, "2026-01-01 00:00:00", 3.0),
        row(4, "2026-06-01 00:00:00", 4.0)), tsSchema).coalesce(1))
    ds
  }

  test("string-literal timestamp predicates scan correctly and still prune") {
    val ds = freshDs()
    val got = ds.scanner().withFilter("ts >= '2026-01-01 00:00:00'").build()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 4L), s"string-literal predicate returned $got")
    // and the coerced literal still prunes the 2025 fragment
    assert(ds.prunedFileCount("ts >= '2026-01-01 00:00:00'") == 1)
    assert(ds.prunedFileCount("ts < '2025-02-01 00:00:00'") == 1)
  }

  test("string-literal numeric predicates coerce instead of comparing lexically") {
    val ds = freshDs()
    val got = ds.scanner().withFilter("score >= '3.0'").build()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 4L))
    assert(ds.prunedFileCount("score >= '3.0'") == 1)
  }

  test("delete with a string-literal timestamp predicate deletes the rows") {
    val ds = freshDs()
    val n = ds.delete("ts >= '2026-01-01 00:00:00'")
    assert(n == 2, s"deleted $n rows")
    assert(ds.read().count() == 2)
  }

  test("unparseable literals answer as spark.sql does, in both ANSI modes") {
    val ds = freshDs()
    val pred = "ts >= 'not-a-timestamp'"
    ds.read().createOrReplaceTempView("ts_str_pred")
    def engine() = spark.sql(s"SELECT id FROM ts_str_pred WHERE $pred").count()
    val lake = Seq[() => Long](
      () => ds.scanner().withFilter(pred).build().count(),
      () => ds.countRows(Some(pred)),
      () => ds.delete(pred))
    def failsToCast(run: () => Long): Boolean = {
      val e = intercept[Exception](run())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("CAST_INVALID_INPUT"))
    }
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      // ANSI on (the default): the cast fails, and so does every lake path
      spark.conf.set(key, "true")
      assert(failsToCast(() => engine()))
      lake.foreach(run => assert(failsToCast(run)))
      // ANSI off: the cast is NULL, the comparison is NULL, no row matches
      spark.conf.set(key, "false")
      assert(engine() == 0L)
      lake.foreach(run => assert(run() == 0L))
    } finally spark.conf.set(key, before)
    assert(ds.read().count() == 4)
  }

  test("z-order commits classify as Rewrite so concurrent appends rebase") {
    assert(LakeDataset.kindOf("optimize_layout_zorder(x,y)") ==
      LakeDataset.OpKind.Rewrite)
  }
}
