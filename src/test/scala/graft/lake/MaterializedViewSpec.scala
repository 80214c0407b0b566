package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Incremental MV maintenance ([[MaterializedView]]): every refresh must
  * land on exactly the full-recompute answer, for every DML mix, and the
  * no-op / crash-replay contracts must hold. */
class MaterializedViewSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-mv-").toString

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("id", LongType),
    StructField("v", LongType)))

  private def frame(rows: (String, Long, Long)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach { case (k, id, v) => list.add(Row(k, id, v)) }
    spark.createDataFrame(list, schema).coalesce(1)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("k").collect().toSeq

  private def assertCurrent(mv: MaterializedView, base: LakeDataset): Unit = {
    val got = sorted(mv.read().select("k", "mv_cnt", "sum_v", "max_v"))
    val want = sorted(
      MaterializedView.expected(base, Seq("k"), Seq("v"), Seq("v"))
        .select("k", "mv_cnt", "sum_v", "max_v"))
    assert(got == want)
  }

  private def fixture(): (LakeDataset, MaterializedView) = {
    val root = tmpDir()
    val base = LakeDataset.create(spark, s"$root/base", schema)
    base.append(frame(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 4L, 5L), ("b", 5L, 50L)))
    val mv = MaterializedView.create(spark, base, s"$root/view",
      keys = Seq("k"), sumCols = Seq("v"), maxCols = Seq("v"))
    (base, mv)
  }

  test("initial build matches full recompute") {
    val (base, mv) = fixture()
    assertCurrent(mv, base)
    assert(mv.baseVersion == base.version)
  }

  test("a flat view's manifest carries exactly the six mv.* keys") {
    val (base, mv) = fixture()
    def mvProps() = mv.view.manifest.properties.filter(_._1.startsWith("mv."))
    def want() = Map(
      "mv.base.path" -> base.root,
      "mv.base.version" -> base.version.toString,
      "mv.keys" -> "k", "mv.sum.cols" -> "v", "mv.max.cols" -> "v",
      "mv.min.cols" -> "")
    assert(mvProps() == want())
    base.append(frame(("a", 6L, 1L)))
    mv.refresh()
    assert(mvProps() == want())
  }

  test("insert-only delta folds max without touching recompute path") {
    val (base, mv) = fixture()
    base.append(frame(("a", 6L, 99L), ("c", 7L, 7L)))
    val st = mv.refresh()
    assert(st.upsertedGroups == 2L && st.removedGroups == 0L)
    assertCurrent(mv, base)
    // new group appeared, existing group's max rose to the new row
    val m = mv.read().collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m("a") == 99L && m("c") == 7L)
  }

  test("delete shrinking the max triggers a correct group recompute") {
    val (base, mv) = fixture()
    base.delete("id = 5") // removes b's max (50); b's max must fall to 5
    mv.refresh()
    assertCurrent(mv, base)
    val m = mv.read().collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m("b") == 5L && m("a") == 30L)
  }

  test("update moves sum and max through pre/postimage pairs") {
    val (base, mv) = fixture()
    base.update("id = 1", Map("v" -> "v + 1000"))
    mv.refresh()
    assertCurrent(mv, base)
    val m = mv.read().collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("a") == ((3L, 1060L, 1010L)))
  }

  test("group vanishing entirely is removed from the view") {
    val (base, mv) = fixture()
    base.delete("k = 'b'")
    val st = mv.refresh()
    assert(st.removedGroups == 1L)
    assertCurrent(mv, base)
    assert(mv.read().filter("k = 'b'").isEmpty)
  }

  test("mixed delete+update+append in one window, multi-version") {
    val (base, mv) = fixture()
    base.delete("id % 2 = 0")
    base.update("k = 'a'", Map("v" -> "v * 2"))
    base.append(frame(("b", 8L, 1L), ("d", 9L, 40L)))
    base.append(frame(("d", 10L, 4L)))
    mv.refresh()
    assertCurrent(mv, base)
  }

  test("refresh with no base changes is a no-op commit-wise") {
    val (base, mv) = fixture()
    mv.refresh()
    val vBefore = mv.view.version
    val st = mv.refresh()
    assert(st.upsertedGroups == 0L && mv.view.version == vBefore)
  }

  test("compaction churn produces no view changes") {
    val (base, mv) = fixture()
    base.append(frame(("a", 11L, 1L)))
    mv.refresh()
    val before = sorted(mv.read())
    base.compact() // rewrites fragments, net row changes: none
    mv.refresh()
    assert(sorted(mv.read()) == before)
    assertCurrent(mv, base)
  }

  test("reopen continues from the persisted cursor") {
    val (base, mv) = fixture()
    base.append(frame(("e", 12L, 3L)))
    mv.refresh()
    base.delete("k = 'a'")
    val mv2 = MaterializedView.open(spark, mv.view.root)
    assert(mv2.keys == Seq("k") && mv2.sumCols == Seq("v") &&
      mv2.maxCols == Seq("v"))
    assert(mv2.baseVersion == mv.baseVersion)
    mv2.refresh()
    assertCurrent(mv2, base)
  }

  test("min columns: insert folds via least, delete recomputes the floor") {
    val root = tmpDir()
    val base = LakeDataset.create(spark, s"$root/base", schema)
    base.append(frame(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L)))
    val mv = MaterializedView.create(spark, base, s"$root/view",
      keys = Seq("k"), sumCols = Seq("v"), maxCols = Seq("v"),
      minCols = Seq("v"))
    base.append(frame(("a", 4L, 3L)))  // new floor via fold, no removal
    mv.refresh()
    def mins() = mv.read().collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(mins() == Map("a" -> 3L, "b" -> 5L))
    base.delete("id = 4") // floor removed -> recompute must restore 10
    mv.refresh()
    assert(mins() == Map("a" -> 10L, "b" -> 5L))
    val got = sorted(mv.read().select("k", "mv_cnt", "sum_v", "max_v", "min_v"))
    val want = sorted(MaterializedView
      .expected(base, Seq("k"), Seq("v"), Seq("v"), Seq("v"))
      .select("k", "mv_cnt", "sum_v", "max_v", "min_v"))
    assert(got == want)
    // definition round-trips through the persisted properties
    assert(MaterializedView.open(spark, mv.view.root).minCols == Seq("v"))
  }

  test("cursor commits atomically with the merged state") {
    val (base, mv) = fixture()
    base.append(frame(("a", 6L, 1L)))
    val to = base.version
    mv.refresh()
    // the merge commit's OWN manifest must already carry the new cursor —
    // a crash right after it can only replay an already-recorded window
    val mergeV = mv.view.versions.filter(v =>
      mv.view.checkout(v).manifest.operation.toLowerCase.contains("merge"))
      .max
    assert(mv.view.checkout(mergeV).manifest
      .properties(MaterializedView.PropBaseVersion).toLong == to)
  }

  test("zero-count leftovers are invisible to read and reclaimed later") {
    val (base, mv) = fixture()
    // simulate the crash window: a group netted to zero whose housekeeping
    // delete never landed
    val dead = new java.util.ArrayList[Row]()
    dead.add(Row("zz", java.lang.Long.valueOf(0L),
      java.lang.Long.valueOf(0L), null))
    mv.view.append(spark.createDataFrame(dead, mv.view.schema).coalesce(1))
    assert(mv.read().filter("k = 'zz'").isEmpty)
    // the next real refresh's housekeeping delete reclaims the dead row
    base.append(frame(("a", 9L, 2L)))
    mv.refresh()
    assert(mv.view.read().filter("k = 'zz'").isEmpty)
    assertCurrent(mv, base)
  }

  test("count/sum-only view (no max columns) never scans the base") {
    val root = tmpDir()
    val base = LakeDataset.create(spark, s"$root/base", schema)
    base.append(frame(("a", 1L, 10L), ("b", 2L, 20L)))
    val mv = MaterializedView.create(spark, base, s"$root/view",
      keys = Seq("k"), sumCols = Seq("v"))
    base.delete("id = 1")
    base.append(frame(("b", 3L, 5L)))
    mv.refresh()
    val got = sorted(mv.read().select("k", "mv_cnt", "sum_v"))
    val want = sorted(MaterializedView.expected(base, Seq("k"), Seq("v"))
      .select("k", "mv_cnt", "sum_v"))
    assert(got == want)
  }
}
