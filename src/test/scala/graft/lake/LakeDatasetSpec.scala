package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference SDK scenarios (sdk/example_test.go,
  * sdk/dataset_test.go): append → delete → update across versions, time
  * travel + tags, merge-insert, schema evolution, compaction, scanner,
  * zonemap pruning, commit conflicts. */
class LakeDatasetSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-test-").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def rows(r: (Long, String, Double)*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach { case (i, n, s) => data.add(Row(i, n, s)) }
    spark.createDataFrame(data, schema)
  }

  test("create / append / read round-trip with versions") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    assert(ds.version == 1 && ds.read().count() == 0)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)))
    assert(ds.version == 2)
    ds.append(rows((3, "c", 3.0)))
    assert(ds.version == 3)
    assert(ds.read().count() == 3)
    // time travel
    assert(ds.readVersion(2).count() == 2)
    assert(ds.readVersion(1).count() == 0)
    assert(ds.versions == Seq(1L, 2L, 3L))
  }

  test("string zonemaps compare in UTF-8 byte order, as the writers' min/max") {
    // UTF-16 order puts U+1F600 (a surrogate pair) below U+FFFD; UTF-8 byte
    // order, which Spark's min/max used for the stats, puts it above
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "\uFFFD", 2.0)).coalesce(1))
    ds.append(rows((3, "b", 3.0), (4, "\uD83D\uDE00", 4.0)).coalesce(1))
    assert(ds.prunedFileCount("name >= '\uFFFD'") == 2)
    assert(ds.countRows(Some("name >= '\uFFFD'")) == 2)
  }

  test("a literal the engine compares in another type prunes nothing") {
    // id < 10.5 compares as decimal in the engine; as `id < 10` it would
    // skip the fragment holding 10. name = 5 casts name to INT; as
    // name = '5' it would skip the fragment holding '05'
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "05", 1.0), (2, "06", 2.0)).coalesce(1))
    ds.append(rows((10, "7", 10.0), (11, "8", 11.0)).coalesce(1))
    assert(ds.countRows(Some("id < 10.5")) == 3)
    assert(ds.countRows(Some("id > 1.5")) == 3)
    assert(ds.countRows(Some("name = 5")) == 1)
    assert(ds.prunedFileCount("id < 5") == 1)
  }

  test("delete is copy-on-write and only rewrites matching fragments") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)))
    ds.append(rows((10, "x", 10.0), (11, "y", 11.0)))
    val fragsBefore = ds.manifest.fragments.map(_.id).toSet
    val deleted = ds.delete("id >= 10 AND id < 11")
    assert(deleted == 1)
    assert(ds.read().count() == 3)
    // the fragment holding ids 1,2 must be untouched (same fragment id)
    val fragsAfter = ds.manifest.fragments.map(_.id).toSet
    assert(fragsBefore.intersect(fragsAfter).nonEmpty,
      s"before=$fragsBefore after=$fragsAfter")
    // deleting nothing commits nothing
    val v = ds.version
    assert(ds.delete("id = 99999") == 0 && ds.version == v)
  }

  test("update rewrites matched rows and preserves stable row ids") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)))
    val ridBefore = ds.scanner().withRowId.build()
      .select("id", "_rowid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = ds.update("id = 2", Map("score" -> "score * 10", "name" -> "'B'"))
    assert(n == 1)
    val after = ds.read().orderBy("id").collect()
    assert(after.map(_.getString(1)).toSeq == Seq("a", "B", "c"))
    assert(after.map(_.getDouble(2)).toSeq == Seq(1.0, 20.0, 3.0))
    val ridAfter = ds.scanner().withRowId.build()
      .select("id", "_rowid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ridBefore == ridAfter, "rewrites must preserve row ids")
  }

  test("merge-insert: matched update + not-matched insert") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)))
    val source = rows((2, "b2", 20.0), (5, "e", 5.0))
    val (matched, inserted) = ds.mergeInsert(source, Seq("id"))
    assert(matched == 1 && inserted == 1)
    val out = ds.read().orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 1.0), (2L, "b2", 20.0), (5L, "e", 5.0)))
  }

  test("delete keeps rows where the predicate evaluates to NULL") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    val data = new java.util.ArrayList[Row]()
    data.add(Row(1L, "a", 10.0)); data.add(Row(2L, "b", null)); data.add(Row(3L, "c", 1.0))
    ds.append(spark.createDataFrame(data, schema))
    val n = ds.delete("score > 5.0")
    assert(n == 1, s"reported $n deleted")
    // id=2 (NULL score) must survive: DELETE removes only pred-TRUE rows
    assert(ds.read().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("sub-second timestamps are not wrongly pruned by the zonemap") {
    val tsSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType)))
    val ds = LakeDataset.create(spark, tmpDir(), tsSchema)
    val data = new java.util.ArrayList[Row]()
    data.add(Row(1L, java.sql.Timestamp.valueOf("2025-01-01 00:00:00.9")))
    ds.append(spark.createDataFrame(data, tsSchema))
    val got = ds.scanner()
      .withFilter("ts > TIMESTAMP '2025-01-01 00:00:00'").build().count()
    assert(got == 1, "fragment with only sub-second-greater row was pruned")
    assert(ds.delete("ts > TIMESTAMP '2025-01-01 00:00:00'") == 1)
  }

  test("countRows / dataSize / listIndexes / dropIndex parity helpers") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)))
    assert(ds.countRows() == 3)
    assert(ds.countRows(Some("score >= 2.0")) == 2)
    assert(ds.dataSize() > 0)
    // DV delete: manifest-math count must subtract tombstones
    ds.delete("id = 2", useDeletionVectors = true)
    assert(ds.countRows() == 2)
    // persisted index management
    FtsIndex.build(ds.refresh(), "name", name = "fts_n")
    assert(ds.listIndexes() == Seq("fts_n"))
    assert(ds.dropIndex("fts_n"))
    assert(ds.listIndexes().isEmpty)
    assert(!ds.dropIndex("fts_n"))
  }
  test("merge-insert rejects duplicate source keys") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0)))
    intercept[IllegalArgumentException](
      ds.mergeInsert(rows((1, "x", 2.0), (1, "y", 3.0)), Seq("id")))
  }

  test("merge-insert without update leaves matched rows; without insert skips new") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0)))
    val (m1, i1) = ds.mergeInsert(rows((1, "zzz", 99.0)), Seq("id"),
      updateMatched = false, insertNotMatched = false)
    assert(m1 == 1 && i1 == 0)
    assert(ds.read().collect().head.getString(1) == "a")
  }

  test("restore and tags") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0)))
    ds.createTag("after-first")
    ds.append(rows((2, "b", 2.0)))
    ds.delete("id = 1")
    assert(ds.read().count() == 1)
    ds.restore(ds.tags("after-first"))
    assert(ds.read().count() == 1)
    assert(ds.read().collect().head.getLong(0) == 1L)
    assert(ds.checkoutTag("after-first").read().count() == 1)
    intercept[CommitConflictException](ds.createTag("after-first"))
    ds.deleteTag("after-first")
    assert(!ds.tags.contains("after-first"))
  }

  test("schema evolution: add, rename, drop are metadata-only") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0)))
    val dataFilesBefore = ds.manifest.fragments.map(_.file).toSet

    ds.addColumns(StructType(Seq(StructField("extra", IntegerType))))
    assert(ds.schema.fieldNames.toSeq == Seq("id", "name", "score", "extra"))
    assert(ds.read().select("extra").collect().head.isNullAt(0))

    ds.renameColumn("score", "points")
    assert(ds.read().select("points").collect().head.getDouble(0) == 1.0)

    ds.dropColumns(Seq("name"))
    assert(ds.schema.fieldNames.toSeq == Seq("id", "points", "extra"))

    // all three were metadata-only commits
    assert(ds.manifest.fragments.map(_.file).toSet == dataFilesBefore)

    // new appends under the evolved schema coexist with old fragments
    val evolved = spark.createDataFrame(
      java.util.List.of(Row(7L, 7.5, 70)),
      StructType(Seq(StructField("id", LongType), StructField("points", DoubleType),
        StructField("extra", IntegerType))))
    ds.append(evolved)
    val all = ds.read().orderBy("id").collect()
    assert(all.length == 2)
    assert(all(1).getInt(2) == 70)
    // old row reads NULL for the post-hoc column
    assert(all(0).isNullAt(2))
  }

  test("zonemap stats prune fragments on scan") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)).coalesce(1))
    ds.append(rows((100, "x", 100.0), (200, "y", 200.0)).coalesce(1))
    ds.append(rows((1000, "z", 1000.0)).coalesce(1))
    assert(ds.manifest.fragments.size == 3)
    assert(ds.prunedFileCount("id >= 1000") == 1)
    assert(ds.prunedFileCount("id < 3") == 1)
    assert(ds.prunedFileCount("id = 150") == 1) // 100..200 fragment may match
    assert(ds.prunedFileCount("name = 'nosuch'") == 0) // string stats prune all
    val out = ds.scanner().withFilter("id >= 100 AND id <= 200")
      .withColumns("id").build().orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L, 200L))
  }

  test("zonemap prunes on timestamp predicates") {
    import java.sql.Timestamp
    val dir = tmpDir()
    val tsSchema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    val ds = LakeDataset.create(spark, dir, tsSchema)
    def row(i: Long, s: String) = Row(i, Timestamp.valueOf(s))
    ds.append(spark.createDataFrame(
      java.util.List.of(row(1, "2025-01-01 00:00:00"), row(2, "2025-06-01 00:00:00")),
      tsSchema).coalesce(1))
    ds.append(spark.createDataFrame(
      java.util.List.of(row(3, "2026-01-01 00:00:00"), row(4, "2026-06-01 00:00:00")),
      tsSchema).coalesce(1))
    assert(ds.prunedFileCount("ts >= TIMESTAMP '2026-01-01 00:00:00'") == 1)
    assert(ds.prunedFileCount("ts < TIMESTAMP '2025-02-01 00:00:00'") == 1)
    val out = ds.scanner()
      .withFilter("ts >= TIMESTAMP '2026-01-01 00:00:00'").build()
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("scanner: filter DSL + columns + limit + offset + rowid") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1 to 10).map(i => (i.toLong, s"n$i", i * 1.0)): _*))
    val page = ds.scanner()
      .withFilter("score >= 3.0")
      .withColumns("id", "score")
      .withOffset(2).withLimit(3)
      .build()
    assert(page.columns.toSeq == Seq("id", "score"))
    assert(page.count() == 3)
    val withRid = ds.scanner().withRowId.build()
    assert(withRid.columns.contains("_rowid"))
    assert(withRid.select("_rowid").distinct().count() == 10)
    // scanInOrder: pagination over stable rowid order is reproducible
    val page1 = ds.scanner().scanInOrder.withLimit(4).build()
      .select("id").collect().map(_.getLong(0)).toSeq
    val page2 = ds.scanner().scanInOrder.withOffset(4).withLimit(4).build()
      .select("id").collect().map(_.getLong(0)).toSeq
    assert((page1 ++ page2).distinct.size == 8)
  }

  test("null-count stats prune IS NULL / IS NOT NULL") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)).coalesce(1)) // no nulls
    ds.append(spark.createDataFrame(
      java.util.List.of(Row(3L, null, 3.0)), schema).coalesce(1))
    assert(ds.prunedFileCount("name IS NULL") == 1) // only the null-bearing one
    assert(ds.prunedFileCount("name IS NOT NULL") == 1) // all-null frag pruned
    assert(ds.scanner().withFilter("name IS NULL").build().count() == 1)
  }

  test("scanner filter accepts the reference DSL operator set") {
    // = != < <= > >= AND OR NOT IN LIKE IS [NOT] NULL
    // (storage2/filter_parser.go:15-270 — Spark SQL is a strict superset)
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "alpha", 1.0), (2, "beta", 2.0), (3, "gamma", 3.0)))
    def n(f: String): Long = ds.scanner().withFilter(f).build().count()
    assert(n("id = 2") == 1)
    assert(n("id != 2") == 2)
    assert(n("id < 3 AND score >= 2.0") == 1)
    assert(n("id <= 1 OR id > 2") == 2)
    assert(n("NOT (name = 'beta')") == 2)
    assert(n("name IN ('alpha', 'gamma')") == 2)
    assert(n("name LIKE 'ga%'") == 1)
    assert(n("name IS NOT NULL") == 3)
    assert(n("name IS NULL") == 0)
  }

  test("concurrent commits: disjoint ops rebase, overlapping rewrites conflict") {
    val dir = tmpDir()
    val ds1 = LakeDataset.create(spark, dir, schema)
    ds1.append(rows((1, "a", 1.0)).coalesce(1))
    val ds2 = LakeDataset.open(spark, dir)
    // winner appends; loser's delete touches an untouched fragment → rebase
    ds1.append(rows((2, "b", 2.0)).coalesce(1))
    assert(ds2.delete("id = 1") == 1)
    val now = LakeDataset.open(spark, dir)
    assert(now.read().collect().map(_.getLong(0)).toSeq == Seq(2L))

    // overlapping rewrites: both update the same fragment → loser conflicts
    val a = LakeDataset.open(spark, dir)
    val b = LakeDataset.open(spark, dir)
    a.update("id = 2", Map("score" -> "99.0"))
    intercept[CommitConflictException](b.update("id = 2", Map("score" -> "-1.0")))
    assert(LakeDataset.open(spark, dir).read().collect().head.getDouble(2) == 99.0)

    // loser's append still rebases fine
    b.refresh()
    b.append(rows((3, "c", 3.0)))
    assert(LakeDataset.open(spark, dir).read().count() == 2)
  }

  test("vacuum removes unreferenced files but keeps tagged + recent versions") {
    val dir = tmpDir()
    val ds = LakeDataset.create(spark, dir, schema)
    ds.append(rows((1, "a", 1.0)).coalesce(1))
    ds.createTag("keepme")
    ds.update("id = 1", Map("score" -> "2.0")) // rewrites the only fragment
    ds.update("id = 1", Map("score" -> "3.0"))
    val nFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "data")).count()
    assert(nFiles >= 3)
    val deleted = ds.vacuum(keepVersions = 1, graceMs = 0L)
    assert(deleted >= 1)
    // default retention window protects freshly-written files
    assert(ds.vacuum(keepVersions = 1) == 0)
    // live read + tagged version still work
    assert(ds.read().collect().head.getDouble(2) == 3.0)
    assert(ds.checkoutTag("keepme").read().collect().head.getDouble(2) == 1.0)
  }

  test("history() lists every commit; scanner pins to a version") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0)))
    ds.append(rows((2, "b", 2.0)))
    ds.delete("id = 1")
    val h = ds.history().orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq ==
      Seq("create", "append", "append", "delete"))
    assert(h.last.getLong(4) == 1) // rows after delete
    // version-pinned scan sees the pre-delete state
    val atV3 = ds.scanner().withVersion(3).build().count()
    assert(atV3 == 2 && ds.read().count() == 1)
  }

  test("append coerces compatible column types to the declared schema") {
    val ds = LakeDataset.create(spark, tmpDir(), schema) // id: long, score: double
    val narrow = spark.createDataFrame(
      java.util.List.of(Row(7, "x", 5)), // int id, int score
      StructType(Seq(StructField("id", IntegerType),
        StructField("name", StringType), StructField("score", IntegerType))))
    ds.append(narrow)
    val r = ds.read().collect().head
    assert(r.getLong(0) == 7L && r.getDouble(2) == 5.0)
    assert(ds.read().schema("id").dataType == LongType)
  }

  test("edge cases: empty append, delete-all, read after") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)))
    val v = ds.version
    // empty append: version bumps (an intentional commit), zero fragments added
    ds.append(rows().limit(0))
    assert(ds.version == v + 1)
    assert(ds.read().count() == 2)
    // delete everything → readable empty dataset with intact schema
    assert(ds.delete("id > 0") == 2)
    assert(ds.read().count() == 0)
    assert(ds.read().columns.toSeq == Seq("id", "name", "score"))
    // and appends still work afterwards
    ds.append(rows((9, "z", 9.0)))
    assert(ds.read().count() == 1)
  }

  test("compaction merges small fragments and preserves data + row ids") {
    val ds = LakeDataset.create(spark, tmpDir(), schema)
    (1 to 5).foreach(i => ds.append(rows((i.toLong, s"n$i", i * 1.0))))
    val before = ds.read().orderBy("id").collect().map(_.toSeq).toSeq
    val ridBefore = ds.scanner().withRowId.build()
      .select("id", "_rowid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ds.manifest.fragments.size >= 5)
    ds.compact(targetRows = 100)
    assert(ds.manifest.fragments.size < 5)
    assert(ds.read().orderBy("id").collect().map(_.toSeq).toSeq == before)
    val ridAfter = ds.scanner().withRowId.build()
      .select("id", "_rowid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ridBefore == ridAfter)
  }
}
