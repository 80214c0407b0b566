package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Enforced PRIMARY KEY on lake datasets — the reference checks every
  * insert against its PK index (storage/index.go:19-61,
  * table_constraint.go); here the fragment stats are the index and the
  * existence probe rides the stat-pruned point-lookup path. */
class PrimaryKeySpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private def rows(r: (java.lang.Long, String)*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach { case (i, n) => data.add(Row(i, n)) }
    spark.createDataFrame(data, schema).coalesce(1)
  }

  private def fresh(): (String, LakeDataset) = {
    val root = Files.createTempDirectory("lake-pk-").toString
    (root, LakeDataset.create(spark, root, schema))
  }

  test("declaration validates existing data: dups and nulls are refused") {
    val (_, ds) = fresh()
    ds.append(rows((1L, "a"), (1L, "b")))
    intercept[IllegalArgumentException](ds.setPrimaryKey(Seq("id")))
    ds.overwrite(rows((1L, "a"), (null, "b")))
    intercept[IllegalArgumentException](ds.setPrimaryKey(Seq("id")))
    ds.overwrite(rows((1L, "a"), (2L, "b")))
    ds.setPrimaryKey(Seq("id"))
    assert(ds.primaryKey == Seq("id"))
    intercept[IllegalArgumentException](ds.setPrimaryKey(Seq("nope")))
  }

  test("append enforces: in-batch dup, cross-batch dup, null key all refused") {
    val (_, ds) = fresh()
    ds.append(rows((1L, "a"), (2L, "b")))
    ds.setPrimaryKey(Seq("id"))
    intercept[IllegalArgumentException](ds.append(rows((3L, "x"), (3L, "y"))))
    intercept[IllegalArgumentException](ds.append(rows((2L, "again"))))
    intercept[IllegalArgumentException](ds.append(rows((null, "n"))))
    // nothing committed by the failed attempts
    assert(ds.read().count() == 2)
    ds.append(rows((3L, "c")))
    assert(LakeDataset.open(spark, ds.root).read().count() == 3)
  }

  test("a deleted key can be re-inserted; dropPrimaryKey stops enforcement") {
    val (_, ds) = fresh()
    ds.append(rows((1L, "a"), (2L, "b")))
    ds.setPrimaryKey(Seq("id"))
    ds.delete("id = 2")
    ds.append(rows((2L, "b2"))) // uniqueness is over LIVE rows
    assert(ds.read().count() == 2)
    ds.dropPrimaryKey()
    ds.append(rows((2L, "dup allowed now")))
    assert(ds.read().count() == 3)
  }

  test("composite key takes the semi-join path and still enforces") {
    val root = Files.createTempDirectory("lake-pk2-").toString
    val s2 = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("v", LongType)))
    val ds = LakeDataset.create(spark, root, s2)
    def r2(t: (Long, String, Long)*) = {
      val d = new java.util.ArrayList[Row]()
      t.foreach { case (a, b, v) => d.add(Row(a, b, v)) }
      spark.createDataFrame(d, s2).coalesce(1)
    }
    ds.append(r2((1L, "x", 10L)))
    ds.setPrimaryKey(Seq("a", "b"))
    ds.append(r2((1L, "y", 11L))) // same a, different b: distinct key
    intercept[IllegalArgumentException](ds.append(r2((1L, "x", 12L))))
    assert(ds.read().count() == 2)
  }

  test("appendMergeSchema (the schema-evolving insert door) enforces too") {
    val (_, ds) = fresh()
    ds.append(rows((1L, "a")))
    ds.setPrimaryKey(Seq("id"))
    // evolving batch with a duplicate key is refused
    val d = new java.util.ArrayList[Row]()
    d.add(Row(1L, "dup", 9L))
    val evolved = spark.createDataFrame(d, schema.add("extra",
      org.apache.spark.sql.types.LongType)).coalesce(1)
    intercept[IllegalArgumentException](ds.appendMergeSchema(evolved))
    // a batch MISSING the key column null-fills it -> rejected as null key
    val noKey = spark.createDataFrame(
      java.util.List.of(Row("x", 5L)),
      new org.apache.spark.sql.types.StructType()
        .add("name", org.apache.spark.sql.types.StringType)
        .add("extra2", org.apache.spark.sql.types.LongType)).coalesce(1)
    intercept[IllegalArgumentException](ds.appendMergeSchema(noKey))
    assert(ds.read().count() == 1)
  }

  test("overwrite doors enforce the key on the batch, not on replaced rows") {
    // a dataset the SQL catalog names pkcat.c.t
    val dir = Files.createTempDirectory("lake-pk-ow-").toString
    val ds = LakeDataset.create(spark, s"$dir/c/t", schema)
    ds.append(rows((1L, "a"), (2L, "b")))
    ds.setPrimaryKey(Seq("id"))
    def evolved(r: (java.lang.Long, String)*) = {
      val d = new java.util.ArrayList[Row]()
      r.foreach { case (i, n) => d.add(Row(i, n, 9L)) }
      spark.createDataFrame(d, schema.add("extra", LongType)).coalesce(1)
    }
    intercept[IllegalArgumentException](ds.overwrite(rows((3L, "x"), (3L, "y"))))
    intercept[IllegalArgumentException](ds.overwrite(rows((null, "n"))))
    intercept[IllegalArgumentException](
      ds.overwriteMergeSchema(evolved((3L, "x"), (3L, "y"))))
    intercept[IllegalArgumentException](ds.overwriteMergeSchema(evolved((null, "n"))))
    spark.conf.set("spark.sql.catalog.pkcat", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.pkcat.root", dir)
    val table = "pkcat.c.t"
    def refusedByKey(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("PRIMARY KEY")), e)
    }
    try {
      refusedByKey(s"INSERT OVERWRITE $table VALUES (4, 'x'), (4, 'y')")
      refusedByKey(s"INSERT OVERWRITE $table VALUES (CAST(NULL AS BIGINT), 'n')")
      // nothing committed by the failed attempts
      assert(ds.refresh().read().count() == 2)
      // the rows being replaced are not probed: their keys may come back
      spark.sql(s"INSERT OVERWRITE $table VALUES (1, 'c'), (5, 'e')")
    } finally {
      spark.conf.unset("spark.sql.catalog.pkcat")
      spark.conf.unset("spark.sql.catalog.pkcat.root")
    }
    ds.refresh().overwrite(rows((1L, "a2"), (2L, "b2")))
    ds.overwriteMergeSchema(evolved((2L, "b3"), (3L, "c")))
    assert(ds.read().select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
    assert(ds.primaryKey == Seq("id"))
  }

  test("mergeInsert on a PK table must merge on the key; nulls refused") {
    val (_, ds) = fresh()
    ds.append(rows((1L, "a")))
    ds.setPrimaryKey(Seq("id"))
    // merging on a non-key column could insert a duplicate PK: refused
    intercept[IllegalArgumentException](
      ds.mergeInsert(rows((2L, "a")), keys = Seq("name")))
    intercept[IllegalArgumentException](
      ds.mergeInsert(rows((null, "n")), keys = Seq("id")))
    // upsert on the PK is the sound shape and works
    val (m1, i1) = ds.mergeInsert(rows((1L, "a2"), (2L, "b")), Seq("id"))
    assert(m1 == 1L && i1 == 1L)
    assert(ds.read().count() == 2)
  }

  test("string keys with quotes/backslashes still enforce (semi-join path)") {
    val root = Files.createTempDirectory("lake-pk3-").toString
    val s2 = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    val ds = LakeDataset.create(spark, root, s2)
    def r2(t: (String, Long)*) = {
      val d = new java.util.ArrayList[Row]()
      t.foreach { case (k, v) => d.add(Row(k, v)) }
      spark.createDataFrame(d, s2).coalesce(1)
    }
    ds.append(r2(("it's", 1L), ("a\\b", 2L)))
    ds.setPrimaryKey(Seq("k"))
    // a rendered literal would probe the WRONG value ('it''s' parses as
    // "its"); the guard must still catch the duplicate via the semi-join
    intercept[IllegalArgumentException](ds.append(r2(("it's", 3L))))
    intercept[IllegalArgumentException](ds.append(r2(("a\\b", 4L))))
    ds.append(r2(("its", 5L), ("ab", 6L))) // the lookalikes ARE new keys
    assert(ds.read().count() == 4)
  }

  test("the existence probe is stat-pruned: absent keys open zero files") {
    val (_, ds) = fresh()
    // six fragments clustered by id range, value-set index on id
    (0 until 6).foreach(i =>
      ds.append(rows((i * 10L, s"a$i"), (i * 10L + 1, s"b$i"))))
    ds.enableValueSetIndex(Seq("id"), maxDistinct = 32)
    ds.refresh()
    ds.setPrimaryKey(Seq("id"))
    // the exact predicate the probe renders for these keys prunes to zero
    assert(ds.prunedFileCount("id IN (7,8)") == 0,
      "stats must prove absent keys open zero fragments")
    ds.append(rows((7L, "new"), (8L, "new2"))) // probe finds no clash
    // and a real clash is caught even when stats prune to one fragment
    assert(ds.prunedFileCount("id IN (50)") >= 1)
    intercept[IllegalArgumentException](ds.append(rows((50L, "dup"))))
  }
}
