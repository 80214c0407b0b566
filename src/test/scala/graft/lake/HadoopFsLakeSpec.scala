package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The lake over a SCHEME'D root: every metadata/sidecar operation routes
  * through [[HadoopLakeIO]] (org.apache.hadoop.fs.FileSystem) instead of
  * java.nio — the portability seam that makes the same code run against
  * hdfs:// or s3a:// roots. The matrix runs twice: over `file://` (hard-
  * link atomic publish) and over the registered non-file scheme
  * `graftfs://testhost` ([[GraftTestFileSystem]]: authority component,
  * generic rename-if-absent publish branch), proving no `file://`
  * assumption leaks through path handling. */
abstract class SchemedLakeSpecBase extends SparkTestBase {

  /** e.g. "file://" or "graftfs://testhost" — prepended to a fresh tmp dir. */
  protected def schemePrefix: String

  protected def tmpRoot(): String =
    schemePrefix + Files.createTempDirectory("lake-hfs-").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def rows(r: (Long, String, Double)*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach { case (i, n, s) => data.add(Row(i, n, s)) }
    spark.createDataFrame(data, schema).coalesce(1)
  }

  test(s"CRUD + time travel + vacuum over a $schemePrefix root") {
    val root = tmpRoot()
    val ds = LakeDataset.create(spark, root, schema)
    assert(ds.io.isInstanceOf[HadoopLakeIO], "scheme'd root must use Hadoop IO")

    ds.append(rows((1, "a", 1.0), (2, "b", 2.0)))
    ds.append(rows((3, "c", 3.0)))
    assert(ds.read().count() == 3)
    val v2 = ds.version

    // update + delete (copy-on-write rewrites through the Hadoop stage path)
    assert(ds.update("id = 2", Map("score" -> "score * 10")) == 1)
    assert(ds.delete("id = 1") == 1)
    val got = ds.read().orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(got(0).getDouble(2) == 20.0)

    // time travel + tags (metadata reads through Hadoop IO)
    assert(ds.readVersion(v2).count() == 3)
    ds.createTag("before-dml", v2)
    assert(ds.checkoutTag("before-dml").read().count() == 3)
    intercept[CommitConflictException](ds.createTag("before-dml", v2))

    // merge-on-read delete writes DV files under the scheme'd root
    assert(ds.delete("id = 3", useDeletionVectors = true) == 1)
    assert(ds.read().count() == 1)

    // vacuum walks and deletes through Hadoop IO
    ds.vacuum(keepVersions = 1, graceMs = 0L)
    assert(ds.read().count() == 1)
  }

  test(s"reopen, schema evolution, detached txns over a $schemePrefix root") {
    val root = tmpRoot()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0)))

    // reopen by path (manifest listing + read through Hadoop IO)
    val ds2 = LakeDataset.open(spark, root)
    assert(ds2.version == ds.version && ds2.read().count() == 1)

    // schema evolution
    ds2.addColumns(StructType(Seq(StructField("extra", LongType))))
    assert(ds2.schema.fieldNames.toSeq ==
      Seq("id", "name", "score", "extra"))

    // detached append: intent JSON + staged fragments via Hadoop IO
    val id = ds2.createDetachedAppend(
      spark.createDataFrame(java.util.List.of(Row(5L, "e", 5.0, 50L)),
        ds2.schema).coalesce(1))
    assert(ds2.detachedStatus(id) == "pending")
    assert(ds2.commitDetached(id) == 1)
    assert(ds2.read().count() == 2)
    assert(ds2.detachedStatus(id) == "unknown")
  }

  test(s"DSv2 read/write + FTS index over a $schemePrefix root") {
    val root = tmpRoot()
    // no column named "score": FtsIndex.search appends its own score column
    rows((1, "spark table scan", 1.0), (2, "other text entirely", 2.0))
      .withColumnRenamed("name", "text").drop("score")
      .write.format("lake").mode("append").save(root)
    val t = spark.read.format("lake").load(root)
    assert(t.count() == 2)
    assert(t.filter(col("id") === 1).count() == 1)

    val ds = LakeDataset.open(spark, root)
    FtsIndex.build(ds, "text")
    val hits = FtsIndex.search(ds, Seq("spark", "table"), k = 2)
      .collect().map(_.getLong(0))
    assert(hits.headOption.contains(1L))
  }

  test(s"chunked manifest over a $schemePrefix root: skip, slim-resolve") {
    spark.conf.set("spark.graft.manifestChunkThreshold", "2")
    spark.conf.set("spark.graft.manifestChunkSize", "2")
    try {
      val root = tmpRoot()
      val ds = LakeDataset.create(spark, root, schema)
      (0 until 6).foreach { k =>
        ds.append(rows((k * 10L, s"n$k", k.toDouble),
          (k * 10L + 1, s"m$k", k + 0.5)))
      }
      assert(ds.manifest.chunkFiles.nonEmpty, "table must be chunk-encoded")

      // chunk-skipping open through the Hadoop IO path
      val pruned = LakeDataset.openPruned(spark, root, Some("id = 21"))
      assert(pruned.manifest.fragments.size < 6)
      assert(pruned.scanner().withFilter("id = 21").build().count() == 1)

      // DSv2 table resolution + filtered read over the scheme'd chunked root
      val got = spark.read.format("lake").load(root)
        .filter("id >= 40 AND id < 42").select("id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(40L, 41L))
    } finally {
      spark.conf.unset("spark.graft.manifestChunkThreshold")
      spark.conf.unset("spark.graft.manifestChunkSize")
    }
  }

  test(s"commit publish is conflict-safe under an injected race ($schemePrefix)") {
    val root = tmpRoot()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0)))
    // interpose: before the writer's first publish lands, a second handle
    // commits the same next version — the loser must rebase and retry, and
    // no partial state may remain in _manifests
    var raced = false
    ds.withCommitHandler(new CommitHandler {
      override def publish(target: org.apache.hadoop.fs.Path,
          content: String): Unit = {
        if (!raced) {
          raced = true
          LakeDataset.open(spark, root).append(rows((2, "b", 2.0)))
        }
        ds.io.publishAtomic(target, content)
      }
    })
    ds.append(rows((3, "c", 3.0)))
    val all = LakeDataset.open(spark, root).read()
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(all == Seq(1L, 2L, 3L)) // no lost update
    // no temp files left behind by the losing attempt
    val manNames = ds.io.listNames(
      new org.apache.hadoop.fs.Path(root).resolve("_manifests"))
    assert(manNames.forall(n => n.startsWith("v") && n.endsWith(".json")),
      manNames.toString)
  }
}

/** The matrix over `file://` (NioLakeIO-equivalent hard-link publish,
  * reached through the Hadoop seam). */
class HadoopFsLakeSpec extends SchemedLakeSpecBase {
  protected def schemePrefix: String = "file://"

  test("rename-if-absent publish path rejects the loser (non-file branch)") {
    // Drive HadoopLakeIO's generic (non-hard-link) publish branch directly:
    // first publish wins, second throws, no partial state.
    val dir = Files.createTempDirectory("lake-hio-").toString
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(s"file://$dir/v1.json")
    // use the generic branch by calling the same sequence it performs
    io.publishAtomic(target, """{"v": 1}""")
    intercept[CommitConflictException](
      io.publishAtomic(target, """{"v": 2}"""))
    assert(io.readString(target) == """{"v": 1}""")
    assert(io.listNames(target.getParent) == Seq("v1.json"))
  }
}

/** The same matrix over `graftfs://testhost` — a registered non-file
  * scheme with an authority. Every publish in these tests goes through
  * the generic rename-if-absent branch (the s3a-analogue path), and every
  * Spark fragment read/write resolves the custom scheme from the session
  * Hadoop conf — which also pins the LakeIO.forRoot default-conf fix
  * (a bare `new Configuration()` would not know `fs.graftfs.impl`). */
class GraftFsLakeSpec extends SchemedLakeSpecBase {
  GraftTestFileSystem.register(spark.sparkContext.hadoopConfiguration)

  protected def schemePrefix: String = "graftfs://testhost"

  test("authority survives qualification and listing") {
    val root = tmpRoot()
    val ds = LakeDataset.create(spark, root, schema =
      StructType(Seq(StructField("id", LongType, nullable = false))))
    val q = ds.io.absolute(new org.apache.hadoop.fs.Path(root))
    assert(q.toUri.getScheme == "graftfs", q.toString)
    assert(q.toUri.getAuthority == "testhost", q.toString)
  }
}
