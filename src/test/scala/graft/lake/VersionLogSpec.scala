package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** [[VersionLog]] is the one reader of a namespace's version files: which
  * file is a version, the main-or-branch directory, and the errors of a
  * missing dataset, branch or version. */
class VersionLogSpec extends SparkTestBase {
  GraftTestFileSystem.register(spark.sparkContext.hadoopConfiguration)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType)))

  private def rows(ids: Long*) = spark.createDataFrame(
    ids.map(i => Row(i, s"n$i")).asJava, schema).coalesce(1)

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def message(f: => Any): String =
    intercept[IllegalArgumentException](f).getMessage

  test("a stray non-version .json is no version to exists, open or versions") {
    val root = tmp("vlog-stray-")
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows(1, 2))
    Seq("notes.json", "v-backup.json", "v12.json").foreach(n =>
      Files.writeString(Paths.get(root, "_manifests", n), "{}"))
    assert(LakeDataset.exists(root))
    assert(LakeDataset.open(spark, root).version == 2)
    assert(ds.versions == Seq(1L, 2L))

    // only strays: no dataset to either door
    val bare = tmp("vlog-bare-")
    Files.createDirectories(Paths.get(bare, "_manifests"))
    Files.writeString(Paths.get(bare, "_manifests", "notes.json"), "{}")
    assert(!LakeDataset.exists(bare))
    assert(message(LakeDataset.open(spark, bare)).contains("no manifests in"))
  }

  test("a branch directory holds branch.json beside its version files") {
    val root = tmp("vlog-branch-")
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows(1))
    ds.createBranch("dev", 1)
    val dir = Paths.get(root, "_refs", "branches", "dev")
    assert(Files.exists(dir.resolve("branch.json")))
    assert(ds.branches == Map("dev" -> 1L))
    val dev = LakeDataset.openBranch(spark, root, "dev")
    assert(dev.versions == Seq(1L))
    dev.append(rows(2))
    assert(ds.branches == Map("dev" -> 2L))
    assert(LakeDataset.latestVersion(spark, root, Some("dev")) == 2L)
    assert(ds.versions == Seq(1L, 2L)) // main's own history
  }

  test("a missing version, branch or dataset names itself") {
    val root = tmp("vlog-missing-")
    val ds = LakeDataset.create(spark, root, schema)
    ds.createBranch("dev", 1)
    assert(message(ds.checkout(9)).contains("no version 9"))
    assert(message(ds.checkoutBranch("dev").checkout(9))
      .contains("no version 9 on branch dev"))
    assert(message(LakeDataset.openBranch(spark, root, "nope"))
      .contains("no branch nope at"))
    val gone = root + "-gone"
    assert(message(LakeDataset.open(spark, gone)).contains("no dataset at"))
    assert(message(LakeDataset.latestVersion(spark, gone))
      .contains("no dataset at"))
    assert(!LakeDataset.exists(gone))
  }

  /** Local paths under `_manifests/` opened while `f` runs. */
  private def manifestReads(f: => Any): Seq[String] = {
    GraftTestFileSystem.opened.clear()
    f
    GraftTestFileSystem.opened.asScala.toSeq.filter(_.contains("/_manifests/"))
  }

  test("a DSv2 versionAsOf read decodes only the pinned manifest") {
    spark.conf.set("spark.graft.manifestChunkThreshold", "1")
    spark.conf.set("spark.graft.manifestChunkSize", "2")
    try {
      val root = "graftfs://testhost" + tmp("vlog-pin-")
      val ds = LakeDataset.create(spark, root, schema)
      (1L to 4L).foreach(i => ds.append(rows(i)))
      val pinned = ds.version - 2
      val log = ds.log
      val pinnedChunks = log.slim(pinned).chunkFiles.map(_.file).toSet
      val headOnly = log.slim(ds.version).chunkFiles.map(_.file).toSet --
        pinnedChunks
      assert(pinnedChunks.nonEmpty && headOnly.nonEmpty)
      val reads = manifestReads {
        val got = spark.read.format("lake").option("versionAsOf", pinned)
          .load(root).collect().map(_.getLong(0)).sorted.toSeq
        assert(got == Seq(1L, 2L))
      }
      val names = reads.map(p => p.substring(p.lastIndexOf('/') + 1))
      assert(names.filter(_.endsWith(".json")).toSet ==
        Set(Manifest.versionFileName(pinned)), names)
      assert(names.filter(_.endsWith(".jsonl")).toSet == pinnedChunks, names)

      // a pushed predicate prunes the pinned version's chunks, not the head's
      val filtered = manifestReads {
        val got = spark.read.format("lake").option("versionAsOf", pinned)
          .load(root).where("id = 2").collect().map(_.getLong(0)).toSeq
        assert(got == Seq(2L))
      }
      assert(filtered.forall(p => !headOnly.exists(p.endsWith)), filtered)
    } finally {
      spark.conf.unset("spark.graft.manifestChunkThreshold")
      spark.conf.unset("spark.graft.manifestChunkSize")
    }
  }

  test("a change-feed read ends at changesTo or the head; others pin versionAsOf") {
    val root = tmp("vlog-feed-")
    val ds = LakeDataset.create(spark, root, schema)
    (1L to 3L).foreach(i => ds.append(rows(i)))
    val v = ds.versions
    def ids(opts: (String, Any)*): Seq[Long] = opts
      .foldLeft(spark.read.format("lake"))((r, o) => r.option(o._1,
        o._2.toString))
      .load(root).select("id").collect().map(_.getLong(0)).sorted.toSeq
    val from = "changesFrom" -> v(1)
    assert(ids(from) == Seq(2L, 3L))
    assert(ids(from, "changesTo" -> v(2)) == Seq(2L))
    // versionAsOf and tag do not end a change feed's window
    ds.createTag("t", v(1))
    assert(ids(from, "versionAsOf" -> v(2)) == Seq(2L, 3L))
    assert(ids(from, "tag" -> "t") == Seq(2L, 3L))
    // changesTo does not pin a plain read
    assert(ids("changesTo" -> v(1)) == Seq(1L, 2L, 3L))
    assert(ids("versionAsOf" -> v(2)) == Seq(1L, 2L))
    assert(ids("tag" -> "t") == Seq(1L))
  }

  test("a failed stat of a data file propagates; a vanished file counts 0") {
    val root = "graftfs://testhost" + tmp("vlog-stat-")
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows(1, 2))
    ds.append(rows(3))
    ds.delete("id = 3") // leaves one unreferenced fragment file
    val isData = (p: String) => p.contains("/data/")
    GraftTestFileSystem.failStat = isData
    try {
      intercept[java.io.IOException](ds.dataSize())
      intercept[java.io.IOException](ds.vacuum(keepVersions = 1, graceMs = 0))
    } finally GraftTestFileSystem.failStat = _ => false
    assert(ds.dataSize() > 0)
    assert(ds.vacuum(keepVersions = 1, graceMs = 0) >= 1)
    // fragment files removed behind the handle's back count 0 bytes
    ds.manifest.fragments.foreach(f => Files.delete(Paths.get(
      new Path(new Path(root), f.file).toUri.getPath)))
    assert(ds.dataSize() == 0L)
  }

  test("only the version log names _manifests, _refs or parses a version") {
    val main = Paths.get("src/main/scala")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val seams = Seq("\"_manifests\"", "\"_refs\"", "Manifest.fromJson")
    val offenders = for {
      f <- files
      if f.getFileName.toString != "VersionLog.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if seams.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
