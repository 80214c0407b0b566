package graft.lake

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

/** Manifest-list split (SCALE.md): past the chunk threshold the version
  * JSON stops inlining fragments and re-lists immutable content-addressed
  * chunk files, so commit IO is O(delta) and every read path (open, time
  * travel, scans, DML, vacuum) is storage-format agnostic. Exercised at
  * toy scale via the session confs. */
class ManifestChunkSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def withChunking[A](threshold: Int, size: Int)(f: => A): A = {
    spark.conf.set("spark.graft.manifestChunkThreshold", threshold.toString)
    spark.conf.set("spark.graft.manifestChunkSize", size.toString)
    try f finally {
      spark.conf.unset("spark.graft.manifestChunkThreshold")
      spark.conf.unset("spark.graft.manifestChunkSize")
    }
  }

  private def newDs(): LakeDataset =
    LakeDataset.create(spark,
      Files.createTempDirectory("lake-chunks-").toString, schema)

  private def appendBatch(ds: LakeDataset, ids: Range): Unit = {
    import spark.implicits._
    // one fragment per append (coalesce(1)) keeps fragment arithmetic exact
    ds.append(ids.map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
      .coalesce(1))
  }

  /** Raw version JSON as stored — must NOT inline fragments once split. */
  private def storedManifest(ds: LakeDataset, v: Long): Manifest = {
    val p = new Path(ds.root).resolve("_manifests")
      .resolve(Manifest.versionFileName(v))
    Manifest.fromJson(ds.io.readString(p))
  }

  test("crossing the threshold spills fragments to chunks; reads survive") {
    withChunking(threshold = 6, size = 4) {
      val ds = newDs()
      (0 until 5).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      assert(ds.manifest.fragments.size == 5)
      assert(storedManifest(ds, ds.version).chunkFiles.isEmpty,
        "below threshold must stay inline")

      (5 until 9).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val stored = storedManifest(ds, ds.version)
      assert(stored.fragments.isEmpty, "split manifest must not inline")
      assert(stored.chunkFiles.nonEmpty)
      assert(stored.chunkFiles.map(_.count).sum == 9)

      // in-memory manifest stays materialized
      assert(ds.manifest.fragments.size == 9)
      // a fresh open decodes chunks back to the same fragment set
      val reopened = LakeDataset.open(spark, ds.root)
      assert(reopened.manifest.fragments.toSet == ds.manifest.fragments.toSet)
      assert(reopened.read().count() == 90)
      assert(reopened.scanner().withFilter("id >= 80").build().count() == 10)
    }
  }

  test("append re-lists full unchanged chunks and writes only the delta") {
    withChunking(threshold = 2, size = 4) {
      val ds = newDs()
      (0 until 8).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val before = storedManifest(ds, ds.version).chunkFiles
      assert(before.map(_.count).sum == 8)
      // reuse floor: chunks at least half full are re-listed, not rewritten
      val reusable = before.filter(_.count >= 2)
      assert(reusable.nonEmpty, s"no reusable chunks in $before")

      appendBatch(ds, 80 until 90)
      val after = storedManifest(ds, ds.version).chunkFiles
      assert(after.map(_.count).sum == 9)
      assert(reusable.forall(c => after.exists(_.file == c.file)),
        s"reusable chunks rewritten: $before -> $after")
      // fill stays >= size/2: chunk count is bounded by 2*fragments/size
      assert(after.size <= 2 * 9 / 4 + 1, s"chunk count blew up: $after")
    }
  }

  test("delete rewrites only the chunks holding touched fragments") {
    withChunking(threshold = 2, size = 2) {
      val ds = newDs()
      (0 until 6).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val before = storedManifest(ds, ds.version).chunkFiles
      // drop one whole fragment (ids 0-9 live in the first appended one)
      ds.delete("id < 10")
      val after = storedManifest(ds, ds.version).chunkFiles
      assert(after.map(_.count).sum == 5)
      // at most the victim's chunk disappears; the others are re-listed
      val kept = before.count(c => after.exists(_.file == c.file))
      assert(kept >= before.size - 1,
        s"delete rewrote ${before.size - kept} chunks, expected <= 1")
      assert(ds.read().count() == 50)
      assert(ds.read().filter("id < 10").count() == 0)
    }
  }

  test("time travel and restore decode chunked versions") {
    withChunking(threshold = 2, size = 2) {
      val ds = newDs()
      (0 until 4).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val v4 = ds.version
      ds.delete("id < 20")
      assert(ds.read().count() == 20)
      assert(ds.scanner().withVersion(v4).build().count() == 40)
      ds.restore(v4)
      assert(ds.read().count() == 40)
    }
  }

  test("vacuum drops chunks only unretained versions reference") {
    withChunking(threshold = 1, size = 2) {
      val ds = newDs()
      (0 until 4).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      // rewrite everything: compaction replaces every chunk
      ds.compact(targetRows = 1000)
      val live = storedManifest(ds, ds.version).chunkFiles.map(_.file).toSet
      val chunksDir = VersionLog.chunksDir(new Path(ds.root))
      val allBefore = ds.io.listNames(chunksDir).toSet
      assert(live.subsetOf(allBefore) && allBefore.size > live.size)
      val deleted = ds.vacuum(keepVersions = 1, graceMs = 0L)
      assert(deleted > 0)
      val allAfter = ds.io.listNames(chunksDir).toSet
      assert(live.subsetOf(allAfter),
        "vacuum must keep chunks of retained versions")
      // chunks referenced by no surviving version are gone
      assert((allAfter -- live).forall(n =>
        ds.versions.map(v => storedManifest(ds, v)).exists(
          _.chunkFiles.exists(_.file == n))))
      assert(ds.read().count() == 40)
    }
  }

  test("chunk refs carry aggregate stats; openPruned skips excluded chunks") {
    withChunking(threshold = 2, size = 2) {
      val ds = newDs()
      // 6 fragments with disjoint ascending id ranges → 3 chunks with
      // disjoint aggregate id ranges
      (0 until 6).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val stored = storedManifest(ds, ds.version)
      assert(stored.chunkFiles.nonEmpty &&
        stored.chunkFiles.map(_.count).sum == 6)
      val idField = ds.manifest.fields.find(_.name == "id").get.id.toString
      assert(stored.chunkFiles.forall(_.stats.contains(idField)),
        s"chunk refs missing id stats: ${stored.chunkFiles}")
      // aggregate ranges are disjoint and ascending (min of mins / max of
      // maxes over each chunk's fragments)
      val ranges = stored.chunkFiles.map { c =>
        val s = c.stats(idField)
        (BigDecimal(s.min.get), BigDecimal(s.max.get))
      }
      assert(ranges.head._1 == BigDecimal(0) &&
        ranges.last._2 == BigDecimal(59), ranges.toString)
      assert(ranges.sliding(2).forall {
        case Seq((_, hi), (lo, _)) => hi < lo
        case _ => true
      }, s"chunk ranges overlap: $ranges")

      // a point predicate decodes ONLY the chunk containing it
      val pruned = LakeDataset.openPruned(spark, ds.root, Some("id = 25"))
      val expectFrags = stored.chunkFiles.find { c =>
        val s = c.stats(idField)
        BigDecimal(s.min.get) <= 25 && BigDecimal(s.max.get) >= 25
      }.get.count
      assert(pruned.manifest.fragments.size == expectFrags,
        s"expected $expectFrags fragments from one chunk, got " +
          s"${pruned.manifest.fragments.size}")
      assert(pruned.manifest.fragments.size < 6)
      // results through the pruned handle equal the full-scan answer
      assert(pruned.scanner().withFilter("id = 25").build().count() == 1)

      // the partial handle refuses commits
      import spark.implicits._
      val ex = intercept[IllegalArgumentException] {
        pruned.append(Seq((999L, 0L)).toDF("id", "v"))
      }
      assert(ex.getMessage.contains("openPruned"), ex.getMessage)

      // no predicate, or a predicate matching everything → full handle
      assert(LakeDataset.openPruned(spark, ds.root, None)
        .manifest.fragments.size == 6)
      assert(LakeDataset.openPruned(spark, ds.root, Some("id >= 0"))
        .manifest.fragments.size == 6)
    }
  }

  test("DSv2 read over a chunked table prunes chunks and stays correct") {
    withChunking(threshold = 2, size = 2) {
      val ds = newDs()
      (0 until 6).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val got = spark.read.format("lake").load(ds.root)
        .filter("id >= 40 AND id < 45").select("id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (40L until 45L).toSeq)
      // the scan planned against the chunk-pruned subset: the denominator
      // (decoded fragments) is smaller than the table's 6 fragments
      val (scanned, total) = LakeDataSource.lastScan(ds.root).get
      assert(total < 6 && scanned >= 1 && scanned <= total,
        s"expected chunk-pruned scan, got ($scanned, $total) of 6")
    }
  }

  test("chunk skipping folds and probes string bounds in UTF-8 order") {
    withChunking(threshold = 2, size = 2) {
      val strSchema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("s", StringType)))
      val ds = LakeDataset.create(spark,
        Files.createTempDirectory("lake-chunks-").toString, strSchema)
      import spark.implicits._
      // U+E000 and U+FFFD sort above U+1F600 in UTF-16 but below it in
      // UTF-8, the order of the writers' min/max
      Seq(Seq(1L -> "\uE000", 2L -> "\uD83D\uDE00"), Seq(3L -> "\uFFFD"),
          Seq(4L -> "a"), Seq(5L -> "b")).foreach { batch =>
        ds.append(batch.toDF("id", "s").coalesce(1))
      }
      assert(ds.manifest.chunkFiles.size > 1)
      val pruned = LakeDataset.openPruned(spark, ds.root,
        Some("s = '\uD83D\uDE00'"))
      assert(pruned.manifest.fragments.size < 4, "other chunks skip")
      assert(pruned.scanner().withFilter("s = '\uD83D\uDE00'").build()
        .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("shallow clone of a chunked dataset encodes fresh chunks") {
    withChunking(threshold = 2, size = 2) {
      val ds = newDs()
      (0 until 4).foreach(i => appendBatch(ds, i * 10 until i * 10 + 10))
      val target = Files.createTempDirectory("lake-chunks-clone-").toString
      val clone = ds.shallowClone(target)
      assert(clone.read().count() == 40)
      val stored = storedManifest(clone, 1)
      assert(stored.fragments.isEmpty && stored.chunkFiles.nonEmpty)
      // clone's chunks live under ITS root, not the source's
      assert(clone.io.exists(
        VersionLog.chunksDir(new Path(clone.root))))
    }
  }
}
