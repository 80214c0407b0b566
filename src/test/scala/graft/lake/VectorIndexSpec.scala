package graft.lake

import java.nio.file.Files

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class VectorIndexSpec extends SparkTestBase {

  private def makeDs(): LakeDataset = {
    val dir = Files.createTempDirectory("vecidx-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType)))))
    ds.append(Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "label", "embedding").coalesce(2))
    ds
  }

  private def queryVec(ds: LakeDataset): Seq[Float] = {
    import scala.jdk.CollectionConverters._
    ds.read().filter(col("vec_id") === 0)
      .select("embedding").collect().head
      .getList[Float](0).asScala.toSeq
  }

  test("probing all clusters reproduces exact brute-force top-k") {
    val ds = makeDs()
    val q = queryVec(ds)
    val brute = VectorIndex.search(ds, "embedding", q, k = 10) // no index yet
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    VectorIndex.build(ds, "embedding")
    assert(VectorIndex.builtVersion(ds, "ivf").contains(ds.version))
    val full = VectorIndex.search(ds, "embedding", q, k = 10,
      nprobe = VectorIndex.DefaultClusters)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(full.toSeq == brute.toSeq)
  }

  test("an unknown quantizer is rejected before training writes anything") {
    val ds = makeDs()
    intercept[IllegalArgumentException] {
      VectorIndex.build(ds, "embedding", name = "ivfx", quantizer = "opq")
    }
    val dir = java.nio.file.Paths.get(ds.root, "_indexes", "ivfx")
    assert(!Files.exists(dir) || Files.list(dir).count() == 0L)
    assert(VectorIndex.builtVersion(ds, "ivfx").isEmpty)
  }

  test("probed search prunes but overlaps exact; prefilter composes") {
    val ds = makeDs()
    val q = queryVec(ds)
    VectorIndex.build(ds, "embedding")
    val probed = VectorIndex.search(ds, "embedding", q, k = 10, nprobe = 4)
      .collect()
    assert(probed.length == 10)
    val pre = VectorIndex.search(ds, "embedding", q, k = 5, nprobe = 16,
      prefilter = Some("label = 3")).collect()
    assert(pre.nonEmpty && pre.forall(_.getInt(1) == 3))
  }

  test("IVF-PQ: recall@10 >= 0.9 vs brute at >= 4x smaller index footprint") {
    val ds = makeDs()
    val q = queryVec(ds)
    // brute-force truth before any index exists
    val brute = VectorIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0)).toSet
    VectorIndex.build(ds, "embedding", name = "ivfpq", quantizer = "pq")
    val pq = VectorIndex.search(ds, "embedding", q, k = 10,
      nprobe = VectorIndex.DefaultClusters, name = "ivfpq")
      .collect().map(_.getLong(0)).toSet
    assert(pq.size == 10)
    val recall = (pq & brute).size / 10.0
    assert(recall >= 0.9, s"recall@10 = $recall")

    // Footprint: the PER-VECTOR index state (rowid + cluster + m byte
    // codes) must be ≥4× smaller than the raw vectors it stands in for —
    // that ratio is what holds at corpus scale. Codebooks/centroids are
    // O(k·D) constants (≤256·64 floats) that amortize to nothing at scale
    // but would dominate a 500-vector fixture, so they're excluded here.
    def dirBytes(p: java.nio.file.Path): Long = {
      import scala.jdk.CollectionConverters._
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    }
    import scala.jdk.CollectionConverters._
    val vdir = Files.list(
      java.nio.file.Paths.get(ds.root, "_indexes", "ivfpq"))
      .iterator().asScala.toSeq.head
    val codes = dirBytes(vdir.resolve("assignments"))
    val data = dirBytes(java.nio.file.Paths.get(ds.root, "data"))
    assert(codes * 4 <= data, s"codes $codes bytes vs data $data bytes")
  }

  test("IVF-PQ search stays correct under deletes and prefilters") {
    val ds = makeDs()
    val q = queryVec(ds)
    VectorIndex.build(ds, "embedding", name = "ivfpq", quantizer = "pq")
    val before = VectorIndex.search(ds, "embedding", q, k = 5,
      nprobe = VectorIndex.DefaultClusters, name = "ivfpq")
      .collect().map(_.getLong(0))
    val victim = before(1)
    ds.delete(s"vec_id = $victim")
    val after = VectorIndex.search(ds, "embedding", q, k = 5,
      nprobe = VectorIndex.DefaultClusters, name = "ivfpq")
      .collect().map(_.getLong(0))
    assert(!after.contains(victim))
    val pre = VectorIndex.search(ds, "embedding", q, k = 5, nprobe = 16,
      name = "ivfpq", prefilter = Some("label = 3")).collect()
    assert(pre.nonEmpty && pre.forall(_.getInt(1) == 3))
  }

  test("IVF-SQ: recall@10 >= 0.9 vs brute at >= 2x smaller index footprint") {
    val ds = makeDs()
    val q = queryVec(ds)
    val brute = VectorIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0)).toSet
    VectorIndex.build(ds, "embedding", name = "ivfsq", quantizer = "sq")
    val sq = VectorIndex.search(ds, "embedding", q, k = 10,
      nprobe = VectorIndex.DefaultClusters, name = "ivfsq")
      .collect().map(_.getLong(0)).toSet
    assert(sq.size == 10)
    val recall = (sq & brute).size / 10.0
    assert(recall >= 0.9, s"recall@10 = $recall")
    // per-vector state is D uint8 codes (+rowid/cluster) vs D float32s
    assert(indexBytes(ds, "ivfsq") * 2 <= dataBytes(ds),
      s"codes ${indexBytes(ds, "ivfsq")} bytes vs data ${dataBytes(ds)} bytes")
  }

  test("IVF-BQ: recall@10 >= 0.7 vs brute at >= 4x smaller index footprint") {
    val ds = makeDs()
    val q = queryVec(ds)
    val brute = VectorIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0)).toSet
    VectorIndex.build(ds, "embedding", name = "ivfbq", quantizer = "bq")
    val bq = VectorIndex.search(ds, "embedding", q, k = 10,
      nprobe = VectorIndex.DefaultClusters, name = "ivfbq")
      .collect().map(_.getLong(0)).toSet
    assert(bq.size == 10)
    // 1 bit/dim is the coarsest quantizer; the re-rank window (BqRefine·k)
    // recovers most, not all, of the exact top-k
    val recall = (bq & brute).size / 10.0
    assert(recall >= 0.7, s"recall@10 = $recall")
    assert(indexBytes(ds, "ivfbq") * 4 <= dataBytes(ds),
      s"codes ${indexBytes(ds, "ivfbq")} bytes vs data ${dataBytes(ds)} bytes")
  }

  test("SQ and BQ searches stay correct under deletes and prefilters") {
    val ds = makeDs()
    val q = queryVec(ds)
    for (quant <- Seq("sq", "bq")) {
      val name = s"ivf$quant"
      VectorIndex.build(ds, "embedding", name = name, quantizer = quant)
      val before = VectorIndex.search(ds, "embedding", q, k = 5,
        nprobe = VectorIndex.DefaultClusters, name = name)
        .collect().map(_.getLong(0))
      val victim = before(1)
      ds.delete(s"vec_id = $victim")
      val after = VectorIndex.search(ds, "embedding", q, k = 5,
        nprobe = VectorIndex.DefaultClusters, name = name)
        .collect().map(_.getLong(0))
      assert(!after.contains(victim), s"$quant returned a deleted row")
      val pre = VectorIndex.search(ds, "embedding", q, k = 5, nprobe = 16,
        name = name, prefilter = Some("label = 3")).collect()
      assert(pre.nonEmpty && pre.forall(_.getInt(1) == 3))
    }
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Per-vector index state (assignments incl. codes), excluding O(k·D)
    * constants (centroids / quantizer params) that amortize at scale. */
  private def indexBytes(ds: LakeDataset, name: String): Long = {
    import scala.jdk.CollectionConverters._
    val vdir = Files.list(java.nio.file.Paths.get(ds.root, "_indexes", name))
      .iterator().asScala.toSeq.head
    dirBytes(vdir.resolve("assignments"))
  }

  private def dataBytes(ds: LakeDataset): Long =
    dirBytes(java.nio.file.Paths.get(ds.root, "data"))

  test("index stays consistent under later deletes (stable rowid join)") {
    val ds = makeDs()
    val q = queryVec(ds)
    VectorIndex.build(ds, "embedding")
    val before = VectorIndex.search(ds, "embedding", q, k = 5,
      nprobe = VectorIndex.DefaultClusters)
      .collect().map(_.getLong(0))
    val victim = before(1)
    ds.delete(s"vec_id = $victim")
    val after = VectorIndex.search(ds, "embedding", q, k = 5,
      nprobe = VectorIndex.DefaultClusters)
      .collect().map(_.getLong(0))
    assert(!after.contains(victim))
    // the rest of the ranking is unchanged
    assert(after.take(1).toSeq == before.take(1).toSeq)
  }

  test("incremental refresh: appended vectors searchable without retrain") {
    val ds = makeDs()
    VectorIndex.build(ds, "embedding")
    val maxIndexed = ds.manifest.nextRowId - 1
    // append near-duplicates of the query vector — they must dominate top-k
    val q = queryVec(ds)
    import spark.implicits._
    val newVecs = Seq(
      (800001L, 3, q.map(v => v * 1.001f)),
      (800002L, 3, q.map(v => v * 0.999f)))
      .toDF("vec_id", "label", "embedding")
    ds.append(newVecs.coalesce(1))
    VectorIndex.refresh(ds, "embedding")
    // delta segment contains only the new rowids
    val deltaDir = java.nio.file.Paths.get(
      ds.root, "_indexes", "ivf", f"v${ds.version}%020d")
    val delta = spark.read.parquet(s"$deltaDir/assignments")
    assert(delta.count() == 2)
    assert(delta.agg(min("_rowid")).head().getLong(0) > maxIndexed)
    // probing all clusters finds them at the top (cosine ≈ 1 to the query;
    // the query vector's own row ties with them, hence top-3)
    val hits = VectorIndex.search(ds, "embedding", q, k = 3,
      nprobe = VectorIndex.DefaultClusters)
      .collect().map(_.getLong(0))
    assert(Set(800001L, 800002L).subsetOf(hits.take(3).toSet))
    // refresh with nothing appended is a no-op
    val before = VectorIndex.builtVersion(ds, "ivf")
    ds.createTag("pin")
    VectorIndex.refresh(ds, "embedding")
    assert(VectorIndex.builtVersion(ds, "ivf") == before)
  }

  test("incremental refresh encodes deltas with the base PQ codebooks") {
    val ds = makeDs()
    VectorIndex.build(ds, "embedding", name = "ivfpq", quantizer = "pq")
    val q = queryVec(ds)
    import spark.implicits._
    ds.append(Seq((800010L, 5, q.map(v => v * 1.0005f)))
      .toDF("vec_id", "label", "embedding").coalesce(1))
    VectorIndex.refresh(ds, "embedding", name = "ivfpq")
    val deltaDir = java.nio.file.Paths.get(
      ds.root, "_indexes", "ivfpq", f"v${ds.version}%020d")
    val delta = spark.read.parquet(s"$deltaDir/assignments")
    // the delta rows carry PQ codes shaped like the base segment's
    assert(delta.columns.contains("codes"))
    assert(delta.count() == 1)
    val hits = VectorIndex.search(ds, "embedding", q, k = 2,
      nprobe = VectorIndex.DefaultClusters, name = "ivfpq")
      .collect().map(_.getLong(0))
    assert(hits.contains(800010L))

    // compaction-only advance: fresh fragment ids but zero post-mark
    // rowids — refresh must no-op, not probe an empty frame for the PQ
    // dimension (and search must keep working after vacuum of the old
    // dataset manifests)
    val built = VectorIndex.builtVersion(ds, "ivfpq")
    ds.compact(targetRows = 1 << 20)
    ds.vacuum(keepVersions = 1, graceMs = 0L)
    VectorIndex.refresh(ds, "embedding", name = "ivfpq")
    assert(VectorIndex.builtVersion(ds, "ivfpq") == built)
    val again = VectorIndex.search(ds, "embedding", q, k = 2,
      nprobe = VectorIndex.DefaultClusters, name = "ivfpq")
      .collect().map(_.getLong(0))
    assert(again.contains(800010L))
  }

  test("HNSW centroid probe ranks clusters like the exact probe") {
    // At <= M+1 centroids the probe graph is complete, so the walk is
    // exhaustive: probeVia=hnsw must return EXACTLY the exact probe's
    // results at every nprobe, not just overlap them.
    val ds = makeDs()
    val q = queryVec(ds)
    VectorIndex.build(ds, "embedding")
    for (np <- Seq(1, 4, VectorIndex.DefaultClusters)) {
      val exact = VectorIndex.search(ds, "embedding", q, k = 10, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      val viaHnsw = VectorIndex.search(ds, "embedding", q, k = 10,
        nprobe = np, probeVia = "hnsw")
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      assert(viaHnsw == exact, s"nprobe=$np")
    }
  }
}
