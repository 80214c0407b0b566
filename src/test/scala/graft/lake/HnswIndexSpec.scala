package graft.lake

import java.nio.file.Files

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted sharded HNSW over a LakeDataset: recall vs brute, incremental
  * refresh with shard-replacement, delete-safety, commit-point discipline. */
class HnswIndexSpec extends SparkTestBase {

  private def makeDs(rows: Int = 500): LakeDataset = {
    val dir = Files.createTempDirectory("hnswidx-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("label", IntegerType),
      StructField("embedding", ArrayType(FloatType)))))
    ds.append(Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < rows)
      .select("vec_id", "label", "embedding").coalesce(2))
    ds
  }

  private def queryVec(ds: LakeDataset): Seq[Float] = {
    import scala.jdk.CollectionConverters._
    ds.read().filter(col("vec_id") === 0)
      .select("embedding").collect().head
      .getList[Float](0).asScala.toSeq
  }

  test("indexed search overlaps brute-force top-k (recall >= 0.8)") {
    val ds = makeDs()
    val q = queryVec(ds)
    val brute = HnswIndex.search(ds, "embedding", q, k = 10) // no index yet
      .collect().map(_.getLong(0)).toSet
    HnswIndex.build(ds, "embedding")
    assert(HnswIndex.builtVersion(ds, "hnsw").contains(ds.version))
    val idx = HnswIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0))
    assert(idx.length == 10)
    val recall = brute.count(idx.toSet).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("refresh inserts appended rows; untouched shards are not rewritten") {
    val ds = makeDs(rows = 400)
    HnswIndex.build(ds, "embedding", shards = 4)
    val v1 = ds.version
    // append a single row -> exactly one shard touched
    import spark.implicits._
    val extra = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") === 450)
      .select("vec_id", "label", "embedding")
    ds.append(extra)
    HnswIndex.refresh(ds, "embedding")
    assert(HnswIndex.builtVersion(ds, "hnsw").contains(ds.version))
    // the delta segment persisted only the touched shard's rows
    val segDir = f"${ds.root}/_indexes/hnsw/v${ds.version}%020d/graph"
    val seg = spark.read.parquet(segDir)
    assert(seg.select("shard").distinct().count() == 1)
    // the appended vector is retrievable through the refreshed index: its
    // own embedding must rank itself first
    val qv = extra.select("embedding").collect().head.getSeq[Float](0)
    val hits = HnswIndex.search(ds, "embedding", qv, k = 5)
      .collect().map(_.getLong(0))
    assert(hits.head == 450L, s"got ${hits.toSeq}")
    // pre-existing rows still found (chain resolves untouched shards)
    val q0 = queryVec(ds)
    val hits0 = HnswIndex.search(ds, "embedding", q0, k = 5)
      .collect().map(_.getLong(0))
    assert(hits0.head == 0L)
    assert(ds.version != v1)
  }

  test("rows deleted after build drop out of results") {
    val ds = makeDs()
    val q = queryVec(ds)
    HnswIndex.build(ds, "embedding")
    val before = HnswIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0))
    assert(before.contains(0L))
    ds.delete("vec_id = 0")
    val after = HnswIndex.search(ds, "embedding", q, k = 10)
      .collect().map(_.getLong(0))
    assert(!after.contains(0L))
    assert(after.length == 10) // over-fetch keeps k under moderate deletes
  }

  test("a build that died before meta.json is invisible") {
    // one input per index family: its build, its discovery, and a data
    // dir its segments hold
    val families: Seq[(String, LakeDataset => Unit,
        LakeDataset => Option[Long], String)] = Seq(
      ("hnsw", HnswIndex.build(_, "embedding"),
        HnswIndex.builtVersion(_, "hnsw"), "graph"),
      ("fts", FtsIndex.build(_, "text"), FtsIndex.builtVersion(_), "postings"),
      ("ivf", VectorIndex.build(_, "embedding"),
        VectorIndex.builtVersion(_, "ivf"), "assignments"))
    def rows(p: org.apache.spark.sql.Column) =
      Tables.load(spark, sf0001, "embeddings").filter(p)
        .select(col("vec_id"), col("label"), col("embedding"),
          concat_ws(" ", lit("label"), col("label")).as("text"))
    families.foreach { case (name, build, builtVersion, dataDir) =>
      val ds = LakeDataset.create(spark,
        Files.createTempDirectory("hnswidx-").toString,
        rows(lit(false)).schema)
      ds.append(rows(col("vec_id") < 100).coalesce(2))
      build(ds)
      val good = builtVersion(ds)
      // advance the dataset, then fake a torn build AT the current version:
      // index data written, no meta (the commit marker) — discovery must
      // keep resolving to the last committed build
      ds.append(rows(col("vec_id") === 499))
      val torn = new org.apache.hadoop.fs.Path(ds.root)
        .resolve("_indexes").resolve(name)
        .resolve(f"v${ds.version}%020d")
      ds.io.mkdirs(torn.resolve(dataDir))
      assert(builtVersion(ds) == good, name)
    }
  }
}
