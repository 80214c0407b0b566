package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Vector-expression correctness + LSH-vs-brute recall on sf0.001. */
class AnnSpec extends SparkTestBase {

  test("cosine_sim / dot_product / l2_distance match scalar math (codegen path)") {
    import spark.implicits._
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val df = Seq((a, b)).toDF("a", "b").select(
      call_function("cosine_sim", col("a"), col("b")).as("cos"),
      call_function("dot_product", col("a"), col("b")).as("dot"),
      call_function("l2_distance", col("a"), col("b")).as("l2"))
    val r = df.collect().head
    val dot = -1.0 + 1.0 + 6.0
    val na = math.sqrt(1 + 4 + 9); val nb = math.sqrt(1 + 0.25 + 4)
    assert(math.abs(r.getDouble(0) - dot / (na * nb)) < 1e-12)
    assert(math.abs(r.getDouble(1) - dot) < 1e-12)
    val l2 = math.sqrt(4 + 2.25 + 1)
    assert(math.abs(r.getDouble(2) - l2) < 1e-12)
  }

  test("null input yields null, zero vector yields 0 similarity") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 1.0f))),
      (None, Some(Array(1.0f, 1.0f))))
      .toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b")).as("cos"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(1).isNullAt(0))
  }

  test("brute-force top-k is exact and complete") {
    val rows = Ann.brute.run(spark, sf0001).collect()
    assert(rows.length == Ann.NumQueries * Ann.TopK)
    // per query: ranks are 1..TopK with non-increasing sim
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq == (1 to Ann.TopK))
      val sims = byRank.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("LSH top-k prunes the corpus and overlaps the exact top-k") {
    val brute = Ann.brute.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lsh.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    // Multi-probe over 5 of 16 buckets scans ~1/3 of the corpus; on
    // direction-uniform synthetic vectors recall is bounded by that fraction.
    val recall = brute.count(lsh).toDouble / brute.size
    assert(recall >= 0.15, s"recall $recall")
    assert(recall <= 1.0)
  }

  test("IVF: every vector gets exactly one cluster; top-k overlaps exact") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val (assign, centroids) = Ann.trainIvf(e)
    assert(assign.count() == e.count())
    assert(assign.select("vec_id").distinct().count() == e.count())
    assert(centroids.count() == Ann.NumClusters)
    assert(centroids.select(size(col("centroid"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(64))
    val brute = Ann.brute.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivf.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf).toDouble / brute.size
    // probes 4/16 clusters; direction-uniform data bounds recall near that
    assert(recall >= 0.15, s"ivf recall $recall")
  }

  test("semantic dedup: one keep per cluster, labels are cluster minima") {
    val rows = Ann.semantic.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // covers every vector exactly once
    assert(rows.length == 500)
    assert(rows.map(_._1).distinct.length == 500)
    val byLabel = rows.groupBy(_._2)
    byLabel.foreach { case (label, members) =>
      // the representative is the cluster's min id and the only keep
      assert(members.map(_._1).min == label)
      assert(members.count(_._3) == 1)
      assert(members.find(_._3).get._1 == label)
    }
    // non-degenerate on this corpus: some cluster has >1 member
    assert(byLabel.exists(_._2.length > 1))
  }

  test("LSH bucket assignment is deterministic") {
    val b1 = Ann.lsh.run(spark, sf0001).collect().map(_.toSeq)
    val b2 = Ann.lsh.run(spark, sf0001).collect().map(_.toSeq)
    assert(b1.toSeq == b2.toSeq)
  }
}
