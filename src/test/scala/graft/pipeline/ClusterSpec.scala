package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** ScalaTest oracle for the iterative (non-portable-SQL) side of
  * [[Cluster]]: the multi-iteration Lloyd run. The single-step pieces
  * (`cluster_assign`, `cluster_kmeans_step`) are DuckDB-hash-checked. */
class ClusterSpec extends SparkTestBase {

  private lazy val e = {
    Tables.load(spark, sf001, "embeddings")
  }

  test("kmeans is deterministic run-to-run") {
    val (a1, i1) = Cluster.kmeans(spark, e, k = 4, iters = 3)
    val (a2, i2) = Cluster.kmeans(spark, e, k = 4, iters = 3)
    assert(i1 == i2)
    val m1 = a1.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = a2.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2)
  }

  test("inertia is non-increasing across Lloyd iterations") {
    val (_, inertias) = Cluster.kmeans(spark, e, k = Cluster.K, iters = 4)
    assert(inertias.size == 4)
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"inertia increased: $inertias")
    }
  }

  test("iteration-1 centroid means replay cluster_kmeans_step") {
    // kmeans' first recomputed means must equal the oracle-checked step
    // query's means (same seeds, same assignment, same averaging).
    val stepMeans = Cluster.stepQ.run(spark, sf001)
      .select("cluster", "pos", "mean_c").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    val assigned = Cluster.assign(
      e.select("vec_id", "embedding"),
      e.filter(col("vec_id") < Cluster.K)
        .select(col("vec_id").cast("int").as("cluster"),
          col("embedding").as("cvec")))
    val replay = assigned.select("vec_id", "cluster")
      .join(e.select("vec_id", "embedding"), "vec_id")
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .groupBy(col("cluster"), (col("p0") + 1).as("pos"))
      .agg((round(avg(col("v").cast("double")) * 10000)).cast("long").as("mean_c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

    assert(replay == stepMeans)
  }

  test("every vector lands in exactly one cluster; all clusters seeded") {
    val a = Cluster.assignQ.run(spark, sf001)
    val n = e.count()
    assert(a.count() == n)
    assert(a.select("vec_id").distinct().count() == n)
    // each seed vector is most similar to itself → its own cluster survives
    val seedClusters = a.filter(col("vec_id") < Cluster.K)
      .select("vec_id", "cluster").collect()
    seedClusters.foreach(r => assert(r.getLong(0) == r.getInt(1).toLong))
  }

  test("kmeans summary has K rows, full coverage, sane purity") {
    val s = Cluster.kmeansQ.run(spark, sf001)
    val rows = s.collect()
    assert(rows.length == Cluster.K)
    assert(rows.map(_.getAs[Long]("size")).sum == e.count())
    rows.foreach { r =>
      val purity = r.getAs[Long]("purity_c")
      assert(purity >= 0L && purity <= 10000L)
    }
  }

  test("kmeans leaves at most one pinned frame per run (pin leak, r8 #4)") {
    // each Lloyd iteration pins its assignment; without the per-iteration
    // unpersist the loop held iters × corpus in the block manager. After a
    // run, only the RETURNED assignment may still be pinned.
    graft.SessionHygiene.sweep(spark)
    val (a, _) = Cluster.kmeans(spark, e, k = 4, iters = 3)
    a.count() // consume the result like a caller would
    val liveFloat = spark.sparkContext.getPersistentRDDs.size
    assert(liveFloat <= 1, s"kmeans leaked pins: $liveFloat persistent RDDs")
    graft.SessionHygiene.sweep(spark)
    val fixed = Cluster.kmeansFixed(spark, e.select("vec_id", "embedding"))
    fixed.count()
    val liveFixed = spark.sparkContext.getPersistentRDDs.size
    assert(liveFixed <= 1,
      s"kmeansFixed leaked pins: $liveFixed persistent RDDs")
    graft.SessionHygiene.sweep(spark)
  }

  test("quantized fixed-point Lloyd agrees with the float-kernel run") {
    // same seeds, same iteration count → cluster ids are comparable; the
    // 1e-3 quantization may flip a handful of boundary vectors, no more
    val fixed = Cluster.kmeansFixed(spark, e.select("vec_id", "embedding"),
      iters = Cluster.Iters)
    val (float, _) = Cluster.kmeans(spark, e, trackInertia = false)
    val n = e.count().toDouble
    val agree = fixed.withColumnRenamed("cluster", "cf")
      .join(float.select(col("vec_id"), col("cluster").as("ck")), "vec_id")
      .filter(col("cf") === col("ck")).count().toDouble
    assert(agree / n > 0.9, s"agreement ${agree / n}")
  }
}
