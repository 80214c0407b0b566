package graft.lake

import org.apache.hadoop.fs.{Path => HPath}

import graft.operators.HnswGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sharded HNSW graph index over a [[LakeDataset]] — the
  * reference's graph index family (pkg/storage2/hnsw_index.go,
  * knn.go IndexTypeHNSW) in Spark's execution model: the corpus is split
  * into `shards` by stable rowid, each shard's graph is built in one task
  * ([[graft.operators.HnswGraph]], Malkov & Yashunin TPAMI 2018) and
  * persisted as parquet rows (one row per node: normalized vector, level,
  * per-level neighbor-ID lists); a search rebuilds each shard's graph in
  * parallel tasks, beams every query through it, and merges per-shard
  * top-k. No driver-side graph, no executor ever holds more than a shard.
  *
  * Segments live in the [[IndexStore]], per namespace (main or branch):
  * `_indexes/<name>/v<version>/graph`, with the shard count, `m` and `ef`
  * in the segment meta. Incremental [[refresh]] takes the store's refresh
  * cursor and chains a delta segment, like [[VectorIndex]]/[[FtsIndex]],
  * with shard-replacement semantics: HNSW inserts rewire EXISTING nodes'
  * neighbor lists, so the rewrite unit is the touched shard (only shards
  * that received new rows are rewritten; untouched shards resolve through
  * the parent chain).
  *
  * Delete-safety is the store's live join, as in [[VectorIndex.search]]:
  * graph hits are joined back to the live dataset by `_rowid`, so rows
  * deleted since build drop out; the per-shard beam over-fetches
  * (`OverFetch`·k) to keep k results under moderate deletion. Vector-value rewrites require a rebuild (same
  * contract as the reference and the IVF family).
  */
object HnswIndex {

  val DefaultShards = 4
  /** Per-shard over-fetch multiplier: slack for deleted rows + merge. */
  val OverFetch = 4

  private def shardOf(rowid: org.apache.spark.sql.Column, shards: Int) =
    pmod(rowid, lit(shards.toLong)).cast("int")

  /** Build all shard graphs at the dataset's current version. */
  def build(ds: LakeDataset, vecCol: String, name: String = "hnsw",
      shards: Int = DefaultShards, m: Int = HnswGraph.DefaultM,
      efConstruction: Int = HnswGraph.DefaultEfConstruction): Unit = {
    val store = new IndexStore(ds, name)
    val rows = ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol).as("_rowid"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull)
    writeSegment(store, None, rows, shards, m, efConstruction)
  }

  /** A segment of shard graphs: partition by shard, build one graph per
    * partition, persist nodes; the meta records the graph parameters. */
  private def writeSegment(store: IndexStore, parent: Option[Long],
      rows: DataFrame, shards: Int, m: Int, efC: Int,
      onlyShards: Option[Set[Int]] = None,
      restored: Option[DataFrame] = None): Unit =
    store.commit(parent, "shards" -> shards.toString, "m" -> m.toString,
        "ef" -> efC.toString) { dir =>
      val spark = rows.sparkSession
      import spark.implicits._
      val withShard = rows
        .select(shardOf(col("_rowid"), shards).as("shard"),
          col("_rowid"), col("vec"))
      val scoped = onlyShards.fold(withShard)(ss =>
        withShard.filter(col("shard").isin(ss.toSeq: _*)))
      val fresh = scoped
        .select(col("shard"), col("_rowid"), col("vec"),
          lit(false).as("pre"), lit(0).as("level"),
          lit(null).cast("array<array<bigint>>").as("nbrs"))
      // Restored nodes (refresh path) carry their built graph structure and
      // already-normalized vectors; fresh rows are inserted into them.
      val all = restored.fold(fresh)(r => fresh.unionByName(r))
      all
        .select(col("shard"), col("_rowid"), col("vec"), col("pre"),
          col("level"), col("nbrs"))
        .as[(Int, Long, Array[Float], Boolean, Int, Array[Array[Long]])]
        .groupByKey(_._1)
        .flatMapGroups { (shard, it) =>
          val (preRows, newRows) = it.toArray.partition(_._4)
          val g =
            if (preRows.isEmpty) {
              HnswGraph.build(
                newRows.iterator.map(r => (r._2, r._3)), m, efC)
            } else {
              val base = HnswGraph.fromNodes(
                preRows.map(r => HnswGraph.Node(r._2, r._3, r._5, r._6)).toSeq,
                m, efC)
              newRows.sortBy(_._2).foreach(r => base.insert(r._2, r._3))
              base
            }
          HnswGraph.toNodes(g)
            .map(n => (shard, n.id, n.vec, n.level, n.nbrs))
        }
        .toDF("shard", "_rowid", "vec", "level", "nbrs")
        .repartition(1).sortWithinPartitions("shard", "_rowid")
        .write.mode("overwrite").parquet(s"$dir/graph")
    }

  /** Newest committed (meta-bearing) version ≤ the dataset's current one. */
  def builtVersion(ds: LakeDataset, name: String): Option[Long] =
    new IndexStore(ds, name).built

  /** Insert rows appended since the last build into their shard graphs and
    * rewrite ONLY the touched shards as a chained segment. */
  def refresh(ds: LakeDataset, vecCol: String, name: String = "hnsw"): Unit = {
    val store = new IndexStore(ds, name)
    store.pending(vecCol)(build(ds, vecCol, name)).foreach { p =>
      val shards = p.meta("shards").toInt
      val rows = p.rows.toDF("_rowid", "vec")
      val touched = rows.select(shardOf(col("_rowid"), shards).as("s"))
        .distinct().collect().map(_.getInt(0)).toSet
      // Rebuild each touched shard from its newest persisted nodes + inserts.
      val current = currentShardNodes(ds.spark, store.chain(p.base), touched)
        .select(col("shard"), col("_rowid"), col("vec"),
          lit(true).as("pre"), col("level"), col("nbrs"))
      writeSegment(store, Some(p.base), rows, shards, p.meta("m").toInt,
        p.meta("ef").toInt, Some(touched), Some(current))
    }
  }

  /** Per shard, the newest segment in the chain that persisted it wins. */
  private def currentShardNodes(spark: SparkSession,
      chain: Seq[HPath], wanted: Set[Int] = Set.empty): DataFrame = {
    // (segment ord, shards present) is tiny — resolve ownership on the
    // driver, then read only the owning segment's rows per shard.
    val ownership = chain.zipWithIndex.flatMap { case (d, ord) =>
      spark.read.parquet(s"$d/graph").select("shard").distinct()
        .collect().map(r => (r.getInt(0), ord))
    }
    val newestOwner = ownership.groupBy(_._1).map { case (s, xs) =>
      (s, xs.map(_._2).min)
    }
    val bySeg = newestOwner.toSeq
      .filter { case (s, _) => wanted.isEmpty || wanted(s) }
      .groupBy(_._2).toSeq
    bySeg.map { case (ord, ss) =>
      spark.read.parquet(s"${chain(ord)}/graph")
        .filter(col("shard").isin(ss.map(_._1): _*))
    }.reduceOption(_ unionByName _)
      .getOrElse(spark.read.parquet(s"${chain.head}/graph").limit(0))
  }

  /** Top-k cosine search through the persisted shard graphs. Each shard's
    * beam is `max(ef, OverFetch * k)`, `ef` being the build's
    * efConstruction, so recall is fixed at build time and by `k`. Falls
    * back to brute force over the live data when no index exists. */
  def search(ds: LakeDataset, vecCol: String, query: Seq[Float], k: Int,
      name: String = "hnsw"): DataFrame = {
    val spark = ds.spark
    val live = ds.scanner().withRowId.build()
    val qvec = typedlit(query)
    val store = new IndexStore(ds, name)
    val ranked = store.built match {
      case Some(v) =>
        import spark.implicits._
        val chain = store.chain(v)
        val meta = store.metaAt(v).get
        val m = meta("m").toInt
        val efC = meta("ef").toInt
        val qB = spark.sparkContext.broadcast(query.toArray)
        val fetch = OverFetch * k
        val hits = currentShardNodes(spark, chain)
          .select(col("shard"), col("_rowid"), col("vec"),
            col("level"), col("nbrs"))
          .as[(Int, Long, Array[Float], Int, Array[Array[Long]])]
          .groupByKey(_._1)
          .flatMapGroups { (_, it) =>
            val g = HnswGraph.fromNodes(
              it.map(r => HnswGraph.Node(r._2, r._3, r._4, r._5)).toSeq,
              m, efC)
            g.search(qB.value, fetch, math.max(efC, fetch)).iterator
              .map { case (id, _) => id }
          }
          .toDF(LakeDataset.RowIdCol)
        IndexStore.joinLive(live, hits)
      case None => live
    }
    ranked
      .withColumn("_sim", call_function("cosine_sim", col(vecCol), qvec))
      .orderBy(col("_sim").desc, col(LakeDataset.RowIdCol))
      .limit(k)
      .select((ds.schema.fieldNames.map(col) :+
        round(col("_sim"), 4).as("similarity")): _*)
  }
}
