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
  * Layout: `<root>/_indexes/<name>/v<version>/graph` + `meta.json`
  * (commit point, written last — a build that dies mid-write leaves a dir
  * without meta, which [[VectorIndex.builtVersion]]-style discovery
  * ignores). Incremental [[refresh]] follows the segment-chain pattern of
  * [[VectorIndex]]/[[FtsIndex]] with shard-replacement semantics: HNSW
  * inserts rewire EXISTING nodes' neighbor lists, so the rewrite unit is
  * the touched shard (only shards that received new rows are rewritten;
  * untouched shards resolve through the parent chain).
  *
  * Delete-safety mirrors [[VectorIndex.search]]: graph hits are joined
  * back to the live dataset by `_rowid`, so rows deleted since build drop
  * out; the per-shard beam over-fetches (`OverFetch`·k) to keep k results
  * under moderate deletion. Vector-value rewrites require a rebuild (same
  * contract as the reference and the IVF family).
  */
object HnswIndex {

  val DefaultShards = 4
  /** Per-shard over-fetch multiplier: slack for deleted rows + merge. */
  val OverFetch = 4

  private def indexDir(ds: LakeDataset, name: String, version: Long) =
    new HPath(ds.root).resolve("_indexes").resolve(name)
      .resolve(f"v$version%020d")

  private def shardOf(rowid: org.apache.spark.sql.Column, shards: Int) =
    pmod(rowid, lit(shards.toLong)).cast("int")

  /** Build all shard graphs at the dataset's current version. */
  def build(ds: LakeDataset, vecCol: String, name: String = "hnsw",
      shards: Int = DefaultShards, m: Int = HnswGraph.DefaultM,
      efConstruction: Int = HnswGraph.DefaultEfConstruction): Unit = {
    val spark = ds.spark
    val rows = ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol).as("_rowid"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull)
    val dir = indexDir(ds, name, ds.version)
    ds.io.mkdirs(dir)
    writeShardGraphs(spark, rows, shards, m, efConstruction, s"$dir/graph")
    ds.io.writeString(dir.resolve("meta.json"),
      s"""{"max_rowid": "${ds.manifest.nextRowId - 1}",""" +
        s""" "max_fragment_id": "${ds.manifest.maxFragmentId}",""" +
        s""" "shards": "$shards", "m": "$m", "ef": "$efConstruction"}""")
  }

  /** Partition by shard, build one graph per partition, persist nodes. */
  private def writeShardGraphs(spark: SparkSession, rows: DataFrame,
      shards: Int, m: Int, efC: Int, outPath: String,
      onlyShards: Option[Set[Int]] = None,
      restored: Option[DataFrame] = None): Unit = {
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
      .write.mode("overwrite").parquet(outPath)
  }

  private def metaStr(ds: LakeDataset, dir: HPath,
      field: String): Option[String] = {
    val meta = dir.resolve("meta.json")
    if (!ds.io.exists(meta)) None
    else (""""""" + field + """"\s*:\s*"([^"]+)"""").r
      .findFirstMatchIn(ds.io.readString(meta))
      .map(_.group(1))
  }

  /** Newest committed (meta-bearing) version ≤ the dataset's current one. */
  def builtVersion(ds: LakeDataset, name: String): Option[Long] = {
    val base = new HPath(ds.root).resolve("_indexes").resolve(name)
    if (!ds.io.exists(base)) return None
    ds.io.listNames(base)
      .filter(n => ds.io.exists(base.resolve(n).resolve("meta.json")))
      .filter(_.startsWith("v"))
      .map(_.drop(1).toLong)
      .filter(_ <= ds.version)
      .maxOption
  }

  /** Segment chain newest→oldest via parent pointers. */
  private def segmentDirs(ds: LakeDataset, name: String, v: Long): Seq[HPath] = {
    var cur = Option(v)
    val out = Seq.newBuilder[HPath]
    while (cur.isDefined) {
      val d = indexDir(ds, name, cur.get)
      out += d
      cur = metaStr(ds, d, "parent").map(_.drop(1).toLong)
    }
    out.result()
  }

  /** Insert rows appended since the last build into their shard graphs and
    * rewrite ONLY the touched shards as a chained segment. */
  def refresh(ds: LakeDataset, vecCol: String, name: String = "hnsw"): Unit = {
    val spark = ds.spark
    val v0 = builtVersion(ds, name) match {
      case None => build(ds, vecCol, name); return
      case Some(v) => v
    }
    if (v0 == ds.version) return
    val v0dir = indexDir(ds, name, v0)
    val maxIndexed = metaStr(ds, v0dir, "max_rowid").get.toLong
    val maxFrag = metaStr(ds, v0dir, "max_fragment_id").get.toLong
    val shards = metaStr(ds, v0dir, "shards").get.toInt
    val m = metaStr(ds, v0dir, "m").get.toInt
    val efC = metaStr(ds, v0dir, "ef").get.toInt
    val newFrags = ds.manifest.fragments.filter(_.id > maxFrag)
    if (newFrags.isEmpty) return
    val rows = ds.readFragments(ds.manifest, newFrags, withRowId = true)
      .select(col(LakeDataset.RowIdCol).as("_rowid"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull && col("_rowid") > maxIndexed)
    if (rows.isEmpty) return
    val touched = rows.select(shardOf(col("_rowid"), shards).as("s"))
      .distinct().collect().map(_.getInt(0)).toSet
    // Rebuild each touched shard from its newest persisted nodes + inserts.
    val chain = segmentDirs(ds, name, v0)
    val current = currentShardNodes(spark, ds, chain, touched)
      .select(col("shard"), col("_rowid"), col("vec"),
        lit(true).as("pre"), col("level"), col("nbrs"))
    val dir = indexDir(ds, name, ds.version)
    ds.io.mkdirs(dir)
    writeShardGraphs(spark, rows, shards, m, efC, s"$dir/graph",
      Some(touched), Some(current))
    ds.io.writeString(dir.resolve("meta.json"),
      s"""{"parent": "v$v0",""" +
        s""" "max_rowid": "${ds.manifest.nextRowId - 1}",""" +
        s""" "max_fragment_id": "${ds.manifest.maxFragmentId}",""" +
        s""" "shards": "$shards", "m": "$m", "ef": "$efC"}""")
  }

  /** Per shard, the newest segment in the chain that persisted it wins. */
  private def currentShardNodes(spark: SparkSession, ds: LakeDataset,
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

  /** Top-k cosine search through the persisted shard graphs. Falls back to
    * brute force over the live data when no index exists. */
  def search(ds: LakeDataset, vecCol: String, query: Seq[Float], k: Int,
      efSearch: Int = HnswGraph.DefaultEfSearch,
      name: String = "hnsw"): DataFrame = {
    val spark = ds.spark
    val live = ds.scanner().withRowId.build()
    val qvec = typedlit(query)
    val ranked = builtVersion(ds, name) match {
      case Some(v) =>
        import spark.implicits._
        val chain = segmentDirs(ds, name, v)
        val dir = chain.head
        val m = metaStr(ds, dir, "m").get.toInt
        val efC = metaStr(ds, dir, "ef").get.toInt
        val qB = spark.sparkContext.broadcast(query.toArray)
        val fetch = OverFetch * k
        val hits = currentShardNodes(spark, ds, chain)
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
          .toDF("_idx_rowid")
        live.join(hits, col(LakeDataset.RowIdCol) === col("_idx_rowid"))
          .drop("_idx_rowid")
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
