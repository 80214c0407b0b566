package graft.lake

import org.apache.hadoop.fs.{Path => HPath}

import graft.pipeline.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF / IVF-PQ vector index over a [[LakeDataset]] — the
  * counterpart of the reference's KNNIndexManager Create/Build/Save/Load/
  * Search (pkg/storage2/knn.go:14-450) with the IVF layout of ivf_index.go
  * and the PQ refinement of ivf_pq_index.go / pq_quantizer.go (design per
  * Jégou et al., TPAMI 2011).
  *
  * Segments live in the [[IndexStore]], per namespace (main or branch):
  * `_indexes/<name>/v<version>/{centroids,assignments[,codebooks|sq|bq]}`
  * — an index is built against a dataset VERSION; `search`
  * uses it when it matches the current version's vectors and silently stays
  * correct under later deletes because assignments are keyed by stable
  * `_rowid` and joined back to the live data (rows deleted since build
  * simply drop out of the join; the reference's deletion-bitmap prefilter
  * achieves the same). Rewrites that change vector VALUES require a rebuild.
  *
  * Scale: centroids + codebooks are tiny (broadcast/driver); assignments
  * are parquet with the cluster id as a leading sort column, so probing
  * reads only the probed clusters' row groups. With PQ, the per-vector
  * index state is `m` one-byte codes instead of D floats (64-dim float →
  * 8 bytes: 32× less IO for the candidate-generation stage), and ranking
  * is LUT lookups (asymmetric distance) with an exact re-rank of only the
  * top `refine·k` candidates against full vectors.
  */
object VectorIndex {

  val DefaultClusters: Int = Ann.NumClusters
  /** PQ subspaces: 64-dim → 8 subvectors of 8 dims, 1 byte each. */
  val PqM = 8
  /** Exact-rerank window multiplier: top refine·k ADC candidates get the
    * full-vector cosine. */
  val PqRefine = 8
  /** BQ re-rank window: 1-bit-per-dim Hamming is a coarser pre-rank than
    * ADC (64 distinct values, heavy ties), so the exact re-rank window is
    * wider. */
  val BqRefine = 16

  /** Build (train + assign + persist) at the dataset's current version.
    *
    * `quantizer` picks the per-vector code stored beside the cluster
    * assignments (the reference's quantizer family, storage2/pq_quantizer
    * .go, sq_quantizer.go, bq_quantizer.go):
    *  - `"flat"`: none — candidates re-rank against full vectors only.
    *  - `"pq"`: product quantization — trains per-subspace codebooks (on a
    *    bounded deterministic sample, standard PQ practice at scale) and
    *    stores m one-byte codes per vector.
    *  - `"sq"`: scalar quantization — per-dimension affine uint8 grid; D
    *    bytes per vector, 4× smaller than float32, near-lossless ranking.
    *  - `"bq"`: binary quantization — one sign bit per dimension; D/8
    *    bytes per vector, 32× smaller, Hamming pre-rank + exact re-rank.
    */
  def build(ds: LakeDataset, vecCol: String, name: String = "ivf",
      quantizer: String = "flat"): Unit = {
    // checked before training, so a typo costs no k-means run and leaves
    // no segment directory behind
    require(Seq("flat", "pq", "sq", "bq").contains(quantizer),
      s"unknown quantizer '$quantizer' (flat|pq|sq|bq)")
    val spark = ds.spark
    val store = new IndexStore(ds, name)
    val e = ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol).as("vec_id"), col(vecCol).as("embedding"))
      .filter(col("embedding").isNotNull)
    val (assign, centroids) = Ann.trainIvf(e)
    store.commit(None) { dir =>
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      // quantizer parameters, trained on UNIT vectors in all three schemes:
      // the search metric is cosine, and on the unit sphere L2² = 2 − 2·cos
      // (resp. sign-pattern Hamming ≈ angle), so approximate ranking agrees
      // with cosine
      def normalizedE = e.withColumn("embedding", normalized(col("embedding")))
      import spark.implicits._
      quantizer match {
        case "flat" =>
        case "sq" =>
          val stats = normalizedE
            .select(posexplode(col("embedding")).as(Seq("pos", "v")))
            .groupBy("pos")
            .agg(min("v").as("mn"), max("v").as("mx"))
            .collect()
          val dim = stats.map(_.getInt(0)).max + 1
          val mins = new Array[Float](dim)
          val spans = new Array[Float](dim)
          stats.foreach { r =>
            mins(r.getInt(0)) = r.getFloat(1)
            spans(r.getInt(0)) = r.getFloat(2) - r.getFloat(1)
          }
          Seq((mins.toSeq, spans.toSeq)).toDF("mins", "spans")
            .write.mode("overwrite").parquet(s"$dir/sq")
        case "bq" =>
          val dim = e.select(size(col("embedding"))).head().getInt(0)
          Seq(dim).toDF("dim").write.mode("overwrite").parquet(s"$dir/bq")
        case "pq" =>
          val dim = e.select(size(col("embedding"))).head().getInt(0)
          require(dim % PqM == 0, s"dim $dim not divisible by $PqM subspaces")
          // codebook size scales with corpus, capped at 128: doubling k past
          // that buys little recall (the exact re-rank absorbs residual
          // quantization error) but doubles every training join
          val k = math.min(128L, math.max(16L, e.count() / 4)).toInt
          trainPqCodebooks(normalizedE, PqM, k, dim / PqM)
            .write.mode("overwrite").parquet(s"$dir/codebooks")
      }
      writeAssignments(ds, dir, dir, assign, e)
    }
  }

  /** One segment's assignments: `assign` (vec_id, cluster) plus, when the
    * base segment holds quantizer parameters, the codes of `rows` (vec_id,
    * embedding) under them, sorted by cluster so probing reads only the
    * probed clusters' row groups. */
  private def writeAssignments(ds: LakeDataset, base: HPath, dir: HPath,
      assign: DataFrame, rows: DataFrame): Unit = {
    val spark = ds.spark
    def encoded(code: org.apache.spark.sql.Column) =
      rows.withColumn("embedding", normalized(col("embedding")))
        .join(assign, "vec_id")
        .select(col("cluster"), col("vec_id").as("_rowid"), code.as("codes"))
    val withCodes =
      if (ds.io.exists(base.resolve("codebooks"))) {
        val cbRows = spark.read.parquet(s"$base/codebooks").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
        val k = cbRows.map(_._2).max + 1
        // dimension from the trained codebook (codeword length × subspaces)
        // — never from the data, which may legally be empty here
        val dsub = cbRows.head._3.length
        val flat = flattenCodebook(cbRows, PqM, k, dsub)
        encoded(call_function("pq_encode", col("embedding"),
          typedlit(flat.toSeq), lit(PqM), lit(k)))
      } else if (ds.io.exists(base.resolve("sq"))) {
        val (mins, spans) = sqParams(spark, base)
        encoded(call_function("sq_encode", col("embedding"),
          typedlit(mins), typedlit(spans)))
      } else if (ds.io.exists(base.resolve("bq"))) {
        encoded(call_function("bq_encode", col("embedding")))
      } else assign.select(col("cluster"), col("vec_id").as("_rowid"))
    withCodes
      .repartition(1).sortWithinPartitions("cluster")
      .write.mode("overwrite").parquet(s"$dir/assignments")
  }

  private def sqParams(spark: SparkSession,
      base: HPath): (Seq[Float], Seq[Float]) = {
    val row = spark.read.parquet(s"$base/sq").head()
    (row.getSeq[Float](row.fieldIndex("mins")),
      row.getSeq[Float](row.fieldIndex("spans")))
  }

  /** Per-subspace k-means in DataFrame ops (no driver math): subvectors
    * for ALL subspaces train jointly — assign is one broadcast join +
    * windowed argmin, recompute is one per-(sub,code,dim) average. Trained
    * on a deterministic sample (first `sample` vec_ids). */
  private[lake] def trainPqCodebooks(e: DataFrame, m: Int, k: Int, dsub: Int,
      sample: Int = 1024, iterations: Int = 3): DataFrame = {
    val subs = e.orderBy("vec_id").limit(sample)
      .select(col("vec_id"), posexplode(array((0 until m).map(mi =>
        slice(col("embedding"), mi * dsub + 1, dsub)): _*))
        .as(Seq("sub", "subvec")))
    var cb = subs
      .withColumn("rn", row_number().over(
        Window.partitionBy("sub").orderBy("vec_id")))
      .filter(col("rn") <= k)
      .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
        col("subvec").as("cw"))
    (1 to iterations).foreach { _ =>
      // argmin via hash-agg min_by (no sort of the sample×k join)
      val a = subs.join(broadcast(cb), Seq("sub"))
        .withColumn("d",
          call_function("l2_distance", col("subvec"), col("cw")))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
      cb = subs.join(a, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos").agg(avg("v").as("mv"))
        .groupBy("sub", "code")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s("mv").cast("float")).as("cw"))
    }
    cb
  }

  /** Unit-normalize an array<float> column (codegen-friendly built-ins). */
  private def normalized(c: org.apache.spark.sql.Column) = {
    val norm = sqrt(aggregate(transform(c, v => v * v),
      lit(0.0d), (a, v) => a + v))
    transform(c, v => (v / norm).cast("float"))
  }

  /** [m][k][dsub] flattened, NaN in unused codeword slots (skipped by the
    * encode kernel). */
  private def flattenCodebook(rows: Array[(Int, Int, Array[Float])],
      m: Int, k: Int, dsub: Int): Array[Float] = {
    val flat = Array.fill(m * k * dsub)(Float.NaN)
    rows.foreach { case (sub, code, cw) =>
      System.arraycopy(cw, 0, flat, (sub * k + code) * dsub, dsub)
    }
    flat
  }

  /** Newest built version ≤ the dataset's current version, if any. */
  def builtVersion(ds: LakeDataset, name: String): Option[Long] =
    new IndexStore(ds, name).built

  /** Incrementally extend the index: assign ONLY rows appended since the
    * last built version (the store's refresh cursor) to the EXISTING
    * centroids (no k-means retrain) and encode them with the existing
    * quantizer parameters, writing a delta assignments segment. This is
    * standard IVF maintenance at scale — centroids drift slowly, so appends
    * ride the trained structure and a periodic full [[build]] re-trains
    * (the reference rebuilds too; vector-value rewrites always need a
    * rebuild). */
  def refresh(ds: LakeDataset, vecCol: String, name: String = "ivf"): Unit = {
    val store = new IndexStore(ds, name)
    store.pending(vecCol)(build(ds, vecCol, name)).foreach { p =>
      // the OLDEST (base) segment holds the trained centroids + quantizer
      // parameters; every segment holds its own delta assignments
      val base = store.chain(p.base).last
      val rows = p.rows.toDF("vec_id", "embedding")
      val assign = Ann.assignClusters(rows,
        ds.spark.read.parquet(s"$base/centroids"))
      store.commit(Some(p.base)) { dir =>
        writeAssignments(ds, base, dir, assign, rows)
      }
    }
  }

  /** IVF(-PQ) top-k cosine search with an optional SQL prefilter over the
    * dataset's columns (reference prefilter.go composition). Falls back to
    * brute force when no index exists. With a PQ index, candidates inside
    * the probed clusters are first ranked by asymmetric distance over the
    * byte codes and only the top refine·k join the full vectors for the
    * exact re-rank.
    *
    * `probeVia = "hnsw"` is the reference's IVF-HNSW hybrid
    * (storage2/ivf_hnsw_index.go): cluster selection walks an
    * [[graft.operators.HnswGraph]] over the centroids (L2 metric — the
    * same ranking the exact probe uses) instead of scoring every centroid.
    * Irrelevant at 16 centroids; decisive when the coarse quantizer has
    * 10⁵−10⁶ of them (centroid count scales ~√N), where exact probing is
    * itself a linear scan per query. */
  def search(ds: LakeDataset, vecCol: String, query: Seq[Float], k: Int,
      nprobe: Int = 4, name: String = "ivf",
      prefilter: Option[String] = None,
      probeVia: String = "exact"): DataFrame = {
    val spark = ds.spark
    val qvec = typedlit(query)
    val live0 = ds.scanner().withRowId.build()
    val live = prefilter.fold(live0)(p => live0.filter(expr(p)))

    val store = new IndexStore(ds, name)
    val candidates = store.built match {
      case Some(v) =>
        // base segment = trained centroids + quantizer params; every
        // segment contributes its delta assignments
        val segs = store.chain(v)
        val dir = segs.last
        val centroids = spark.read.parquet(s"$dir/centroids")
        val probed =
          if (probeVia == "hnsw") {
            // centroids are coarse-quantizer state (driver-resident here,
            // like the PQ LUT); the graph walk replaces the linear scan
            val cRows = centroids.collect().map(r =>
              (r.getInt(r.fieldIndex("cluster")).toLong,
                r.getSeq[Float](r.fieldIndex("centroid")).toArray))
            val g = graft.operators.HnswGraph.build(
              cRows.iterator, metric = "l2")
            val picked = g.search(query.toArray, nprobe,
              math.max(graft.operators.HnswGraph.DefaultEfSearch, nprobe))
              .map(_._1.toInt)
            import spark.implicits._
            picked.toDF("cluster")
          } else centroids
            .withColumn("d",
              call_function("l2_distance", qvec, col("centroid")))
            .orderBy(col("d"), col("cluster")).limit(nprobe)
            .select("cluster")
        // pushdown: only the probed clusters' row groups are read
        val probedAssign = spark.read
          .parquet(segs.map(sd => s"$sd/assignments"): _*)
          .join(broadcast(probed), Seq("cluster"))
        val assignments =
          if (ds.io.exists(dir.resolve("codebooks"))) {
            val lut = queryLut(spark, s"$dir/codebooks", query)
            probedAssign
              .withColumn("_adc",
                call_function("pq_adc", col("codes"), typedlit(lut.toSeq)))
              .orderBy(col("_adc"), col("_rowid"))
              .limit(PqRefine * k)
          } else if (ds.io.exists(dir.resolve("sq"))) {
            val (mins, spans) = sqParams(spark, dir)
            probedAssign
              .withColumn("_adc",
                call_function("sq_adc", col("codes"),
                  typedlit(normalizeQuery(query).toSeq),
                  typedlit(mins), typedlit(spans)))
              .orderBy(col("_adc"), col("_rowid"))
              .limit(PqRefine * k)
          } else if (ds.io.exists(dir.resolve("bq"))) {
            val qcode = graft.functions.SqOps.bqEncode(
              org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
                normalizeQuery(query)))
            probedAssign
              .withColumn("_h",
                call_function("bq_hamming", col("codes"), lit(qcode)))
              .orderBy(col("_h"), col("_rowid"))
              .limit(BqRefine * k)
          } else probedAssign
        IndexStore.joinLive(live, assignments.select("_rowid"))
      case None => live
    }
    candidates
      .withColumn("_sim", call_function("cosine_sim", col(vecCol), qvec))
      .orderBy(col("_sim").desc, col(LakeDataset.RowIdCol))
      .limit(k)
      .select((ds.schema.fieldNames.map(col) :+
        round(col("_sim"), 4).as("similarity")): _*)
  }

  /** Codes quantize unit vectors — queries must be normalized to match. */
  private def normalizeQuery(q: Seq[Float]): Array[Float] = {
    val n = math.sqrt(q.map(v => v.toDouble * v).sum)
    if (n == 0.0) q.toArray else q.map(v => (v / n).toFloat).toArray
  }

  /** Driver-side LUT [m][k]: squared L2 from each query subvector to each
    * codeword; unused slots get MaxValue so they never rank. */
  private def queryLut(spark: SparkSession, cbPath: String,
      query0: Seq[Float]): Array[Float] = {
    val query = normalizeQuery(query0)
    val rows = spark.read.parquet(cbPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val dsub = query.length / m
    val lut = Array.fill(m * k)(Float.MaxValue)
    rows.foreach { case (sub, code, cw) =>
      var s = 0.0f
      var j = 0
      while (j < dsub) {
        val diff = query(sub * dsub + j) - cw(j)
        s += diff * diff
        j += 1
      }
      lut(sub * k + code) = s
    }
    lut
  }
}
