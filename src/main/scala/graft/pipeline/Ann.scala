package graft.pipeline

import graft.{Q, Tables}
import graft.Materialize.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over `embeddings`
  * (64-dim array<float>). Two paths, per the pipeline mandate:
  *
  *  - [[brute]]: exact cosine top-k — the correctness baseline. The query
  *    set is tiny and broadcast; the corpus side streams, so the plan is a
  *    single narrow pass + per-query top-k (no corpus shuffle). This is the
  *    right plan even at 100 TB *when k·queries is small*.
  *  - [[lsh]]: sign-random-projection LSH bucketing (Charikar, STOC 2002;
  *    multi-probe per Lv et al., VLDB 2007) — the scale path. Bucket
  *    assignment is a narrow map (codegen'd dot products against fixed
  *    hyperplanes); candidates come from probing the query bucket ±1 bit
  *    (multi-probe), so per-query work is a fraction of the corpus.
  *
  * Distance kernels are the codegen'd Catalyst expressions in
  * [[graft.functions]] (reference: pkg/storage2/knn.go FLAT/IVF index).
  * The reference's graph index (hnsw_index.go) maps to Spark as
  * shard-and-merge: [[hnsw]] builds one [[graft.operators.HnswGraph]] per
  * partition inside `mapPartitions` and merges per-shard top-k — a graph
  * walk is sequential per query, so shards × queries is the parallelism
  * axis and no executor holds the whole corpus.
  */
object Ann {

  val NumQueries = 5
  val TopK = 10
  val Bits = 4 // 2^4 buckets; multi-probe Hamming-1 → 5 buckets scanned
  /** Near-dup pair mining uses finer buckets: the within-bucket self-join is
    * quadratic per bucket, so bucket count must scale with corpus size
    * (2^10 buckets keeps the candidate set ~N²/1024 pairs). */
  val NearDupBits = 10

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Deterministic ±1 hyperplanes (seeded), dim 64. */
  private lazy val hyperplanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(42)
    // 16 planes: the first max(Bits, NearDupBits) are bit-identical to
    // the historical pool (same seed, sequential draws); the extras serve
    // the corpus-adaptive semantic-dedup bucketing
    Seq.fill(16)(
      Seq.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** LSH bucket id of a vector column: one sign bit per hyperplane. */
  def bucketOf(vec: Column, bits: Int = Bits): Column =
    (0 until bits).map { i =>
      when(call_function("dot_product", vec, typedlit(hyperplanes(i))) >= 0,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  private def queries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def topKPerQuery(scored: DataFrame): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"), col("rn"), round(col("sim"), 4).as("sim"))

  /** Brute-force cosine top-k SQL — the oracle for [[brute]] and (because
    * an exhaustive probe ranks every vector) for [[ivfExhaustive]]. */
  private val bruteOracle =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.qid, e.vec_id,
       |             list_cosine_similarity(e.embedding, q.qvec) AS sim
       |           FROM embeddings e, q WHERE e.vec_id <> q.qid)
       |SELECT qid, vec_id, rn, round(sim, 4) AS sim
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid
       |                           ORDER BY sim DESC, vec_id) AS rn
       |      FROM scored) t
       |WHERE rn <= $TopK""".stripMargin

  /** Exact cosine top-k for the first NumQueries vectors (self excluded). */
  val brute = Q("ann_cosine_topk", bruteOracle) { (s, dir) =>
    val e = emb(s, dir)
    val scored = e.crossJoin(broadcast(queries(e)))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        call_function("cosine_sim", col("embedding"), col("qvec")))
    topKPerQuery(scored)
  }

  /** DuckDB oracle for [[lsh]], generated from the same [[hyperplanes]]
    * (the [[nearDupOracle]] pattern): bucket bits via `list_dot_product`
    * against the ±1 plane literals over DOUBLE[], multi-probe as the
    * query bucket plus each 1-bit `xor` flip, cosine ranking on the
    * candidates only. Replays bucketing, probing, and ranking exactly —
    * the LSH candidate set is deterministic given the seeded planes. */
  private def lshOracle: String = {
    val bucketTerms = (0 until Bits).map { i =>
      val coeffs = hyperplanes(i).map(v => if (v > 0) "1" else "-1").mkString(",")
      s"(CASE WHEN list_dot_product(e, [$coeffs]::DOUBLE[]) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")
    val probes = "qbucket" +: (0 until Bits).map(b => s"xor(qbucket, ${1 << b})")
    s"""WITH b AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), kb AS (
       |  SELECT vec_id, e,
       |    $bucketTerms AS bucket
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS qid, e AS qe, bucket AS qbucket FROM kb
       |  WHERE vec_id < $NumQueries
       |), probes AS (
       |  SELECT qid, qe, unnest([${probes.mkString(", ")}]) AS bucket FROM q
       |), scored AS (
       |  SELECT p.qid, c.vec_id, list_cosine_similarity(c.e, p.qe) AS sim
       |  FROM kb c JOIN probes p ON c.bucket = p.bucket
       |  WHERE c.vec_id <> p.qid
       |)
       |SELECT qid, vec_id, rn, round(sim, 4) AS sim
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid
       |                           ORDER BY sim DESC, vec_id) AS rn
       |      FROM scored) t
       |WHERE rn <= $TopK""".stripMargin
  }

  /** LSH-bucketed ANN: probe the query's bucket and its Hamming-1 neighbors,
    * then exact-rank only those candidates. */
  val lsh = Q("ann_lsh_topk", lshOracle) { (s, dir) =>
    val e = emb(s, dir)
    val corpus = e.withColumn("bucket", bucketOf(col("embedding")))
    val q = queries(e).withColumn("qbucket", bucketOf(col("qvec")))
    // Multi-probe: own bucket + each 1-bit flip.
    val probes = q.select(col("qid"), col("qvec"),
      explode(array(col("qbucket") +:
        (0 until Bits).map(b => col("qbucket").bitwiseXOR(lit(1 << b))): _*))
        .as("bucket"))
    val scored = corpus.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        call_function("cosine_sim", col("embedding"), col("qvec")))
    topKPerQuery(scored)
  }

  /** IVF (inverted-file) ANN — the k-means scale path (reference
    * ivf_index.go:12-165; coarse-quantizer design per Jégou et al.,
    * "Product quantization for nearest neighbor search", TPAMI 2011,
    * minus the PQ refinement). Centroids are trained with two Lloyd iterations
    * entirely in DataFrame ops (assign = broadcast-centroid cross join +
    * argmin; recompute = posexplode → per-(cluster,dim) avg → regroup), so
    * training is two shuffles of O(N·dim) — no driver-side math. Queries
    * probe the `NProbe` nearest clusters only.
    */
  val NumClusters = 16
  val NProbe = 4

  /** (assignments: vec_id → cluster, centroids: cluster → array<float>) */
  def trainIvf(e: DataFrame, iterations: Int = 2): (DataFrame, DataFrame) = {
    // deterministic init: the NumClusters lowest vec_ids, numbered by rank
    // (not monotonically_increasing_id, whose contiguity after limit() is an
    // implementation accident). Rank via a broadcast θ-self-join over the
    // NumClusters seed rows — not a partition-less row_number window,
    // which would be a single-partition WindowExec in the plan
    val seeds = e.orderBy("vec_id").limit(NumClusters)
      .select(col("vec_id"), col("embedding"))
    val ranks = seeds.select(col("vec_id").as("seed_id"))
      .crossJoin(broadcast(seeds.select(col("vec_id").as("lower_id"))))
      .filter(col("lower_id") <= col("seed_id"))
      .groupBy("seed_id")
      .agg((count(lit(1)) - 1).cast("int").as("cluster"))
    var centroids = seeds
      .join(broadcast(ranks), col("vec_id") === col("seed_id"))
      .select(col("cluster"), col("embedding").as("centroid"))
    var assign: DataFrame = null
    (1 to iterations).foreach { _ =>
      assign = assignClusters(e, centroids)
      centroids = e.join(assign, "vec_id")
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos").agg(avg("v").as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m").cast("float")).as("centroid"))
    }
    (assignClusters(e, centroids), centroids)
  }

  private[graft] def assignClusters(e: DataFrame, centroids: DataFrame): DataFrame =
    // argmin as a hash aggregate (min_by with a (d, cluster) tiebreak
    // struct), not a row_number window — same result, no sort of the
    // N×clusters cross join
    e.crossJoin(broadcast(centroids))
      .withColumn("d", call_function("l2_distance", col("embedding"), col("centroid")))
      .groupBy("vec_id")
      .agg(min_by(col("cluster"), struct(col("d"), col("cluster")))
        .as("cluster"))
      .select(col("vec_id"), col("cluster"))

  // An IVF index is trained once and queried many times; memoize the
  // (assignments, centroids) pair per session+corpus — the in-session
  // analogue of the persisted lake.VectorIndex. The values sit behind
  // SoftReferences: a DataFrame strongly references its SparkSession, and
  // a WeakHashMap whose VALUES reach their own KEY never evicts (the
  // javadoc'd self-reference trap) — soft values break the cycle, so
  // memory pressure clears the pair first and the session key then
  // collects normally. Also evictable via [[clearIvfCache]] so a
  // long-lived session (the bench harness) can release the checkpoint
  // blocks between queries.
  private val ivfCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        java.lang.ref.SoftReference[(DataFrame, DataFrame)]]]())

  /** Drop this session's memoized IVF index (its pinned blocks are
    * released by the caller's persistent-RDD sweep — see
    * [[graft.SessionHygiene.sweep]]). */
  def clearIvfCache(s: SparkSession): Unit = {
    val m = ivfCache.get(s)
    if (m != null) m.clear()
  }

  /** IVF top-k with `nprobe` probed clusters per query (memoized index). */
  private def ivfTopK(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = emb(s, dir)
    val perSession = {
      var m = ivfCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          java.lang.ref.SoftReference[(DataFrame, DataFrame)]]
        ivfCache.put(s, m)
      }
      m
    }
    // strong local ref across the compute, so a softly-cleared pair can't
    // vanish between the cache probe and its use
    var pair: (DataFrame, DataFrame) = null
    perSession.compute(dir, (_, old) => {
      val cached = if (old == null) null else old.get()
      pair = if (cached != null) cached
        else {
          val (a, c) = trainIvf(e)
          (a.pinned(), c.pinned())
        }
      new java.lang.ref.SoftReference(pair)
    })
    val (assign, centroids) = pair
    val q = queries(e)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("d", call_function("l2_distance", col("qvec"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("d"), col("cluster"))))
      .filter(col("rn") <= nprobe)
      .select("qid", "qvec", "cluster")
    val scored = e.join(assign, "vec_id")
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        call_function("cosine_sim", col("embedding"), col("qvec")))
    topKPerQuery(scored)
  }

  /** IVF top-k: per query, rank only vectors in the NProbe nearest
    * clusters (recall vs brute pinned by AnnSpec). */
  val ivf = Q.noOracle("ann_ivf_topk") { (s, dir) =>
    ivfTopK(s, dir, NProbe)
  }

  /** IVF with nprobe = NumClusters: every cluster probed, so the result is
    * provably the exact top-k regardless of how k-means assigned vectors —
    * which makes the brute-force SQL a valid oracle for the whole IVF
    * machinery (training, assignment join, probe ranking, per-query top-k).
    * The approximate path above stays the scale entry; this one is its
    * oracle-checked exhaustive twin. */
  val ivfExhaustive = Q("ann_ivf_exhaustive", bruteOracle) { (s, dir) =>
    ivfTopK(s, dir, NumClusters)
  }

  /** DuckDB oracle for [[nearDupPairs]], generated from the same
    * [[hyperplanes]]: bucket bits via `list_dot_product` against the ±1
    * plane literals, cosine via `list_cosine_similarity`, both over
    * DOUBLE[] so the accumulation matches [[graft.functions.VectorOps]]'s
    * double kernels to ~1e-15 (the 4-decimal rounding margin on this corpus
    * is ~6e-6, and the smallest |plane·vec| sign margin is ~3.5e-4). */
  private def nearDupOracle: String = {
    val bucketTerms = (0 until NearDupBits).map { i =>
      val coeffs = hyperplanes(i).map(v => if (v > 0) "1" else "-1").mkString(",")
      s"(CASE WHEN list_dot_product(e, [$coeffs]::DOUBLE[]) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH b AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), kb AS (
       |  SELECT vec_id, e,
       |    $bucketTerms AS bucket
       |  FROM b
       |)
       |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |  CAST(round(list_cosine_similarity(a.e, c.e) * 10000) AS BIGINT)
       |    AS sim_e4
       |FROM kb a JOIN kb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |ORDER BY sim_e4 DESC, vec_a, vec_b LIMIT 20""".stripMargin
  }

  /** Embedding near-dup report: top-20 most-similar pairs among same-bucket
    * candidates (bucketed, never all-pairs). */
  val nearDupPairs = Q("dedup_embed_cos", nearDupOracle) { (s, dir) =>
    val e = emb(s, dir)
    val bucketed = e.withColumn("bucket", bucketOf(col("embedding"), NearDupBits))
    val a = bucketed.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", call_function("cosine_sim", col("emb_a"), col("emb_b")))
      // BIGINT fixed-point (×1e4): the driver hashes integers exactly, while
      // DECIMAL output hashes asymmetrically between Spark and DuckDB dumps
      .select(col("vec_a"), col("vec_b"),
        round(col("sim") * 10000).cast("long").as("sim_e4"))
      .orderBy(col("sim_e4").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Semantic dedup threshold (fixed-point ×1e4 cosine): this synthetic
    * corpus tops out near cos 0.51, so 0.40 yields real clusters at every
    * SF; a web corpus would run ~0.95+ (SemDeDup's ε). */
  val SemDedupE4 = 4000
  /** Bucket bits for the semantic-dedup demo: coarser than
    * [[NearDupBits]] so same-cluster recall at the demo threshold is
    * non-degenerate on direction-uniform vectors. */
  val SemDedupBits = 4

  /** DuckDB oracle for [[semantic]]: same seeded hyperplane buckets
    * (the [[nearDupOracle]] pattern), integer fixed-point threshold, and
    * the transitive closure as a recursive CTE (the `dedup_resolve_sql`
    * pattern) — the full cluster → near-dup → resolve → keep/drop chain
    * replayed independently. */
  private def semanticOracle: String = {
    val bucketTerms = (0 until SemDedupBits).map { i =>
      val coeffs = hyperplanes(i).map(v => if (v > 0) "1" else "-1").mkString(",")
      s"(CASE WHEN list_dot_product(e, [$coeffs]::DOUBLE[]) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH RECURSIVE
       |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |kb AS (SELECT vec_id, e,
       |    $bucketTerms AS bucket
       |  FROM b),
       |edges AS (
       |  SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
       |  FROM kb a JOIN kb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |  WHERE CAST(round(list_cosine_similarity(a.e, c.e) * 10000) AS BIGINT)
       |          >= $SemDedupE4),
       |reach(doc_id, r) AS (
       |  SELECT doc_a, doc_b FROM edges
       |  UNION
       |  SELECT reach.doc_id, e.doc_b FROM reach
       |  JOIN edges e ON reach.r = e.doc_a
       |  WHERE e.doc_b <> reach.doc_id),
       |lab AS (SELECT doc_id, least(doc_id, min(r)) AS label
       |        FROM reach GROUP BY doc_id)
       |SELECT v.vec_id, coalesce(l.label, v.vec_id) AS label,
       |  coalesce(l.label, v.vec_id) = v.vec_id AS keep
       |FROM (SELECT vec_id FROM b) v
       |LEFT JOIN lab l ON l.doc_id = v.vec_id""".stripMargin
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al., 2023,
    * arXiv:2303.09540): cluster the embedding space, find near-duplicate
    * pairs ONLY within a cluster, resolve transitively, keep one
    * representative (min id) per group. Clusters here are LSH buckets
    * (portable + bucket count scales with corpus — the within-cluster
    * pair join is quadratic per bucket, exactly SemDeDup's per-cluster
    * cost model); the threshold compares BIGINT fixed-point sims so both
    * engines make identical keep/drop calls. Output: every vector with
    * its cluster label and the keep verdict. */
  /** Corpus-adaptive bucket count for [[semantic]]: double the buckets
    * until <= 64 vectors land in each, so the within-cluster pair join
    * stays ~O(n x 64) instead of going quadratic when the corpus grows
    * (r6 sf5 audit: fixed 16 buckets over 500k vectors = 15G candidate
    * pairs, 30 s; adaptive 13 bits = 30M pairs). At the oracle-checked
    * SF (sf0.01, 1000 vectors) this IS SemDedupBits, so the DuckDB
    * replay sees identical buckets. */
  private def semanticBits(n: Long): Int = {
    var bits = SemDedupBits
    while (bits < 16 && (n >> bits) > 64) bits += 1
    bits
  }

  val semantic = Q("dedup_semantic", semanticOracle) { (s, dir) =>
    val e = emb(s, dir)
    // Pin (vec_id, embedding, bucket) before the self-join: both join
    // sides — and the trailing full-corpus left join — otherwise re-run
    // the parquet scan and the 12+ hyperplane dot products per side (the
    // r8 mm_phash_neardup pattern: the kernel cost is paid once, the
    // join shuffles data already in hand). Released after the run by the
    // harness sweep; one bounded pin per query.
    val bucketed = graft.Materialize.pin(e
      .withColumn("bucket", bucketOf(col("embedding"),
        semanticBits(graft.Tables.rowCount(s, dir, "embeddings"))))
      .select("vec_id", "embedding", "bucket"))
    val a = bucketed.select(col("vec_id").as("doc_a"),
      col("embedding").as("emb_a"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("doc_b"),
      col("embedding").as("emb_b"), col("bucket"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("sim_e4",
        round(call_function("cosine_sim", col("emb_a"), col("emb_b")) * 10000)
          .cast("long"))
      .filter(col("sim_e4") >= SemDedupE4)
      .select("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(pairs)
      .select(col("doc_id"), col("label"))
    bucketed.select("vec_id")
      .join(labels, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("label"),
        (coalesce(col("label"), col("vec_id")) === col("vec_id")).as("keep"))
  }

  /** Graph-ANN shards: each task builds/holds ONE shard's graph, so the
    * count must scale with the corpus — a fixed count means per-task
    * memory grows with the data (the sharded-HNSW OOM at 100 TB).
    * 50k-vector shards keep the in-task build bounded. Wall clock is
    * roughly flat in the shard count (r6 sf5: 12.4 s at 4 shards vs
    * 12.2 s at 10 over 500k vectors): smaller shards build faster but
    * every query probes every shard, so search fans out with the count.
    * Recall is unaffected — the union of per-shard top-k only grows with
    * more shards and the global re-rank keeps exact ordering. The
    * inline-build cost is the point of this entry; `ann_hnswidx_topk`
    * (persisted index) is the amortized query path (~0.5 s same corpus). */
  val HnswShards = 4
  val HnswShardRows = 50000L
  private def hnswShards(n: Long): Int =
    math.max(HnswShards, ((n + HnswShardRows - 1) / HnswShardRows).toInt)

  /** HNSW top-k (reference hnsw_index.go; Malkov & Yashunin, TPAMI 2018),
    * sharded: per-partition graphs built in `mapPartitions`, every shard
    * searched per query, global top-k from the per-shard candidates. The
    * union of per-shard exact top-k ⊇ global exact top-k when each shard
    * search were exact — each shard search uses the graph's default
    * layer-0 beam (`HnswGraph.DefaultEfSearch`, not a parameter here), and
    * the recall it gives is pinned vs [[brute]] in AnnSpec. */
  val hnsw = Q.noOracle("ann_hnsw_topk") { (s, dir) =>
    import graft.operators.HnswGraph
    val e = emb(s, dir)
    val qRows = queries(e).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val qB = s.sparkContext.broadcast(qRows)
    import s.implicits._
    val hits = e.select(col("vec_id"), col("embedding"))
      .repartition(hnswShards(graft.Tables.rowCount(s, dir, "embeddings")),
        col("vec_id"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val g = HnswGraph.build(it)
        qB.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, TopK + 1).collect {
            case (id, sim) if id != qid => (qid, id, sim)
          }.take(TopK)
        }
      }
      .toDF("qid", "vec_id", "sim")
    topKPerQuery(hits)
  }

  /** KNN with a metadata prefilter (reference prefilter.go:32-90 — the
    * bitmap prefilter composed with index search): restrict the corpus by a
    * predicate BEFORE ranking, so top-k comes from the filtered set. */
  val prefiltered = Q(
    "ann_prefilter_topk",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT q.qid, e.vec_id,
       |             list_cosine_similarity(e.embedding, q.qvec) AS sim
       |           FROM embeddings e, q
       |           WHERE e.vec_id <> q.qid AND e.label = 3)
       |SELECT qid, vec_id, rn, round(sim, 4) AS sim
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid
       |                           ORDER BY sim DESC, vec_id) AS rn
       |      FROM scored) t
       |WHERE rn <= $TopK""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val scored = e.filter(col("label") === 3)
      .crossJoin(broadcast(queries(e)))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim",
        call_function("cosine_sim", col("embedding"), col("qvec")))
    topKPerQuery(scored)
  }

  /** Semantic-contamination threshold (×1e4 cosine): same calibration
    * note as [[SemDedupE4]] — this synthetic corpus tops out near 0.51;
    * a real pipeline with a trained embedder runs ~0.9+. */
  val DecontamE4 = 4000
  // 1% of the corpus plays the eval benchmark. r6 bench audit: at mod=10
  // the "eval" side was 10% of sf5 (50k vectors) and the broadcast
  // nested-loop pass degenerated to 22G cosine pairs (32 s) — violating
  // the operator's own premise that eval sets are benchmark-sized. mod=100
  // keeps the contract honest and the pass linear in the corpus.
  private val DecontamEvalMod = 100

  private val embedDecontamOracle =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |ev AS (SELECT * FROM e
       |       WHERE vec_id % $DecontamEvalMod = 0 AND vec_id < 200000),
       |tr AS (SELECT * FROM e
       |       WHERE NOT (vec_id % $DecontamEvalMod = 0 AND vec_id < 200000))
       |SELECT tr.vec_id,
       |  CAST(max(CAST(round(list_cosine_similarity(tr.v, ev.v) * 10000)
       |    AS BIGINT)) AS BIGINT) AS max_sim_e4,
       |  max(CAST(round(list_cosine_similarity(tr.v, ev.v) * 10000)
       |    AS BIGINT)) >= $DecontamE4 AS contaminated
       |FROM tr, ev GROUP BY 1""".stripMargin

  /** Embedding-based eval-set decontamination — the SEMANTIC complement
    * of the word-8-gram check (`text_decontam`): a training item whose
    * embedding sits within cosine ε of ANY eval item is a paraphrase-level
    * leak n-gram overlap can't see (the contamination mode SemDeDup-style
    * audits target). The eval side is a benchmark corpus — small by
    * nature — so it broadcasts and the scan is ONE narrow pass over
    * training shards computing a running max per row; no shuffle touches
    * the training side. Fixed-point threshold, both engines decide
    * identically. */
  val embedDecontam = Q("dedup_embed_decontam", embedDecontamOracle) {
    (s, dir) =>
      val e = emb(s, dir)
      // benchmarks are fixed-size: the eval side is every Mod-th vector
      // below an absolute cap, so it does NOT grow with the corpus (at
      // sf5 the uncapped slice was 5k vectors and the exact sweep ran
      // 2.5G cosine pairs)
      val isEval = col("vec_id") % DecontamEvalMod === 0 &&
        col("vec_id") < 200000
      val ev = e.filter(isEval).select(col("embedding").as("ev_emb"))
      val tr = e.filter(!isEval)
      tr.join(broadcast(ev))
        .withColumn("sim_e4",
          round(call_function("cosine_sim", col("embedding"), col("ev_emb"))
            * 10000).cast("long"))
        .groupBy("vec_id")
        .agg(max("sim_e4").as("max_sim_e4"))
        .withColumn("contaminated", col("max_sim_e4") >= DecontamE4)
  }

  def all: Seq[Q] =
    Seq(brute, lsh, ivf, ivfExhaustive, hnsw, prefiltered, nearDupPairs,
      semantic, embedDecontam)
}
