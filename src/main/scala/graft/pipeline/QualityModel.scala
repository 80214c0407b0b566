package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained document-quality classifier — the learned counterpart of the
  * heuristic Gopher-style gate ([[Assemble.gates]]), mirroring how corpus
  * pipelines train quality models on weak labels (CCNet, Wenzek et al.
  * 2020; GPT-3's quality classifier, Brown et al. 2020 — public method):
  * engineered quality features, a classifier fit on labels PRODUCED BY
  * the heuristic gate, scores applied to documents the gate never saw.
  *
  * Model class matters here and was measured, not assumed: the gate is
  * AND-of-thresholds logic over ratio features, which axis-aligned
  * decision-tree splits represent exactly — holdout accuracy ≥0.99. A
  * fastText-style logistic regression over hashed word uni+bigrams (with
  * and without the numeric features) plateaued at the majority-class
  * rate (0.72-0.77): threshold bands are not linearly separable, and
  * 32k hashed text dimensions drown the five numeric ones.
  *
  * Trainer: [[DeterministicTree]], not `ml.DecisionTreeClassifier` — same
  * axis-aligned model class, but split statistics are exact BIGINT counts
  * on fixed grids, so training is partition-order-INDEPENDENT. That makes
  * the learned tree a pure function of the dataset, which is what lets
  * the sf0.01 tree be frozen into this entry's static DuckDB oracle (the
  * round-7 no-oracle blocker was precisely ml's treeAggregate float
  * sums). QualityModelSpec pins frozen == freshly-trained.
  *
  * Spark-native shape: featurization is a stateless narrow projection
  * (codegen'd ratio arithmetic + one `freq_stats` kernel pass); training
  * aggregates integer split histograms in depth× one-shuffle passes; the
  * model is a ~dozen-node tree rendered to a SQL CASE that Catalyst
  * codegens for scoring. The 100 TB posture is train-on-sample,
  * score-everywhere. */
object QualityModel {

  /** The engineered features the heuristic gate thresholds on: token
    * count, top-word fraction, duplicate-word fraction, mean word length
    * (plus |ml − 4.5|, centering the gate's two-sided band), and English
    * marker-word hits. One `freq_stats` pass, no shuffle. Every feature
    * is one exact-rounded IEEE op per doc, so Spark and DuckDB compute
    * bit-identical values and the tree's threshold comparisons agree. */
  private[pipeline] def featurize(withTokens: DataFrame): DataFrame = {
    val en = TextOps.langMarkers.toMap.apply("en")
    withTokens
      .withColumn("ws", call_function("freq_stats", col("tokens")))
      .withColumn("n_t", size(col("tokens")).cast("double"))
      .withColumn("topw", col("ws.max_freq").cast("double") / col("n_t"))
      .withColumn("dup", lit(1.0) -
        col("ws.n_distinct").cast("double") / col("n_t"))
      .withColumn("ml",
        length(concat_ws("", col("tokens"))).cast("double") / col("n_t"))
      .withColumn("ml_band", abs(col("ml") - 4.5))
      .withColumn("en_hits",
        size(filter(col("tokens"), w => w.isin(en: _*))).cast("double"))
      .drop("ws")
  }

  private val featureNames =
    Seq("n_t", "topw", "dup", "ml", "ml_band", "en_hits")

  /** Fixed candidate-threshold grids (dyadic steps → short literals,
    * bit-identical comparisons in both engines). Dense enough to bracket
    * every gate threshold within one step. */
  private[pipeline] val grids: Seq[(String, DeterministicTree.Grid)] = Seq(
    "n_t" -> DeterministicTree.Grid(0.0, 1.0, 257),
    "topw" -> DeterministicTree.Grid(0.0, 1.0 / 256, 257),
    "dup" -> DeterministicTree.Grid(0.0, 1.0 / 256, 257),
    "ml" -> DeterministicTree.Grid(0.0, 1.0 / 128, 1025),
    "ml_band" -> DeterministicTree.Grid(0.0, 1.0 / 128, 1025),
    "en_hits" -> DeterministicTree.Grid(0.0, 1.0, 65))

  /** Weak-label frame: every doc, label 1.0 iff it passes the heuristic
    * quality+language gate. */
  private[pipeline] def weakLabeled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "text", "source", "n_chars")
    val kept = Assemble.gates(docs).select(col("doc_id"), lit(1.0).as("label"))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .join(kept, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), lit(0.0)))
  }

  /** Fit the tree on (tokens, label). Deterministic under ANY input
    * partitioning (integer-count split histograms on fixed grids). */
  def train(labeled: DataFrame): DeterministicTree.Node =
    DeterministicTree.train(featurize(labeled), grids, "label",
      maxDepth = 8, minCount = 20L)

  /** Score (tokens) rows: adds `prob_keep` ∈ [0,1] and `pred_keep`. The
    * model applies as one codegen'd CASE expression — no broadcast, no
    * UDF. */
  def score(model: DeterministicTree.Node,
      withTokens: DataFrame): DataFrame = {
    featurize(withTokens)
      .withColumn("prob_keep", expr(model.probSql))
      .withColumn("pred_keep", expr(model.predSql).cast("int"))
      .drop(featureNames: _*)
  }

  /** The registry scenario's training path, shared by [[qualityModel]]
    * and [[trainedPredSql]]: train on the md5-hash 80% of the corpus
    * (capped to ~40k docs by a second hash bucket so registry cost stays
    * flat as SF grows), hash-keyed (the [[Curate]] discipline) so
    * membership is stable across runs, engines, and re-shards. Returns
    * (model, holdout = the unseen 20%). */
  private def trainHoldout(s: SparkSession, dir: String)
      : (DeterministicTree.Node, DataFrame) = {
    val labeled = weakLabeled(s, dir)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 5)
      .cache()
    val sample = conv(substring(md5(col("doc_id").cast("string")), 5, 4),
      16, 10).cast("long") % 65536
    val trainCap = 40000
    val train80 = labeled.filter(col("bucket") =!= 0)
    val trainRows = train80.count()
    val rate = math.min(65536L, 65536L * trainCap / math.max(1L, trainRows))
    val holdout = labeled.filter(col("bucket") === 0)
    (train(train80.filter(sample < rate)), holdout)
  }

  /** Rendered prediction CASE of a fresh training run at `dir` — used to
    * (re)generate [[FrozenPredSql]] and by the spec pinning the two
    * equal. */
  def trainedPredSql(s: SparkSession, dir: String): String =
    trainHoldout(s, dir)._1.predSql

  /** The sf0.01 tree, frozen (an empirical constant — the
    * correctness gate runs at sf0.01 only). Valid precisely
    * because training is a pure function of the dataset; regenerate with
    * [[trainedPredSql]] if features/grids/gate change (QualityModelSpec
    * fails loudly until this matches). */
  private[pipeline] val FrozenPredSql: String =
    "(CASE WHEN dup <= 0.55078125 THEN (CASE WHEN n_t <= 24.0 THEN 0 " +
      "ELSE (CASE WHEN en_hits <= 0.0 THEN 0 ELSE (CASE WHEN topw <= " +
      "0.12109375 THEN 1 ELSE 0 END) END) END) ELSE 0 END)"

  private def oracleSql: String = {
    val en = TextOps.langMarkers.toMap.apply("en")
      .map(m => s"'$m'").mkString(",")
    s"""WITH ${Assemble.gateCtesSql},
       |labeled AS (
       |  SELECT b.doc_id, b.l, b.text,
       |    CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS label
       |  FROM base b LEFT JOIN en e ON b.doc_id = e.doc_id),
       |holdout AS (
       |  SELECT * FROM labeled
       |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |      AS BIGINT) % 5 = 0),
       |feat AS (
       |  SELECT doc_id, label,
       |    CAST(len(l) AS DOUBLE) AS n_t,
       |    CAST(len(list_filter(l, x -> x = list_aggregate(l, 'mode')))
       |      AS DOUBLE) / len(l) AS topw,
       |    1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS dup,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l) AS ml
       |  FROM holdout),
       |feat2 AS (
       |  SELECT f.*, abs(ml - 4.5) AS ml_band,
       |    CAST(len(list_filter(h.l, t -> t IN ($en))) AS DOUBLE) AS en_hits
       |  FROM feat f JOIN holdout h USING (doc_id)),
       |scored AS (
       |  SELECT label, $FrozenPredSql AS pred_keep FROM feat2)
       |SELECT label, pred_keep, CAST(count(*) AS BIGINT) AS n_docs
       |FROM scored GROUP BY label, pred_keep
       |ORDER BY label, pred_keep""".stripMargin
  }

  /** Registry scenario: train on the hash-80%, score the unseen 20%,
    * report the holdout confusion matrix — the learned gate recovering
    * the heuristic gate's decisions on documents it never saw. Oracle:
    * DuckDB recomputes weak labels + features and applies the SAME
    * (frozen) tree — checking the gate, the featurization, the hash
    * split, the rendered model, and the matrix aggregation end-to-end. */
  val qualityModel: Q = Q("text_quality_model", oracleSql) { (s, dir) =>
    val (model, holdout) = trainHoldout(s, dir)
    score(model, holdout)
      .select(col("label").cast("int").as("label"), col("pred_keep"))
      .groupBy("label", "pred_keep")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "pred_keep")
  }

  def all: Seq[Q] = Seq(qualityModel)
}
