package graft.pipeline

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Semantic oracles for the no-DuckDB-oracle dedup operators: LSH results
  * are compared against an in-test brute-force ground truth at sf0.001
  * (500 docs → all-pairs is fine in a test, and only in a test). */
class DedupSpec extends SparkTestBase {

  private lazy val docs = Tables.load(spark, sf0001, "documents")

  /** Brute-force shingle-Jaccard pairs ≥ threshold (ground truth). */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = docs
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds exactly the brute-force pairs at jaccard>=0.8") {
    val lsh = Dedup.minhashDedup(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brutePairs(0.8)
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    // Precision is exact by construction (candidates are verified); recall
    // of 16-band/4-row minhash at j>=0.8 on this fixed corpus is total.
    assert(lsh == truth, s"lsh=${lsh.size} truth=${truth.size}, " +
      s"missing=${(truth -- lsh).take(5)}, extra=${(lsh -- truth).take(5)}")
  }

  test("minhash candidates come from bucket joins, not an all-pairs product") {
    val plan = Dedup.minhashDedup(docs, 0.8).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"cartesian product in dedup plan:\n$plan")
  }

  test("ngram prefix-filtered join is exact and joins hashes, not strings") {
    val df = Dedup.ngram.run(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"cartesian product in ngram plan:\n$plan")
    // candidates are verified exactly on the full sorted hash sets by the
    // codegen'd merge-walk kernel (the prefix filter only prunes pairs that
    // provably cannot reach Jaccard 1/2 — see Dedup.ngram)
    assert(plan.contains("sorted_overlap"),
      s"ngram verify not on the sorted_overlap kernel:\n$plan")
    // prefix filtering + duplicate-set collapse must not change the result:
    // exactly the brute-force all-pairs set at the query's J >= 0.5 gate
    val got = df.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brutePairs(0.5)
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    assert(got == truth, s"got=${got.size} truth=${truth.size}, " +
      s"missing=${(truth -- got).take(5)}, extra=${(got -- truth).take(5)}")
  }

  test("simhash60 kernel matches the HOF majority-vote definition") {
    val toks = split(col("text"), " ")
    val hs = transform(toks,
      x => conv(substring(md5(x), 1, 15), 16, 10).cast("long"))
    val ref = aggregate(
      sequence(lit(0), lit(59)), lit(0L),
      (acc, j) => acc + when(
        size(filter(hs, x => call_function("shiftright", x, j)
          .bitwiseAND(lit(1L)) === lit(1L))) * 2 > size(toks),
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    val df = docs.limit(50).select(
      call_function("simhash60", toks).as("k"), ref.as("r"))
    assert(df.filter(col("k") =!= col("r")).count() == 0,
      "native simhash60 diverges from the HOF definition")
  }

  test("shingle_hashes kernel matches hashing the HOF shingle set") {
    val ref = array_sort(transform(Dedup.shingles(col("text")),
      x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))
    val df = docs.limit(50).select(
      array_sort(call_function("shingle_hashes", col("text"),
        lit(Dedup.ShingleK))).as("k"), ref.as("r"))
    assert(df.filter(col("k") =!= col("r")).count() == 0,
      "native shingle_hashes diverges from the HOF shingle set")
  }

  test("simhash pairs have verified hamming distance and catch near-dups") {
    val rows = Dedup.simhash.run(spark, sf0001).collect()
    assert(rows.nonEmpty, "planted near-dups should fall into simhash bands")
    assert(rows.forall(_.getLong(2) <= 6))
    // Near-identical docs (jaccard>=0.95 on shingles) share most tokens, so
    // simhash-at-hamming<=6 should recover a large fraction of them.
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = brutePairs(0.95)
    val recall = tight.count(found) .toDouble / math.max(tight.size, 1)
    assert(recall >= 0.7, s"simhash recall $recall over ${tight.size} tight pairs")
  }

  test("minhash signature agreement estimates jaccard within tolerance") {
    // Statistical quality of the splitmix-mixed hash family: for the
    // planted near-dup pairs, fraction-of-agreeing-signature-slots must
    // track true shingle jaccard (binomial sd ≈ sqrt(j(1-j)/64) ≤ 0.063).
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", Dedup.minhashSignature(col("sh")))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("sig").as("sig_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("sig").as("sig_b"))
    val pairs = Dedup.minhashDedup(docs, 0.8)
      .select("doc_a", "doc_b")
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("true_j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("est_j",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
          Dedup.NumHashes)
      .select("true_j", "est_j").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.25,
        s"true=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
    val meanErr = pairs.map(r => math.abs(r.getDouble(0) - r.getDouble(1)))
      .sum / pairs.length
    assert(meanErr <= 0.08, s"mean |true-est| = $meanErr")
  }

  test("exact dedup on constructed corpus counts duplicate groups") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "aa bb cc"),
      (4L, "dd ee"), (5L, "dd ee"), (6L, "unique text here")
    ).toDF("doc_id", "text")
    val res = d.groupBy("text").agg(count(lit(1)).as("copies"))
      .filter(col("copies") > 1)
      .agg(count(lit(1)).as("n_groups"), sum("copies").as("n_dup_docs"))
      .collect().head
    assert(res.getLong(0) == 2 && res.getLong(1) == 5)
  }

  test("cluster resolution: chains collapse to min-id keeper") {
    import spark.implicits._
    // pairs: 1-2, 2-3 (one cluster), 7-9 (another), an 8-hop path
    // 20-21-...-28 (labels must travel past any fixed round budget); 5
    // untouched by pairs
    val path = (20L until 28L).map(i => (i, i + 1, 0.9))
    val pairs = (Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 9L, 0.95)) ++ path)
      .toDF("doc_a", "doc_b", "jaccard")
    val res = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(res(1L) == (1L, true))
    assert(res(2L) == (1L, false))
    assert(res(3L) == (1L, false)) // transitively reaches 1 via 2
    assert(res(7L) == (7L, true))
    assert(res(9L) == (7L, false))
    assert(res(20L) == (20L, true))
    (21L to 28L).foreach(i => assert(res(i) == (20L, false), s"doc $i"))
    assert(!res.contains(5L)) // only docs appearing in pairs get labels
  }

  test("minhash on constructed corpus: planted near-dup found, disjoint not") {
    import spark.implicits._
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val nearDup = (0 until 40).map(i => if (i == 37) "CHANGED" else s"w$i").mkString(" ")
    val disjoint = (100 until 140).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base), (2L, nearDup), (3L, disjoint))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(d, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("docs shorter than the shingle size survive and still dedup exactly") {
    import spark.implicits._
    // 1-2 token docs: sequence(0, n-k) would go negative and slice(.., 0)
    // is a runtime error — short docs must shingle as the whole doc
    val d = Seq((1L, "hi"), (2L, "hi"), (3L, "hello world"),
      (4L, "hello world"), (5L, "totally different text here okay"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(d, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
  }
}
