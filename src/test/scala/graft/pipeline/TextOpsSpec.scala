package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkTestBase {

  test("langid is deterministic, covers every doc, emits known labels") {
    val out = TextOps.langId.run(spark, sf0001).collect()
    assert(out.length == 500)
    val langs = out.map(_.getString(2)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "zh", "und")), langs)
    val again = TextOps.langId.run(spark, sf0001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("fingerprints: identical texts collide, different texts don't (on testdata)") {
    import spark.implicits._
    val d = Seq(
      (1L, "spark fast table scan merge"),
      (2L, "spark fast table scan merge"),
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val fp = d.select(col("doc_id"),
      call_function("simhash64", split(col("text"), " ")).as("simhash"),
      xxhash64(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
        .as("bag_hash")).collect().sortBy(_.getLong(0))
    assert(fp(0).getLong(1) == fp(1).getLong(1))
    assert(fp(0).getLong(2) == fp(1).getLong(2))
    assert(fp(0).getLong(2) != fp(2).getLong(2))
  }

  test("winnowing: near-identical docs share most fingerprints, disjoint none") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok37", "CHANGED")
    val disjoint = (100 until 160).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, disjoint)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.winnowFingerprints(col("text")).as("fp"))
    val fps = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val overlap12 = fps(1L).intersect(fps(2L)).size.toDouble /
      fps(1L).union(fps(2L)).size
    assert(overlap12 >= 0.5, s"near-dup fingerprint jaccard $overlap12")
    assert(fps(1L).intersect(fps(3L)).isEmpty)
  }

  test("winnowing edge cases: short text, exact-k text, determinism") {
    import spark.implicits._
    val df = Seq(
      (1L, "ab"),            // shorter than k=8 → no k-grams
      (2L, "abcdefgh"),      // exactly k chars → one k-gram
      (3L, "abcdefgh" * 10)  // repeated content → few distinct prints
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.winnowFingerprints(col("text")).as("fp"))
    val fp = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fp(1L).isEmpty)
    assert(fp(2L).size == 1)
    assert(fp(3L).nonEmpty && fp(3L).size <= 10)
    val again = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fp == again)
  }

  test("approx distinct sketches stay within 5% of exact counts") {
    val approx = TextOps.approxDistinct.run(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.load(spark, sf0001, "documents")
      .groupBy("lang")
      .agg(countDistinct("source").as("s"), countDistinct("text").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (lang, (s, t)) =>
      val (as, at) = approx(lang)
      assert(math.abs(as - s).toDouble / s <= 0.05, s"$lang sources: $as vs $s")
      assert(math.abs(at - t).toDouble / t <= 0.05, s"$lang texts: $at vs $t")
    }
  }

  test("quality ratios are in [0,1] and token stats match manual counts") {
    val r = TextOps.quality.run(spark, sf0001).collect()
    assert(r.nonEmpty)
    assert(r.forall { row =>
      val u = row.getDouble(1); val s = row.getDouble(2)
      u > 0 && u <= 1.0 && s >= 0 && s <= 1.0
    })
    val stats = TextOps.stats.run(spark, sf0001)
      .filter(col("doc_id") === 0).collect().head
    val text = graft.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") === 0).select("text").collect().head.getString(0)
    assert(stats.getInt(3) == text.length)
    assert(stats.getInt(4) == text.split(" ").length)
  }

  test("repetition signals match hand-computed values on constructed docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b c"),          // top word 'a'×3/5, bigram 'a a'×2/4
      (2L, "x y x y x y"),        // dup 4/6; top word 3/6; bigram 'x y'×3/5
      (3L, "p q r s t u")         // all unique: dup 0, top 1/6, bigram 1/5
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("constructed_docs")
    val byId = TextOps.repetition.run(spark, sf0001).limit(0) // shape only
    assert(byId.columns.toSeq == Seq(
      "n_words", "dup_word_ppm", "top_word_ppm", "top_bigram_ppm")
      .prepended("doc_id"))
    // run the same projection over the constructed frame
    val out = TextOps.repetitionOver(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def ppm(frac: Double): Long = math.round(frac * 1000000)
    val r1 = out(1L)
    assert(r1.getLong(1) == 5)
    assert(r1.getLong(2) == ppm(0.4))       // 1 - 3/5
    assert(r1.getLong(3) == ppm(0.6))       // 3/5
    assert(r1.getLong(4) == ppm(0.5))       // 'a a' 2/4
    val r2 = out(2L)
    assert(r2.getLong(2) == ppm(4.0 / 6))
    assert(r2.getLong(3) == ppm(0.5))
    assert(r2.getLong(4) == ppm(0.6))       // 'x y' 3/5
    val r3 = out(3L)
    assert(r3.getLong(2) == 0L)
    assert(r3.getLong(3) == ppm(1.0 / 6))
    assert(r3.getLong(4) == ppm(0.2))
  }

  test("top bigrams are deterministic, ranked, and complete at the cut") {
    val rows = TextOps.topBigrams.run(spark, sf0001).collect()
    assert(rows.length == 50)
    val pairs = rows.map(r => (r.getLong(1), r.getString(0)))
    // ranked by count desc then bigram asc — a total order, so reruns agree
    assert(pairs.toSeq == pairs.sortBy { case (n, b) => (-n, b) }.toSeq)
    val again = TextOps.topBigrams.run(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.toSeq == again.toSeq)
  }

  test("freq_stats kernels match brute-force counts on random token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "cc", "ddd", "e", "ff", "g")
    val arrays = Seq.fill(200)(
      Seq.fill(2 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))))
    val out = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "l")
      .select(col("id"),
        call_function("freq_stats", col("l")).as("ws"),
        call_function("bigram_freq_stats", col("l")).as("bs"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getInt(0), r.getStruct(1).getInt(1),
          r.getStruct(2).getInt(0), r.getStruct(2).getInt(1))).toMap
    arrays.zipWithIndex.foreach { case (a, i) =>
      val wf = a.groupBy(identity).view.mapValues(_.size)
      val bg = a.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size)
      assert(out(i.toLong) ==
        (wf.size, wf.values.max, bg.size, bg.values.max), s"doc $i: $a")
    }
  }

  test("winnow_portable kernel matches the HOF kgram/window-min definition") {
    import org.apache.spark.sql.Column
    val k = TextOps.WinnowK
    val w = TextOps.WinnowW
    def kgramHash(text: Column, i: Column): Column =
      conv(substring(md5(substring(text, i, lit(k))), 1, 15), 16, 10)
        .cast("long")
    val n = length(col("text"))
    val hs = transform(sequence(lit(1), greatest(lit(1), n - (k - 1))),
      i => kgramHash(col("text"), i))
    val fps = array_distinct(transform(
      sequence(lit(1), greatest(lit(1), size(hs) - (w - 1))),
      j => array_min(slice(hs, j, lit(w)))))
    val df = graft.Tables.load(spark, sf0001, "documents").limit(50).select(
      call_function("winnow_portable", col("text"), lit(k), lit(w)).as("wp"),
      size(fps).cast("long").as("rn"),
      aggregate(fps, lit(0L), (a, x) => a.bitwiseXOR(x)).as("rx"))
    assert(df.filter(col("wp.n_fingerprints") =!= col("rn") ||
      col("wp.fp_xor") =!= col("rx")).count() == 0,
      "native winnow_portable diverges from the HOF definition")
  }

  test("gopher filter emits consistent flags and keep decision") {
    val rows = TextOps.gopherFilter.run(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flags = (1 to 4).map(r.getBoolean)
      assert(r.getBoolean(5) == !flags.exists(identity),
        s"keep_doc inconsistent for ${r.getLong(0)}")
    }
    // the gate must actually separate: both outcomes occur on the corpus
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }
}
