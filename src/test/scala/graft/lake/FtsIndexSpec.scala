package graft.lake

import java.nio.file.Files

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FtsIndexSpec extends SparkTestBase {

  private def makeDs(): LakeDataset = {
    val dir = Files.createTempDirectory("ftsidx-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    ds.append(Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").coalesce(2))
    ds
  }

  test("indexed BM25 search matches the on-the-fly scorer") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    val terms = Seq("spark", "table", "scan")
    val indexed = FtsIndex.search(ds, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val direct = graft.pipeline.Fts.bm25TopK(
      Tables.load(spark, sf0001, "documents"), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.toSeq == direct.toSeq)
  }

  test("detached append + FTS/vector indexes survive deletes") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    val top = FtsIndex.search(ds, Seq("spark", "table", "scan"), k = 5)
      .collect().map(_.getLong(0))
    ds.delete(s"doc_id = ${top.head}")
    val after = FtsIndex.search(ds, Seq("spark", "table", "scan"), k = 5)
      .collect().map(_.getLong(0))
    assert(!after.contains(top.head))
    assert(after.take(3).toSeq == top.slice(1, 4).toSeq)
  }

  test("cjk tokenizer: bigrams + latin words, exact segmentation") {
    import graft.functions.TextTokens
    assert(TextTokens.cjkTokenize("Spark数据处理engine") ==
      Seq("spark", "数据", "据处", "处理", "engine"))
    assert(TextTokens.cjkTokenize("数") == Seq("数"))
    assert(TextTokens.cjkTokenize("one two!") == Seq("one", "two"))
    assert(TextTokens.cjkTokenize("db数据库") == Seq("db", "数据", "据库"))
    assert(TextTokens.cjkTokenize("") == Seq.empty)
  }

  test("cjk index: a CJK query retrieves CJK docs via bigram postings") {
    val dir = Files.createTempDirectory("ftscjk-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    ds.append(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, "分布式数据处理引擎"),
      org.apache.spark.sql.Row(2L, "机器学习模型训练"),
      org.apache.spark.sql.Row(3L, "spark is a data engine")), ds.schema))
    // whitespace tokenization can't find anything inside unsegmented CJK
    FtsIndex.build(ds, "text", name = "ws", tokenizer = "whitespace")
    assert(FtsIndex.searchText(ds, "数据处理", k = 3, name = "ws")
      .collect().isEmpty)
    // cjk bigrams can
    FtsIndex.build(ds, "text", name = "cjk", tokenizer = "cjk")
    assert(FtsIndex.tokenizerOf(ds, "cjk") == "cjk")
    val hits = FtsIndex.searchText(ds, "数据处理", k = 3, name = "cjk")
      .collect().map(_.getLong(0))
    assert(hits.headOption.contains(1L), s"hits=${hits.toSeq}")
    assert(!hits.contains(2L))
  }

  test("simple tokenizer index matches the simple direct scorer") {
    val ds = makeDs()
    FtsIndex.build(ds, "text", name = "simple", tokenizer = "simple")
    val terms = Seq("spark", "table", "scan")
    val indexed = FtsIndex.search(ds, terms, k = 10, name = "simple")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val direct = graft.pipeline.Fts.bm25TopK(
      Tables.load(spark, sf0001, "documents"), terms, 10,
      tokenizer = "simple")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.toSeq == direct.toSeq)
  }

  test("pruned search: identical top-k, strictly fewer scored docs") {
    // Skewed corpus: 'common' appears in EVERY doc (low idf), 'rare' in 5
    // (high idf). MaxScore pruning must skip the common-only docs entirely.
    val dir = Files.createTempDirectory("ftswand-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    (0 until 200).foreach { i =>
      val rare = if (i < 5) " rare" else ""
      // varying lengths so scores aren't all ties
      val pad = " pad" * (i % 7)
      rows.add(org.apache.spark.sql.Row(i.toLong, s"common$rare$pad word$i"))
    }
    ds.append(spark.createDataFrame(rows, ds.schema).coalesce(2))
    FtsIndex.build(ds, "text")

    val terms = Seq("rare", "common")
    val exact = FtsIndex.search(ds, terms, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val (prunedDf, stats) = FtsIndex.searchPruned(ds, terms, k = 3)
    val pruned = prunedDf
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(pruned == exact, s"pruned=$pruned exact=$exact")
    // only the 5 rare docs were scored, not the 200 matching docs
    assert(stats.scoredDocs == 5 && stats.matchingDocs == 200, stats.toString)
    assert(stats.prunedDocs == 195)

    // uniform query (no skew): falls back to exhaustive, same result
    val (uniformDf, uStats) = FtsIndex.searchPruned(ds, Seq("common"), k = 3)
    assert(uStats.scoredDocs == uStats.matchingDocs)
    assert(uniformDf.collect().map(_.getLong(0)).toSeq ==
      FtsIndex.search(ds, Seq("common"), k = 3).collect().map(_.getLong(0)).toSeq)
  }

  test("stageAppend is invisible until commitStaged (two-phase)") {
    val ds = makeDs()
    val before = ds.read().count()
    val staged = ds.stageAppend(
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(99999L, "late arrival")),
        ds.schema))
    assert(ds.read().count() == before) // phase 1 not visible
    ds.commitStaged(staged)
    assert(ds.read().count() == before + 1)
    assert(ds.read().filter(col("doc_id") === 99999L).count() == 1)
  }

  test("incremental refresh indexes only appended rows, search spans all") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    val maxIndexed = ds.manifest.nextRowId - 1
    // marker docs that should dominate the query terms after refresh
    import spark.implicits._
    ds.append(Seq(
      (900001L, "spark table scan spark table scan spark"),
      (900002L, "spark spark spark table table scan")).toDF("doc_id", "text")
      .coalesce(1))
    FtsIndex.refresh(ds, "text")
    // the delta segment holds ONLY the appended rowids — no re-tokenization
    val deltaDir = java.nio.file.Paths.get(
      ds.root, "_indexes", "fts", f"v${ds.version}%020d")
    val delta = spark.read.parquet(s"$deltaDir/postings")
    assert(delta.agg(min("_rowid")).head().getLong(0) > maxIndexed)
    // search spans old + new segments: the marker docs win the top-2
    val hits = FtsIndex.search(ds, Seq("spark", "table", "scan"), k = 5)
      .collect().map(_.getLong(0))
    assert(hits.take(2).toSet == Set(900001L, 900002L))
    // and equals a from-scratch rebuild, segment math included
    val rebuilt = {
      val ds2 = LakeDataset.open(spark, ds.root)
      FtsIndex.build(ds2, "text", name = "fts_rebuild")
      FtsIndex.search(ds2, Seq("spark", "table", "scan"), k = 5,
        name = "fts_rebuild").collect().map(r => (r.getLong(0), r.getDouble(2)))
    }
    val incr = FtsIndex.search(ds, Seq("spark", "table", "scan"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(incr.toSeq == rebuilt.toSeq)
    // a refresh with no new fragments is a no-op (tombstone delete adds
    // none; a CoW delete would rewrite fragments and add an empty segment)
    val before = FtsIndex.builtVersion(ds)
    assert(ds.delete("doc_id = 42", useDeletionVectors = true) >= 0)
    FtsIndex.refresh(ds, "text")
    assert(FtsIndex.builtVersion(ds) == before)
    // deletes stay safe: the deleted doc never surfaces
    val after = FtsIndex.search(ds, Seq("spark", "table", "scan"), k = 500)
      .collect().map(_.getLong(0))
    assert(!after.contains(42L))
  }

  test("refresh survives vacuum of the built version's manifest") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    import spark.implicits._
    // advance several versions, then vacuum so the built version's dataset
    // manifest is GONE — refresh must rely on the index's own meta
    (1 to 3).foreach { i =>
      ds.append(Seq((910000L + i, s"vacuum survivor $i spark"))
        .toDF("doc_id", "text").coalesce(1))
    }
    ds.vacuum(keepVersions = 1, graceMs = 0L)
    FtsIndex.refresh(ds, "text")
    assert(FtsIndex.builtVersion(ds).contains(ds.version))
    val hits = FtsIndex.search(ds, Seq("survivor"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(Set(910001L, 910002L, 910003L).subsetOf(hits))
  }

  test("compaction-only advance refreshes as a no-op (no new rowids)") {
    val ds = makeDs()
    ds.append(Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").limit(20).coalesce(1))
    FtsIndex.build(ds, "text")
    val built = FtsIndex.builtVersion(ds)
    ds.compact(targetRows = 1 << 20) // fresh fragment ids, same rowids
    assert(ds.version > built.get)
    FtsIndex.refresh(ds, "text") // must not write an empty segment or crash
    assert(FtsIndex.builtVersion(ds) == built)
    assert(FtsIndex.search(ds, Seq("spark"), k = 3).collect().nonEmpty)
  }

  test("positional phrase search matches the narrow corpus scan") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    val phrase = Seq("spark", "table")
    val indexed = FtsIndex.phraseSearch(ds, phrase, k = 1000)
      .select("doc_id", "n_occ").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val direct = graft.pipeline.Fts.phraseCount(
      Tables.load(spark, sf0001, "documents"), phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(indexed.nonEmpty)
    assert(indexed.toSeq == direct.toSeq)
  }

  test("phrase search spans refresh deltas and respects deletes") {
    val ds = makeDs()
    FtsIndex.build(ds, "text")
    import spark.implicits._
    ds.append(Seq(
      (910001L, "alpha beta spark table spark table end"),
      (910002L, "spark table only once here")).toDF("doc_id", "text")
      .coalesce(1))
    FtsIndex.refresh(ds, "text")
    val hits = FtsIndex.phraseSearch(ds, Seq("spark", "table"), k = 2000)
      .select("doc_id", "n_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(910001L) == 2L)
    assert(hits(910002L) == 1L)
    // delete one marker — it must vanish from phrase results
    ds.delete("doc_id = 910001")
    val after = FtsIndex.phraseSearch(ds, Seq("spark", "table"), k = 2000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after.contains(910001L))
    assert(after.contains(910002L))
  }

  test("hot+rare phrase: rarest-term pruning returns exact occurrences") {
    // skewed corpus: 'common' in every doc (big position payload), the
    // phrase "zyzzyva common" in exactly three — the semi-join against
    // the rare term's rowids must not change any result
    val dir = Files.createTempDirectory("ftsskew-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    import spark.implicits._
    val filler = (1 to 30).map(i => s"common w$i").mkString(" ")
    val docs = (0L until 200L).map { i =>
      val t =
        if (i % 67 == 0) s"zyzzyva common start $filler"
        else s"start $filler common end"
      (i, t)
    }
    ds.append(docs.toDF("doc_id", "text").coalesce(2))
    FtsIndex.build(ds, "text")
    val hits = FtsIndex.phraseSearch(ds, Seq("zyzzyva", "common"), k = 100)
      .select("doc_id", "n_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(0L -> 1L, 67L -> 1L, 134L -> 1L))
    // the hot term alone still phrase-counts against itself correctly
    val hot = FtsIndex.phraseSearch(ds, Seq("common", "w1"), k = 300)
    assert(hot.count() == 200)
  }

  test("single-term phrase and repeated-term phrase count correctly") {
    val dir = Files.createTempDirectory("ftsph-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    ds.append(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, "go go go stop go go"),
      org.apache.spark.sql.Row(2L, "stop go stop")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))).coalesce(1))
    FtsIndex.build(ds, "text")
    val single = FtsIndex.phraseSearch(ds, Seq("go"), k = 10)
      .select("doc_id", "n_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single == Map(1L -> 5L, 2L -> 1L))
    // "go go": positions {0,1,2,4,5} → matches at 0,1,4 = 3 occurrences
    val repeated = FtsIndex.phraseSearch(ds, Seq("go", "go"), k = 10)
      .select("doc_id", "n_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repeated == Map(1L -> 3L))
  }

  test("phrase terms holding a backslash or an apostrophe match as written") {
    val dir = Files.createTempDirectory("ftsesc-").toString
    val ds = LakeDataset.create(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))
    ds.append(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, "path a\\b here"),
      org.apache.spark.sql.Row(2L, "path ab here"),
      org.apache.spark.sql.Row(3L, "it's here now")), ds.schema).coalesce(1))
    FtsIndex.build(ds, "text", name = "ws", tokenizer = "whitespace")
    def hits(phrase: String) =
      FtsIndex.phraseSearchText(ds, phrase, 10, "ws")
        .select("doc_id", "n_occ").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits("a\\b here") == Map(1L -> 1L))
    assert(hits("a\\b") == Map(1L -> 1L))
    assert(hits("it's here") == Map(3L -> 1L))
    assert(hits("here it's").isEmpty)
  }
}
