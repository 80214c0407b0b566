package graft.lake

import graft.pipeline.Fts
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-query pruning telemetry from [[FtsIndex.searchPruned]]: how many
  * docs were exactly scored vs how many matched ≥1 query term. */
final case class FtsPruneStats(scoredDocs: Long, matchingDocs: Long) {
  def prunedDocs: Long = matchingDocs - scoredDocs
}

/** Persisted BM25 full-text index over a [[LakeDataset]] text column —
  * counterpart of the reference's inverted index + persistence
  * (pkg/storage2/fts_index.go, fts_persistence.go).
  *
  * Segments live in the [[IndexStore]], per namespace (main or branch):
  * `_indexes/<name>/v<version>/{postings,doclen,stats,terminfo}`, each
  * refresh a delta segment chained to its parent. Postings are parquet
  * sorted by term, so a query's term filter prunes to its own terms' row
  * groups — the batch analogue of posting-list seeks. `terminfo` holds
  * per-term (max_tf, min_len) bounds powering [[searchPruned]]'s
  * MaxScore/WAND-style top-k pruning (fts_wand.go:35-260). Like
  * [[VectorIndex]], postings key on stable `_rowid` and join back to live
  * data, so deletes after build don't poison results. */
object FtsIndex {

  /** Tokenize (with the named tokenizer — whitespace/simple/cjk, see
    * [[Fts.tokens]]) + persist postings/doc-lengths/corpus stats at the
    * current version. The tokenizer is recorded in the index meta so
    * queries are tokenized identically at search time. */
  def build(ds: LakeDataset, textCol: String, name: String = "fts",
      tokenizer: String = "whitespace"): Unit = {
    val store = new IndexStore(ds, name)
    writeSegment(ds, store, ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol), col(textCol))
      .filter(col(textCol).isNotNull), tokenizer, None)
  }

  /** The tokenizer an index was built with. */
  def tokenizerOf(ds: LakeDataset, name: String = "fts"): String = {
    val store = new IndexStore(ds, name)
    tokenizerIn(store.metaAt(builtOf(store, name)).get)
  }

  private def builtOf(store: IndexStore, name: String): Long =
    store.built.getOrElse(
      throw new IllegalStateException(s"no FTS index '$name' — call build()"))

  private def tokenizerIn(meta: IndexStore.Meta): String =
    meta.get("tokenizer").getOrElse("whitespace")

  /** Incrementally extend the index to the current dataset version:
    * tokenize ONLY rows appended since the last built version (the store's
    * refresh cursor) and write them as a delta segment. Safe across
    * deletes (search joins live rows) and compaction (rowids survive
    * rewrites); a text UPDATE changes rows in place, so those need a full
    * [[build]] — same contract as the reference's inverted index. */
  def refresh(ds: LakeDataset, textCol: String, name: String = "fts"): Unit = {
    val store = new IndexStore(ds, name)
    store.pending(textCol)(build(ds, textCol, name)).foreach { p =>
      writeSegment(ds, store, p.rows, tokenizerIn(p.meta), Some(p.base))
    }
  }

  /** One segment over `rows` (`_rowid`, text): positional postings,
    * doc lengths, corpus stats over the whole chain, per-term bounds. */
  private def writeSegment(ds: LakeDataset, store: IndexStore, rows: DataFrame,
      tokenizer: String, parent: Option[Long]): Unit =
    store.commit(parent, "tokenizer" -> tokenizer) { d =>
      val toks = rows.toDF("_rowid", "text").select(col("_rowid"),
        posexplode(Fts.tokens(col("text"), tokenizer)).as(Seq("pos", "term")))
      // positional postings (Lucene shape): tf for BM25, sorted 0-based
      // in-doc positions for phrase queries — one int per token, the
      // standard positional-index storage trade
      toks.groupBy("term", "_rowid").agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .repartition(1).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$d/postings")
      toks.groupBy("_rowid").agg(count(lit(1)).cast("double").as("len"))
        .write.mode("overwrite").parquet(s"$d/doclen")
      // corpus stats from the written doc lengths of the whole chain (docs
      // with >= 1 token) — the population bm25TopK uses, so indexed and
      // direct scores agree even with zero-token docs around. The chain is
      // named explicitly because this segment is not committed yet.
      val spark = ds.spark
      (d +: parent.fold(Seq.empty[Path])(store.chain))
        .map(sd => spark.read.parquet(s"$sd/doclen"))
        .reduce(_ unionByName _)
        .agg(count(lit(1)).cast("double").as("n_docs"),
          avg("len").as("avglen"))
        .write.mode("overwrite").parquet(s"$d/stats")
      writeTermInfo(ds, d)
    }

  /** Per-term pruning bounds for one segment: (term, max_tf, min_len).
    * BM25's per-doc term contribution is increasing in tf and decreasing
    * in doc length, so idf·tfn(max_tf, min_len) upper-bounds every doc's
    * contribution for the term — and unlike a precomputed max impact, the
    * bound survives avglen drift across refreshes (avglen is applied at
    * query time). */
  private def writeTermInfo(ds: LakeDataset, d: Path): Unit =
    ds.spark.read.parquet(s"$d/postings")
      .join(ds.spark.read.parquet(s"$d/doclen"), "_rowid")
      .groupBy("term")
      .agg(max("tf").as("max_tf"), min("len").as("min_len"))
      .repartition(1).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$d/terminfo")

  /** Search with a free-text query, tokenized the same way the index was
    * built (a CJK query string becomes bigrams against a cjk index). */
  def searchText(ds: LakeDataset, query: String, k: Int,
      name: String = "fts"): DataFrame =
    search(ds, Fts.tokenizeQuery(query, tokenizerOf(ds, name)), k, name)

  def builtVersion(ds: LakeDataset, name: String = "fts"): Option[Long] =
    new IndexStore(ds, name).built

  /** Chain context for one query: query-term postings, doc lengths,
    * corpus stats, and the newest segment dir. */
  private final case class QueryCtx(post: DataFrame, doclen: DataFrame,
      stats: DataFrame, segs: Seq[Path], newest: Path)

  private def queryCtx(ds: LakeDataset, queryTerms: Seq[String],
      name: String): QueryCtx = {
    val spark = ds.spark
    // read every delta segment in the chain (newest dir carries the
    // refreshed global stats); a rowid appears in exactly one segment
    val chain = chainOf(ds, name)
    val segs = withPostings(ds, chain)
    val d = chain.head
    val post = spark.read
      .parquet(segs.map(sd => s"$sd/postings"): _*)
      .filter(col("term").isin(queryTerms: _*))
    val doclen = spark.read.parquet(segs.map(sd => s"$sd/doclen"): _*)
    QueryCtx(post, doclen, spark.read.parquet(s"$d/stats"), segs, d)
  }

  /** Exact BM25 per-doc scores (rounded like [[Fts.bm25TopK]]) for the
    * docs present in `post`. */
  private def scoreDocs(ctx: QueryCtx, post: DataFrame): DataFrame = {
    val dfreq = ctx.post.groupBy("term")
      .agg(countDistinct("_rowid").cast("double").as("df"))
    post.join(broadcast(dfreq), "term")
      .join(ctx.doclen, "_rowid")
      .crossJoin(broadcast(ctx.stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        col("idf") * col("tf") * (Fts.K1 + 1.0) /
          (col("tf") + lit(Fts.K1) *
            (lit(1.0 - Fts.B) + lit(Fts.B) * col("len") / col("avglen"))))
      .groupBy("_rowid").agg(round(sum("s"), 4).as("score"))
  }

  /** Segment dirs of the built chain, newest first. */
  private def chainOf(ds: LakeDataset, name: String): Seq[Path] = {
    val store = new IndexStore(ds, name)
    store.chain(builtOf(store, name))
  }

  private def withPostings(ds: LakeDataset, segs: Seq[Path]): Seq[Path] =
    segs.filter(sd => ds.io.exists(sd.resolve("postings")))

  private def topK(ds: LakeDataset, scored: DataFrame, k: Int): DataFrame =
    IndexStore.joinLive(ds.scanner().withRowId.build(), scored)
      .orderBy(col("score").desc, col(LakeDataset.RowIdCol))
      .limit(k)
      .select((ds.schema.fieldNames.map(col) :+ col("score")): _*)

  /** BM25 top-k over the persisted index; only the query terms' postings
    * are read. Results join back to live rows (delete-safe). */
  def search(ds: LakeDataset, queryTerms: Seq[String], k: Int,
      name: String = "fts"): DataFrame = {
    val ctx = queryCtx(ds, queryTerms, name)
    topK(ds, scoreDocs(ctx, ctx.post), k)
  }

  /** Exact-phrase search over the positional postings: returns live rows
    * containing `phrase` as consecutive tokens, with `n_occ` occurrence
    * counts, ordered (n_occ desc, rowid), limit k.
    *
    * Only the phrase terms' postings are read (term-key pushdown, like
    * [[search]]); candidate docs are those carrying ALL distinct phrase
    * terms, and occurrences are counted by intersecting the per-term
    * position lists shifted by their phrase offset — the classic
    * positional-index merge, expressed as codegen'd array HOFs per doc
    * instead of a cursor walk. Shuffle volume is O(phrase-term postings),
    * never the corpus. Indexes built before positions existed raise
    * (rebuild to upgrade — same contract as a tokenizer change). */
  def phraseSearch(ds: LakeDataset, phrase: Seq[String], k: Int,
      name: String = "fts"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val spark = ds.spark
    val perSeg = withPostings(ds, chainOf(ds, name)).map { sd =>
      val df = spark.read.parquet(s"$sd/postings")
      if (!df.columns.contains("positions"))
        throw new IllegalStateException(
          s"FTS index '$name' segment $sd predates positional postings — " +
            "rebuild the index to run phrase queries")
      df
    }
    val distinctTerms = phrase.distinct
    val post = perSeg.reduce(_ unionByName _)
      .filter(col("term").isin(distinctTerms: _*))
      .select("_rowid", "term", "positions")
    // Rarest-term candidate pruning — the positional analogue of
    // MaxScore's driver list: every phrase hit must contain the rarest
    // term, so semi-join all postings to ITS rowids before the heavy
    // position-list aggregation. For a hot+rare phrase ("the zyzzyva")
    // this keeps the stop word's giant position payload out of the
    // shuffle entirely. The df probe reads only the `term` column of the
    // query terms' postings (column pruning skips positions). Broadcast
    // the candidate set when it is provably small; fall back to a
    // shuffled semi-join (still positions-free on the probe side) above
    // the cap.
    val dfs = post.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rarest = distinctTerms.minBy(t => dfs.getOrElse(t, 0L))
    val cand = post.filter(col("term") === rarest).select("_rowid")
    val prunedPost =
      if (dfs.getOrElse(rarest, 0L) <= 1000000L)
        post.join(broadcast(cand), Seq("_rowid"), "left_semi")
      else post.join(cand, Seq("_rowid"), "left_semi")
    // one row per candidate doc: map term -> positions (rowids are unique
    // across chain segments, so the map has one entry per term)
    val byDoc = prunedPost.groupBy("_rowid")
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("tp"))
      .filter(size(col("tp")) === distinctTerms.size)
    // a phrase occurrence starts at a position p of its first term where
    // each later term j sits at p + j
    def positions(t: String) = element_at(col("tp"), lit(t))
    val starts =
      if (phrase.size == 1) positions(phrase.head)
      else filter(positions(phrase.head), p =>
        phrase.zipWithIndex.tail.map { case (t, j) =>
          array_contains(positions(t), p + j)
        }.reduce(_ && _))
    val occ = byDoc
      .select(col("_rowid"), size(starts).cast("bigint").as("n_occ"))
      .filter(col("n_occ") > 0)
    IndexStore.joinLive(ds.scanner().withRowId.build(), occ)
      .orderBy(col("n_occ").desc, col(LakeDataset.RowIdCol))
      .limit(k)
      .select((ds.schema.fieldNames.map(col) :+ col("n_occ")): _*)
  }

  /** [[phraseSearch]] with a free-text phrase, tokenized like the index. */
  def phraseSearchText(ds: LakeDataset, phrase: String, k: Int,
      name: String = "fts"): DataFrame =
    phraseSearch(ds, Fts.tokenizeQuery(phrase, tokenizerOf(ds, name)), k, name)

  /** MaxScore/WAND-style pruned top-k (reference fts_wand.go:35-260): docs
    * whose score UPPER BOUND cannot reach the current top-k floor are never
    * scored. Returns exactly [[search]]'s rows plus how many docs were
    * actually scored.
    *
    * Batch shape of the algorithm: rank query terms by per-term impact
    * upper bound ub(t) = idf(t) · tfn(max_tf, min_len) (bounds from the
    * persisted `terminfo`). Exactly score only docs containing the
    * top-impact term; the k-th best live score among them is the floor.
    * Every other matching doc's score is ≤ Σ ub(t) over the REMAINING
    * terms, so when that sum is strictly below the floor the entire rest of
    * the matching set is pruned unscored — on a skewed corpus (rare
    * high-idf term + common low-idf term) this skips the common term's
    * giant posting list. When the bound can't exclude the rest (uniform
    * corpora, floor too low, < k candidates), it falls back to scoring
    * everything — same result, zero pruning. */
  def searchPruned(ds: LakeDataset, queryTerms: Seq[String], k: Int,
      name: String = "fts"): (DataFrame, FtsPruneStats) = {
    val spark = ds.spark
    val ctx = queryCtx(ds, queryTerms, name)
    val matching = ctx.post.select("_rowid").distinct().count()
    def exhaustive = (topK(ds, scoreDocs(ctx, ctx.post), k),
      FtsPruneStats(matching, matching))

    // per-term upper bounds from terminfo (segments built before terminfo
    // existed fall back to deriving it from their query-term postings)
    val terminfo = ctx.segs.map { sd =>
      if (ds.io.exists(sd.resolve("terminfo")))
        spark.read.parquet(s"$sd/terminfo")
          .filter(col("term").isin(queryTerms: _*))
      else spark.read.parquet(s"$sd/postings")
        .filter(col("term").isin(queryTerms: _*))
        .join(spark.read.parquet(s"$sd/doclen"), "_rowid")
        .groupBy("term").agg(max("tf").as("max_tf"), min("len").as("min_len"))
    }.reduce(_ unionByName _)
      .groupBy("term")
      .agg(max("max_tf").as("max_tf"), min("min_len").as("min_len"))
    val dfRows = ctx.post.groupBy("term")
      .agg(countDistinct("_rowid").cast("double").as("df"))
      .join(terminfo, "term")
      .crossJoin(broadcast(ctx.stats))
      .collect()
    if (dfRows.length < 2) return exhaustive // nothing to prune against
    val ubByTerm = dfRows.map { r =>
      val df = r.getAs[Double]("df")
      val nDocs = r.getAs[Double]("n_docs")
      val avglen = r.getAs[Double]("avglen")
      val maxTf = r.getAs[Long]("max_tf").toDouble
      val minLen = r.getAs[Double]("min_len")
      val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
      val tfn = maxTf * (Fts.K1 + 1.0) /
        (maxTf + Fts.K1 * (1.0 - Fts.B + Fts.B * minLen / avglen))
      r.getAs[String]("term") -> idf * tfn
    }.toMap
    val topTerm = ubByTerm.maxBy { case (t, ub) => (ub, t) }._1
    val restUb = ubByTerm.collect {
      case (t, ub) if t != topTerm => ub }.sum

    // phase 1: exact scores for docs containing the top-impact term
    val candidates = ctx.post.filter(col("term") === topTerm)
      .select("_rowid").distinct()
    val candScores = scoreDocs(ctx,
      ctx.post.join(candidates, "_rowid"))
    // floor = k-th best LIVE candidate score (deleted rows must not
    // inflate the floor past live docs the exact path would return)
    val liveIds = ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol).as("_rowid"))
    val liveTop = candScores.join(liveIds, "_rowid")
      .orderBy(col("score").desc, col("_rowid"))
      .limit(k).collect()
    if (liveTop.length < k) return exhaustive
    val floor = liveTop.last.getAs[Double]("score")
    // strict margin of one score-rounding ulp: `score` is round(Σs, 4), so
    // a pruned doc's rounded score can sit up to 5e-5 above its true score
    if (restUb >= floor - 1e-4) return exhaustive

    // pruned: every non-candidate doc scores ≤ restUb < floor
    (topK(ds, candScores, k),
      FtsPruneStats(candidates.count(), matching))
  }
}
