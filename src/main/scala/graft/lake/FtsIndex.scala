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
  * Layout: `<root>/_indexes/<name>/v<version>/{postings,doclen,stats,
  * terminfo}`. Postings are parquet sorted by term, so a query's term
  * filter prunes to its own terms' row groups — the batch analogue of
  * posting-list seeks. `terminfo` holds per-term (max_tf, min_len) bounds
  * powering [[searchPruned]]'s MaxScore/WAND-style top-k pruning
  * (fts_wand.go:35-260). Like [[VectorIndex]], postings key on stable
  * `_rowid` and join back to live data, so deletes after build don't
  * poison results. */
object FtsIndex {

  private def dir(ds: LakeDataset, name: String, v: Long) =
    new Path(ds.root).resolve("_indexes").resolve(name).resolve(f"v$v%020d")

  /** Tokenize (with the named tokenizer — whitespace/simple/cjk, see
    * [[Fts.tokens]]) + persist postings/doc-lengths/corpus stats at the
    * current version. The tokenizer is recorded in the index meta so
    * queries are tokenized identically at search time. */
  def build(ds: LakeDataset, textCol: String, name: String = "fts",
      tokenizer: String = "whitespace"): Unit = {
    val rows = ds.scanner().withRowId.build()
      .select(col(LakeDataset.RowIdCol).as("_rowid"), col(textCol).as("text"))
      .filter(col("text").isNotNull)
    val toks = rows.select(col("_rowid"),
      posexplode(Fts.tokens(col("text"), tokenizer)).as(Seq("pos", "term")))
    val d = dir(ds, name, ds.version)
    ds.io.mkdirs(d)
    // positional postings (Lucene shape): tf for BM25, sorted 0-based
    // in-doc positions for phrase queries — one int per token, the
    // standard positional-index storage trade
    toks.groupBy("term", "_rowid").agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .repartition(1).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$d/postings")
    toks.groupBy("_rowid").agg(count(lit(1)).cast("double").as("len"))
      .write.mode("overwrite").parquet(s"$d/doclen")
    // corpus stats from the written doclen (docs with >= 1 token) — the
    // same population bm25TopK and the refresh path's chain stats use, so
    // indexed and direct scores agree even with zero-token docs around
    ds.spark.read.parquet(s"$d/doclen")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg("len").as("avglen"))
      .write.mode("overwrite").parquet(s"$d/stats")
    writeTermInfo(ds, d)
    // meta.json is the COMMIT POINT (written after every data file):
    // builtVersion ignores dirs without it, so a build that dies mid-write
    // can't brick the index. The high-water marks make refresh independent
    // of dataset manifests, which vacuum may delete.
    ds.io.writeString(d.resolve("meta.json"),
      s"""{"tokenizer": "$tokenizer",""" +
        s""" "max_rowid": "${ds.manifest.nextRowId - 1}",""" +
        s""" "max_fragment_id": "${ds.manifest.maxFragmentId}"}""")
  }

  /** The tokenizer an index was built with. */
  def tokenizerOf(ds: LakeDataset, name: String = "fts"): String =
    metaField(ds, name, "tokenizer").getOrElse("whitespace")

  private def metaField(ds: LakeDataset, name: String,
      field: String): Option[String] = {
    val v = builtVersion(ds, name).getOrElse(
      throw new IllegalStateException(s"no FTS index '$name'"))
    metaFieldAt(ds, name, v, field)
  }

  private def metaFieldAt(ds: LakeDataset, name: String, v: Long,
      field: String): Option[String] = {
    val meta = dir(ds, name, v).resolve("meta.json")
    if (!ds.io.exists(meta)) None
    else (""""""" + field + """"\s*:\s*"([^"]+)"""").r
      .findFirstMatchIn(ds.io.readString(meta))
      .map(_.group(1))
  }

  /** Index segment dirs for the version chain ending at the latest built
    * version ≤ the dataset version: each refresh adds a DELTA segment (its
    * own postings/doclen) with a parent pointer instead of rewriting the
    * whole index — the LSM shape: extending a 100 TB index costs
    * tokenizing the appended rows, not the corpus. */
  private def segmentDirs(ds: LakeDataset, name: String,
      v: Long): Seq[Path] = {
    var cur = Option(v)
    val out = Seq.newBuilder[Path]
    while (cur.isDefined) {
      val d = dir(ds, name, cur.get)
      out += d
      cur = metaFieldAt(ds, name, cur.get, "parent").map(_.drop(1).toLong)
    }
    out.result()
  }

  /** Incrementally extend the index to the current dataset version:
    * tokenize ONLY rows appended since the last built version (rowids above
    * the old manifest's high-water mark, read from fragments the old
    * manifest didn't have) and write them as a delta segment. Safe across
    * deletes (search joins live rows) and compaction (rowids survive
    * rewrites); a text UPDATE changes rows in place, so those need a full
    * [[build]] — same contract as the reference's inverted index. */
  def refresh(ds: LakeDataset, textCol: String, name: String = "fts"): Unit = {
    val v0 = builtVersion(ds, name) match {
      case None => build(ds, textCol, name); return
      case Some(v) => v
    }
    if (v0 == ds.version) return
    val tokenizer = tokenizerOf(ds, name)
    // High-water marks from the built segment's own meta, NOT the dataset
    // manifest at v0 — vacuum deletes old manifests, and an index must
    // stay refreshable after them. (Manifest fallback for segments built
    // before the marks existed.)
    def legacyMan = LakeDataset.loadVersion(new Path(ds.root), v0)
    val maxIndexed = metaFieldAt(ds, name, v0, "max_rowid").map(_.toLong)
      .getOrElse(legacyMan.nextRowId - 1)
    // fragments beyond the built high-water mark: appended data, plus
    // compaction outputs (whose OLD rows the rowid filter screens out)
    val newFrags = metaFieldAt(ds, name, v0, "max_fragment_id")
      .map(_.toLong) match {
      case Some(mf) => ds.manifest.fragments.filter(_.id > mf)
      case None =>
        val oldIds = legacyMan.fragments.map(_.id).toSet
        ds.manifest.fragments.filterNot(f => oldIds(f.id))
    }
    val d = dir(ds, name, ds.version)
    // nothing appended (pure deletes/schema ops): the old segments already
    // cover every live row — leave the chain as-is
    if (newFrags.isEmpty) return
    val rows = ds.readFragments(ds.manifest, newFrags, withRowId = true)
      .select(col(LakeDataset.RowIdCol).as("_rowid"), col(textCol).as("text"))
      .filter(col("text").isNotNull && col("_rowid") > maxIndexed)
    // compaction-only advance: fresh fragment ids, no post-mark rowids
    if (rows.isEmpty) return
    val toks = rows.select(col("_rowid"),
      posexplode(Fts.tokens(col("text"), tokenizer)).as(Seq("pos", "term")))
    ds.io.mkdirs(d)
    toks.groupBy("term", "_rowid").agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .repartition(1).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$d/postings")
    toks.groupBy("_rowid").agg(count(lit(1)).cast("double").as("len"))
      .write.mode("overwrite").parquet(s"$d/doclen")
    // global corpus stats re-derived from the (small) doclen segments; the
    // chain is named explicitly (new dir + old chain) because the new
    // dir's meta — the commit point — is not written yet
    val spark = ds.spark
    val allLens = (d +: segmentDirs(ds, name, v0))
      .map(sd => spark.read.parquet(s"$sd/doclen"))
      .reduce(_ unionByName _)
    allLens.agg(count(lit(1)).cast("double").as("n_docs"),
        avg("len").as("avglen"))
      .write.mode("overwrite").parquet(s"$d/stats")
    writeTermInfo(ds, d)
    // meta last = commit point (see build)
    ds.io.writeString(d.resolve("meta.json"),
      s"""{"tokenizer": "$tokenizer", "parent": "v$v0",""" +
        s""" "max_rowid": "${ds.manifest.nextRowId - 1}",""" +
        s""" "max_fragment_id": "${ds.manifest.maxFragmentId}"}""")
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

  def builtVersion(ds: LakeDataset, name: String = "fts"): Option[Long] = {
    val base = new Path(ds.root).resolve("_indexes").resolve(name)
    if (!ds.io.exists(base)) return None
    ds.io.listNames(base)
      .filter(n => ds.io.exists(base.resolve(n).resolve("meta.json"))) // commit marker
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
      .filter(_ <= ds.version).maxOption
  }

  /** Chain context for one query: query-term postings, doc lengths,
    * corpus stats, and the newest segment dir. */
  private final case class QueryCtx(post: DataFrame, doclen: DataFrame,
      stats: DataFrame, segs: Seq[Path], newest: Path)

  private def queryCtx(ds: LakeDataset, queryTerms: Seq[String],
      name: String): QueryCtx = {
    val spark = ds.spark
    val v = builtVersion(ds, name).getOrElse(
      throw new IllegalStateException(s"no FTS index '$name' — call build()"))
    val d = dir(ds, name, v)
    // read every delta segment in the chain (newest dir carries the
    // refreshed global stats); a rowid appears in exactly one segment
    val segs = segmentDirs(ds, name, v)
      .filter(sd => ds.io.exists(sd.resolve("postings")))
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

  private def topK(ds: LakeDataset, scored: DataFrame, k: Int): DataFrame = {
    val live = ds.scanner().withRowId.build()
    live.join(scored.withColumnRenamed("_rowid", "_idx_rowid"),
        col(LakeDataset.RowIdCol) === col("_idx_rowid"))
      .drop("_idx_rowid")
      .orderBy(col("score").desc, col(LakeDataset.RowIdCol))
      .limit(k)
      .select((ds.schema.fieldNames.map(col) :+ col("score")): _*)
  }

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
    val v = builtVersion(ds, name).getOrElse(
      throw new IllegalStateException(s"no FTS index '$name' — call build()"))
    val segs = segmentDirs(ds, name, v)
      .filter(sd => ds.io.exists(sd.resolve("postings")))
    val perSeg = segs.map { sd =>
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
    val first = phrase.head.replace("'", "''")
    val occExpr =
      if (phrase.size == 1)
        s"CAST(size(element_at(tp, '$first')) AS BIGINT)"
      else {
        val conds = phrase.zipWithIndex.tail.map { case (t, j) =>
          val esc = t.replace("'", "''")
          s"array_contains(element_at(tp, '$esc'), p + $j)"
        }.mkString(" AND ")
        s"CAST(size(filter(element_at(tp, '$first'), p -> $conds)) AS BIGINT)"
      }
    val occ = byDoc
      .select(col("_rowid"), expr(occExpr).as("n_occ"))
      .filter(col("n_occ") > 0)
    val live = ds.scanner().withRowId.build()
    live.join(occ.withColumnRenamed("_rowid", "_idx_rowid"),
        col(LakeDataset.RowIdCol) === col("_idx_rowid"))
      .drop("_idx_rowid")
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
