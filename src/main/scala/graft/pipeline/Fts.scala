package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text search: BM25 top-k over `documents` — the Spark-native
  * re-expression of the reference's inverted index + BM25 + WAND top-k
  * (pkg/storage2/fts_index.go:36-220, fts_wand.go:35-260). Scoring is
  * Okapi BM25 (Robertson & Walker, SIGIR 1994) with the standard
  * k1/b parameterization.
  *
  * Tokenizers (reference fts_index.go tokenizer options):
  *  - `whitespace`: raw space split (the original corpus contract)
  *  - `simple`: lowercase + split on non-alphanumeric
  *  - `cjk`: [[graft.functions.CjkTokens]] — latin words + CJK bigrams,
  *    so BM25 works on corpora without whitespace word boundaries
  *
  * On Spark, the "index" is the postings DataFrame (term → doc, tf) which
  * at scale would be a persisted bucketed table keyed by term; a query
  * touches only its own terms' postings (partition pruning on the term
  * key), which is the WAND-ish skipping analogue. Scoring is pure
  * aggregation — no driver-side anything.
  */
object Fts {

  val K1 = 1.2
  val B = 0.75

  /** Tokenize a text column with the named tokenizer → array<string>. */
  def tokens(text: Column, tokenizer: String = "whitespace"): Column =
    tokenizer match {
      case "whitespace" =>
        filter(split(text, " "), t => length(t) > 0)
      case "simple" =>
        filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
      case "cjk" =>
        call_function("cjk_tokens", text)
      case other =>
        throw new IllegalArgumentException(s"unknown tokenizer '$other'")
    }

  /** Driver-side twin of [[tokens]] for tokenizing query strings the same
    * way the indexed corpus was tokenized. */
  def tokenizeQuery(q: String, tokenizer: String): Seq[String] =
    tokenizer match {
      case "whitespace" => q.split(" ").filter(_.nonEmpty).toSeq
      case "simple" =>
        q.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      case "cjk" => graft.functions.TextTokens.cjkTokenize(q)
      case other =>
        throw new IllegalArgumentException(s"unknown tokenizer '$other'")
    }

  /** Postings: one row per (doc, term) with term frequency. */
  def postings(docs: DataFrame, tokenizer: String = "whitespace"): DataFrame = {
    docs.select(col("doc_id"),
      explode(tokens(col("text"), tokenizer)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
  }

  /** BM25 top-k scoring of `queryTerms` against the corpus. The ad-hoc
    * path never materializes full postings: doc length is `size(tokens)`
    * (a narrow per-row projection — no corpus-wide (doc, term) shuffle),
    * and only tokens matching the query terms are exploded, so shuffle
    * volume is O(query-term hits), not O(total tokens). That is the same
    * skipping contract as the persisted index's MaxScore path: a query
    * touches only its own terms' postings. Doc length rides along the
    * tf aggregation, eliminating the docLen re-join. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      tokenizer: String = "whitespace"): DataFrame = {
    import graft.Materialize.PinOps
    // one tokenizer pass feeds len + query-term hits; pinned so the corpus
    // stats and the scoring branch don't re-tokenize (the pin is O(n_docs)
    // narrow rows — query-term hits only, never full postings)
    val per = docs
      .select(col("doc_id"), tokens(col("text"), tokenizer).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("double").as("len"),
        filter(col("tk"), t => t.isInCollection(queryTerms)).as("qtk"))
      .filter(col("len") > 0)
      .pinned()
    val corpus = per.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("len").as("avglen"))
    val qp = per.filter(size(col("qtk")) > 0)
      .select(col("doc_id"), col("len"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("len").as("len"))
    val df_ = qp.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    qp.join(broadcast(df_), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score",
        col("idf") * col("tf") * (K1 + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("len") / col("avglen"))))
      .groupBy("doc_id")
      .agg(round(sum("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact-phrase occurrence counts: docs containing `phrase` as
    * consecutive tokens, with the number of occurrences. A narrow per-row
    * sliding check over the token array (1-based `element_at`, mirroring
    * DuckDB list indexing) — no shuffle at all; the positional-postings
    * variant for a persisted index is
    * [[graft.lake.FtsIndex.phraseSearch]]. */
  def phraseCount(docs: DataFrame, phrase: Seq[String],
      tokenizer: String = "whitespace"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    // codegen'd single-pass kernel — the HOF form (filter over
    // sequence+element_at) interprets its lambda per position
    docs
      .select(col("doc_id"), tokens(col("text"), tokenizer).as("tk"))
      .filter(size(col("tk")) >= phrase.length)
      .select(col("doc_id"),
        call_function("phrase_count", col("tk"),
          typedlit(phrase)).as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  private val phraseTerms = Seq("spark", "table")

  private val phraseOracle =
    """WITH t AS (SELECT doc_id,
      |             list_filter(string_split(text, ' '),
      |               x -> len(x) > 0) AS tk
      |           FROM documents),
      |o AS (SELECT doc_id,
      |        CAST(len(list_filter(generate_series(1, len(tk) - 1),
      |          i -> tk[i] = 'spark' AND tk[i + 1] = 'table')) AS BIGINT)
      |          AS n_occ
      |      FROM t WHERE len(tk) >= 2)
      |SELECT doc_id, n_occ FROM o WHERE n_occ > 0""".stripMargin

  /** Registry entry: exact phrase "spark table" over the corpus. */
  val phrase = Q("fts_phrase", phraseOracle) { (s, dir) =>
    phraseCount(Tables.load(s, dir, "documents"), phraseTerms)
  }

  /** Proximity search: docs where `termA` and `termB` occur within
    * `window` tokens (any order), with the minimal span. Positions are
    * per-row narrow arrays; the span is a min over the position cross
    * product inside one row — no shuffle, like [[phraseCount]]. */
  def nearCount(docs: DataFrame, termA: String, termB: String,
      window: Int, tokenizer: String = "whitespace"): DataFrame = {
    // positions via one codegen'd scan each; span via the two-pointer
    // merge (O(|pa|+|pb|), vs the HOF cross product's O(|pa|·|pb|) of
    // interpreted lambda calls — 8.7 s → sub-second at sf0.1)
    docs
      .select(col("doc_id"), tokens(col("text"), tokenizer).as("tk"))
      .select(col("doc_id"),
        call_function("term_positions", col("tk"), lit(termA)).as("pa"),
        call_function("term_positions", col("tk"), lit(termB)).as("pb"))
      .filter(size(col("pa")) > 0 && size(col("pb")) > 0)
      .select(col("doc_id"),
        (call_function("min_abs_diff", col("pa"), col("pb")) + 1).as("span"))
      .filter(col("span") <= window)
  }

  private val nearOracle =
    """WITH t AS (SELECT doc_id,
      |             list_filter(string_split(text, ' '),
      |               x -> len(x) > 0) AS tk
      |           FROM documents),
      |p AS (SELECT doc_id,
      |        list_filter(generate_series(1, len(tk)),
      |          i -> tk[i] = 'spark') AS pa,
      |        list_filter(generate_series(1, len(tk)),
      |          i -> tk[i] = 'scan') AS pb
      |      FROM t),
      |s AS (SELECT doc_id,
      |        CAST(list_min(list_transform(pa, p ->
      |          list_min(list_transform(pb, q -> abs(p - q))))) + 1
      |          AS BIGINT) AS span
      |      FROM p WHERE len(pa) > 0 AND len(pb) > 0)
      |SELECT doc_id, span FROM s WHERE span <= 5""".stripMargin

  /** Registry entry: "spark" NEAR/5 "scan". */
  val near = Q("fts_near", nearOracle) { (s, dir) =>
    nearCount(Tables.load(s, dir, "documents"), "spark", "scan", window = 5)
  }

  private val queryTerms = Seq("spark", "table", "scan")

  /** Registry entry: fixed 3-term query, top-10, with a DuckDB oracle that
    * implements the identical BM25 formula in SQL. */
  val topk = Q(
    "fts_bm25_topk",
    s"""WITH toks AS (SELECT doc_id, t.term
       |              FROM documents,
       |                unnest(list_filter(string_split(text, ' '),
       |                  x -> len(x) > 0)) AS t(term)),
       |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS len
       |       FROM toks GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |            avg(len) AS avglen
       |          FROM dl),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       |       WHERE term IN ('spark','table','scan') GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |          FROM toks WHERE term IN ('spark','table','scan')
       |          GROUP BY term)
       |SELECT doc_id,
       |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |    * tf * (${K1} + 1.0)
       |    / (tf + ${K1} * (1.0 - ${B} + ${B} * len / avglen))), 4) AS score
       |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    bm25TopK(Tables.load(s, dir, "documents"), queryTerms, 10)
  }

  /** Same query through the `simple` (lowercase, non-alphanumeric-split)
    * tokenizer — oracle mirrors it with regexp_split_to_array. */
  val topkSimple = Q(
    "fts_bm25_simple",
    s"""WITH toks AS (SELECT doc_id, t.term
       |              FROM documents,
       |                unnest(list_filter(
       |                  regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |                  x -> len(x) > 0)) AS t(term)),
       |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS len
       |       FROM toks GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |            avg(len) AS avglen
       |          FROM dl),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       |       WHERE term IN ('spark','table','scan') GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |          FROM toks WHERE term IN ('spark','table','scan')
       |          GROUP BY term)
       |SELECT doc_id,
       |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |    * tf * (${K1} + 1.0)
       |    / (tf + ${K1} * (1.0 - ${B} + ${B} * len / avglen))), 4) AS score
       |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    bm25TopK(Tables.load(s, dir, "documents"), queryTerms, 10,
      tokenizer = "simple")
  }

  def all: Seq[Q] = Seq(topk, topkSimple, phrase, near)
}
