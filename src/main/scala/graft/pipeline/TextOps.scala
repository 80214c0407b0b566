package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (beyond-reference:
  * the training-data-pipeline mandate). All are narrow per-row projections —
  * no shuffle, fully codegen-eligible, trivially scale to 100 TB.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val tokensCol: Column = split(col("text"), " ")

  /** Basic per-doc token/char statistics (whitespace tokenizer). */
  val stats = Q(
    "text_stats",
    """SELECT doc_id, lang, source,
      |  length(text) AS chars_calc,
      |  len(string_split(text, ' ')) AS n_tokens
      |FROM documents""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
      length(col("text")).as("chars_calc"),
      size(tokensCol).as("n_tokens"))
  }

  /** Quality scoring: unique-token ratio, stopword ratio, mean token length
    * — the length/punct/stopword heuristics used to filter web corpora. */
  val quality = Q(
    "text_quality",
    """SELECT doc_id,
      |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      |    / len(string_split(text,' ')) AS uniq_ratio,
      |  CAST(len(list_filter(string_split(text,' '),
      |       w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / len(string_split(text,' ')) AS stop_ratio,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split(text,' ')) AS mean_token_len
      |FROM documents
      |WHERE len(string_split(text,' ')) > 0""".stripMargin) { (s, dir) =>
    val toks = tokensCol
    val nToks = size(toks).cast("double")
    docs(s, dir)
      .filter(size(tokensCol) > 0)
      .select(col("doc_id"),
        (size(array_distinct(toks)).cast("double") / nToks).as("uniq_ratio"),
        (size(filter(toks, w => w.isin("the", "a", "of", "and", "to", "in")))
          .cast("double") / nToks).as("stop_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / nToks)
          .as("mean_token_len"))
  }

  /** Token counting for LLM budgeting: regex word/punct tokens plus a
    * BPE-ish subword estimate (≈ ceil(len/4) pieces per word — the common
    * 4-chars-per-token heuristic), both as narrow expressions. */
  val tokenEstimate = Q(
    "text_token_estimate",
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]'))
      |    AS n_word_tokens,
      |  CAST((SELECT coalesce(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)), 0)
      |   FROM unnest(string_split(text, ' ')) AS t(w)) AS BIGINT)
      |    AS n_subword_est
      |FROM documents""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit("[a-z0-9]+|[^a-z0-9 ]"), lit(0))).as("n_word_tokens"),
      aggregate(tokensCol, lit(0L),
        (acc, w) => acc + ceil(length(w) / 4.0)).as("n_subword_est"))
  }

  /** Marker tokens per language for the n-gram/stopword language-ID
    * heuristic. Deterministic; scored by marker-hit count. */
  private[pipeline] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID: argmax over marker-set hit counts, `und` when nothing
    * matches. (The synthetic corpus is English-ish regardless of its `lang`
    * label — the operator is the deliverable.) The DuckDB oracle is generated
    * from the same [[langMarkers]] table: struct comparison is lexicographic
    * by field order in both engines (hits first, then lang breaks ties), so
    * Spark's `greatest(struct...)` ≡ DuckDB's `list_sort([struct...])[last]`. */
  private def langIdOracle: String = {
    val structs = langMarkers.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(",")
      s"{'hits': CAST(len(list_filter(string_split(text,' '), t -> t IN ($set))) AS INT), 'lang': '$lang'}"
    }.mkString(",\n      ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    list_sort([
       |      $structs
       |    ])[${langMarkers.size}] AS best
       |  FROM documents)
       |SELECT doc_id, labeled_lang,
       |  CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS predicted_lang,
       |  best.hits AS marker_hits
       |FROM scored""".stripMargin
  }

  val langId = Q("text_langid", langIdOracle) { (s, dir) =>
    val toks = tokensCol
    val scores = langMarkers.map { case (lang, markers) =>
      struct(size(filter(toks, w => w.isin(markers: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    docs(s, dir).select(col("doc_id"), col("lang").as("labeled_lang"),
        greatest(scores: _*).as("best"))
      .select(col("doc_id"), col("labeled_lang"),
        when(col("best.hits") > 0, col("best.lang")).otherwise("und")
          .as("predicted_lang"),
        col("best.hits").as("marker_hits"))
  }

  /** Document fingerprint: 64-bit simhash over tokens (via the codegen'd
    * [[graft.functions.SimHash64]]) + a content hash of the sorted distinct
    * token set (word-order-insensitive "bag fingerprint"). */
  val fingerprint = Q.noOracle("text_fingerprint") { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      call_function("simhash64", tokensCol).as("simhash"),
      xxhash64(concat_ws(" ", array_sort(array_distinct(tokensCol))))
        .as("bag_hash"))
  }

  /** HyperLogLog-sketch distinct counts (sketch implementations differ
    * across engines, so no SQL oracle; TextOpsSpec bounds the error against
    * exact counts). At 100 TB this replaces exact countDistinct wherever a
    * ±2% answer is acceptable — sketch merge is associative, so partial
    * aggregation stays map-side. */
  val approxDistinct = Q.noOracle("agg_approx_distinct") { (s, dir) =>
    docs(s, dir).groupBy("lang").agg(
      approx_count_distinct(col("source"), rsd = 0.02).as("approx_sources"),
      approx_count_distinct(md5(col("text")), rsd = 0.02).as("approx_texts"),
      count(lit(1)).as("n_docs"))
  }

  /** Custom KMV sketch aggregate beside the exact count (no SQL oracle —
    * sketch estimates are engine-specific; KmvSketchSpec bounds the error). */
  val kmvDistinct = Q.noOracle("agg_kmv_distinct") { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    // Two aggregations, not one: a DISTINCT aggregate beside a
    // TypedImperativeAggregate forces the whole group-by through a single
    // expand + sort-based aggregate (measured 2.5-5.7 s at sf0.1); split,
    // the sketch runs object-hash and the exact count runs hash-with-expand,
    // and the 3-row join is free.
    val kmv = li.groupBy("l_returnflag")
      .agg(call_function("kmv_distinct", col("l_orderkey")).as("kmv_orders"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
    kmv.join(exact, "l_returnflag")
  }

  /** KMV in its EXACT regime, oracle-checked: with fewer distinct values
    * than sketch slots the sketch holds every hash and returns the exact
    * distinct count, so DuckDB's `count(DISTINCT)` is a valid oracle —
    * the same split-aggregation plan shape as [[kmvDistinct]], but with
    * the estimate itself under the hash gate. The domain is bounded by a
    * modulus (400 < k=512) so the regime holds at EVERY scale factor —
    * raw suppkey left it at sf0.1 (~1000 distinct per group), which a
    * scale-up verify caught. The approximate regime's error bounds stay
    * KmvSketchSpec's job. */
  val kmvExact = Q(
    "agg_kmv_exact",
    """SELECT l_linestatus,
      |  CAST(count(DISTINCT l_suppkey % 400) AS BIGINT) AS kmv_supps,
      |  CAST(count(DISTINCT l_suppkey % 400) AS BIGINT) AS exact_supps
      |FROM lineitem GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
      .withColumn("supp_bucket", col("l_suppkey") % 400)
    val kmv = li.groupBy("l_linestatus")
      .agg(call_function("kmv_distinct", col("supp_bucket")).as("kmv_supps"))
    val exact = li.groupBy("l_linestatus")
      .agg(countDistinct("supp_bucket").as("exact_supps"))
    kmv.join(exact, "l_linestatus").orderBy("l_linestatus")
  }

  /** Misra-Gries heavy hitters per language: top-5 tokens through the
    * mergeable `heavy_hitters` sketch ([[graft.functions.MgHeavyHitters]]
    * — O(k) state, map-side partials; the frequent-token / boilerplate
    * report at 100 TB without an exact full-vocabulary groupBy). On this
    * corpus the vocabulary (31) fits the k=64 summary, so the sketch is in
    * its EXACT regime and the DuckDB oracle checks it against true counts;
    * the approximate regime's guarantees are HeavyHittersSpec's job. */
  val heavyHitters = Q(
    "agg_heavy_hitters",
    """WITH t AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT lang, token, CAST(count(*) AS BIGINT) AS n
      |  FROM t WHERE len(token) > 0 GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, token, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn
      |  FROM c)
      |SELECT lang, token, n FROM r WHERE rn <= 5""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("lang"), explode(tokensCol).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang")
      .agg(call_function("heavy_hitters", col("tok")).as("hh"))
      .select(col("lang"), posexplode(col("hh")))
      .filter(col("pos") < 5)
      .select(col("lang"), col("col.item").as("token"),
        col("col.min_count").as("n"))
  }

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003): hash
    * every char k-gram (rolling windows), keep each w-window's minimum —
    * guarantees shared fingerprints for any match ≥ w+k-1 chars at
    * ~2/(w+1) density. Codegen'd single-pass expression
    * ([[graft.functions.WinnowFingerprint]]); the equivalent built-in-HOF
    * formulation is O(n·w) interpreted lambdas and benched 250× slower. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 16): Column =
    call_function("winnow_fingerprint", text, lit(k), lit(w))

  val winnow = Q.noOracle("text_winnow_fingerprint") { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      winnowFingerprints(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fingerprints"),
        xxhash64(concat_ws(",", transform(array_sort(col("fp")),
          x => x.cast("string")))).as("fp_set_hash"))
  }

  /** Oracle-checked winnowing twin: same k=8/w=16 selection over a
    * PORTABLE k-gram hash (md5 prefix, the dedup_simhash trick). The Spark
    * side is the codegen'd `winnow_portable` kernel (one md5 per k-gram,
    * monotonic-deque window min — the HOF slice/array_min form cost
    * O(n·w) interpreted); DuckDB re-derives kgram → window-min → distinct
    * from the definition, so the compare crosses two independent
    * implementations. Integer-only output (count + order-insensitive xor
    * fold) hashes identically on both engines. */
  val WinnowK = 8
  val WinnowW = 16

  private val winnowExactOracle =
    s"""WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |h AS (SELECT doc_id,
       |        list_transform(generate_series(1, greatest(1, n - ${WinnowK - 1})),
       |          i -> (('0x' || substr(md5(substr(text, i, $WinnowK)), 1, 15))::BIGINT)) AS hs
       |      FROM t),
       |m AS (SELECT doc_id,
       |        list_distinct(list_transform(
       |          generate_series(1, greatest(1, len(hs) - ${WinnowW - 1})),
       |          j -> list_min(hs[j:j+${WinnowW - 1}]))) AS fps
       |      FROM h)
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
       |  CAST(list_reduce(fps, (a, x) -> xor(a, x)) AS BIGINT) AS fp_xor
       |FROM m""".stripMargin

  val winnowExact = Q("text_winnow_exact", winnowExactOracle) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      call_function("winnow_portable", col("text"),
        lit(WinnowK), lit(WinnowW)).as("wp"))
      .select(col("doc_id"),
        col("wp.n_fingerprints").as("n_fingerprints"),
        col("wp.fp_xor").as("fp_xor"))
  }

  /** Adjacent word pairs (n-1 bigrams); callers guard `n >= 2`. */
  private def bigramsOf(words: Column, n: Column): Column =
    transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(words, i), element_at(words, i + 1)))

  /** Repetition signals (the Gopher-style quality heuristics, Rae et al.
    * 2021 §A1.1): duplicate-word fraction, most-frequent-word fraction,
    * most-frequent-bigram fraction. All per-row array folds — no shuffle,
    * the 100 TB shape for per-doc scoring. Fractions land in BIGINT
    * fixed-point parts-per-million (×1e6, rounded) — integers hash
    * identically in both dump paths, unlike DECIMAL (CORRECTNESS_r04). */
  val repetition = Q(
    "text_repetition",
    """SELECT doc_id,
      |  CAST(len(l) AS BIGINT) AS n_words,
      |  CAST(round((1.0 - CAST(len(list_distinct(l)) AS DOUBLE)/len(l))
      |    * 1000000) AS BIGINT) AS dup_word_ppm,
      |  CAST(round(CAST(len(list_filter(l, x -> x = list_aggregate(l, 'mode')))
      |    AS DOUBLE)/len(l) * 1000000) AS BIGINT) AS top_word_ppm,
      |  CAST(round(CAST(len(list_filter(b, x -> x = list_aggregate(b, 'mode')))
      |    AS DOUBLE)/len(b) * 1000000) AS BIGINT) AS top_bigram_ppm
      |FROM (
      |  SELECT doc_id, l,
      |    list_transform(generate_series(1, len(l)-1),
      |      i -> l[i] || ' ' || l[i+1]) AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t
      |  WHERE len(l) >= 2) tt""".stripMargin) { (s, dir) =>
    repetitionOver(docs(s, dir))
  }

  /** The [[repetition]] projection over any `(doc_id, text)` frame.
    * One codegen'd `freq_stats` / `bigram_freq_stats` hash pass per row
    * replaces two `array_sort`s + two interpreted folds (7.2 s → sub-second
    * on the sf0.1 corpus; lambda higher-order functions never codegen). */
  def repetitionOver(df: DataFrame): DataFrame = {
    df.select(col("doc_id"), tokensCol.as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), size(col("l")).as("n"),
        call_function("freq_stats", col("l")).as("ws"),
        call_function("bigram_freq_stats", col("l")).as("bs"))
      .select(col("doc_id"),
        col("n").cast("long").as("n_words"),
        round((lit(1.0) - col("ws.n_distinct").cast("double") /
          col("n").cast("double")) * 1000000).cast("long").as("dup_word_ppm"),
        round(col("ws.max_freq").cast("double") /
          col("n").cast("double") * 1000000).cast("long").as("top_word_ppm"),
        round(col("bs.max_freq").cast("double") /
          (col("n") - 1).cast("double") * 1000000).cast("long")
          .as("top_bigram_ppm"))
  }

  /** Corpus-level n-gram statistics: the 50 most frequent bigrams — the
    * shuffle-side complement of the per-doc signals (vocabulary building,
    * boilerplate detection). explode → partial-aggregated count → top-k
    * (TakeOrdered, no global sort); ties broken by bigram text so the
    * cut is deterministic. */
  val topBigrams = Q(
    "text_top_bigrams",
    """WITH lw AS (SELECT string_split(text, ' ') AS l FROM documents),
      |b AS (SELECT unnest(list_transform(generate_series(1, len(l)-1),
      |        i -> l[i] || ' ' || l[i+1])) AS bigram
      |      FROM lw WHERE len(l) >= 2)
      |SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM b
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin) {
      (s, dir) =>
    docs(s, dir)
      .select(tokensCol.as("l"))
      .filter(size(col("l")) >= 2)
      .select(explode(bigramsOf(col("l"), size(col("l")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  /** Composite quality gate (the Gopher rules shape): per-doc boolean
    * flags + a keep/drop decision. Thresholds are calibrated to the corpus
    * so both outcomes occur; comparisons run on bit-identical doubles, so
    * the booleans hash identically across engines. */
  val gopherFilter = Q(
    "text_gopher_filter",
    """SELECT doc_id,
      |  n < 25 AS flag_short,
      |  topw > 0.12 AS flag_repetitive,
      |  dup > 0.55 AS flag_low_diversity,
      |  ml < 3.9 OR ml > 5.1 AS flag_word_len,
      |  NOT (n < 25 OR topw > 0.12 OR dup > 0.55 OR ml < 3.9 OR ml > 5.1)
      |    AS keep_doc
      |FROM (
      |  SELECT doc_id, len(l) AS n,
      |    CAST(len(list_filter(l, x -> x = list_aggregate(l, 'mode')))
      |      AS DOUBLE)/len(l) AS topw,
      |    1.0 - CAST(len(list_distinct(l)) AS DOUBLE)/len(l) AS dup,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)/len(l) AS ml
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS l
      |        FROM documents) t
      |  WHERE len(l) >= 2) tt""".stripMargin) { (s, dir) =>
    val n = col("n")
    docs(s, dir)
      .select(col("doc_id"), col("text"), tokensCol.as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("text"), size(col("l")).as("n"),
        call_function("freq_stats", col("l")).as("ws"))
      .select(col("doc_id"), col("n"),
        (col("ws.max_freq").cast("double") /
          col("n").cast("double")).as("topw"),
        (lit(1.0) - col("ws.n_distinct").cast("double") /
          col("n").cast("double")).as("dup"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          col("n").cast("double")).as("ml"))
      .select(col("doc_id"),
        (n < 25).as("flag_short"),
        (col("topw") > 0.12).as("flag_repetitive"),
        (col("dup") > 0.55).as("flag_low_diversity"),
        (col("ml") < 3.9 || col("ml") > 5.1).as("flag_word_len"),
        (!(n < 25 || col("topw") > 0.12 || col("dup") > 0.55 ||
          col("ml") < 3.9 || col("ml") > 5.1)).as("keep_doc"))
  }

  // Benchmark-decontamination parameters: standard n-gram overlap check
  // (flag a training doc if it shares any 8-word-gram with the eval set —
  // the GPT-3/PaLM-style contamination rule). The synthetic eval split is
  // doc_id % 10 == 0; a real pipeline feeds the benchmark table instead.
  val DecontamN = 8
  val DecontamEvalMod = 10

  private val decontamOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(toks) - ${DecontamN - 1})),
       |        i -> array_to_string(toks[i:i+${DecontamN - 1}], ' ')))) AS g
       |      FROM t),
       |ev AS (SELECT doc_id, g FROM s WHERE doc_id % $DecontamEvalMod = 0),
       |tr AS (SELECT doc_id, g FROM s WHERE doc_id % $DecontamEvalMod != 0)
       |SELECT tr.doc_id AS doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shared_ngrams,
       |  CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
       |FROM tr JOIN ev ON tr.g = ev.g
       |GROUP BY 1""".stripMargin

  /** Eval-set decontamination: flag training docs sharing ≥1 word-8-gram
    * with the eval split. The Spark side joins on the codegen'd 60-bit
    * shingle hash (fixed-width shuffle; 2^-60 collision epsilon); the
    * oracle joins on the gram strings — two independent paths to the same
    * contamination set. At 100 TB the eval side is a benchmark corpus
    * (tiny), so its gram set broadcasts and the check is one narrow pass
    * over training shards. */
  val decontam = Q("text_decontam", decontamOracle) { (s, dir) =>
    val grams = docs(s, dir).select(col("doc_id"),
      explode(call_function("shingle_hashes", col("text"),
        lit(DecontamN))).as("g"))
    val ev = grams.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val tr = grams.filter(col("doc_id") % DecontamEvalMod =!= 0)
    tr.join(ev, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_ngrams"),
        countDistinct("eval_id").as("n_eval_docs"))
  }

  // PII scrubbing. The synthetic corpus carries no addresses, so the query
  // plants deterministic ones from doc_id (same expression in the oracle):
  // the redaction machinery — leftmost non-overlapping global regex
  // replace, email pass then IP pass — is what's being verified, pinned by
  // md5(redacted). Patterns stay inside the RE2 ∩ java.util.regex common
  // subset (char classes, bounded repeats, \b) so both engines match
  // identical spans.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  private val redactOracle =
    s"""WITH t AS (SELECT doc_id,
       |  text || ' contact user' || doc_id || '@example.com from 10.' ||
       |    (doc_id % 256) || '.0.' || (doc_id % 100) AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw,
       |    '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw,
       |    '$IpRe')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(raw,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$IpRe', '<IP>', 'g')) AS redacted_md5
       |FROM t""".stripMargin

  /** PII redaction over text: count and mask emails and IPv4 addresses.
    * Narrow codegen'd regex projection — no shuffle, the per-doc scrubbing
    * shape. Output pins the full redacted text via md5, so the oracle
    * verifies byte-identical masking, not just counts. */
  val redactPii = Q("text_redact_pii", redactOracle) { (s, dir) =>
    val raw = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com from 10."), col("doc_id") % 256, lit(".0."),
      col("doc_id") % 100)
    docs(s, dir).select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(IpRe)).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(col("raw"),
          EmailRe, "<EMAIL>"), IpRe, "<IP>")).as("redacted_md5"))
  }

  def all: Seq[Q] = Seq(stats, quality, tokenEstimate, langId, fingerprint,
    approxDistinct, kmvDistinct, kmvExact, heavyHitters, winnow, winnowExact,
    repetition, topBigrams, gopherFilter, decontam, redactPii)
}
