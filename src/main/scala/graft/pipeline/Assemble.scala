package graft.pipeline

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship corpus-assembly chain: every stage of a training-data
  * pipeline COMPOSED into one oracle-checked operator —
  *
  *   quality gate (Gopher-style length / repetition / diversity /
  *   word-length flags) → language gate (marker-argmax lang-ID = 'en') →
  *   exact dedup (one representative per content hash) →
  *   target-proportion source mixing (rates derived from the POST-filter
  *   counts) → deterministic train/val/test split → per-(source, split)
  *   accounting.
  *
  * Each stage re-uses the exact arithmetic of its standalone operator
  * (`text_gopher_filter`, `text_langid`, `dedup_exact`, `curate_mix`,
  * `curate_split`), so the DuckDB oracle replays the WHOLE chain
  * bit-for-bit — integer/boolean decisions everywhere a row's fate is
  * decided.
  *
  * 100 TB shape: stages 1-2 are narrow codegen projections; dedup is one
  * shuffle keyed on the content hash (fixed-width md5, never the text);
  * the mixing-rate table is one tiny aggregation broadcast back onto the
  * corpus; the split is a narrow projection; the final accounting is a
  * map-side-combined aggregation over (source, split). Nothing touches
  * the driver except the per-source rate table. */
object Assemble {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def langStructsSql: String =
    TextOps.langMarkers.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(",")
      s"{'hits': CAST(len(list_filter(l, t -> t IN ($set))) AS INT), " +
        s"'lang': '$lang'}"
    }.mkString(",\n      |      ")

  /** The quality+language gate as DuckDB CTEs (`base` → `g` → `q` →
    * `lang` → `en`) — the SQL twin of [[gates]]; shared with the
    * quality-model oracle ([[QualityModel]]) so the weak-label definition
    * cannot drift between the two entries. */
  private[pipeline] def gateCtesSql: String =
    s"""base AS (
       |  SELECT doc_id, text, source, n_chars,
       |    string_split(text, ' ') AS l
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, text, source, n_chars, l, len(l) AS n,
       |    CAST(len(list_filter(l, x -> x = list_aggregate(l, 'mode')))
       |      AS DOUBLE) / len(l) AS topw,
       |    1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS dup,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l) AS ml
       |  FROM base WHERE len(l) >= 2),
       |q AS (
       |  SELECT * FROM g
       |  WHERE NOT (n < 25 OR topw > 0.12 OR dup > 0.55
       |             OR ml < 3.9 OR ml > 5.1)),
       |lang AS (
       |  SELECT *, list_sort([
       |      $langStructsSql
       |    ])[${TextOps.langMarkers.size}] AS best
       |  FROM q),
       |en AS (SELECT * FROM lang WHERE best.hits > 0 AND best.lang = 'en')""".stripMargin

  private def oracleSql: String =
    s"""WITH $gateCtesSql,
       |ddup AS (
       |  SELECT * FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
       |    FROM en) t
       |  WHERE doc_id = rep),
       |counts AS (SELECT source, count(*) AS cnt FROM ddup GROUP BY source),
       |rates AS (
       |  SELECT source, CAST(least(65536,
       |      (65536 * sum(cnt) OVER ()) // (count(*) OVER () * cnt))
       |    AS BIGINT) AS rate16
       |  FROM counts),
       |mixed AS (
       |  SELECT d.source, d.doc_id, d.n_chars, d.n
       |  FROM ddup d JOIN rates r ON d.source = r.source
       |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
       |      AS INT) < r.rate16),
       |tagged AS (
       |  SELECT source, n_chars, n,
       |    CASE
       |      WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |        AS INT) < 3277 THEN 'test'
       |      WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |        AS INT) < 9830 THEN 'val'
       |      ELSE 'train'
       |    END AS split
       |  FROM mixed)
       |SELECT source, split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       |  CAST(sum(n) AS BIGINT) AS toks_kept
       |FROM tagged GROUP BY source, split""".stripMargin

  /** Stages 1-2 (quality gate + 'en' language gate) as a stateless
    * DataFrame transform: narrow codegen projections + filters, usable
    * identically in batch and Structured Streaming (the streaming corpus
    * intake — [[graft.streaming.DocStream]] — reuses it verbatim).
    * Keeps doc_id, text, source, n_chars, l (tokens), n (token count). */
  private[graft] def gates(in: DataFrame): DataFrame = {
    val l = split(col("text"), " ")
    val g = in
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
        l.as("l"))
      .filter(size(col("l")) >= 2)
      .withColumn("n", size(col("l")))
      .withColumn("ws", call_function("freq_stats", col("l")))
      .withColumn("topw",
        col("ws.max_freq").cast("double") / col("n").cast("double"))
      .withColumn("dup", lit(1.0) -
        col("ws.n_distinct").cast("double") / col("n").cast("double"))
      .withColumn("ml",
        length(regexp_replace(col("text"), " ", "")).cast("double") /
          col("n").cast("double"))
      .filter(!(col("n") < 25 || col("topw") > 0.12 || col("dup") > 0.55 ||
        col("ml") < 3.9 || col("ml") > 5.1))
    val scores = TextOps.langMarkers.map { case (lang, markers) =>
      struct(size(filter(col("l"), w => w.isin(markers: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    g.withColumn("best", greatest(scores: _*))
      .filter(col("best.hits") > 0 && col("best.lang") === "en")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
        col("l"), col("n"))
  }

  val assemble = Q("pipeline_assemble", oracleSql) { (s, dir) =>
    // stages 1-2: quality + language gates (shared with the streaming twin)
    val en = gates(docs(s, dir))
    // stage 3: exact dedup — one representative (min doc_id) per content
    // hash; the window shuffles fixed-width md5 keys, not the text
    val ddup = en
      .withColumn("rep",
        min("doc_id").over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("rep"))
    // stage 4: target-proportion mixing over the POST-filter counts
    // (curate_mix's integer rate arithmetic; tiny table broadcast back)
    val counts = ddup.groupBy("source").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"), count(lit(1)).as("nsrc"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(65536L),
          expr("(65536 * total) div (nsrc * cnt)")).as("rate16"))
    val h16 = conv(
      substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("int")
    val mixed = ddup.join(broadcast(rates), "source")
      .filter(h16 < col("rate16"))
    // stage 5: deterministic split (curate_split's hash ranges)
    val tagged = mixed.withColumn("split",
      when(h16 < 3277, "test").when(h16 < 9830, "val").otherwise("train"))
    // stage 6: accounting
    tagged.groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("chars_kept"),
        sum("n").cast("long").as("toks_kept"))
  }

  def all: Seq[Q] = Seq(assemble)
}
