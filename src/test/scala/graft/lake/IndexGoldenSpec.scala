package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s.JsonAST.{JObject, JString}
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** The persisted FTS, IVF and HNSW indexes write exactly the segments and
  * answer exactly the searches recorded in `src/test/resources/
  * index-goldens`. Each scenario builds an index on a small deterministic
  * table, then appends, refreshes, deletes, compacts and refreshes again,
  * and runs every search API along the way. Segment dir names, sub-dir
  * names, parquet rows and search results compare as text; each
  * `meta.json` compares as a JSON object, so key order and spacing may
  * differ. */
class IndexGoldenSpec extends SparkTestBase {
  import IndexGoldenSpec._

  scenarios.foreach { case (name, run) =>
    test(s"$name writes the golden segments and search results") {
      val expected = blocks(Files.readString(GoldenDir.resolve(s"$name.txt")))
      val actual = blocks(run(spark))
      assert(actual.map(_._1) == expected.map(_._1))
      actual.zip(expected).foreach { case ((head, got), (_, want)) =>
        if (head.startsWith("meta ")) {
          assert(jsonObject(got) == jsonObject(want), head)
          // a segment written before the store reads through its codec
          assert(IndexStore.Meta.parse(want).fields ==
            jsonObject(want).map { case (k, v) => k -> v.toString }, head)
        } else assert(got == want, head)
      }
    }
  }
}

object IndexGoldenSpec {
  val GoldenDir: Path = Paths.get("src/test/resources/index-goldens")

  /** `== header` blocks of a rendered scenario. */
  def blocks(s: String): Seq[(String, String)] =
    s.split("(?m)^== ").toSeq.filter(_.nonEmpty).map { b =>
      val nl = b.indexOf('\n')
      (b.take(nl), b.drop(nl + 1))
    }

  private def jsonObject(s: String): Map[String, Any] =
    JsonMethods.parse(s) match {
      case JObject(fs) => fs.map {
        case (k, JString(v)) => k -> v
        case (k, v) => k -> v.values
      }.toMap
      case other => throw new AssertionError(s"not a JSON object: $other")
    }

  private val Dim = 16
  private val Words = Seq("spark", "lake", "index", "vector", "table", "scan",
    "graph", "query", "merge", "delta", "token", "score")
  private val Hanzi = Seq("数据", "湖仓", "索引", "向量", "查询", "图谱", "合并",
    "分词")

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("ztext", StringType),
    StructField("vec", ArrayType(FloatType))))

  /** Rows `from until to`: a few null texts and vectors, the rest a
    * formula of the id. */
  private def batch(spark: SparkSession, from: Int, to: Int): DataFrame = {
    val rows = (from until to).map { i =>
      val text =
        if (i % 23 == 11) null
        else (0 until 3 + i % 5)
          .map(j => Words((i * 7 + j * j * 3 + j) % Words.size)).mkString(" ")
      val ztext =
        if (i % 19 == 7) null
        else (0 until 2 + i % 3).map(j => Hanzi((i * 5 + j * 3) % Hanzi.size))
          .mkString
      val vec =
        if (i % 29 == 13) null
        else (0 until Dim).map(j =>
          math.sin(i * 0.61 + j * 1.7 + (i % 7) * 0.3).toFloat)
      Row(i.toLong, text, ztext, vec)
    }
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  private def queryVec(i: Int): Seq[Float] =
    (0 until Dim).map(j => math.sin(i * 0.61 + j * 1.7 + (i % 7) * 0.3).toFloat)

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("bytes[", ", ", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ", ", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }
        .sorted.mkString("{", ", ", "}")
    case other => other.toString
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(render).toSeq

  /** Every committed or torn segment of every index under `root`: its
    * sub-dirs, its meta and its parquet rows (sorted). */
  private def segments(spark: SparkSession, root: String): String = {
    val base = Paths.get(root).resolve("_indexes")
    def ls(p: Path): Seq[Path] =
      Files.list(p).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    ls(base).filter(p => Files.isDirectory(p)).flatMap(ls).map { seg =>
      val rel = Paths.get(root).relativize(seg).toString
      val subs = ls(seg).filter(p => Files.isDirectory(p))
      val meta = seg.resolve("meta.json")
      s"== dirs $rel\n${subs.map(_.getFileName).mkString(" ")}\n" +
        (if (Files.exists(meta)) s"== meta $rel\n${Files.readString(meta)}\n"
         else "") +
        subs.map { sub =>
          s"== rows $rel/${sub.getFileName}\n" +
            rowsOf(spark.read.parquet(sub.toString)).sorted.mkString("\n") + "\n"
        }.mkString
    }.mkString
  }

  private def search(label: String, df: DataFrame): String =
    s"== search $label\n${rowsOf(df).mkString("\n")}\n"

  /** build → append → refresh → delete → compact → refresh (no-op) →
    * append → refresh, with `searches` run after the first refresh and at
    * the end. Returns the rendered segments and search results. */
  private def lifecycle(spark: SparkSession, build: LakeDataset => Unit,
      refresh: LakeDataset => Unit,
      searches: LakeDataset => Seq[String]): String = {
    val ds = LakeDataset.create(spark,
      Files.createTempDirectory("index-golden-").toString, schema)
    ds.append(batch(spark, 0, 120))
    build(ds)
    ds.append(batch(spark, 120, 160))
    refresh(ds)
    val mid = searches(ds)
    ds.delete("id % 10 = 3")
    ds.compact()
    refresh(ds)
    ds.append(batch(spark, 160, 180))
    refresh(ds)
    (mid.map(_.replace("== search ", "== search mid ")) ++ searches(ds) :+
      segments(spark, ds.root)).mkString
  }

  private def ftsScenario(tokenizer: String, col: String, terms: Seq[String],
      text: String): SparkSession => String = spark => {
    val phrase = graft.pipeline.Fts.tokenizeQuery(text, tokenizer)
    lifecycle(spark,
      ds => FtsIndex.build(ds, col, tokenizer = tokenizer),
      ds => FtsIndex.refresh(ds, col),
      ds => {
        val (pruned, stats) = FtsIndex.searchPruned(ds, terms, 5)
        Seq(
          search("search", FtsIndex.search(ds, terms, 5)),
          search("searchText", FtsIndex.searchText(ds, text, 5)),
          search("searchPruned", pruned),
          s"== search searchPruned stats\n$stats\n",
          search("phraseSearch", FtsIndex.phraseSearch(ds, phrase, 5)),
          search("phraseSearchText", FtsIndex.phraseSearchText(ds, text, 5)))
      })
  }

  private def ivfScenario(quantizer: String): SparkSession => String = spark =>
    lifecycle(spark,
      ds => VectorIndex.build(ds, "vec", quantizer = quantizer),
      ds => VectorIndex.refresh(ds, "vec"),
      ds => Seq(5, 130).flatMap { i =>
        val q = queryVec(i)
        Seq(
          search(s"exact $i", VectorIndex.search(ds, "vec", q, 5)),
          search(s"hnsw-probe $i",
            VectorIndex.search(ds, "vec", q, 5, probeVia = "hnsw")),
          search(s"prefilter $i", VectorIndex.search(ds, "vec", q, 5,
            prefilter = Some("id % 2 = 0"))))
      })

  private val hnswScenario: SparkSession => String = spark =>
    lifecycle(spark,
      ds => HnswIndex.build(ds, "vec"),
      ds => HnswIndex.refresh(ds, "vec"),
      ds => Seq(5, 130).map(i =>
        search(s"hnsw $i", HnswIndex.search(ds, "vec", queryVec(i), 5))))

  /** Scenario name → run it on a fresh root, return its rendering. */
  val scenarios: Seq[(String, SparkSession => String)] = Seq(
    "fts_whitespace" -> ftsScenario("whitespace", "text",
      Seq("spark", "graph", "token"), "spark table"),
    "fts_cjk" -> ftsScenario("cjk", "ztext", Seq("数据", "湖仓"), "数据向量"),
    "ivf_flat" -> ivfScenario("flat"),
    "ivf_pq" -> ivfScenario("pq"),
    "ivf_sq" -> ivfScenario("sq"),
    "ivf_bq" -> ivfScenario("bq"),
    "hnsw" -> hnswScenario)
}
