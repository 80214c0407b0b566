package graft.lake

import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Seeded pruning-soundness fuzz: for every supported predicate shape,
  * across long, double, string, timestamp, date, decimal and timestamp_ntz
  * columns with nulls and NaNs in play, each pruned read — the scanner's
  * fragment pruning, the lake-format DSv2 read and the chunk-skipping open
  * — returns exactly the ids of the unpruned read filtered by the same
  * predicate. Strings mix code points below U+D800, in U+E000-U+FFFD and
  * beyond the BMP: the bands where UTF-16 and UTF-8 order disagree. */
class PruneSoundnessFuzzSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("t", TimestampType),
    StructField("dt", DateType),
    StructField("dec", DecimalType(10, 2)),
    StructField("ntz", TimestampNTZType)))

  private val ntzFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def str(rnd: Random, band: Int): String = band match {
    case 0 => f"w${rnd.nextInt(1000)}%04d"
    case 1 =>
      new String(Character.toChars(0xE000 + rnd.nextInt(0x1FFE))) +
        rnd.nextInt(10)
    case _ =>
      new String(Character.toChars(0x1F600 + rnd.nextInt(64))) +
        rnd.nextInt(10)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("pruned reads return exactly the unpruned answer on a random matrix") {
    spark.conf.set("spark.graft.manifestChunkThreshold", "2")
    spark.conf.set("spark.graft.manifestChunkSize", "2")
    try {
      val rnd = new Random(4242)
      val ds = LakeDataset.create(spark,
        Files.createTempDirectory("lake-fuzz-").toString, schema)
      val written = Seq.newBuilder[Row]
      // 12 single-fragment appends with varied ranges, nulls and NaNs; each
      // fragment's strings mostly come from one band
      (0 until 12).foreach { k =>
        val base = rnd.nextInt(1000)
        val rows = new java.util.ArrayList[Row]()
        (0 until 8).foreach { i =>
          val d: java.lang.Double = rnd.nextInt(20) match {
            case 0 | 1 => null
            case 2 => Double.NaN
            case _ => base + rnd.nextDouble() * 50 - 25
          }
          val s =
            if (rnd.nextInt(12) == 0) null
            else str(rnd, if (rnd.nextInt(4) == 0) rnd.nextInt(3) else k % 3)
          val t = new java.sql.Timestamp(
            1700000000000L + (base + rnd.nextInt(3600)) * 1000L)
          val dt =
            if (rnd.nextInt(10) == 0) null
            else java.sql.Date.valueOf(
              LocalDate.of(2024, 1, 1).plusDays(base / 10 + rnd.nextInt(5)))
          val dec = java.math.BigDecimal.valueOf(
            base * 100L + rnd.nextInt(5000), 2)
          val ntz = LocalDateTime.of(2024, 1, 1, 0, 0)
            .plusSeconds(base * 60L + rnd.nextInt(3600))
          val row = Row(k * 1000L + i, d, s, t, dt, dec, ntz)
          rows.add(row)
          written += row
        }
        ds.append(spark.createDataFrame(rows, schema).coalesce(1))
      }
      assert(ds.manifest.chunkFiles.nonEmpty)
      ds.enableValueSetIndex(Seq("s", "dt"))
      ds.enableBloomIndex(Seq("id", "dec"))

      val all = written.result()
      def some(col: Int): Row = {
        val present = all.filterNot(_.isNullAt(col))
        present(rnd.nextInt(present.size))
      }
      val preds = (0 until 2).flatMap { _ =>
        val v = rnd.nextInt(1200)
        val d = rnd.nextInt(1000) + rnd.nextDouble() * 50 - 25
        val day = LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(110))
        val dec = java.math.BigDecimal.valueOf(rnd.nextInt(105000), 2)
        val ntz = LocalDateTime.of(2024, 1, 1, 0, 0)
          .plusSeconds(rnd.nextInt(62000) * 1L).format(ntzFormat)
        Seq(
          s"id >= ${v * 10}", s"id < ${v * 10} AND id >= ${v * 5}",
          s"id < ${v * 10}.5",
          s"id IN (${Seq.fill(3)(rnd.nextInt(12) * 1000 + rnd.nextInt(8))
            .mkString(", ")})",
          f"d > $d%.4f", f"d <= $d%.4f", "d IS NULL",
          s"s = '${some(2).getString(2)}'",
          s"s >= '${str(rnd, rnd.nextInt(3))}'",
          s"s < '${str(rnd, rnd.nextInt(3))}'",
          s"s IN ('${some(2).getString(2)}', '${str(rnd, rnd.nextInt(3))}')",
          "s IS NOT NULL",
          s"t >= TIMESTAMP " +
            s"'2023-11-1${rnd.nextInt(5)} 0${rnd.nextInt(9)}:00:00'",
          s"dt = DATE '${some(4).getDate(4)}'", s"dt > DATE '$day'",
          s"dec >= $dec", s"dec = ${some(5).getDecimal(5)}",
          s"ntz < TIMESTAMP_NTZ '$ntz'",
          s"ntz = TIMESTAMP_NTZ " +
            s"'${some(6).getAs[LocalDateTime](6).format(ntzFormat)}'")
      }.distinct

      val table = spark.read.format("lake").load(ds.root)
      preds.foreach { p =>
        val truth = ids(ds.read().filter(p))
        assert(ids(ds.scanner().withFilter(p).build()) == truth,
          s"scanner, predicate '$p'")
        assert(ids(table.filter(p)) == truth, s"DSv2, predicate '$p'")
        // chunk-skip containment: openPruned retains every fragment that
        // fragment-level pruning keeps (it may keep more: chunk stats are
        // coarser), and the answer through the pruned handle is unchanged
        val kept = ds.pruneFragments(ds.manifest, p).map(_.id)
        val pruned = LakeDataset.openPruned(spark, ds.root, Some(p))
        val survivors = pruned.manifest.fragments.map(_.id).toSet
        assert(kept.forall(survivors), s"predicate '$p': chunk skip " +
          s"dropped kept fragments ${kept.filterNot(survivors)}")
        assert(ids(pruned.scanner().withFilter(p).build()) == truth,
          s"openPruned, predicate '$p'")
      }
      // the matrix exercises pruning, not only the keep-everything path
      val pruning =
        preds.count(p => ds.pruneFragments(ds.manifest, p).size < 12)
      assert(pruning > preds.size / 2, s"$pruning of ${preds.size} prune")
    } finally {
      spark.conf.unset("spark.graft.manifestChunkThreshold")
      spark.conf.unset("spark.graft.manifestChunkSize")
    }
  }
}
