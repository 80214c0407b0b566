package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.lake.LakeDataset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `lake_ingest`: writes beside reads on one `LakeDataset`. Each pass builds
  * a fresh table from the generated `orders`: key-ordered `append` batches,
  * selective `read().filter` scans and `countRows` probes that zonemaps can
  * prune, one `mergeInsert` upsert, one `delete`, one `compact`. The batch
  * ranges, scan ranges, predicates and the merge source come from the plan
  * run.py writes, which also derives the expected counts and checksums. */
final class LakeIngest(b: Bench) {
  private val dir = b.args.inputs
  private val plan = Json.read(s"${b.args.work}/lake_plan.json")
    .asInstanceOf[Map[String, Any]]
  private def ranges(k: String): Seq[(Long, Long)] =
    plan(k).asInstanceOf[List[List[BigInt]]].map(r => (r(0).toLong, r(1).toLong))
  private val batches = ranges("batches")
  private val scans = ranges("scans")
  private val counts = plan("counts").asInstanceOf[List[String]]
  private val deletePred = plan("delete").toString
  private val results = mutable.Map[Int, Map[String, Any]]()
  private val pruneMs = mutable.Buffer[Double]()
  private val opened = mutable.Buffer[Double]()

  private def keyRange(lo: Long, hi: Long) =
    s"o_orderkey >= $lo AND o_orderkey < $hi"

  def run(): Unit = {
    val s = b.spark
    b.setup {
      val orders = b.tables(Tables.load(s, dir, "orders"))
      val root = tableRoot("setup")
      val ds = LakeDataset.create(s, root, orders.schema)
      b.op("append", "append", -1)(ds.append(batch(orders, batches.head)))
      delete(Paths.get(root))
    }
    b.layers("tables.loads") = 1
    b.assertNoDeniedClasses()
    b.warmup(3)(cycle(s, _))
    b.measure(cycle(s, _))
    b.outputs("lake") = results(0)
    results.foreach { case (p, r) =>
      if (r != results(0)) b.check(s"lake.pass$p", ok = false,
        "pass results differ from the first measured pass")
    }
    if (pruneMs.nonEmpty) {
      b.layers("lake.prune_ms") = pruneMs.sum / pruneMs.size
      b.layers("lake.fragments_opened_ratio") = opened.sum / opened.size
    }
  }

  private def tableRoot(name: String): String =
    Paths.get(b.args.work, "lake", name).toAbsolutePath.toString

  private def batch(orders: DataFrame, r: (Long, Long)): DataFrame =
    orders.filter(expr(keyRange(r._1, r._2)))

  /** One pass: the fixed sequence of lake operations on a fresh table. */
  private def cycle(s: SparkSession, pass: Int): Unit = {
    val orders = Tables.load(s, dir, "orders")
    val root = tableRoot(s"pass$pass")
    val out = mutable.LinkedHashMap[String, Any]()
    val after = mutable.Buffer[Long]()
    b.op("create", "create", pass)(
      b.layer("lake.create")(LakeDataset.create(s, root, orders.schema)))
      .foreach { ds =>
        batches.foreach { r =>
          b.op("append", "append", pass)(
            b.layer("lake.append")(ds.append(batch(orders, r))))
          b.untimed(after += ds.countRows())
        }
        val fragments = ds.manifest.fragments.size
        out("scans") = scans.map { case (lo, hi) =>
          b.op("scan", "scan", pass)(b.layer("lake.scan") {
            ds.read().filter(expr(keyRange(lo, hi))).collect()
          }).map { rows =>
            Seq(rows.length.toLong,
              rows.map(_.getAs[Long]("o_orderkey")).sum,
              rows.map(r => math.round(r.getAs[Double]("o_totalprice") * 100)).sum)
          }.orNull
        }
        if (b.tracer.on) b.untimed(scans.foreach { case (lo, hi) =>
          val t0 = Clock.nowNs
          val n = ds.prunedFileCount(keyRange(lo, hi))
          pruneMs += (Clock.nowNs - t0) / 1e6
          opened += n.toDouble / fragments
        })
        out("counts") = counts.map(p =>
          b.op("count", "count", pass)(
            b.layer("lake.count")(ds.countRows(Some(p)))).getOrElse(-1L))
        val source = s.read.parquet(s"${b.args.work}/merge_source.parquet")
        out("merge") = b.op("merge", "merge", pass)(
          b.layer("lake.merge")(ds.mergeInsert(source, Seq("o_orderkey"))))
          .map { case (m, i) => Seq(m, i) }.orNull
        b.untimed(after += ds.countRows())
        out("deleted") = b.op("delete", "delete", pass)(
          b.layer("lake.delete")(ds.delete(deletePred))).getOrElse(-1L)
        b.untimed(after += ds.countRows())
        b.op("compact", "compact", pass)(b.layer("lake.compact")(ds.compact()))
        b.untimed {
          after += ds.countRows()
          out("rows_after") = after.toSeq
          out("final") = checksum(ds.read())
          if (pass == 0) stats(ds, root, fragments)
        }
      }
    b.untimed {
      results(pass) = out.toMap
      delete(Paths.get(root))
    }
  }

  private def checksum(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("o_orderkey")),
      sum(round(col("o_totalprice") * 100).cast("long")),
      sum(when(col("o_orderstatus") === "U", 1).otherwise(0))).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Storage accounting of the first measured pass. `lake.write_amp` is all
    * bytes under the table root over the bytes of the same final rows
    * written once as plain parquet. */
  private def stats(ds: LakeDataset, root: String, fragments: Int): Unit = {
    val written = size(Paths.get(root))
    val plain = Paths.get(b.args.work, "plain")
    ds.read().coalesce(1).write.mode("overwrite").parquet(plain.toString)
    b.layers("lake.fragments") = fragments
    b.layers("lake.bytes_written") = written
    b.layers("lake.manifest_bytes") = size(Paths.get(root, "_manifests"))
    b.layers("lake.versions") = ds.versions.size
    b.layers("lake.write_amp") = written.toDouble / size(plain)
    delete(plain)
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.toList finally st.close()
    }

  private def size(p: Path): Long = files(p).filter(f =>
    Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
    .map(Files.size).sum

  private def delete(p: Path): Unit =
    files(p).reverse.foreach(Files.deleteIfExists)
}
