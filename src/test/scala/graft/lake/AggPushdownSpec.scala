package graft.lake

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Whole-table COUNT/MIN/MAX through the DSv2 door are answered from
  * manifest metadata (zero data IO); anything the metadata can't answer
  * exactly falls back to a real scan. */
class AggPushdownSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("lake-aggpd-").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("ts", TimestampType)))

  private def rows(r: (Long, String, java.lang.Double, Long)*) = {
    val data = new java.util.ArrayList[Row]()
    r.foreach { case (i, n, s, t) =>
      data.add(Row(i, n, s, new Timestamp(t * 1000)))
    }
    spark.createDataFrame(data, schema).coalesce(1)
  }

  private def fixture(): (String, LakeDataset) = {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.5, 100), (2, "b", null, 200)))
    ds.append(rows((3, "c", 3.5, 50), (4, null, 0.5, 400)))
    (root, ds)
  }

  test("count(*) / count(col) / min / max answer from metadata, no files") {
    val (root, _) = fixture()
    val t = spark.read.format("lake").load(root)
    val got = t.agg(
      count(lit(1)).as("n"), count(col("name")).as("n_name"),
      min("id"), max("id"), min("score"), max("score"),
      min("name"), max("name"), min("ts"), max("ts")).head()
    assert(got.getLong(0) == 4 && got.getLong(1) == 3)
    assert(got.getLong(2) == 1 && got.getLong(3) == 4)
    assert(got.getDouble(4) == 0.5 && got.getDouble(5) == 3.5)
    assert(got.getString(6) == "a" && got.getString(7) == "c")
    assert(got.getTimestamp(8) == new Timestamp(50 * 1000)
      && got.getTimestamp(9) == new Timestamp(400 * 1000))
    // the scan recorded 0 fragments opened out of 2
    assert(LakeDataSource.lastScan(root).contains((0, 2)))
    // and the plan really is the pushed-down scan: a bare Project over the
    // V1 bridge with the aggregate absorbed — no HashAggregate at all
    val plan = t.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("filters, deletion vectors, and group-by all fall back to a scan") {
    val (root, ds) = fixture()
    val t = spark.read.format("lake").load(root)
    // filter → our filters are residual, Spark won't offer the aggregate
    assert(t.filter("id > 1").agg(count(lit(1))).head().getLong(0) == 3)
    // group-by → not pushable
    val byName = t.groupBy("name").agg(count(lit(1))).collect()
    assert(byName.length == 4) // a, b, c, null
    // DV tombstones: manifest arithmetic would over-subtract → scan path
    ds.delete("id = 2", useDeletionVectors = true)
    val t2 = spark.read.format("lake").load(root)
    val g = t2.agg(count(lit(1)), min("id"), max("id")).head()
    assert(g.getLong(0) == 3 && g.getLong(1) == 1 && g.getLong(2) == 4)
    val plan = t2.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates"), plan)
  }

  test("version-pinned aggregate answers from that version's manifest") {
    val (root, ds) = fixture()
    val v1 = ds.version // after both appends
    ds.append(rows((9, "z", 9.9, 900)))
    val pinned = spark.read.format("lake")
      .option("versionAsOf", v1.toString).load(root)
    val g = pinned.agg(count(lit(1)), max("id")).head()
    assert(g.getLong(0) == 4 && g.getLong(1) == 4)
    val latest = spark.read.format("lake").load(root)
    assert(latest.agg(max("id")).head().getLong(0) == 9)
  }

  test("unparseable legacy stats fall back to a scan, not a planning crash") {
    // Round-4 ADVICE: legacy timestamp zonemaps rendered as session-timezone
    // strings (a format the batch pruner tolerates) threw NumberFormatException
    // during MIN/MAX planning. Forge such stats in the manifest and assert the
    // whole-table aggregate answers correctly through the scan path.
    val (root, ds) = fixture()
    val tsField = ds.manifest.fields.find(_.name == "ts").get
    val man2 = ds.manifest.copy(
      version = ds.manifest.version + 1,
      parentVersion = Some(ds.manifest.version),
      fragments = ds.manifest.fragments.map { f =>
        f.copy(stats = f.stats.map {
          case (fid, st) if fid == tsField.id.toString =>
            fid -> st.copy(min = st.min.map(_ => "2021-01-01 10:00:00"),
              max = st.max.map(_ => "2021-06-01 10:00:00"))
          case other => other
        })
      })
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_manifests",
        Manifest.versionFileName(man2.version)),
      Manifest.toJson(man2))
    val t = spark.read.format("lake").load(root)
    val g = t.agg(count(lit(1)).as("n"), min("ts"), max("ts")).head()
    assert(g.getLong(0) == 4)
    assert(g.getTimestamp(1) == new Timestamp(50 * 1000)
      && g.getTimestamp(2) == new Timestamp(400 * 1000))
    val plan = t.agg(min("ts")).queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates"), plan)
    // numeric columns with sane stats still push down on their own
    val g2 = t.agg(min("id"), max("id")).head()
    assert(g2.getLong(0) == 1 && g2.getLong(1) == 4)
  }

  test("pushed MIN/MAX over strings agree with a scan (UTF-8 byte order)") {
    val root = tmpDir()
    val ds = LakeDataset.create(spark, root, schema)
    ds.append(rows((1, "a", 1.0, 1), (2, "\uFFFD", 2.0, 2)))
    ds.append(rows((3, "b", 3.0, 3), (4, "\uD83D\uDE00", 4.0, 4)))
    val t = spark.read.format("lake").load(root)
    val g = t.agg(min("name"), max("name")).head()
    assert(LakeDataSource.lastScan(root).contains((0, 2)))
    val scanned = ds.read().agg(min("name"), max("name")).head()
    assert(g.getString(0) == "a" && g.getString(1) == "\uD83D\uDE00")
    assert(g == scanned)
  }

  test("count(distinct) and avg are NOT pushed; results stay correct") {
    val (root, _) = fixture()
    val t = spark.read.format("lake").load(root)
    val g = t.agg(countDistinct("name").as("d"), avg("score").as("a")).head()
    assert(g.getLong(0) == 3)
    assert(math.abs(g.getDouble(1) - (1.5 + 3.5 + 0.5) / 3) < 1e-9)
  }
}
