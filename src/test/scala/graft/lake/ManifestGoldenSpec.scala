package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Every committing public operation writes exactly the manifests recorded
  * in `src/test/resources/manifest-goldens`: each scenario drives a small
  * table through a sequence of commits and compares every version file, in
  * every namespace, byte for byte. Only the commit timestamp and the UUIDs
  * inside file names are normalized. */
class ManifestGoldenSpec extends SparkTestBase {
  import ManifestGoldenSpec._

  scenarios.foreach { case (name, run) =>
    test(s"$name writes the golden manifests") {
      val expected = Files.readString(GoldenDir.resolve(s"$name.txt"))
      assert(render(run(spark)) == expected)
    }
  }
}

object ManifestGoldenSpec {
  val GoldenDir: Path = Paths.get("src/test/resources/manifest-goldens")

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val CreatedMs = "\"createdMs\"\\s*:\\s*\\d+".r

  /** Every version file under `root` (main, branches, and the tables of a
    * catalog root), in path order, normalized. */
  def render(root: String): String = {
    val base = Paths.get(root)
    val files = Files.walk(base).iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d{20}\\.json"))
      .map(p => base.relativize(p).toString)
      .toSeq.sorted
    files.map { rel =>
      val json = Files.readString(base.resolve(rel))
      val norm = Uuid.replaceAllIn(
        CreatedMs.replaceAllIn(json, "\"createdMs\" : 0"), "<uuid>")
      s"== $rel\n$norm\n"
    }.mkString
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("cat", StringType), StructField("v", DoubleType)))

  private def rows(spark: SparkSession, values: String,
      cols: String = "id, cat, v"): DataFrame =
    spark.sql(s"SELECT * FROM VALUES $values AS t($cols)").coalesce(1)

  private def fresh(spark: SparkSession, s: StructType = schema) =
    LakeDataset.create(spark,
      Files.createTempDirectory("manifest-golden-").toString, s)

  /** Scenario name → run it on a fresh root, return that root. */
  val scenarios: Seq[(String, SparkSession => String)] = Seq(
    "appends" -> { spark =>
      val ds = fresh(spark)
      ds.append(rows(spark, "(1, 'a', 1.0D), (2, 'b', 2.0D), (3, 'a', 3.0D)"))
      ds.append(rows(spark, "(4, 'c', 4.0D)"), Map("owner" -> "etl"))
      val batch = rows(spark, "(5, 'd', 5.0D), (6, 'd', 6.0D)")
      assert(ds.appendStreamingBatch(batch, "q", 0L))
      assert(!ds.appendStreamingBatch(batch, "q", 0L))
      val dup = rows(spark, "(6, 'e', 6.5D), (7, 'e', 7.0D), (7, 'e', 7.0D)")
      assert(ds.dedupAppendStreamingBatch(dup, Seq("id"), "dq", 0L))
      assert(!ds.dedupAppendStreamingBatch(dup, Seq("id"), "dq", 0L))
      val up = rows(spark, "(1, 'A', 10.0D), (8, 'f', 8.0D)")
      assert(ds.upsertStreamingBatch(up, Seq("id"), "uq", 0L))
      assert(!ds.upsertStreamingBatch(up, Seq("id"), "uq", 0L))
      // a batch that changes nothing still commits its high-water mark
      assert(ds.upsertStreamingBatch(up.limit(0), Seq("id"), "uq2", 0L))
      // one new column, one dataset column missing from the batch
      ds.appendMergeSchema(rows(spark, "(9, 'g', 7)", "id, cat, w"))
      ds.root
    },
    "detached_overwrite" -> { spark =>
      val ds = fresh(spark)
      ds.append(rows(spark, "(1, 'a', 1.0D), (2, 'b', 2.0D)"))
      ds.commitDetached(ds.createDetachedAppend(rows(spark, "(3, 'c', 3.0D)")))
      ds.commitDetached(ds.createDetachedDelete("id = 1"))
      ds.commitDetached(
        ds.createDetachedOverwrite(rows(spark, "(4, 'd', 4.0D)")))
      ds.overwrite(rows(spark, "(5, 'e', 5.0D), (6, 'f', 6.0D)"))
      ds.overwriteMergeSchema(rows(spark, "(7, 'g', 8)", "id, cat, w"))
      ds.root
    },
    "dml" -> { spark =>
      val ds = fresh(spark)
      ds.append(rows(spark,
        "(1, 'a', 1.0D), (2, 'b', 2.0D), (3, 'a', 3.0D), (4, 'b', 4.0D)"))
      ds.append(rows(spark, "(5, 'a', 5.0D), (6, 'c', 6.0D)"))
      assert(ds.delete("id = 2") == 1)
      assert(ds.delete("id = 5", useDeletionVectors = true) == 1)
      assert(ds.update("cat = 'a'", Map("v" -> "v + 100")) == 2)
      assert(ds.mergeInsert(rows(spark, "(4, 'B', 40.0D), (9, 'z', 9.0D)"),
        Seq("id")) == ((1L, 1L)))
      ds.purgeDeletes()
      ds.root
    },
    "sql_dml" -> { spark =>
      val root = Files.createTempDirectory("manifest-golden-sql-").toString
      spark.conf.set("spark.sql.catalog.mgold", "graft.lake.LakeCatalog")
      spark.conf.set("spark.sql.catalog.mgold.root", root)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS mgold.db")
      spark.sql("CREATE TABLE mgold.db.cow (id BIGINT, cat STRING, v DOUBLE)")
      spark.sql(
        """CREATE TABLE mgold.db.mor (id BIGINT, cat STRING, v DOUBLE)
          |TBLPROPERTIES ('write.dml.mode' = 'mor')""".stripMargin)
      Seq("cow", "mor").foreach { t =>
        spark.sql(s"INSERT INTO mgold.db.$t VALUES (1, 'aa', 1.0), " +
          "(2, 'bb', 2.0), (3, 'ab', 3.0), (4, 'cc', 4.0)")
        spark.sql(s"UPDATE mgold.db.$t SET v = v + 10 WHERE cat = 'aa'")
        spark.sql(
          s"""MERGE INTO mgold.db.$t t
             |USING (SELECT * FROM VALUES (2, 'BB', 20.0), (5, 'ee', 5.0)
             |       AS s(id, cat, v)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET t.cat = s.cat, t.v = s.v
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        spark.sql(s"DELETE FROM mgold.db.$t WHERE cat LIKE 'a%'")
        spark.sql(s"DELETE FROM mgold.db.$t WHERE id = 4")
      }
      root
    },
    "schema_props" -> { spark =>
      val ds = fresh(spark, StructType(Seq(StructField("id", LongType),
        StructField("s", StructType(Seq(StructField("a", IntegerType),
          StructField("b", StringType)))),
        StructField("v", IntegerType))))
      ds.append(spark.sql(
        """SELECT * FROM VALUES (1, named_struct('a', 1, 'b', 'x'), 10),
          |(2, named_struct('a', 2, 'b', 'y'), 20) AS t(id, s, v)"""
          .stripMargin).coalesce(1))
      ds.setProperties(Map("x" -> "1", "y" -> "2"))
      ds.removeProperties(Seq("x"))
      ds.addColumns(StructType(Seq(StructField("w", StringType))))
      ds.renameColumn("w", "w2")
      ds.alterColumnType("v", LongType)
      ds.dropColumns(Seq("w2"))
      ds.addNestedField("s", "c", DoubleType)
      ds.renameNestedField("s", "c", "d")
      ds.dropNestedField("s", "d")
      ds.restore(2)
      ds.root
    },
    "index_layout" -> { spark =>
      val ds = fresh(spark)
      ds.append(rows(spark, "(3, 'a', 3.0D), (1, 'b', 1.0D)"))
      ds.append(rows(spark, "(2, 'a', 2.0D), (6, 'c', 6.0D)"))
      ds.append(rows(spark, "(5, 'b', 5.0D), (4, 'c', 4.0D)"))
      ds.enableBloomIndex(Seq("id"))
      ds.enableValueSetIndex(Seq("cat"))
      assert(ds.delete("id = 6", useDeletionVectors = true) == 1)
      ds.purgeDeletes()
      ds.append(rows(spark, "(7, 'a', 7.0D)"))
      ds.optimizeLayout("id")
      ds.append(rows(spark, "(8, 'b', 8.0D)"))
      ds.append(rows(spark, "(9, 'c', 9.0D)"))
      ds.compact()
      ds.append(rows(spark, "(10, 'a', 10.0D)"))
      ds.append(rows(spark, "(11, 'b', 11.0D)"))
      ds.compactGroup(ds.planCompaction().head)
      ds.root
    },
    "branches" -> { spark =>
      val ds = fresh(spark)
      ds.append(rows(spark, "(1, 'a', 1.0D), (2, 'b', 2.0D)"))
      ds.createBranch("ff")
      val ff = ds.checkoutBranch("ff")
      ff.append(rows(spark, "(3, 'c', 3.0D)"))
      ff.delete("id = 1")
      ds.mergeBranch("ff")
      ds.createBranch("dev")
      val dev = ds.checkoutBranch("dev")
      dev.append(rows(spark, "(4, 'd', 4.0D)"))
      dev.update("id = 2", Map("v" -> "20.0"))
      ds.append(rows(spark, "(5, 'e', 5.0D)"))
      ds.mergeBranchRebase("dev")
      ds.root
    })
}
