package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Index names are checked once, in the [[IndexStore]], before any index
  * family writes a byte. */
class IndexStoreSpec extends SparkTestBase {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType))))

  test("an index named bloom or ../x is refused and nothing is written") {
    val builds: Seq[(String, (LakeDataset, String) => Unit)] = Seq(
      "fts" -> ((ds, n) => FtsIndex.build(ds, "text", name = n)),
      "ivf" -> ((ds, n) => VectorIndex.build(ds, "vec", name = n)),
      "hnsw" -> ((ds, n) => HnswIndex.build(ds, "vec", name = n)))
    for ((family, build) <- builds; name <- Seq("bloom", "../x")) {
      val root = Files.createTempDirectory("index-store-").toString
      val ds = LakeDataset.create(spark, root, schema)
      ds.append(spark.createDataFrame(java.util.Arrays.asList(
        (0 until 20).map(i => Row(i.toLong, s"w$i",
          Seq.tabulate(8)(j => ((i + j) % 5).toFloat))): _*), schema))
      intercept[IllegalArgumentException](build(ds, name))
      assert(!Files.exists(Paths.get(root, "_indexes")), s"$family $name")
      assert(!Files.exists(Paths.get(root, "x")), s"$family $name")
      assert(ds.listIndexes().isEmpty)
      intercept[IllegalArgumentException](ds.dropIndex(name))
    }
  }
}
