package graft.ddl

import java.util.UUID

import graft.{Q, ScratchDir}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Driver-visible DDL/DML round-trip: CREATE SCHEMA + CREATE TABLE (with a
  * declared PK) → INSERT VALUES → COPY FROM parquet → query → COPY TO.
  * Returns a deterministic one-row summary; exact semantics are pinned by
  * EngineSpec. */
object DdlQueries {

  /** Every summary value is statically known (3 inserted rows, their price
    * sum) or derivable from the source parquet (COPY FROM / COPY TO row
    * counts equal `region`'s), so DuckDB states the expectation directly —
    * the INSERT path, the engine's price aggregation, COPY FROM fidelity,
    * and the CSV export round-trip are all value-checked, not just
    * rows>0. 2.35 is CAST to DOUBLE: a bare literal would be DECIMAL,
    * which the driver hashes asymmetrically (CORRECTNESS_r04). */
  private val roundTripOracle =
    """SELECT CAST(3 AS BIGINT) AS n_items,
      |  CAST(2.35 AS DOUBLE) AS total_price,
      |  (SELECT count(*) FROM region) AS n_copied,
      |  (SELECT count(*) FROM region) AS n_region,
      |  CAST(3 AS BIGINT) AS n_exported,
      |  CAST(2.35 AS DOUBLE) AS exported_total""".stripMargin

  val roundTrip: Q = Q("ddl_roundtrip", roundTripOracle) { (s, dir) =>
    val id = UUID.randomUUID().toString.replace("-", "").take(10)
    val db = s"graft_$id"
    val loc = ScratchDir(s"graft-ddl-$id")
    try {
      Engine.createSchema(s, db, Some(s"$loc/db"))
      Engine.createTable(s, s"$db.items",
        StructType(Seq(
          StructField("item_id", LongType, nullable = false),
          StructField("name", StringType),
          StructField("price", DoubleType))),
        primaryKey = Seq("item_id"))
      Engine.insertInto(s, s"$db.items", s.createDataFrame(
        java.util.List.of(
          Row(1L, "bolt", 1.5), Row(2L, "nut", 0.75), Row(3L, "washer", 0.1)),
        s.table(s"$db.items").schema))
      Engine.createTable(s, s"$db.region_copy",
        StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType))))
      val copied = Engine.copyFrom(s, s"$db.region_copy",
        s"$dir/region.parquet")
      Engine.copyTo(s.table(s"$db.items"), s"$loc/export", "csv",
        Map("header" -> "true"))
      // COPY TO fidelity is CONTENT-checked, not just row-counted: the
      // re-read export must reproduce the price sum exactly
      val back = s.read.option("header", "true").csv(s"$loc/export")
      val exported = back.count()
      val exportedTotal = back.agg(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("price").cast("double")))
        .collect().head.getDouble(0)
      val nItems = s.table(s"$db.items").count()
      val total = s.table(s"$db.items").groupBy().sum("price")
        .collect().head.getDouble(0)
      val nRegion = s.table(s"$db.region_copy").count()
      import s.implicits._
      Seq((nItems, math.round(total * 100) / 100.0, copied, nRegion, exported,
        math.round(exportedTotal * 100) / 100.0))
        .toDF("n_items", "total_price", "n_copied", "n_region", "n_exported",
          "exported_total")
    } finally Engine.dropSchema(s, db)
  }

  def all: Seq[Q] = Seq(roundTrip)
}
