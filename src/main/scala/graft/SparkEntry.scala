package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ddl.DdlQueries
import graft.lake.{LakeQueries, StreamIngestQueries}
import graft.pipeline.{Ann, Assemble, Bpe, Clean, Cluster, Curate, Dedup, Fts, Multimodal, QualityModel, TextOps}
import graft.queries.{Events, Extra, Modern, RefSql, RefTpcds, RefTpchFull, Rel, Tpcds, Tpch, TpchMore}
import graft.server.WireQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full capability registry; each Q covers one operator/capability from
    * SURVEY.md §2 (or a beyond-reference pipeline operator). */
  lazy val registry: Seq[Q] =
    Tpch.all ++ TpchMore.all ++ Rel.all ++ Extra.all ++ Modern.all ++
      Events.all ++ Clean.all ++
      RefSql.all ++ RefTpchFull.all ++ RefTpcds.all ++ Tpcds.all ++
      TextOps.all ++ Curate.all ++ Dedup.all ++ Ann.all ++ Fts.all ++
      Cluster.all ++
      Multimodal.all ++ LakeQueries.all ++ StreamIngestQueries.all ++
      DdlQueries.all ++ Assemble.all ++
      QualityModel.all ++ Bpe.all ++ WireQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops, and for an
    * entry whose oracle cannot be built (a missing corpus file): its `run`
    * throws the same exception, so the failure is still recorded. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => Try(q.oracle).toOption.flatten.map(q.name -> _))
      .toMap
}
