package graft

import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` for named registry/bench-only
  * queries to text files — the before/after plan evidence the optimization
  * rounds commit under `plans/rNN/`.
  *
  * Usage: runMain graft.DumpPlans <outDir> <suffix> <name>[,<name>...]
  * (data dir from SPARK_GRAFT_SF_DIR, defaults to sf0.1 — plan shape only,
  * nothing is executed.) */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: DumpPlans <outDir> <suffix> <names,csv>")
    val Array(outDir, suffix, namesCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val benchOnly =
      (graft.queries.Tpcds.benchOnly ++ graft.queries.RefTpchFull.benchOnly)
        .map(q => q.name -> q.run).toMap
    val all = SparkEntry.queries ++ benchOnly
    Files.createDirectories(Paths.get(outDir))
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = all(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"dumped $n -> $outDir/${n}_$suffix.txt")
      SessionHygiene.sweep(spark)
    }
    spark.stop()
  }
}
