package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    // Fresh outDir: a stale dump from a previous run must never mask a
    // newly-broken query as PASS (round-1 advice on dev/compare.py).
    val root = Paths.get(outDir)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    Files.createDirectories(root)
    // Per-query status: ok / error(+exception class and message), written
    // beside the dumps so a thrown query is distinguishable from an empty
    // result in the driver artifacts (round-4 VERDICT nit).
    val status = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    // Dev-only subsetting (same contract as Bench): SPARK_GRAFT_ONLY=a,b,c
    // dumps just those queries and trims oracle_sql.json to match, so
    // compare.py on a filtered run checks exactly the filtered set.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // Each entry's oracle is built inside its own try: a corpus entry whose
    // file is missing records its error here and is left out of
    // oracle_sql.json, and the rest still run.
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.registry.filter(entry => keep(entry.name)).foreach { entry =>
      try {
        entry.oracle.foreach(oracles(entry.name) = _)
        entry.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${entry.name}")
        status(entry.name) = ("ok", "")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${entry.name} failed: ${e.getMessage}")
        status(entry.name) = ("error", s"${e.getClass.getName}: ${e.getMessage}")
      }
      SessionHygiene.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status
      .map { case (k, (st, msg)) =>
        s"${q(k)}: {${q("status")}: ${q(st)}, ${q("error")}: ${q(msg)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/query_status.json"), statusJson)
    spark.stop()
  }
}
