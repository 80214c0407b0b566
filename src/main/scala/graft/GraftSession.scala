package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession. The graft
  * functions need no call here: [[graft.functions.GraftExtensions]] puts
  * them in every session through Spark's extensions service loader. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session (or the running one): one shuffle partition
    * per core, 16 MB file splits, UTC, no UI, WARN logging. */
  def local(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // compact table layouts (16-file sf1/sf5 bench dirs) bin-pack into a
      // handful of 128 MB read tasks, idling most cores through the scan +
      // partial-agg stage; 16 MB splits keep every core fed
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
