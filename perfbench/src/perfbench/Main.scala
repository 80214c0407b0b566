package perfbench

/** JVM half of the benchmark: runs one workload and writes its raw record
  * (op timings, set-up samples, spans, job accounting, results to check).
  * run.py builds it, generates the inputs, starts it, and turns the record
  * into metrics. */
object Main {
  val Cores = 2

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = Bench.session(Cores)
    spark.sparkContext.setLogLevel("WARN")
    val b = new Bench(args, spark)
    args.workload match {
      case "pipe_dedup" => new PipeDedup(b).run()
      case "lake_ingest" => new LakeIngest(b).run()
      case "wire_point" => new WirePoint(b).run()
    }
    b.write()
    spark.stop()
  }
}
