package graft.server

import graft.{GraftSession, Tables}

/** Interactive SQL server — the `plandb` analogue (reference
  * cmd/main/main.go:68 serves psql wire protocol on :5432). Usage:
  *
  *   runMain graft.server.WireMain [port] [sfDir]
  *
  * Serves Spark SQL over the PostgreSQL v3 protocol on 127.0.0.1:port
  * (default 5432) with the driver testdata registered as views (default
  * sf0.001) and the lake catalog (`lake.<table>`) available via the
  * session's catalog extensions. Connect with any pg client:
  * `psql -h 127.0.0.1 -p 5432 -c 'SELECT ... FROM lineitem ...'`. */
object WireMain {
  def main(args: Array[String]): Unit = {
    val port = args.lift(0).map(_.toInt).getOrElse(5432)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.conf.set("spark.sql.catalog.lake", "graft.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.lake.root",
      sys.env.getOrElse("GRAFT_LAKE_ROOT", "/tmp/graft-lake"))
    val server = new WireServer(spark, port, Tables.register(_, sfDir))
    // scalastyle:off println
    println(s"graft wire server listening on 127.0.0.1:${server.boundPort}")
    // scalastyle:on println
    Thread.currentThread.join() // serve until killed
  }
}
