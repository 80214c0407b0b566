package graft

import java.nio.file.{Files, Paths}

/** Non-interactive SQL runner — the counterpart of the reference's `tester`
  * binary (cmd/tester/main.go:42-113: run a query file against loaded
  * tables, write results). Usage:
  *
  * {{{
  *   runMain graft.Runner <sfDir> <file.sql> [more.sql ...] [--out <dir>]
  * }}}
  *
  * Each file may hold multiple `;`-separated statements, split by
  * [[graft.ddl.PgText]] (a `;` in a literal or a comment splits nothing);
  * the last statement's result is shown (and written as parquet under
  * --out/<basename>). */
object Runner {
  def main(args: Array[String]): Unit = {
    val (outDir, files0) = args.toSeq.drop(1) match {
      case rest if rest.contains("--out") =>
        val i = rest.indexOf("--out")
        (Some(rest(i + 1)), rest.patch(i, Nil, 2))
      case rest => (None, rest)
    }
    val sfDir = args(0)
    require(files0.nonEmpty, "usage: Runner <sfDir> <file.sql>... [--out dir]")
    val spark = GraftSession.local()
    Tables.register(spark, sfDir)
    files0.foreach { f =>
      val stmts = graft.ddl.PgText.statements(Files.readString(Paths.get(f)))
      val results = stmts.map(graft.ddl.SqlBridge.execute(spark, _))
      val last = results.last
      println(s"== $f ==")
      last.show(50, truncate = false)
      outDir.foreach { d =>
        val base = Paths.get(f).getFileName.toString.stripSuffix(".sql")
        last.coalesce(1).write.mode("overwrite").parquet(s"$d/$base")
      }
    }
    spark.stop()
  }
}
