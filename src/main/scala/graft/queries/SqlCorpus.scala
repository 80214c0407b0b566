package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.NoSuchFileException

import org.apache.spark.sql.SparkSession

import graft.Q

/** The SQL corpus the file-backed registry entries run: one file per entry,
  * read from the classpath under `prefix` and named relative to it
  * (`tpch/q1.sql`, `tpcds/q14a.sql`, `tpcds/ddl.sql`).
  *
  * A query file holds the exact statement both engines run. Its header
  * `--` comment lists how it deviates from the DuckDB base text and why;
  * `dev/corpus.py --diff` prints the deviations.
  *
  * This is the only code that knows where the corpus lives, how to read a
  * file, and how a statement becomes a [[Q]]. Nothing is read until an
  * entry's `run` or `oracle` is used, so a missing file fails that entry
  * alone, with a `NoSuchFileException` naming the resource. */
final class SqlCorpus(prefix: String) {

  /** The statements of `file`: whole-line `--` comments dropped, split on
    * `;`, trimmed, empty pieces skipped. */
  def statements(file: String): Seq[String] = {
    val path = s"$prefix/$file"
    val in = getClass.getClassLoader.getResourceAsStream(path)
    if (in == null) throw new NoSuchFileException(path)
    val raw = try new String(in.readAllBytes(), UTF_8) finally in.close()
    raw.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The one statement of query file `file`: what both engines run. */
  def text(file: String): String = statements(file) match {
    case Seq(sql) => sql
    case more => throw new IllegalArgumentException(
      s"$prefix/$file holds ${more.size} statements, not one")
  }

  /** Registry entry for query file `file` over `gen`'s tables. The text
    * is read on first use inside `run` (or `oracle`); `run` registers only
    * the tables the text uses, in an isolated `newSession()` so generated
    * names never shadow the driver-testdata views. At `scale` 1 the entry
    * carries its DuckDB oracle; a scaled bench twin (`<name>_x<scale>`,
    * facts grown by [[TableGen.rowsAt]]) has none — its scale-1 twin
    * carries correctness. */
  def entry(name: String, file: String, gen: TableGen, scale: Long = 1): Q = {
    lazy val sql = text(file)
    val run = (s: SparkSession, _: String) => {
      val isolated = s.newSession()
      gen.register(isolated, scale, tables = gen.usedTables(sql))
      isolated.sql(sql)
    }
    if (scale == 1) Q(name, SqlCorpus.oracleFor(gen, sql))(run)
    else Q.noOracle(s"${name}_x$scale")(run)
  }
}

object SqlCorpus {

  /** The committed corpus, `src/main/resources/queries`. */
  val queries = new SqlCorpus("queries")

  /** DuckDB oracle: generator prelude + the same query text; a query that
    * itself starts WITH merges its CTE list into the prelude's.
    *
    * The query's own CTEs are rewritten `name AS (SELECT …)` →
    * `name AS MATERIALIZED (SELECT …)` on the oracle side only, for the
    * same reason the prelude is materialized: DuckDB 1.0.0 returns
    * nondeterministic row sets when multi-join plans stream directly over
    * range()-derived CTEs (bisected on q46: 995–1003 rows across identical
    * runs vs the correct 1011), and inlining a CTE referenced twice (q64's
    * cross_sales) re-runs its 18-relation join per reference. Spark never
    * sees this text. */
  def oracleFor(gen: TableGen, text: String): String = {
    val prelude = gen.duckPrelude(gen.usedTables(text))
    val mat = text.replaceAll(
      "(?is)\\b(\\w+)\\s+as\\s*\\(\\s*select\\b", "$1 AS MATERIALIZED (select")
    if (mat.matches("(?is)^\\s*with\\b.*"))
      prelude.stripSuffix("\n") + ",\n" +
        mat.replaceFirst("(?is)^\\s*with\\b", "")
    else prelude + mat
  }
}
