package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import graft.Q

/** The SQL corpus the file-backed registry entries run: the reference's
  * TPC-H and TPC-DS query files and DDL, named relative to `root`
  * (`tpch/query/q1.sql`, `tpcds/query/query14.sql`, `tpcds/tpcds.sql`).
  *
  * This is the only code that knows where the corpus lives, how to read a
  * file, and how a statement becomes a [[Q]]. Nothing is read until an
  * entry's `run` or `oracle` is used, so a missing file fails that entry
  * alone, with the `NoSuchFileException` naming the file. */
final class SqlCorpus(val root: Path) {

  /** The statements of `file`: whole-line `--` comments dropped, split on
    * `;`, trimmed, empty pieces skipped. */
  def statements(file: String): Seq[String] =
    new String(Files.readAllBytes(root.resolve(file)), UTF_8)
      .linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq

  /** What both engines run for entry `name`: statement `stmt` of `file`,
    * patched, then cast-wrapped. */
  def text(name: String, file: String, stmt: Int = 0,
      patch: Seq[Edit] = Nil): String =
    SqlCorpus.castWrap(name,
      patch.foldLeft(statements(file)(stmt))((t, e) => e(name, t)))

  /** Registry entry for one corpus statement over `gen`'s tables. The text
    * is read on first use inside `run` (or `oracle`); `run` registers only
    * the tables the text uses, in an isolated `newSession()` so generated
    * names never shadow the driver-testdata views. At `scale` 1 the entry
    * carries its DuckDB oracle; a scaled bench twin (`<name>_x<scale>`,
    * facts grown by [[TableGen.rowsAt]]) has none — its scale-1 twin
    * carries correctness. */
  def entry(name: String, file: String, stmt: Int = 0,
      patch: Seq[Edit] = Nil, gen: TableGen, scale: Long = 1): Q = {
    lazy val sql = text(name, file, stmt, patch)
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

  /** Where the reference corpus lives. */
  val Root: Path = Paths.get("/root/reference/cases")

  val reference = new SqlCorpus(Root)

  /** Kill HUGEINT outputs (see [[TpcdsCasts]]): wrap the statement in an
    * outer SELECT that casts every column DuckDB would widen to int128 back
    * to BIGINT, identically for both engines. Entries with no widened
    * column pass through untouched. */
  def castWrap(name: String, text: String): String =
    TpcdsCasts.cols.get(name) match {
      case Some(cols) =>
        val items = cols.map { case (c, huge) =>
          if (huge) s"cast($c as bigint) as $c" else c }
        s"select ${items.mkString(", ")}\nfrom (\n$text\n) graft_cast"
      case None => text
    }

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

/** One patch step of a corpus statement, applied identically for both
  * engines. Each step names the anchor it rewrites and fails its entry when
  * the anchor matches nothing: a text that differs from the one the patch
  * was written against must not pass through unpatched. */
final class Edit private (anchor: Regex, shown: String,
    rewrite: String => String) {
  def apply(entry: String, text: String): String = {
    if (anchor.findFirstIn(text).isEmpty)
      throw new IllegalArgumentException(
        s"$entry: patch anchor matches nothing: $shown")
    rewrite(text)
  }
}

object Edit {
  /** Every occurrence of the literal `from` (`String.replace`). */
  def lit(from: String, to: String): Edit =
    new Edit(Regex.quote(from).r, from, _.replace(from, to))

  /** The first match of `regex` (`String.replaceFirst`). */
  def first(regex: String, to: String): Edit =
    new Edit(regex.r, regex, _.replaceFirst(regex, to))

  /** Every match of `regex` (`String.replaceAll`). */
  def every(regex: String, to: String): Edit =
    new Edit(regex.r, regex, _.replaceAll(regex, to))

  /** Every match of `regex`, replaced by `to(match)`. */
  def everyWith(regex: String)(to: Regex.Match => String): Edit = {
    val r = regex.r
    new Edit(r, regex, r.replaceAllIn(_, to))
  }
}
