package graft.queries

import graft.Q

/** The 22 TPC-H queries of the committed corpus (`tpch/q1..q22.sql`, read
  * through [[SqlCorpus]]) executed over the full-schema generator
  * ([[TpchGen]]) with per-row DuckDB oracles. This completes what
  * [[RefSql]] started: RefSql runs the 7 queries expressible over the
  * TPC-H-ish testdata; the other 15 were blocked only by missing schema
  * (partsupp, o_shippriority, c_acctbal, l_shipmode, …). With TpchGen
  * supplying every official table and column, ALL 22 run — same text on
  * both engines, not a port — and every result row hash-checks against
  * DuckDB replaying the same text over the same generated inputs. Each
  * file's header lists its deviations from DuckDB's base text. */
object RefTpchFull {

  /** Entry for query n over [[TpchGen]]; `scale` > 1 gives the bench-only
    * `reftpch_q<n>_x<scale>` twin over orders/lineitem ×scale
    * ([[TpchGen.rowsAt]]). */
  def entry(n: Int, scale: Long = 1): Q = SqlCorpus.queries.entry(
    s"reftpch_q$n", RefSql.file(n), TpchGen, scale)

  val all: Seq[Q] = (1 to 22).map(entry(_))

  /** Bench-only scaled variants (NOT in the correctness registry — the
    * scale-1 oracle twins above carry correctness): q9 (6-table join
    * through partsupp over every part) and q21 (the multi-supplier
    * EXISTS/NOT-EXISTS self-joins) at 10M-row lineitem. */
  lazy val benchOnly: Seq[Q] = Seq(entry(9, 167), entry(21, 167))
}
