package graft.queries

import graft.Q

/** The reference's PRIMARY test corpus — tpch/query/q1..q22.sql —
  * executed VERBATIM over the full-schema generator ([[TpchGen]]) with
  * per-row DuckDB oracles. This completes what [[RefSql]] started: RefSql
  * runs the 7 files expressible over the driver testdata unmodified;
  * the other 15 were blocked only by missing schema (partsupp,
  * o_shippriority, c_acctbal, l_shipmode, …). With TpchGen supplying every
  * official table and column, ALL 22 files run unmodified — same text on
  * both engines, not a port — and every result row hash-checks against
  * DuckDB replaying the same text over the same generated inputs.
  *
  * The only text transformation is the [[TpcdsCasts]] outer SELECT on
  * q12, whose `sum(case … then 1 else 0 end)` outputs DuckDB widens to
  * HUGEINT (the banned int128 class); the wrapper casts exactly those two
  * columns to BIGINT, applied identically to both engines. */
object RefTpchFull {

  /** Entry for file n over [[TpchGen]]; `scale` > 1 gives the bench-only
    * `reftpch_q<n>_x<scale>` twin over orders/lineitem ×scale
    * ([[TpchGen.rowsAt]]). */
  def entry(n: Int, scale: Long = 1): Q = SqlCorpus.reference.entry(
    s"reftpch_q$n", RefSql.file(n), gen = TpchGen, scale = scale)

  /** Verbatim (cast-wrapped) text of file n — public for the spec-side
    * order-independence pin (OrderIndependenceSpec evaluates it under 1 vs
    * 32 input partitions and requires bit-identical doubles). */
  def text(n: Int): String =
    SqlCorpus.reference.text(s"reftpch_q$n", RefSql.file(n))

  val all: Seq[Q] = (1 to 22).map(entry(_))

  /** Bench-only scaled variants (NOT in the correctness registry — the
    * scale-1 oracle twins above carry correctness): q9 (6-table join
    * through partsupp over every part) and q21 (the multi-supplier
    * EXISTS/NOT-EXISTS self-joins) at 10M-row lineitem. */
  lazy val benchOnly: Seq[Q] = Seq(entry(9, 167), entry(21, 167))
}
