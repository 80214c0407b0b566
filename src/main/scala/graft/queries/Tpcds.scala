package graft.queries

import graft.Q

/** EXECUTED TPC-DS slice with DuckDB oracles.
  *
  * `ref_tpcds_plan` proves all 99 TPC-DS queries plan end-to-end;
  * this module goes further than the reference can (its engine lacks
  * window functions, set ops, ROLLUP — README feature table) by RUNNING a
  * representative 85-query slice on deterministic generated data
  * ([[TpcdsGen]]) and oracle-checking every row against DuckDB:
  *
  *   - q3/q42/q52/q55: star joins + agg over date/item predicates
  *   - q5: three-channel UNION ALL + ROLLUP over sales+returns
  *   - q6: correlated scalar subquery per category + uncorrelated scalar
  *   - q7/q26: 5-way join over customer_demographics + promotion
  *   - q8: INTERSECT of zip lists + HAVING, substring join
  *   - q1/q32: correlated average subqueries (per-store / per-item)
  *   - q15/q19/q48: OR-of-conjunctions filters, zip/state predicates
  *   - q34: per-ticket line counts with a HAVING-style band (15..20)
  *   - q41: item self-correlated EXISTS-style count over color/size combos
  *   - q43/q59: day-of-week pivot sums; year-over-year weekly ratios
  *   - q50: sale→return day-lag buckets over a 3-key self-join
  *   - q51: FULL OUTER JOIN of two cumulative-window CTEs
  *   - q53/q89: windowed average over group-by output + ratio filter
  *   - q61: promotional/total ratio of two single-row subqueries
  *   - q65: store-average revenue threshold (nested agg-of-agg)
  *   - q79: per-ticket agg then customer join
  *   - q88: 8 half-hour count subqueries cross-joined to one row
  *   - q96: time_dim/household filter count
  *   - q97: FULL OUTER store/catalog customer-item overlap counts
  *   - q33/q56/q60: three-channel UNION ALL CTEs with IN-subquery item
  *     slices over gmt-offset addresses
  *   - q36: ROLLUP gross margin + rank() windows partitioned by grouping()
  *   - q45: zip-list OR item IN-subquery over web sales
  *   - q46/q68: bought-city vs current-city two-alias address joins
  *   - q2: cross-channel weekly ratio matrix (year vs year+1, week-join)
  *   - q21/q22/q82: the inventory fact — before/after pivot ratios,
  *     4-level ROLLUP averages, quantity-band item lookups
  *   - q31: county-level quarter-over-quarter web-vs-store growth joins
  *   - q62/q99: ship-lag day buckets over warehouse x ship_mode x
  *     web_site / call_center
  *   - q84: income-band household lookup with coalesced name concat
  *   - q90: am/pm count ratio via web_page char-count band
  *   - q93: per-customer net sales after reason-filtered returns
  *   - q12/q20: class-partitioned revenue-share windows (web/catalog)
  *   - q27: rollup(item, state) with grouping() flag
  *   - q38/q87: INTERSECT / EXCEPT of the three channels' customer-days
  *   - q63: monthly-vs-average manager deviations
  *   - q76: NULL-key sales union across channels
  *   - q86: web analogue of q36's rollup-rank
  *   - q9/q13: quantity-band CASE scalar subqueries; OR-band demographics
  *   - q17/q25/q29: bought-returned-rebought 3-channel item/store stats
  *     (count/avg/stddev, max profit/loss, quantity maxima)
  *   - q30: per-state above-average web returners (correlated avg CTE)
  *   - q35: EXISTS-gated demographics stats across all three channels
  *   - q37: catalog analogue of q82's inventory band lookup
  *   - q40: warehouse-state sales before/after a pivot with return netting
  *   - q91: call-center December returns by demographic slice
  *   - q10/q35: EXISTS-gated demographic profiles
  *   - q18: rollup(item, country, state, county) of double-cast averages
  *   - q28: six price-band avg/count/count-distinct cross-join
  *   - q44: best/worst item ranks vs a NULL-hdemo baseline average
  *   - q70: state-rank HAVING-subquery inside a rollup-rank
  *   - q71: three-channel brand revenue by meal-time minute
  *   - q78: cross-channel customer-item ratios on unreturned sales
  *   - q47/q57: lag/lead-by-rank monthly deviation self-joins
  *   - q49: three-channel return-ratio rank unions
  *   - q66: 12-month warehouse pivot by ship carrier
  *   - q67: 8-level rollup with per-category rank
  *   - q69: store-buyers absent from web/catalog (NOT EXISTS pair)
  *   - q72: 10-table promo/no-promo low-inventory counts
  *   - q75/q77/q80: per-channel sales-vs-returns rollups and
  *     year-over-year brand declines
  *   - q81: per-state above-average catalog returners
  *   - q85: web-return reason profiles over demo-pair equality bands
  *   - q94/q95: split-shipment (multi-warehouse) web orders, returned
  *     and not-returned variants
  *   - q98: window ratio (class-partitioned revenue share)
  *   - q64: the 18-relation cross_sales self-join (repeat buyers whose
  *     store changed between years, gated on items with catalog list
  *     price > 2× refunds)
  *   - q4/q11/q74: year-over-year growth comparisons across channels,
  *     fed by the generator's loyal-customer pool (TpcdsGen)
  *   - q54: catalog/web Music buyers' follow-up same-county store
  *     revenue, segmented
  *   - q16: multi-warehouse unreturned catalog orders (the
  *     borrowed-order lines in TpcdsGen)
  *   - q39a/b: inventory coefficient-of-variation pairs (the restock
  *     spike in TpcdsGen)
  *   - q73: 18-line tickets by household band; q92: excess web discount
  *     vs 1.3x the item's window average
  *   - q58: promo-week items with near-equal store/catalog/web revenue
  *   - q83: items returned in all three channels across three weeks
  *
  * All 99 queries execute. q58/q83 needed generator structure: organic
  * data has ~0.6 expected items sold in all three channels in any ONE
  * week (measured: zero item-weeks in six years pass q58's ±10% band), so
  * the generator carries a promo week of engineered near-equal per-item
  * revenues and a three-week return surge — see TpcdsGen.promoCond and
  * returnSurge. The kit's four two-statement queries run as one entry per
  * statement (q14a/b cross-channel intersect + rollup and week-over-week
  * comparison, q23a/b frequent-item best-customer bands, q24a/b
  * store-return net-paid by color, q39a/b inventory coefficient of
  * variation), after the single-statement queries.
  *
  * Each entry runs its committed corpus file (`tpcds/q<n>.sql`, read
  * through [[SqlCorpus]]), the same text on Spark and DuckDB. The file's
  * header lists its deviations from DuckDB's base text and why: generator
  * pool values, BIGINT-cents money literals, tiebreaks under LIMIT, output
  * aliases, and the outer SELECT that casts DuckDB's HUGEINT sums to
  * BIGINT. */
object Tpcds {

  /** The queries the kit ships as two statements. */
  private val TwoStatement = Seq(14, 23, 24, 39)

  /** Single-statement slice numbers (the pin samples from these). */
  val numbers: Seq[Int] = (1 to 99).filterNot(TwoStatement.contains)

  /** The slice's entry names, in registry order. */
  val names: Seq[String] = numbers.map(n => s"tpcds_q$n") ++
    TwoStatement.flatMap(n => Seq(s"tpcds_q${n}a", s"tpcds_q${n}b"))

  /** Corpus files of TPC-DS query n: one per statement. */
  def files(n: Int): Seq[String] =
    if (TwoStatement.contains(n)) Seq(s"tpcds/q${n}a.sql", s"tpcds/q${n}b.sql")
    else Seq(s"tpcds/q$n.sql")

  /** Entry `name` of the slice over [[TpcdsGen]]; `scale` > 1 gives the
    * bench-only `<name>_x<scale>` twin with fact tables grown ×scale
    * ([[TpcdsGen.rowsAt]]). */
  def entry(name: String, scale: Long = 1): Q = {
    require(names.contains(name), s"no TPC-DS slice entry $name")
    SqlCorpus.queries.entry(name,
      s"tpcds/${name.stripPrefix("tpcds_")}.sql", TpcdsGen, scale)
  }

  /** Text of single-statement slice query n — public for the spec-side
    * order-independence pin (same role as RefSql.text). */
  def text(n: Int): String = SqlCorpus.queries.text(s"tpcds/q$n.sql")

  val all: Seq[Q] = names.map(entry(_))

  /** The bench-scale slice (NOT in the correctness registry): the same
    * texts over fact tables grown ×167, so the TPC-DS
    * bench numbers measure data movement, not fixed planning overhead (the
    * toy 60k-row store_sales keeps every oracle comparable; these move 10M+
    * rows through the same plans). Timed by [[graft.Bench]]; correctness is
    * carried by the scale-1 oracle twins. q64 (18-relation self-join — the
    * VERDICT-asked ≥10M-row store_sales entry), q4 (year-over-year
    * 3-channel growth over the biggest UNION ALL), q95 (split-shipment
    * EXISTS self-joins), plus the round-8 heavy movers: q14a/b
    * (cross-channel INTERSECT over all three sales facts), q23a/b
    * (frequent-item × best-customer double filter), q78 (three
    * channel-join UNIONs with anti-join on returns). ×167 puts store_sales
    * at 10.02M rows, web_sales at 3.34M. */
  lazy val benchOnly: Seq[Q] = Seq("tpcds_q64", "tpcds_q4", "tpcds_q95",
    "tpcds_q78", "tpcds_q14a", "tpcds_q14b", "tpcds_q23a", "tpcds_q23b")
    .map(entry(_, 167))
}
