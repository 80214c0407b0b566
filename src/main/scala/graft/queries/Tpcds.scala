package graft.queries

import graft.Q
import graft.queries.Edit.{every, everyWith, first, lit}

/** EXECUTED TPC-DS slice with DuckDB oracles.
  *
  * `ref_tpcds_plan` proves all 99 reference query files plan end-to-end;
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

  * ALL 99 queries now execute (q30 via the documented kit-mismatch
  * column patch). The last two, q58/q83, needed generator structure:
  * organic data has ~0.6 expected items sold in all three channels in
  * any ONE week (measured: zero item-weeks in six years pass q58's
  * ±10% band), so the generator carries a promo week of engineered
  * near-equal per-item revenues and a three-week return surge — see
  * TpcdsGen.promoCond/returnSurge. The kit's
  * three two-statement files run as one entry per statement (q14a/b
  * cross-channel intersect + rollup and week-over-week comparison,
  * q23a/b frequent-item best-customer bands, q24a/b store-return
  * net-paid by color) — see the last rows of `slice`.
  *
  * Query texts are the corpus's own files (tpcds/query/queryN.sql, read
  * through [[SqlCorpus]]) with minimal documented patches, applied
  * IDENTICALLY for Spark and DuckDB so both engines run the same statement:
  *   - alias unnamed aggregate outputs (the driver compare matches by
  *     column name; cosmetic)
  *   - add tiebreak columns to two ORDER BY ... LIMIT queries whose sort
  *     keys don't determine the row set (q79, q89 — without this ANY
  *     engine pair can legitimately disagree below the limit line)
  *   - q5: cast(0 as decimal(7,2)) → cast(0 as bigint) (the slice's money
  *     columns are BIGINT cents; DECIMAL outputs are banned by the driver
  *     hasher — compare.py's dtype audit)
  */
object Tpcds {

  /** One slice entry: statement `stmt` of the kit's queryN.sql under `patch`
    * (a single-statement file is statement 0). */
  private final case class Slice(name: String, n: Int, stmt: Int,
      patch: Seq[Edit])

  private def q(n: Int, patch: Edit*) = Slice(s"tpcds_q$n", n, 0, patch)

  /** The slice, in registry order: the single-statement files by number,
    * then one entry per statement of the multi-statement files.
    *
    * Patch conventions beyond the header's (all applied identically to
    * both engines):
    *   - money literals scale ×100 (the slice's money columns are BIGINT
    *     cents): q48 price/profit ranges, q43/q61 gmt_offset -5/-7 → -500
    *     (all generated offsets are -500 cents = -5.00)
    *   - double-quoted aliases → plain identifiers (Spark treats "..." as
    *     a string literal): q32, q50
    *   - decimal casts → double (DECIMAL outputs are banned by the driver
    *     hasher): q61 — the ratio stays exact, one IEEE division of two
    *     exactly-summed BIGINTs
    *   - q61 i_category 'Home' → 'Music': the 9-category generator pool
    *     has no Home; Music keeps the predicate selective
    *   - q65 ORDER BY gains ss_store_sk: two generated stores share a
    *     name, so (s_store_name, i_item_desc) does not determine the
    *     LIMIT cut
    *
    * The multi-statement entries' own patches:
    *   - q14a: NULLS FIRST pinned on the rollup ORDER BY — the LIMIT 100
    *     binds, and Spark (NULLS FIRST) and DuckDB (NULLS LAST) would
    *     otherwise legally cut different row sets
    *   - q23: `having count(*) > 4` → `> 0` (the generator emits exactly
    *     one sale per item-day, so the kit's "frequent" band is empty by
    *     construction) and the best-customer band 95% → 50% of max (the
    *     flat spend distribution leaves the 95% band disjoint from the
    *     one-month slice)
    *   - q24: s_market_id 5 → 10 and colors → generator pool, like q64
    *   - q39a/b: the select list emits inv1.* and inv2.* under DUPLICATE
    *     names — aliased on both sides like q64; no other patch (the
    *     restock-spike quantity makes the kit's cov gates selective) */
  private val slice: Seq[Slice] = Seq(
    q(1),
    q(2, every(
      """round\(([a-z]{3})_sales1/\1_sales2,2\)""",
      "round($1_sales1/$1_sales2,2) AS $1_ratio")),
    q(3),
    // q4/q11/q74 run VERBATIM once the generator's loyal-customer pool
    // exists (TpcdsGen ss/ws/cs customer columns): they need customers
    // with multi-channel activity in two consecutive years
    q(4),
    q(5, lit("cast(0 as decimal(7,2))", "cast(0 as bigint)")),
    q(6),
    q(7),
    q(8, first(
      """sum\(ss_net_profit\)""", "sum(ss_net_profit) AS net_profit")),
    q(9),
    q(10, lit(
      "ca_county in ('Fairfield County','Campbell County','Washtenaw County','Escambia County','Cleburne County')",
      "ca_county in ('Williamson County','Ziebach County','Walker County')")),
    q(11),
    q(12),
    q(13,
      lit("select avg(ss_quantity)\n       ,avg(ss_ext_sales_price)\n       ,avg(ss_ext_wholesale_cost)\n       ,sum(ss_ext_wholesale_cost)",
        "select avg(ss_quantity) AS avg_qty\n       ,avg(ss_ext_sales_price) AS avg_sp\n       ,avg(ss_ext_wholesale_cost) AS avg_wc\n       ,sum(ss_ext_wholesale_cost) AS sum_wc"),
      lit("between 100.00 and 150.00", "between 10000 and 15000"),
      lit("between 50.00 and 100.00", "between 5000 and 10000"),
      lit("between 150.00 and 200.00", "between 15000 and 20000"),
      lit("ss_net_profit between 100 and 200",
        "ss_net_profit between 10000 and 20000"),
      lit("ss_net_profit between 150 and 300",
        "ss_net_profit between 15000 and 30000"),
      lit("ss_net_profit between 50 and 250",
        "ss_net_profit between 5000 and 25000")),
    q(15, first(
      """,sum\(cs_sales_price\)""", ",sum(cs_sales_price) AS sum_sales")),
    // q16: quoted aliases -> plain (Spark "..." is a string literal) and
    // the state recalibrated to the generated pool (no PA); the
    // borrowed-order catalog lines supply the multi-warehouse EXISTS
    q(16,
      lit("""as "order count"""", "as order_count"),
      lit("""as "total shipping cost"""", "as total_shipping_cost"),
      lit("""as "total net profit"""", "as total_net_profit"),
      lit("ca_state = 'PA'", "ca_state = 'TN'")),
    q(17),
    q(18,
      every("""avg\( cast\((\w+(?:\.\w+)?) as decimal\(12,2\)\)\)""",
        "avg(cast($1 as double))"),
      lit("order by ca_country,\n        ca_state, \n        ca_county,\n\ti_item_id",
        "order by ca_country NULLS LAST, ca_state NULLS LAST, " +
          "ca_county NULLS LAST, i_item_id NULLS LAST")),
    q(19),
    q(20),
    q(21, lit("between 0.99 and 1.49", "between 99 and 149")),
    q(22, lit(
      "order by qoh, i_product_name, i_brand, i_class, i_category",
      "order by qoh, i_product_name NULLS LAST, i_brand NULLS LAST, " +
        "i_class NULLS LAST, i_category NULLS LAST")),
    q(25),
    q(26),
    q(27, lit("order by i_item_id\n         ,s_state",
      "order by i_item_id NULLS LAST\n         ,s_state NULLS LAST")),
    q(28, everyWith("""between (\d+) and \1\+(\d+)""") { m =>
      s"between ${m.group(1).toInt * 100} and " +
        s"${(m.group(1).toInt + m.group(2).toInt) * 100}" }),
    q(29),
    q(30,
      lit("ca_state = 'AR'", "ca_state = 'GA'"),
      // the reference kit's query text predates the official DDL rename
      // (c_last_review_date_sk vs c_last_review_date) — same class of kit
      // bug RefTpcds documents for query30's sibling
      lit("c_last_review_date_sk", "c_last_review_date")),
    q(31),
    q(32,
      lit("""as "excess discount amount"""", "as excess_discount"),
      // 722's item slice has no catalog sales inside the 90-day window,
      // so the sum was a trivial NULL; 79's slice has 4 rows, 1 above
      // the 1.3x-average gate
      lit("i_manufact_id = 722", "i_manufact_id = 79")),
    q(33,
      every("""ca_gmt_offset\s+= -5""", "ca_gmt_offset = -500"),
      lit("order by total_sales", "order by total_sales, i_manufact_id")),
    q(34),
    q(35,
      every("""avg\(cd_dep_count\)""",
        "avg(cd_dep_count) AS avg_dep"),
      every("""stddev_samp\(cd_dep_count\)""",
        "stddev_samp(cd_dep_count) AS std_dep"),
      every("""sum\(cd_dep_count\)""",
        "sum(cd_dep_count) AS sum_dep"),
      every("""avg\(cd_dep_employed_count\)""",
        "avg(cd_dep_employed_count) AS avg_emp"),
      every("""stddev_samp\(cd_dep_employed_count\)""",
        "stddev_samp(cd_dep_employed_count) AS std_emp"),
      every("""sum\(cd_dep_employed_count\)""",
        "sum(cd_dep_employed_count) AS sum_emp"),
      every("""avg\(cd_dep_college_count\)""",
        "avg(cd_dep_college_count) AS avg_col"),
      every("""stddev_samp\(cd_dep_college_count\)""",
        "stddev_samp(cd_dep_college_count) AS std_col"),
      every("""sum\(cd_dep_college_count\)""",
        "sum(cd_dep_college_count) AS sum_col")),
    q(36),
    q(37,
      lit("between 29 and 29 + 30", "between 2900 and 5900"),
      lit("i_manufact_id in (705,742,777,944)",
        "i_manufact_id in (3,8,13,18)")),
    q(38, first(
      """select\s+count\(\*\)""", "select count(*) AS cnt")),
    q(40, lit("between 0.99 and 1.49", "between 99 and 149")),
    q(41),
    q(42, first(
      """,sum\(ss_ext_sales_price\)""",
      ",sum(ss_ext_sales_price) AS sum_sales")),
    q(43, lit("s_gmt_offset = -5", "s_gmt_offset = -500")),
    q(44),
    q(45, first(
      """sum\(ws_sales_price\)""", "sum(ws_sales_price) AS sum_sales")),
    q(46, every("""ss_ticket_number(\s*)limit""",
      "ss_ticket_number, amt, profit$1limit")),
    q(47, lit(
      "order by sum_sales - avg_monthly_sales, nsum",
      "order by sum_sales - avg_monthly_sales, nsum, s_store_name, " +
        "s_company_name, psum, sum_sales")),
    q(48,
      first("""sum \(ss_quantity\)""", "sum(ss_quantity) AS sum_qty"),
      lit("between 100.00 and 150.00", "between 10000 and 15000"),
      lit("between 50.00 and 100.00", "between 5000 and 10000"),
      lit("between 150.00 and 200.00", "between 15000 and 20000"),
      lit("ss_net_profit between 0 and 2000",
        "ss_net_profit between 0 and 200000"),
      lit("ss_net_profit between 150 and 3000",
        "ss_net_profit between 15000 and 300000"),
      lit("ss_net_profit between 50 and 25000",
        "ss_net_profit between 5000 and 2500000")),
    q(49,
      lit(" as decimal(15,4))", " as double)"),
      lit(" as decimal(15,4) )", " as double)")),
    q(50,
      lit("""as "30 days"""", "as d_le_30"),
      lit("""as "31-60 days"""", "as d_31_60"),
      lit("""as "61-90 days"""", "as d_61_90"),
      lit("""as "91-120 days"""", "as d_91_120"),
      lit("""as ">120 days"""", "as d_gt_120")),
    q(51),
    q(52),
    q(53),
    // q54 runs verbatim on the loyal pool (Music/country buyers with
    // follow-up same-county store revenue)
    q(54),
    q(55),
    q(56, every(
      """ca_gmt_offset\s+= -6""", "ca_gmt_offset = -500")),
    q(57, lit(
      "order by sum_sales - avg_monthly_sales, avg_monthly_sales",
      "order by sum_sales - avg_monthly_sales, avg_monthly_sales, " +
        "i_category, i_brand, cc_name, psum, nsum")),
    // q58 runs on the generator's promo week (TpcdsGen promoCond): its
    // only patch qualifies the kit's ambiguous bare `item_id` ORDER BY
    // (three joined CTEs all expose item_id; DuckDB refuses it outright)
    q(58, lit("order by item_id", "order by ss_items.item_id")),
    q(59, every(
      """([a-z]{3})_sales1/\1_sales2""", "$1_sales1/$1_sales2 AS $1_ratio")),
    q(60, every(
      """ca_gmt_offset\s+= -5""", "ca_gmt_offset = -500")),
    q(61,
      lit("cast(promotions as decimal(15,4))/cast(total as decimal(15,4))*100",
        "cast(promotions as double)/cast(total as double)*100 AS promo_pct"),
      lit("ca_gmt_offset = -7", "ca_gmt_offset = -500"),
      lit("s_gmt_offset = -7", "s_gmt_offset = -500"),
      lit("i_category = 'Home'", "i_category = 'Music'")),
    q(62,
      lit("""as "30 days"""", "as d_le_30"),
      lit("""as "31-60 days"""", "as d_31_60"),
      lit("""as "61-90 days"""", "as d_61_90"),
      lit("""as "91-120 days"""", "as d_91_120"),
      lit("""as ">120 days"""", "as d_gt_120"),
      first("""substr\(w_warehouse_name,1,20\)\n  ,sm_type""",
        "substr(w_warehouse_name,1,20) AS wh\n  ,sm_type")),
    q(63),
    q(64,
      lit("i_color in ('orange','lace','lawn','misty','blush','pink')",
        "i_color in ('forest','lime','navy','powder','sky','maroon')"),
      lit("i_current_price between 48 and 48 + 10",
        "i_current_price between 4800 and 4800 + 1000"),
      lit("i_current_price between 48 + 1 and 48 + 15",
        "i_current_price between 4800 + 100 and 4800 + 1500"),
      // the outer select emits cs1.cnt/cs2.cnt and cs1.syear/cs2.syear
      // under DUPLICATE names — illegal as a result schema
      lit("     ,cs1.syear\n     ,cs1.cnt", "     ,cs1.syear AS syear1\n     ,cs1.cnt AS cnt1"),
      lit("     ,cs2.syear\n     ,cs2.cnt", "     ,cs2.syear AS syear2\n     ,cs2.cnt AS cnt2"),
      // Semantics-neutral FROM-list reorder in cross_sales: at 18
      // relations DuckDB's exhaustive join-order DP gives way to a
      // greedy, input-order-sensitive fallback, and the kit's order
      // (facts first, selective `item` LAST) makes it build a
      // cross-product-shaped intermediate that spills ~70 GB. Listing
      // `item` (the only filtered table) and the key chain first lets
      // the same greedy pass find the 0.1 s plan. Comma-join order
      // carries no semantics; Catalyst plans both orders identically.
      lit(
        "  FROM   store_sales\n        ,store_returns\n        ,cs_ui\n" +
        "        ,date_dim d1\n        ,date_dim d2\n        ,date_dim d3\n" +
        "        ,store\n        ,customer\n" +
        "        ,customer_demographics cd1\n        ,customer_demographics cd2\n" +
        "        ,promotion\n        ,household_demographics hd1\n" +
        "        ,household_demographics hd2\n        ,customer_address ad1\n" +
        "        ,customer_address ad2\n        ,income_band ib1\n" +
        "        ,income_band ib2\n        ,item",
        "  FROM   store_sales\n        ,item\n        ,cs_ui\n" +
        "        ,store_returns\n        ,store\n        ,date_dim d1\n" +
        "        ,promotion\n        ,customer\n" +
        "        ,customer_demographics cd1\n        ,customer_demographics cd2\n" +
        "        ,household_demographics hd1\n        ,household_demographics hd2\n" +
        "        ,income_band ib1\n        ,income_band ib2\n" +
        "        ,customer_address ad1\n        ,customer_address ad2\n" +
        "        ,date_dim d2\n        ,date_dim d3")),
    q(65, lit("order by s_store_name, i_item_desc",
      "order by s_store_name, i_item_desc, sc.ss_store_sk")),
    q(66,
      lit("'ORIENTAL'", "'UPS'"),
      lit("'BOXBUNDLES'", "'FEDEX'")),
    q(67, first(
      """(?s)order by i_category\s*,i_class\s*,i_brand\s*,i_product_name\s*,d_year\s*,d_qoy\s*,d_moy\s*,s_store_id\s*,sumsales\s*,rk""",
      "order by i_category NULLS LAST, i_class NULLS LAST, " +
        "i_brand NULLS LAST, i_product_name NULLS LAST, " +
        "d_year NULLS LAST, d_qoy NULLS LAST, d_moy NULLS LAST, " +
        "s_store_id NULLS LAST, sumsales, rk")),
    q(68, every("""ss_ticket_number(\s*)limit""",
      "ss_ticket_number, bought_city, extended_price$1limit")),
    q(69),
    q(70),
    q(71),
    q(72,
      lit("hd_buy_potential = '1001-5000'",
        "hd_buy_potential = '5001-10000'"),
      // generated inventory snapshots start in 1999 (day 400); the 1998
      // window would join zero snapshot weeks
      lit("d1.d_year = 1998", "d1.d_year = 2000"),
      // DuckDB refuses the kit's bare d_week_seq in ORDER BY (ambiguous
      // between d1/d2/d3); qualify it the way Spark already resolves it
      lit("order by total_cnt desc, i_item_desc, w_warehouse_name, d_week_seq",
        "order by total_cnt desc, i_item_desc, w_warehouse_name, d1.d_week_seq")),
    // q73: tickets are exactly 18 lines and all lines share the ticket's
    // household/date/store, so the line-count band must straddle 18 (the
    // same band q34 uses); buy-potential bands map to the generated pool
    q(73,
      lit("household_demographics.hd_buy_potential = '1001-5000'",
        "household_demographics.hd_buy_potential = '>10000'"),
      lit("cnt between 1 and 5", "cnt between 15 and 20")),
    q(74),
    q(75,
      every(""",0\.0\)""", ",0)"),
      lit("CAST(curr_yr.sales_cnt AS DECIMAL(17,2))/CAST(prev_yr.sales_cnt AS DECIMAL(17,2))",
        "CAST(curr_yr.sales_cnt AS DOUBLE)/CAST(prev_yr.sales_cnt AS DOUBLE)"),
      lit("ORDER BY sales_cnt_diff,sales_amt_diff",
        "ORDER BY sales_cnt_diff, sales_amt_diff, curr_yr.i_brand_id, " +
          "curr_yr.i_class_id, curr_yr.i_manufact_id")),
    q(76),
    q(77,
      // DuckDB rejects the kit's bare `returns` identifier (reserved) in
      // some positions; rename it uniformly for both engines
      every("""\breturns\b""", "ret_amt"),
      lit("order by channel\n         ,id",
        "order by channel NULLS LAST, id NULLS LAST")),
    q(78),
    q(79,
      first("""substr\(s_city,1,30\)""",
        "substr(s_city,1,30) AS s_city"),
      lit("order by c_last_name,c_first_name,substr(s_city,1,30), profit",
        "order by c_last_name,c_first_name,substr(s_city,1,30), profit, ss_ticket_number")),
    q(80, lit("order by channel\n         ,id",
      "order by channel NULLS LAST, id NULLS LAST")),
    q(81),
    q(82,
      lit("between 58 and 58+30", "between 5800 and 8800"),
      lit("i_manufact_id in (259,559,580,485)",
        "i_manufact_id in (1,2,6,7)")),
    // q83 runs on the generator's three-week return surge; its /3.0
    // divisions become double (the DECIMAL literal would put a DECIMAL
    // column in the output schema, which the driver hasher bans)
    q(83, lit("/3.0", "/3.0e0")),
    q(84, lit("ca_city\t        =  'Woodland'",
      "ca_city = 'Oakland'")),
    q(85,
      first("""substr\(r_reason_desc,1,20\)""",
        "substr(r_reason_desc,1,20) AS r20"),
      first("""avg\(ws_quantity\)""",
        "avg(ws_quantity) AS avg_qty"),
      first("""avg\(wr_refunded_cash\)""",
        "avg(wr_refunded_cash) AS avg_cash"),
      first("""avg\(wr_fee\)""", "avg(wr_fee) AS avg_fee"),
      lit("between 100.00 and 150.00", "between 10000 and 15000"),
      lit("between 50.00 and 100.00", "between 5000 and 10000"),
      lit("between 150.00 and 200.00", "between 15000 and 20000"),
      lit("ws_net_profit between 100 and 200",
        "ws_net_profit between 10000 and 20000"),
      lit("ws_net_profit between 150 and 300",
        "ws_net_profit between 15000 and 30000"),
      lit("ws_net_profit between 50 and 250",
        "ws_net_profit between 5000 and 25000")),
    q(86),
    q(87, first(
      """select count\(\*\)""", "select count(*) AS cnt")),
    q(88),
    q(89, lit(
      "order by sum_sales - avg_monthly_sales, s_store_name",
      "order by sum_sales - avg_monthly_sales, s_store_name, i_category, i_class, i_brand, d_moy")),
    q(90, lit(
      "cast(amc as decimal(15,4))/cast(pmc as decimal(15,4)) am_pm_ratio",
      "cast(amc as double)/cast(pmc as double) am_pm_ratio")),
    q(91,
      lit("hd_buy_potential like 'Unknown%'",
        "hd_buy_potential like '0-500%'"),
      every("""ca_gmt_offset\s+= -7""", "ca_gmt_offset = -500")),
    // q92: 714's item slice has no web sales inside the 90-day window
    // (the sum was a trivial NULL); 92's slice has 3 rows, 2 above the
    // 1.3x-average gate. Double-quoted alias -> plain, as for q32.
    q(92,
      lit("""as "Excess Discount Amount"""", "as excess_discount"),
      lit("i_manufact_id = 714", "i_manufact_id = 92")),
    q(93),
    q(94,
      lit("""as "order count"""", "as order_count"),
      lit("""as "total shipping cost"""", "as ship_cost"),
      lit("""as "total net profit"""", "as net_profit"),
      lit("ca_state = 'OK'", "ca_state = 'OH'")),
    q(95,
      lit("""as "order count"""", "as order_count"),
      lit("""as "total shipping cost"""", "as ship_cost"),
      lit("""as "total net profit"""", "as net_profit"),
      lit("ca_state = 'VA'", "ca_state = 'CA'")),
    q(96, first("""select\s+count\(\*\)""",
      "select count(*) AS cnt")),
    q(97),
    q(98),
    q(99,
      lit("""as "30 days"""", "as d_le_30"),
      lit("""as "31-60 days"""", "as d_31_60"),
      lit("""as "61-90 days"""", "as d_61_90"),
      lit("""as "91-120 days"""", "as d_91_120"),
      lit("""as ">120 days"""", "as d_gt_120"),
      first("""substr\(w_warehouse_name,1,20\)\n  ,sm_type""",
        "substr(w_warehouse_name,1,20) AS wh\n  ,sm_type")),
    Slice("tpcds_q14a", 14, 0, Seq(
      lit(",sum(sales), sum(number_sales)",
        ",sum(sales) AS sum_sales, sum(number_sales) AS sum_number_sales"),
      lit("order by channel,i_brand_id,i_class_id,i_category_id",
        "order by channel nulls first,i_brand_id nulls first," +
          "i_class_id nulls first,i_category_id nulls first"))),
    Slice("tpcds_q14b", 14, 1, Nil),
    Slice("tpcds_q23a", 23, 0, Seq(
      lit("having count(*) >4", "having count(*) >0"),
      lit("(95/100.0)", "(50/100.0)"),
      lit("select  sum(sales)", "select  sum(sales) AS sum_sales"))),
    Slice("tpcds_q23b", 23, 1, Seq(
      lit("having count(*) >4", "having count(*) >0"),
      lit("(95/100.0)", "(50/100.0)"))),
    Slice("tpcds_q24a", 24, 0, Seq(
      lit("s_market_id=5", "s_market_id=10"),
      lit("i_color = 'aquamarine'", "i_color = 'forest'"))),
    Slice("tpcds_q24b", 24, 1, Seq(
      lit("s_market_id = 5", "s_market_id = 10"),
      lit("i_color = 'seashell'", "i_color = 'navy'"))),
    Slice("tpcds_q39a", 39, 0, Seq(q39Aliases)),
    Slice("tpcds_q39b", 39, 1, Seq(q39Aliases)))

  private def q39Aliases = lit(
    "select inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean, inv1.cov\n" +
      "        ,inv2.w_warehouse_sk,inv2.i_item_sk,inv2.d_moy,inv2.mean, inv2.cov",
    "select inv1.w_warehouse_sk AS wsk1,inv1.i_item_sk AS isk1," +
      "inv1.d_moy AS moy1,inv1.mean AS mean1, inv1.cov AS cov1\n" +
      "        ,inv2.w_warehouse_sk AS wsk2,inv2.i_item_sk AS isk2," +
      "inv2.d_moy AS moy2,inv2.mean AS mean2, inv2.cov AS cov2")

  private val byName: Map[String, Slice] = slice.map(e => e.name -> e).toMap

  /** Entry `name` of the slice over [[TpcdsGen]]; `scale` > 1 gives the
    * bench-only `<name>_x<scale>` twin with fact tables grown ×scale
    * ([[TpcdsGen.rowsAt]]). */
  def entry(name: String, scale: Long = 1): Q = {
    val e = byName(name)
    SqlCorpus.reference.entry(e.name, RefTpcds.file(e.n), e.stmt, e.patch,
      TpcdsGen, scale)
  }

  /** Patched + cast-wrapped text of single-statement slice query n —
    * public for the spec-side order-independence pin (same role as
    * RefTpchFull.text). */
  def text(n: Int): String = {
    val e = byName(s"tpcds_q$n")
    SqlCorpus.reference.text(e.name, RefTpcds.file(n), e.stmt, e.patch)
  }

  /** Single-statement slice numbers (the q14/q23/q24/q39 split statements
    * are separate; the pin samples from these). */
  def numbers: Seq[Int] =
    slice.collect { case e if e.name == s"tpcds_q${e.n}" => e.n }

  val all: Seq[Q] = slice.map(e => entry(e.name))

  /** The bench-scale slice (NOT in the correctness registry): the same
    * patched+cast-wrapped texts over fact tables grown ×167, so the TPC-DS
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
