package graft.queries

import org.apache.spark.sql.types._

/** Deterministic TPC-DS slice generator, one definition for BOTH engines.
  *
  * The committed corpus holds every TPC-DS query (tpcds/q<n>.sql) and the
  * TPC-DS DDL (tpcds/ddl.sql); the reference cannot execute most of those
  * queries, and `ref_tpcds_plan`
  * already proves this engine PLANS all 99. This module closes the last
  * gap — executing a representative slice with DuckDB oracles — by
  * generating every needed table from ONE list of portable SQL
  * expressions over a row index `id`:
  *
  *   - Spark side: `spark.range(n).selectExpr(col AS expr...)` per table,
  *     registered as temp views in an isolated session.
  *   - DuckDB side: the same expressions verbatim, as a WITH-prelude
  *     `name AS (SELECT expr AS col, ... FROM (SELECT range AS id FROM
  *     range(n)))` prepended to the query text.
  *
  * Because both engines evaluate the identical integer/date arithmetic,
  * the inputs match bit-for-bit and the query outputs compare exactly.
  * Schemas come from `corpus`'s DDL ([[RefTpcds.tables]]; the companion
  * object reads the committed corpus, a test can pass a fixture);
  * every DECIMAL money column is generated as BIGINT cents — exact in
  * both engines and immune to the driver hasher's decimal asymmetry.
  * Expression dialect rules (each construct validated in both engines):
  * simple CASE, `%` on non-negative BIGINT, CAST(floor(x/y) AS BIGINT)
  * for integer division, `||` concat, lpad, substr, year/month/day,
  * DATE literal + INT days.
  */
class TpcdsGen(corpus: SqlCorpus) extends TableGen {

  /** Rows per generated table — small enough that verify stays fast, big
    * enough that every slice query has non-trivial matching groups. */
  val rows: Map[String, Long] = Map(
    "date_dim" -> 2191L, // 1998-01-01 .. 2003-12-31, covers month_seq 1176..1247
    "time_dim" -> 1440L, // one row per minute of day
    "item" -> 1000L,
    "store" -> 12L,
    "customer" -> 2000L,
    "customer_address" -> 1500L,
    "customer_demographics" -> 700L,
    "household_demographics" -> 144L,
    "promotion" -> 50L,
    "web_site" -> 6L,
    "catalog_page" -> 60L,
    "warehouse" -> 5L,
    "ship_mode" -> 10L,
    "reason" -> 60L,
    "web_page" -> 10L,
    "call_center" -> 6L,
    "income_band" -> 20L,
    // weekly snapshots: 180 weeks (calendar days 400..1653 — q21's pivot
    // window, q22's month_seq 1200..1211, q82's 2001 window and q37's
    // 2002 window) × 5 warehouses × 1000 items
    "inventory" -> 900000L,
    "store_sales" -> 60000L,
    "web_sales" -> 20000L,
    "catalog_sales" -> 15000L,
    "store_returns" -> 6000L,
    "catalog_returns" -> 8000L,
    "web_returns" -> 8000L)

  /** The sales/returns fact streams — the tables a bench-scale multiplier
    * grows. Dimensions and the weekly inventory snapshots stay fixed: the
    * expressions key dimension lookups off small moduli that stay valid at
    * any fact count, while inventory's date arithmetic is calendar-bound
    * (scaling it would run the snapshot dates off the 2191-day calendar).
    * Correctness entries always run at k=1; the bench-only `tpcds_*_x{k}`
    * entries use k≫1 so the TPC-DS plans move real data (the r6 verdict:
    * toy row counts measure planning overhead, not shuffle behavior). */
  protected val scaled = Set("store_sales", "web_sales", "catalog_sales",
    "store_returns", "catalog_returns", "web_returns")

  /** Cross-table row-count references inside the echo/mirror expressions:
    * returns and re-purchase echoes address sale ROWS by `% <fact count>`,
    * so a scaled registration must rewrite those moduli to the scaled
    * counts (each literal below is unique to its meaning within the named
    * table's expressions). At k=1 every replacement is the identity. */
  private def scaleRefs(table: String, expr: String,
      r: Map[String, Long]): String = table match {
    case "catalog_sales" | "store_returns" =>
      expr.replace("% 60000", s"% ${r("store_sales")}")
    case "catalog_returns" =>
      expr.replace("% 15000", s"% ${r("catalog_sales")}")
    case "web_returns" => // web orders = two lines per order
      expr.replace("% 10000", s"% ${r("web_sales") / 2}")
    case _ => expr
  }

  private val BaseDate = "CAST('1998-01-01' AS DATE)"

  /** q58's promo week: days 1260..1266 (the week of 2001-06-16). Surge
    * items (i % 11 = 4 and i % 5 <> 0 — the echo construction owns every
    * catalog id whose item has i % 5 = 0) get EXACTLY ONE engineered line
    * per channel in that week: one id per item per cycle block, priced
    * f(i) = 200000 + 101*i with a per-channel skew of at most 4000 (2%),
    * so the per-item channel revenues sit inside q58's ±10%
    * cross-channel band by construction — unless organic same-week rows
    * of the same item add noise, which they do for ~25% of surge items,
    * keeping the band predicate selective rather than vacuous. */
  private def promoCond(cycles: Long) =
    s"(id % 1000) % 11 = 4 AND (id % 1000) % 5 <> 0 AND " +
      s"${div("id", 1000)} % $cycles = 3"
  private val PromoDay = "1260 + (id % 1000) % 7"
  private val PromoBase = "200000 + (id % 1000) * 101"

  /** q83's return surge: items with i % 7 = 2 get extra returns (every
    * 3rd matching row) dated into the weeks of 2001-07-13 / 09-10 /
    * 11-16 — the three d_week_seq buckets q83's IN-list resolves to —
    * so the three return channels share returned items in those weeks
    * (web returns only ever cover even items, which bounds the join). */
  private def returnSurge(itemExpr: String, old: String) =
    s"CASE WHEN ($itemExpr) % 7 = 2 AND id % 3 = 1 THEN " +
      s"(CASE ${div("id", 3)} % 3 WHEN 0 THEN 1288 WHEN 1 THEN 1344 " +
      s"ELSE 1414 END) + id % 7 ELSE $old END"

  // ------------------------------------------------------- semantic pools
  // Category/class/brand wiring satisfies the slice queries' literal
  // predicates (q53/q89 AND-ed category+class+brand lists, q98 categories).
  private val cats = Seq("Books", "Children", "Electronics", "Men",
    "Sports", "Shoes", "Women", "Music", "Jewelry")
  private val classPools = Seq(
    Seq("personal", "reference", "history", "arts"),          // Books
    Seq("portable", "school-uniforms", "toddlers", "newborn"),// Children
    Seq("self-help", "audio", "cameras", "dvd"),              // Electronics
    Seq("pants", "shirts", "accessories", "casual"),          // Men
    Seq("tennis", "baseball", "fitness", "camping"),          // Sports
    Seq("womens", "mens", "kids", "athletic"),                // Shoes
    Seq("fragrances", "dresses", "maternity", "swimwear"),    // Women
    Seq("classical", "rock", "pop", "country"),               // Music
    Seq("birdal", "diamonds", "gold", "pendants"))            // Jewelry
  private val brandPools = Seq(
    Seq("scholaramalgamalg #14", "scholaramalgamalg #7"),     // Books
    Seq("exportiunivamalg #9", "childbrand #2"),              // Children
    Seq("scholaramalgamalg #9", "electrobrand #4"),           // Electronics
    Seq("importoamalg #1", "menbrand #6"),                    // Men
    Seq("sportbrand #3", "fieldbrand #8"),                    // Sports
    Seq("shoebrand #5", "trackbrand #2"),                     // Shoes
    Seq("amalgimporto #1", "womenbrand #4"),                  // Women
    Seq("edu packscholar #1", "exportiimporto #1"),           // Music
    Seq("jewelbrand #7", "gembrand #1"))                      // Jewelry

  /** Nested pick: outer key selects the category, inner key the element of
    * that category's pool. */
  private def pickNested(outer: String, inner: String,
      pools: Seq[Seq[String]]): String =
    pools.zipWithIndex.map { case (pool, i) =>
      s"WHEN $i THEN ${pick(inner, pool)}"
    }.mkString(s"CASE CAST($outer AS INT) ", " ", " END")

  // q8's zip IN-list is huge; generate most addresses inside it. First nine
  // values appear in the list, last three do not.
  private val zips = Seq("47602", "16704", "35863", "28577", "83910",
    "36201", "58412", "48162", "28055", "10000", "20000", "30000")
  private val states =
    Seq("TN", "CA", "TX", "NY", "OH", "GA", "WA", "IL")
  // store zips share 2-digit prefixes with the first four address zips
  // Store zips are drawn from the address-zip pool so `s_zip = ca_zip`
  // (q24's within-zip return analysis) is satisfiable; the 2-digit
  // prefixes (47/16/35/28) are unchanged, so q8's substr-prefix match
  // and q19's prefix-inequality keep their selectivity.
  private val storeZips = Seq("47602", "16704", "35863", "28577")
  private val storeNames = // q96 filters s_store_name='ese'
    Seq("ought", "able", "pri", "ese", "anti", "cally", "ation", "eing")
  private val cities =
    Seq("Midway", "Fairview", "Oakland", "Five Points", "Centerville")
  private val maritals = Seq("M", "S", "D", "W", "U")
  private val educations = Seq("Primary", "Secondary", "College",
    "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown")

  /** Semantic column overrides: table → column → portable expr over `id`.
    * Columns not listed fall back to type defaults (deterministic filler).
    */
  private val overrides: Map[String, Map[String, String]] = {
    val dDate = s"$BaseDate + CAST(id AS INT)"
    Map(
      "date_dim" -> Map(
        "d_date_sk" -> "id",
        "d_date" -> dDate,
        "d_year" -> s"CAST(year($dDate) AS INT)",
        "d_moy" -> s"CAST(month($dDate) AS INT)",
        "d_dom" -> s"CAST(day($dDate) AS INT)",
        // official convention: month_seq anchored so Nov 1998 = 1186
        "d_month_seq" ->
          s"CAST((year($dDate) - 1900) * 12 + month($dDate) - 1 AS INT)",
        "d_week_seq" -> s"CAST(${div("id", 7)} AS INT)",
        "d_qoy" ->
          s"CAST(${div(s"month($dDate) - 1", 3)} + 1 AS INT)",
        // 1998-01-01 is a Thursday; Sunday=0 convention → 4
        "d_quarter_name" -> (s"CAST(year($dDate) AS STRING) || 'Q' || " +
          s"CAST(${div(s"month($dDate) - 1", 3)} + 1 AS STRING)"),
        "d_dow" -> "CAST((id + 4) % 7 AS INT)",
        "d_day_name" -> pick("(id + 4) % 7",
          Seq("Sunday", "Monday", "Tuesday", "Wednesday", "Thursday",
            "Friday", "Saturday"))),
      "time_dim" -> Map(
        "t_time_sk" -> "id",
        "t_time" -> "CAST(id * 60 AS INT)",
        "t_hour" -> s"CAST(${div("id", 60)} AS INT)",
        "t_minute" -> "CAST(id % 60 AS INT)",
        "t_second" -> "CAST(0 AS INT)",
        "t_meal_time" -> (s"CASE WHEN ${div("id", 60)} BETWEEN 6 AND 8 " +
          s"THEN 'breakfast' WHEN ${div("id", 60)} BETWEEN 17 AND 19 " +
          "THEN 'dinner' ELSE 'other' END")),
      "item" -> Map(
        "i_item_sk" -> "id",
        "i_item_id" -> "'ITEM_' || lpad(CAST(id AS STRING), 6, '0')",
        "i_item_desc" -> "'desc of item ' || CAST(id AS STRING)",
        "i_current_price" -> "100 + (id * 7919) % 9900", // cents
        "i_manufact_id" -> "CAST(id % 900 AS INT)", // q3 filters = 816
        "i_manager_id" -> "CAST(id % 100 AS INT)",
        "i_category" -> pick("id % 9", cats),
        "i_category_id" -> "CAST(id % 9 + 1 AS INT)",
        "i_class" -> pickNested("id % 9", s"${div("id", 9)} % 4", classPools),
        "i_class_id" -> s"CAST((id % 9) * 4 + ${div("id", 9)} % 4 AS INT)",
        "i_brand" -> pickNested("id % 9", s"${div("id", 9)} % 2", brandPools),
        "i_brand_id" -> s"CAST((id % 9) * 10 + ${div("id", 9)} % 2 AS INT)",
        // q41's correlated-item predicate needs coherent color/units/size
        // combos: one shared key (id/9 % 8) makes e.g. forest ⇒ Pallet,
        // and the 4-size pool keyed id/9 % 4 keeps (economy|small) aligned
        // with the first two color/unit slots.
        "i_product_name" -> "'product_' || lpad(CAST(id AS STRING), 6, '0')",
        "i_manufact" -> "'manu_' || CAST(id % 200 AS STRING)",
        "i_color" -> pick(s"${div("id", 9)} % 8",
          Seq("forest", "lime", "navy", "slate", "powder", "sky",
            "maroon", "smoke")),
        "i_units" -> pick(s"${div("id", 9)} % 8",
          Seq("Pallet", "Pound", "Gross", "Bunch", "Dozen", "Lb",
            "Ounce", "Case")),
        "i_size" -> pick(s"${div("id", 9)} % 4",
          Seq("economy", "small", "petite", "large"))),
      "store" -> Map(
        "s_store_sk" -> "id",
        "s_store_id" -> "'STORE_' || lpad(CAST(id AS STRING), 2, '0')",
        "s_store_name" -> pick("id % 8", storeNames),
        "s_company_name" -> pick("id % 3", Seq("Unknown", "ese", "bar")),
        "s_city" -> pick("id % 5", cities),
        "s_county" -> pick("id % 4",
          Seq("Ziebach County", "Williamson County", "Walker County",
            "Daviess County")),
        "s_state" -> pick("id % 8", states),
        "s_zip" -> pick("id % 4", storeZips),
        "s_number_employees" -> "CAST(200 + id * 9 AS INT)",
        "s_gmt_offset" -> "-500"), // cents-free: BIGINT fixed -5.00
      "customer" -> Map(
        "c_customer_sk" -> "id",
        "c_customer_id" -> "'CUST_' || lpad(CAST(id AS STRING), 6, '0')",
        "c_current_addr_sk" -> "(id * 13 + 7) % 1500",
        "c_preferred_cust_flag" -> pick("id % 2", Seq("Y", "N")),
        "c_first_name" -> "'Fn' || CAST(id % 97 AS STRING)",
        "c_last_name" -> "'Ln_' || lpad(CAST(id AS STRING), 6, '0')",
        "c_current_cdemo_sk" -> "(id * 17 + 3) % 700",
        "c_current_hdemo_sk" -> "(id * 11 + 1) % 144",
        "c_birth_year" -> "CAST(1930 + id % 60 AS INT)"),
      "customer_address" -> Map(
        "ca_address_sk" -> "id",
        "ca_address_id" -> "'ADDR_' || lpad(CAST(id AS STRING), 6, '0')",
        "ca_state" -> pick("id % 8", states),
        "ca_zip" -> pick("id % 12", zips),
        "ca_city" -> pick("id % 5", cities),
        "ca_county" -> pick("id % 4",
          Seq("Ziebach County", "Williamson County", "Walker County",
            "Daviess County")),
        "ca_country" -> "'United States'",
        "ca_gmt_offset" -> "-500"),
      "customer_demographics" -> Map(
        "cd_demo_sk" -> "id",
        "cd_gender" -> pick("id % 2", Seq("M", "F")),
        "cd_marital_status" -> pick(s"${div("id", 2)} % 5", maritals),
        "cd_education_status" -> pick(s"${div("id", 10)} % 7", educations),
        "cd_purchase_estimate" -> "CAST(500 + (id % 10) * 500 AS INT)",
        "cd_credit_rating" -> pick("id % 4",
          Seq("Low Risk", "Good", "High Risk", "Unknown")),
        "cd_dep_count" -> "CAST(id % 7 AS INT)"),
      "household_demographics" -> Map(
        "hd_demo_sk" -> "id",
        "hd_income_band_sk" -> "id % 20",
        "hd_buy_potential" -> pick("id % 3",
          Seq(">10000", "5001-10000", "0-500")),
        "hd_dep_count" -> "CAST(id % 10 AS INT)",
        "hd_vehicle_count" -> "CAST(id % 5 AS INT)"),
      "promotion" -> Map(
        "p_promo_sk" -> "id",
        "p_promo_id" -> "'PROMO_' || lpad(CAST(id AS STRING), 3, '0')",
        "p_channel_email" -> pick("id % 2", Seq("N", "Y")),
        "p_channel_event" -> pick(s"${div("id", 2)} % 2", Seq("N", "Y")),
        "p_channel_dmail" -> pick("id % 2", Seq("Y", "N")),
        "p_channel_tv" -> pick(s"${div("id", 4)} % 2", Seq("N", "Y"))),
      "web_site" -> Map(
        "web_site_sk" -> "id",
        "web_site_id" -> "'WEB_' || lpad(CAST(id AS STRING), 2, '0')",
        "web_name" -> "'site_' || CAST(id AS STRING)",
        "web_company_name" -> pick("id % 3", Seq("pri", "able", "ought"))),
      "catalog_page" -> Map(
        "cp_catalog_page_sk" -> "id",
        "cp_catalog_page_id" -> "'PAGE_' || lpad(CAST(id AS STRING), 3, '0')"),
      "warehouse" -> Map(
        "w_warehouse_sk" -> "id",
        "w_warehouse_id" -> "'WH_' || lpad(CAST(id AS STRING), 2, '0')",
        "w_warehouse_name" -> "'Ware_' || CAST(id AS STRING)",
        "w_warehouse_sq_ft" -> "CAST(50000 + id * 7331 AS INT)",
        "w_state" -> pick("id % 8", states)),
      "ship_mode" -> Map(
        "sm_ship_mode_sk" -> "id",
        "sm_ship_mode_id" -> "'SM_' || lpad(CAST(id AS STRING), 2, '0')",
        "sm_type" -> pick("id % 5",
          Seq("EXPRESS", "OVERNIGHT", "REGULAR", "TWO DAY", "LIBRARY")),
        "sm_carrier" -> pick("id % 4",
          Seq("UPS", "FEDEX", "AIRBORNE", "USPS"))),
      "reason" -> Map(
        "r_reason_sk" -> "id",
        "r_reason_id" -> "'R_' || lpad(CAST(id AS STRING), 2, '0')",
        "r_reason_desc" -> "'reason ' || CAST(id AS STRING)"),
      "web_page" -> Map(
        "wp_web_page_sk" -> "id",
        "wp_web_page_id" -> "'WP_' || lpad(CAST(id AS STRING), 2, '0')",
        "wp_char_count" -> "CAST(5000 + (id % 10) * 25 AS INT)"),
      "call_center" -> Map(
        "cc_call_center_sk" -> "id",
        "cc_call_center_id" -> "'CC_' || lpad(CAST(id AS STRING), 2, '0')",
        "cc_name" -> "'cc_' || CAST(id AS STRING)",
        // same county pool as store/customer_address (q16 filters on it)
        "cc_county" -> pick("id % 4",
          Seq("Ziebach County", "Williamson County", "Walker County",
            "Daviess County"))),
      "income_band" -> Map(
        "ib_income_band_sk" -> "id",
        "ib_lower_bound" -> "CAST(id * 5000 AS INT)",
        "ib_upper_bound" -> "CAST(id * 5000 + 4999 AS INT)"),
      "inventory" -> Map(
        // every warehouse snapshots every item on the same weekly dates,
        // so q21's before/after pivot sums see both sides of the window
        "inv_date_sk" -> s"400 + ${div("id", 5000)} * 7",
        "inv_item_sk" -> "id % 1000",
        "inv_warehouse_sk" -> s"${div("id", 1000)} % 5",
        // base 0..599 keeps q37/q82's 100..500 band populated; the 1-in-23
        // restock spike (+5000) gives some (item,warehouse,month) groups a
        // coefficient of variation above q39's >1 / >1.5 gates — a pure
        // arithmetic-progression quantity caps sample CV below 1, which is
        // why q39 was structurally empty before
        "inv_quantity_on_hand" ->
          ("CAST((id * 17 + 7) % 600 + " +
            "CASE WHEN id % 23 = 0 THEN 5000 ELSE 0 END AS INT)")),
      "store_sales" -> Map(
        // A ticket IS one store visit: date, customer, household and store
        // are TICKET-level attributes (keyed by id/18, 18 lines per
        // ticket), like the official generator's per-trip structure —
        // q34-class queries (count lines per ticket between 15 and 20)
        // are empty under row-keyed attributes.
        // promo-week branch (see promoCond): one engineered line per
        // surge item; the ticket keeps its other 17 lines' date
        "ss_sold_date_sk" -> (s"CASE WHEN ${promoCond(60)} THEN $PromoDay " +
          s"ELSE (${div("id", 18)} * 37 + 11) % 2191 END"),
        "ss_sold_time_sk" -> "(id * 1021 + 7) % 1440",
        "ss_item_sk" -> "id % 1000",
        // Every 10th ticket belongs to one of 20 LOYAL customers (sks
        // 0..19) who shop every channel every year — the q4/q11/q74
        // family needs customers with store+catalog+web activity in two
        // consecutive years, which the date-derived stream alone cannot
        // produce (a given derived customer's tickets sit ~2000 days
        // apart). The echo branches below mirror the same mapping.
        "ss_customer_sk" -> (s"CASE WHEN ${div("id", 18)} % 10 = 3 " +
          s"THEN ${div(div("id", 18), 10)} % 20 " +
          s"WHEN ${div("id", 18)} % 20 = 7 THEN NULL " +
          s"ELSE ((${div("id", 18)} * 37 + 11) % 2191 * 53 + 9 + " +
          s"${div("id", 18)} % 2) % 2000 END"),
        "ss_cdemo_sk" -> "(id * 41 + 5) % 700",
        "ss_hdemo_sk" -> (s"CASE WHEN ${div("id", 18)} % 20 = 8 THEN NULL " +
          s"ELSE (${div("id", 18)} * 23 + 1) % 144 END"),
        "ss_addr_sk" -> "(id * 19) % 1500",
        "ss_store_sk" -> s"(${div("id", 18)} * 31) % 12",
        "ss_promo_sk" -> "(id * 43) % 50",
        "ss_ticket_number" -> div("id", 18),
        "ss_quantity" -> "CAST(1 + id % 100 AS INT)",
        // money columns: deterministic pseudo-random cents
        "ss_sales_price" -> "(id * 7919 + 13) % 20000",
        "ss_list_price" -> "(id * 6971 + 29) % 25000",
        "ss_ext_sales_price" -> (s"CASE WHEN ${promoCond(60)} " +
          s"THEN $PromoBase + ((id % 1000) % 5) * 1000 " +
          "ELSE (id * 104729 + 17) % 2000000 END"),
        "ss_ext_list_price" -> "(id * 104723 + 19) % 2500000",
        "ss_coupon_amt" -> "(id * 3001) % 5000",
        "ss_ext_discount_amt" -> "(id * 2003) % 40000",
        "ss_wholesale_cost" -> "(id * 1009) % 10000",
        "ss_ext_wholesale_cost" -> "(id * 1013) % 1000000",
        "ss_ext_tax" -> "(id * 503) % 16000",
        "ss_net_paid" -> "(id * 7013) % 1900000",
        "ss_net_paid_inc_tax" -> "(id * 7019) % 1950000",
        "ss_net_profit" -> "(id * 7907) % 300000 - 100000"),
      "web_sales" -> Map(
        // orders have TWO lines (id/2) shipped from DIFFERENT warehouses —
        // the split-shipment shape q94/q95's EXISTS probes — so order-level
        // attributes (date, customer, site) key off the order
        "ws_sold_date_sk" -> (s"CASE WHEN ${promoCond(20)} THEN $PromoDay " +
          s"ELSE (${div("id", 2)} * 37 + 5) % 2191 END"),
        "ws_ship_date_sk" ->
          s"least(2190, (${div("id", 2)} * 37 + 5) % 2191 + id % 150)",
        "ws_sold_time_sk" -> "(id * 59 + 3) % 1440",
        "ws_item_sk" -> "id % 1000",
        "ws_order_number" -> div("id", 2),
        "ws_web_site_sk" -> s"${div("id", 2)} % 6",
        "ws_ship_addr_sk" -> "(id * 19 + 3) % 1500",
        "ws_promo_sk" -> "CASE WHEN id % 20 = 7 THEN NULL ELSE (id * 43 + 2) % 50 END",
        "ws_warehouse_sk" -> "(id + CAST(id % 2 AS INT) * 2) % 5",
        "ws_ship_mode_sk" -> "id % 10",
        "ws_ship_hdemo_sk" -> "(id * 13 + 3) % 144",
        "ws_web_page_sk" -> "id % 10",
        // loyal-pool branch: see ss_customer_sk
        "ws_bill_customer_sk" -> (s"CASE WHEN ${div("id", 2)} % 8 = 3 " +
          s"THEN ${div(div("id", 2), 8)} % 20 " +
          s"ELSE ((${div("id", 2)} * 37 + 5) % 2191 * 53 " +
          s"+ 9 + 2 * (${div("id", 2)} % 2)) % 2000 END"),
        "ws_quantity" -> "CAST(1 + id % 100 AS INT)",
        "ws_sales_price" -> "(id * 6151 + 7) % 20000",
        "ws_ext_sales_price" -> (s"CASE WHEN ${promoCond(20)} " +
          s"THEN $PromoBase - ((id % 1000) % 5) * 1000 " +
          "ELSE (id * 104717 + 23) % 2000000 END"),
        "ws_net_profit" -> "(id * 7901) % 300000 - 100000"),
      "catalog_sales" -> Map(
        // Every 5th row is a RE-PURCHASE ECHO of store-sale line
        // (id/5*7)%60000 — the same line store_returns row id/5 mirrors —
        // with the same customer+item, dated 14 days after the store
        // sale. This gives the q17/q25/q29 family its "bought in store,
        // returned, re-bought by catalog" customers deterministically;
        // non-echo rows keep independent date/item/customer streams.
        "cs_sold_date_sk" -> (s"CASE WHEN id % 5 <> 0 AND ${promoCond(15)} " +
          s"THEN $PromoDay " +
          "WHEN id % 5 = 0 THEN least(2190, (CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT) * 37 + 11) % 2191 + 14) ELSE (id * 37 + 29) % 2191 END"),
        "cs_ship_date_sk" -> "least(2190, (id * 37 + 29) % 2191 + id % 150)",
        "cs_warehouse_sk" -> "id % 5",
        "cs_ship_mode_sk" -> "(id + 3) % 10",
        "cs_call_center_sk" -> "id % 6",
        // q26 joins bill_cdemo/promo: the default type filler only covers
        // demo_sk 0..100, which intersects q26's M/W/Unknown demographic
        // slice in a single row — key them over the full dimension ranges
        "cs_bill_cdemo_sk" -> "(id * 41 + 5) % 700",
        "cs_promo_sk" -> "(id * 43 + 1) % 50",
        "cs_item_sk" -> "CASE WHEN id % 5 = 0 THEN ((CAST(floor((id)/5) AS BIGINT) * 7) % 60000) % 1000 ELSE id % 1000 END",
        // every 11th non-echo line joins the PREVIOUS line's order (both
        // lines keep their own warehouses, which differ by construction:
        // (id-1)%5 <> id%5) — the multi-warehouse split orders q16's
        // EXISTS probe needs; echo rows always stay single-line orders
        "cs_order_number" ->
          ("CASE WHEN id % 5 <> 0 AND id % 11 = 4 AND (id-1) % 5 <> 0 " +
            "THEN id-1 ELSE id END"),
        "cs_catalog_page_sk" -> "id % 60",
        "cs_sold_time_sk" -> "(id * 1021 + 11) % 1440",
        // echo branch mirrors the store ticket's customer INCLUDING the
        // loyal-pool branch (the mirrored ticket id is the same tid the
        // store formula uses); non-echo rows get their own loyal stride
        "cs_bill_customer_sk" -> "CASE WHEN id % 5 = 0 THEN CASE WHEN CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT) % 10 = 3 THEN CAST(floor((CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT))/10) AS BIGINT) % 20 WHEN CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT) % 20 = 7 THEN NULL ELSE ((CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT) * 37 + 11) % 2191 * 53 + 9 + CAST(floor(((CAST(floor((id)/5) AS BIGINT) * 7) % 60000)/18) AS BIGINT) % 2) % 2000 END ELSE CASE WHEN id % 12 = 3 THEN CAST(floor((id)/12) AS BIGINT) % 20 WHEN id % 20 = 7 THEN NULL ELSE ((id * 37 + 29) % 2191 * 53 + 9 + 3 * (id % 3)) % 2000 END END",
        "cs_quantity" -> "CAST(1 + id % 100 AS INT)",
        "cs_ext_sales_price" -> (s"CASE WHEN id % 5 <> 0 AND " +
          s"${promoCond(15)} THEN $PromoBase " +
          "ELSE (id * 104711 + 31) % 2000000 END"),
        // list price is the big number refunds are compared against
        // (q64's cs_ui: sum(list) > 2*sum(refund parts)); the type-default
        // filler tops out at 9999 cents and made that predicate
        // universally false
        "cs_ext_list_price" -> "500000 + (id * 104723 + 41) % 2000000",
        "cs_net_profit" -> "(id * 7883) % 300000 - 100000"),
      "store_returns" -> {
        // Each return REFERS to a real sale line (official FK shape):
        // return r returns sale row (r*7)%60000, so ticket/item/customer/
        // store mirror that line's values and the q50-class join
        // (ticket+item+customer) matches exactly one sale. Returned date =
        // sold date + 0..149 days, capped at the calendar end.
        val sale = "(id * 7) % 60000"
        val ticket = div(sale, 18)
        val sold = s"($ticket * 37 + 11) % 2191"
        Map(
          "sr_returned_date_sk" ->
            returnSurge(s"($sale) % 1000", s"least(2190, $sold + (id % 150))"),
          "sr_item_sk" -> s"($sale) % 1000",
          "sr_ticket_number" -> ticket,
          // mirrors ss_customer_sk INCLUDING the loyal-pool branch, so
          // the q50-class (ticket,item,customer) join stays exact
          "sr_customer_sk" -> (s"CASE WHEN $ticket % 10 = 3 " +
            s"THEN ${div(ticket, 10)} % 20 " +
            s"WHEN $ticket % 20 = 7 THEN NULL " +
            s"ELSE (($ticket * 37 + 11) % 2191 * 53 + 9 + " +
            s"$ticket % 2) % 2000 END"),
          "sr_store_sk" -> s"($ticket * 31) % 12",
          "sr_reason_sk" -> "id % 60",
          "sr_return_quantity" -> "CAST(1 + id % 20 AS INT)",
          "sr_return_amt" -> "(id * 3571) % 50000",
          "sr_fee" -> "(id * 1117) % 10000",
          "sr_net_loss" -> "(id * 2713) % 40000")
      },
      "catalog_returns" -> {
        // each return refers to catalog sale row (id*7)%15000, so the
        // (order, item) join matches exactly one sale and the customer /
        // call-center keys mirror that sale's
        val sale = "(id * 7) % 15000"
        val sold = s"(($sale) * 37 + 29) % 2191"
        Map(
          "cr_returned_date_sk" ->
            returnSurge(s"($sale) % 1000", s"least(2190, $sold + (id % 150))"),
          "cr_item_sk" -> s"($sale) % 1000",
          "cr_order_number" -> sale,
          "cr_catalog_page_sk" -> "id % 60",
          "cr_call_center_sk" -> s"($sale) % 6",
          // mirrors cs_bill_customer_sk's non-echo branch incl. loyal pool
          "cr_returning_customer_sk" -> (s"CASE WHEN ($sale) % 12 = 3 " +
            s"THEN ${div(s"($sale)", 12)} % 20 " +
            s"WHEN ($sale) % 20 = 7 THEN NULL " +
            s"ELSE ($sold * 53 + 9 + 3 * (($sale) % 3)) % 2000 END"),
          "cr_returning_addr_sk" -> "(id * 19 + 11) % 1500",
          "cr_return_amount" -> "(id * 3581) % 50000",
          "cr_net_loss" -> "(id * 2719) % 40000")
      },
      "web_returns" -> Map(
        "wr_returned_date_sk" -> returnSurge(
          "(2 * ((id * 11) % 10000)) % 1000", "(id * 37 + 41) % 2191"),
        // wr joins web_sales on (item, order): order o has item o%1000,
        // so derive the item FROM the order number → every return matches
        "wr_order_number" -> "(id * 11) % 10000",
        "wr_item_sk" -> "(2 * ((id * 11) % 10000)) % 1000",
        // mirrors ws_bill_customer_sk for the referenced order, incl.
        // the loyal-pool branch
        "wr_returning_customer_sk" ->
          ("CASE WHEN (id * 11) % 10000 % 8 = 3 " +
            "THEN CAST(floor(((id * 11) % 10000)/8) AS BIGINT) % 20 " +
            "ELSE (((id * 11) % 10000 * 37 + 5) % 2191 * 53 + 9 + " +
            "2 * ((id * 11) % 10000 % 2)) % 2000 END"),
        "wr_returning_addr_sk" -> "(id * 19 + 5) % 1500",
        // refunded address always lands on a TX-state row (addr ≡ 2 mod 8)
        // — q85's state lists would otherwise intersect the profit bands
        // in ~0.4 expected rows at this scale
        "wr_refunded_addr_sk" -> "((id * 19 + 7) % 187) * 8 + 2",
        // the refunder and the returner are the same person (q85's demo
        // pair equality is the common case, not the exception), and 60%
        // of them fall on the three demographic combos q85 names
        // (74 = D/Primary, 92 = S/College, 58 = U/Advanced Degree)
        "wr_refunded_cdemo_sk" ->
          ("CASE CAST(id % 5 AS INT) WHEN 0 THEN 74 WHEN 1 THEN 92 " +
            "WHEN 2 THEN 58 ELSE (id * 41 + 9) % 700 END"),
        "wr_returning_cdemo_sk" ->
          ("CASE CAST(id % 5 AS INT) WHEN 0 THEN 74 WHEN 1 THEN 92 " +
            "WHEN 2 THEN 58 ELSE (id * 41 + 9) % 700 END"),
        "wr_reason_sk" -> "id % 60",
        "wr_web_page_sk" -> "(2 * ((id * 11) % 10000)) % 10",
        "wr_return_amt" -> "(id * 3593) % 50000",
        "wr_net_loss" -> "(id * 2729) % 40000"))
  }

  /** Type-default expr for a column with no semantic override; `ci` varies
    * the values across columns so accidental cross-column equality doesn't
    * create degenerate joins. */
  private def defaultExpr(dt: DataType, ci: Int): String = dt match {
    case _: DecimalType => s"(id * 31 + $ci * 7) % 10000" // BIGINT cents
    case IntegerType => s"CAST((id * 13 + $ci) % 101 AS INT)"
    case LongType => s"(id * 7 + $ci) % 1009"
    case ShortType => s"CAST((id + $ci) % 7 AS SMALLINT)"
    case DoubleType | FloatType => s"CAST((id + $ci) % 10 AS DOUBLE)"
    case DateType => s"$BaseDate + CAST((id * 11 + $ci) % 2191 AS INT)"
    case _ => s"'x' || CAST((id + $ci) % 53 AS STRING)"
  }

  def columns(table: String, r: Map[String, Long]): Seq[(String, String)] = {
    val schema = ddlSchemas(table)
    val ov = overrides.getOrElse(table, Map.empty)
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> scaleRefs(table,
        ov.getOrElse(f.name, defaultExpr(f.dataType, i)), r)
    }.toSeq
  }

  private lazy val ddlSchemas: Map[String, StructType] =
    RefTpcds.tables(corpus).toMap
}

/** The generator over the committed corpus's DDL. */
object TpcdsGen extends TpcdsGen(SqlCorpus.queries)
