package graft.queries

/** Deterministic FULL-schema TPC-H generator, one definition for BOTH
  * engines — the TPC-H sibling of [[TpcdsGen]], built so the 22 TPC-H
  * queries the reference's tester binary runs (the committed corpus's
  * tpch/q1..q22.sql) can execute: the TPC-H-ish testdata omits
  * `partsupp` and several columns (o_shippriority, c_acctbal, l_shipmode,
  * …), which previously limited that family to 7 of 22 queries
  * (RefSql). Every table and column of the TPC-H schema
  * (the corpus's tpch/ddl.sql) is generated here from ONE list of portable
  * SQL expressions over a row index `id` — Spark registers them as temp
  * views over `spark.range`, DuckDB replays the same expressions as a
  * WITH-prelude, so inputs match bit-for-bit.
  *
  * Value-distribution engineering (each query's literals must select
  * non-trivial rows — measured in a DuckDB search loop, recorded here):
  *   - official pools: 5 regions, 25 nations (official region mapping),
  *     type/container/segment/priority/shipmode/shipinstruct words, color
  *     p_names, Brand#xy, phone `CC-ddd-ddd-dddd` with CC = 10+nationkey
  *     (q22's 2-digit prefixes);
  *   - DECIMAL columns generate as DOUBLE (the driver hasher bans DECIMAL;
  *     driver-testdata precedent), and EVERY money/rate column sits on an
  *     exact binary (dyadic) grid — prices/acctbal on quarters (k/4),
  *     l_discount/l_tax on k/64, ps_supplycost on k/256 — so every double
  *     aggregate in q1..q22 sums EXACTLY: each per-row product (e.g. q1's
  *     extendedprice·(1−discount)·(1+tax), a multiple of 2⁻¹⁴ under 2⁵³)
  *     is float-exact and the sum is accumulation-order-independent,
  *     never flipping the driver hasher between Spark's parallel and
  *     DuckDB's sequential fold (round-7's reftpch_q1 red row was exactly
  *     this: discount/tax on a k/100 grid). Pinned structurally by
  *     RefTpchFullSpec's repartition(1)-vs-(32) bit-equality test;
  *     l_quantity is integer-valued DOUBLE (its sums are exact AND
  *     sum(l_quantity) never becomes DuckDB HUGEINT the way an INT
  *     column would);
  *   - part attributes (brand digits, container words, size, type words,
  *     name colors) come from INDEPENDENT affine streams mod prime 1997:
  *     shared small moduli would correlate them (first cut: brand and
  *     container both keyed id%5 made q17's Brand#54+LG BAG empty by
  *     construction). The multipliers were searched so q19's three
  *     brand/container/size bands, q17's combo, and q2's size-48 %TIN
  *     slice all have parts;
  *   - l_partkey stride 23 (not 17): with stride 17 the supplier-vs-
  *     customer nation difference was CONSTANT mod 25 (53·3 ≡ 21·4 ≡ 9 —
  *     the q-coefficients cancelled), making q5/q7/q8 structurally empty;
  *   - l_suppkey is one of the line's part's FOUR partsupp suppliers
  *     (slot = id%4), so q9/q20's ps_partkey=l_partkey AND
  *     ps_suppkey=l_suppkey joins match — the official FK shape. The
  *     (11, 59) stride pair was searched so an ARGENTINA supplier lands
  *     on ECONOMY BURNISHED TIN lines (q8's mkt_share ≈ 0.39/0.41, not
  *     the vacuous 0.0) while q2/q5/q7/q20/q21 keep rows;
  *   - l_quantity mixes in div(id,2000): a part's 30 lines share
  *     id mod 2000 and 2000·11 ≡ 0 (mod 50), so without it every part's
  *     quantity was CONSTANT and q17's `< 0.2*avg` could never fire;
  *   - o_custkey is lumpy (every 5th order goes to customers 0..249) for
  *     q13's custdist spread, covers only customers < 1000 so q22's
  *     NOT EXISTS(orders) block (customers 1000+) is non-empty, and mixes
  *     in div(oid,5) — a pure affine map hit only 4 of 5 residues mod 5,
  *     leaving segment HOUSEHOLD (q3) without orders;
  *   - every 83rd order's quantities get +60 so q18's
  *     `sum(l_quantity) > 314` band is populated (4 lines × ≤50 caps
  *     organic sums at 200).
  */
object TpchGen extends TableGen {

  val rows: Map[String, Long] = Map(
    "region" -> 5L,
    "nation" -> 25L,
    "supplier" -> 200L,
    "part" -> 2000L,
    "partsupp" -> 8000L,
    "customer" -> 1500L,
    "orders" -> 15000L,
    "lineitem" -> 60000L)

  /** Only the orders/lineitem fact pair scales: lineitem's order key is
    * div(id, 4), so the 4-lines-per-order structure (and q18's boost
    * band, q13's custkey lumps — all modular in id) is scale-invariant,
    * and l_suppkey/l_partkey reference only the FIXED part/supplier
    * dimensions, so the partsupp FK shape survives any k. Used by the
    * bench-only `reftpch_q*_x{k}` variants. */
  protected val scaled = Set("orders", "lineitem")

  private val regions =
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val colors = Seq("almond", "antique", "aquamarine", "azure",
    "beige", "bisque", "black", "blanched", "blue", "lime", "pink",
    "green", "red", "forest", "ghost", "honeydew", "ivory")
  private val types1 =
    Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val types2 =
    Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val types3 = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val cont1 = Seq("SM", "MED", "LG", "JUMBO", "WRAP")
  private val cont2 =
    Seq("CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val instructs =
    Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val modes =
    Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val sComments = Seq(
    "sits quietly among the pending requests",
    "furiously even deposits detect",
    "blithely final accounts are about the platelets",
    "the Customer several cases unhappy Complaints were filed", // q16
    "slyly regular packages wake", "express ideas haggle carefully",
    "bold pinto beans sleep", "quickly silent theodolites nod")
  private val oComments = Seq(
    "quickly final deposits haggle", "furiously special ideas boost",
    "carefully pending foxes among the accounts nag", // q13's NOT LIKE
    "blithely ironic accounts integrate", "slyly even requests after the",
    "express instructions sleep quickly", "regular theodolites affix",
    "silent packages print carefully", "ironic dependencies wake slyly",
    "even pinto beans against the", "final requests above the",
    "pending platelets boost furiously accounts of the", // q13's NOT LIKE
    "bold asymptotes nod")

  private def odate(oid: String) =
    s"DATE '1992-01-01' + CAST(($oid*37+11) % 2341 AS INT)"
  private def ocust(oid: String) =
    s"(CASE WHEN ($oid) % 5 = 0 THEN (($oid)*17 + ${div(oid, 5)} + 3) % 250 " +
      s"ELSE (($oid)*53 + ${div(oid, 5)} + 9) % 1000 END)"
  private def phone(key: String) =
    s"CAST(10 + $key AS STRING) || '-' || " +
      "lpad(CAST((id*97+11) % 1000 AS STRING), 3, '0') || '-' || " +
      "lpad(CAST((id*89+3) % 1000 AS STRING), 3, '0') || '-' || " +
      "lpad(CAST((id*83+7) % 10000 AS STRING), 4, '0')"

  private val oid = div("id", 4)
  private val shipdate = s"(${odate(oid)}) + CAST(1 + (id*13) % 120 AS INT)"
  private val commitdate =
    s"(${odate(oid)}) + CAST(30 + (id*7) % 60 AS INT)"
  private val receiptdate = s"($shipdate) + CAST(1 + (id*3) % 30 AS INT)"

  /** The column exprs don't depend on the scale. */
  def columns(table: String, r: Map[String, Long]): Seq[(String, String)] =
    exprs(table)

  /** (column, expr) list per table, official DDL order. */
  private val exprs: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> "CAST(id AS INT)",
      "r_name" -> pick("id", regions),
      "r_comment" -> "'region comment ' || CAST(id AS STRING)"),
    "nation" -> Seq(
      "n_nationkey" -> "CAST(id AS INT)",
      "n_name" -> pick("id", nations.map(_._1)),
      "n_regionkey" ->
        s"CAST(${pick("id", nations.map(_._2.toString))} AS INT)",
      "n_comment" -> "'nation comment ' || CAST(id AS STRING)"),
    "supplier" -> Seq(
      "s_suppkey" -> "CAST(id AS INT)",
      "s_name" -> "'Supplier#' || lpad(CAST(id AS STRING), 9, '0')",
      "s_address" -> "'addr_s_' || CAST((id*31+5) % 977 AS STRING)",
      "s_nationkey" -> "CAST(id % 25 AS INT)",
      "s_phone" -> phone("id % 25"),
      "s_acctbal" -> "CAST((id*617+31) % 44000 AS DOUBLE)/4 - 1000",
      "s_comment" -> pick("id % 8", sComments)),
    "part" -> Seq(
      "p_partkey" -> "CAST(id AS INT)",
      "p_name" -> (pick("(id*257+9) % 1997 % 17", colors) + " || ' ' || " +
        pick("(id*263+10) % 1997 % 17", colors) + " || ' ' || " +
        pick("(id*269+11) % 1997 % 17", colors)),
      "p_mfgr" ->
        "'Manufacturer#' || CAST(1 + (id*271+12) % 1997 % 5 AS STRING)",
      "p_brand" -> ("'Brand#' || CAST(1 + (id*269+1) % 1997 % 5 AS STRING)" +
        " || CAST(1 + (id*233+2) % 1997 % 5 AS STRING)"),
      "p_type" -> (pick("(id*239+6) % 1997 % 6", types1) + " || ' ' || " +
        pick("(id*241+7) % 1997 % 5", types2) + " || ' ' || " +
        pick("(id*251+8) % 1997 % 5", types3)),
      "p_size" -> "CAST(1 + (id*227+5) % 1997 % 50 AS INT)",
      "p_container" -> (pick("(id*277+3) % 1997 % 5", cont1) +
        " || ' ' || " + pick("(id*223+4) % 1997 % 8", cont2)),
      "p_retailprice" -> "CAST(360000 + (id*101) % 4000 AS DOUBLE)/4",
      "p_comment" -> "'part note ' || CAST((id*13) % 71 AS STRING)"),
    "partsupp" -> Seq(
      "ps_partkey" -> s"CAST(${div("id", 4)} AS INT)",
      "ps_suppkey" ->
        s"CAST((${div("id", 4)}*11 + (id % 4)*59 + 7) % 200 AS INT)",
      "ps_availqty" -> "CAST(1 + (id*61) % 9999 AS INT)",
      "ps_supplycost" -> "CAST(1 + (id*7331+17) % 25600 AS DOUBLE)/256",
      "ps_comment" -> "'ps note ' || CAST((id*19) % 83 AS STRING)"),
    "customer" -> Seq(
      "c_custkey" -> "CAST(id AS INT)",
      "c_name" -> "'Customer#' || lpad(CAST(id AS STRING), 9, '0')",
      "c_address" -> "'addr_c_' || CAST((id*37+3) % 1231 AS STRING)",
      "c_nationkey" -> "CAST((id*3+1) % 25 AS INT)",
      "c_phone" -> phone("(id*3+1) % 25"),
      "c_acctbal" -> "CAST((id*711+41) % 44000 AS DOUBLE)/4 - 1000",
      "c_mktsegment" -> pick("id % 5", segments),
      "c_comment" -> "'customer note ' || CAST((id*11) % 101 AS STRING)"),
    "orders" -> Seq(
      "o_orderkey" -> "id",
      "o_custkey" -> s"CAST(${ocust("id")} AS INT)",
      "o_orderstatus" ->
        (s"CASE WHEN ${odate("id")} < DATE '1995-01-01' THEN 'F' " +
          s"WHEN ${odate("id")} >= DATE '1996-07-01' THEN 'O' " +
          "ELSE 'P' END"),
      "o_totalprice" -> "CAST(40000 + (id*1009+13) % 1600000 AS DOUBLE)/4",
      "o_orderdate" -> odate("id"),
      "o_orderpriority" -> pick("id % 5", prios),
      "o_clerk" -> "'Clerk#' || lpad(CAST((id*7) % 1000 AS STRING), 9, '0')",
      "o_shippriority" -> "CAST(0 AS INT)",
      "o_comment" -> pick("id % 13", oComments)),
    "lineitem" -> Seq(
      "l_orderkey" -> oid,
      "l_partkey" -> "CAST((id*23+3) % 2000 AS INT)",
      "l_suppkey" ->
        "CAST((((id*23+3) % 2000)*11 + (id % 4)*59 + 7) % 200 AS INT)",
      "l_linenumber" -> "CAST(1 + id % 4 AS INT)",
      "l_quantity" -> (s"CAST(1 + (id*11 + ${div("id", 2000)}*7 + 5) % 50" +
        s" + CASE WHEN $oid % 83 = 5 THEN 60 ELSE 0 END AS DOUBLE)"),
      "l_extendedprice" -> "CAST(400 + (id*7919+13) % 360000 AS DOUBLE)/4",
      "l_discount" -> "CAST((id*3+1) % 7 AS DOUBLE)/64",
      "l_tax" -> "CAST((id*5+2) % 6 AS DOUBLE)/64",
      "l_returnflag" ->
        (s"CASE WHEN ($receiptdate) < DATE '1995-06-17' THEN " +
          "(CASE WHEN id % 2 = 0 THEN 'R' ELSE 'A' END) ELSE 'N' END"),
      "l_linestatus" ->
        s"CASE WHEN ($shipdate) < DATE '1995-06-17' THEN 'F' ELSE 'O' END",
      "l_shipdate" -> shipdate,
      "l_commitdate" -> commitdate,
      "l_receiptdate" -> receiptdate,
      "l_shipinstruct" -> pick("id % 4", instructs),
      "l_shipmode" -> pick("id % 7", modes),
      "l_comment" -> "'line note ' || CAST((id*23) % 91 AS STRING)"))
}
