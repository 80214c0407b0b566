package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Remaining adaptable TPC-H query shapes (the committed corpus's
  * tpch/q2..q22.sql), rewritten against the
  * slimmed driver schema (FIXTURES.md §B: no partsupp, synthetic NATION_n
  * names, doubles for decimals).
  *
  * Subquery-heavy shapes use [[Q.sql]] (one ANSI text for Spark + DuckDB) so
  * Catalyst's decorrelation (`RewritePredicateSubquery`,
  * `RewriteCorrelatedScalarSubquery`) — the Spark counterpart of the
  * reference's mark-join machinery (builder_plan.go:143-660) — is exercised
  * end-to-end. DataFrame-API shapes cover the typed surface.
  */
object TpchMore {

  private def ts(s: String) = Tables.ts(s)

  /** Q2 core: uncorrelated scalar subquery + min/max semantics.
    * Reference: cases/tpch/query/q2.sql (correlated min over partsupp —
    * partsupp absent, so the scalar-subquery shape is kept over supplier). */
  val q2 = Q.sql(
    "q2_scalar_max",
    """SELECT s_suppkey, s_name, s_acctbal, n_name
      |FROM supplier, nation
      |WHERE s_nationkey = n_nationkey
      |  AND s_acctbal = (SELECT max(s_acctbal) FROM supplier)
      |ORDER BY s_suppkey""".stripMargin)

  /** min/max/avg aggregate coverage (reference function_aggr.go:364-387). */
  val qMinMax = Q(
    "agg_minmax",
    """SELECT n_name, min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal,
      |  count(*) AS n_supp
      |FROM supplier, nation WHERE s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "supplier")
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(min("s_acctbal").as("min_bal"), max("s_acctbal").as("max_bal"),
        count(lit(1)).as("n_supp"))
  }

  /** Q4: correlated EXISTS → left semi join (reference mark join,
    * join_scan.go:122-167; commitdate/receiptdate absent → shipdate vs
    * orderdate, a non-equi correlated condition). */
  val q4 = Q.sql(
    "q4_exists",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin)

  /** Q7: nation self-join pair filter + EXTRACT(year) (q7.sql). */
  val q7 = Q(
    "q7_nation_pairs",
    """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |        EXTRACT(year FROM l_shipdate) AS l_year,
      |        l_extendedprice * (1 - l_discount) AS volume
      |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |        AND c_nationkey = n2.n_nationkey
      |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |     ) shipping
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31")))
    val ord = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer")
    val supp = Tables.load(s, dir, "supplier")
    val n1 = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(n1), supp("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), cust("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** Q8: national market share — 8-table join, CASE-in-ratio over year
    * groups (q8.sql; p_type = 'PROMO', region ASIA, synthetic nation). */
  val q8 = Q.sql(
    "q8_mkt_share",
    """SELECT o_year,
      |  sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
      |    / sum(volume) AS mkt_share
      |FROM (SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |        l_extendedprice * (1 - l_discount) AS volume,
      |        n2.n_name AS nation
      |      FROM part, supplier, lineitem, orders, customer,
      |           nation n1, nation n2, region
      |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |        AND c_nationkey = n1.n_nationkey
      |        AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |        AND s_nationkey = n2.n_nationkey
      |        AND p_type = 'PROMO') allnations
      |GROUP BY o_year""".stripMargin)

  /** Q9: LIKE filter on part name + year grouping (q9.sql, partsupp-free). */
  val q9 = Q.sql(
    "q9_like_year",
    """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
      |  sum(l_extendedprice * (1 - l_discount)) AS sum_profit
      |FROM part, supplier, lineitem, orders, nation
      |WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |  AND p_name LIKE '%widget%'
      |GROUP BY n_name, EXTRACT(year FROM o_orderdate)""".stripMargin)

  /** Q11: HAVING over grouped agg vs uncorrelated scalar subquery (q11.sql,
    * partsupp → lineitem value). */
  val q11 = Q.sql(
    "q11_having_scalar",
    """SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
      |FROM lineitem
      |GROUP BY l_partkey
      |HAVING sum(l_extendedprice * l_quantity) >
      |  (SELECT sum(l_extendedprice * l_quantity) * 0.006 FROM lineitem)""".stripMargin)

  /** Q12: CASE WHEN + IN / NOT IN value lists (q12.sql; shipmode absent →
    * orderpriority classes). */
  val q12 = Q(
    "q12_case_in",
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS high_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS low_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      |GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
    val urgent = Seq("1-URGENT", "2-HIGH")
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") &&
          col("l_shipdate") < ts("1998-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin(urgent: _*), 1).otherwise(0))
          .as("high_count"),
        sum(when(!col("o_orderpriority").isin(urgent: _*), 1).otherwise(0))
          .as("low_count"))
  }

  /** Q13: left outer join + count over NULLs (q13.sql — the reference's one
    * "almost right" case; count(o_orderkey) must skip NULLs). */
  val q13 = Q(
    "q13_left_outer_count",
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count""".stripMargin) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders")
    cust.join(ord,
        cust("c_custkey") === ord("o_custkey") &&
          ord("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** Q14: CASE WHEN + LIKE inside an ungrouped ratio agg (q14.sql). */
  val q14 = Q(
    "q14_promo_like",
    """SELECT 100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
      |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |  / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-10-01'""".stripMargin) {
    (s, dir) =>
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-09-01") &&
          col("l_shipdate") < ts("1997-10-01"))
        .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg((sum(when(col("p_type").like("PROMO%"), vol).otherwise(0)) * 100.0
          / sum(vol)).as("promo_revenue"))
  }

  /** Q15: CTE + max-over-grouped-subquery (q15.sql's revenue view). */
  val q15 = Q.sql(
    "q15_cte_max",
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin)

  /** Q16: DISTINCT aggregate + <> + NOT LIKE + IN (q16.sql, partsupp →
    * lineitem suppliers). */
  val q16 = Q(
    "q16_distinct_agg",
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey AND p_brand <> 'Brand#11'
      |  AND p_type NOT LIKE 'MEDIUM%' AND p_size IN (1,4,9,14,23,36,45,49)
      |GROUP BY p_brand, p_type, p_size""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#11" &&
        !col("p_type").like("MEDIUM%") &&
        col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
      .join(Tables.load(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  /** Q17: correlated scalar subquery with aggregate (q17.sql). */
  val q17 = Q.sql(
    "q17_corr_scalar",
    """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#11'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)

  /** Q18: IN-subquery with GROUP BY + HAVING (q18.sql). DataFrame form
    * rather than Q.sql: Catalyst's subquery rewrite propagates the IN
    * semi-join to BOTH orders and lineitem (transitive over o_orderkey =
    * l_orderkey), computing the whole-lineitem HAVING aggregate twice and
    * sort-merge-joining lineitem twice — 97 s at the 50× bench scale. This
    * shape aggregates lineitem once, semi-joins orders against the
    * qualifying keys, and inner-joins lineitem last, so AQE broadcasts the
    * (small) qualified orders side into a single un-shuffled lineitem
    * pass. */
  val q18 = Q(
    "q18_in_having",
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
      |  sum(l_quantity) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE),
      |  o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val qual = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 300)
      .select(col("l_orderkey").as("qk"))
    val ord = Tables.load(s, dir, "orders")
      .join(qual, col("o_orderkey") === col("qk"), "left_semi")
    ord.join(Tables.load(s, dir, "customer"),
        col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"))
      .agg(sum("l_quantity").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q19: OR of multi-column conjunctions (q19.sql, trimmed to available
    * columns — exercises disjunctive filter pushdown/CNF handling). */
  val q19 = Q(
    "q19_or_filter",
    """SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND (
      |     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |      AND l_quantity BETWEEN 1 AND 11)
      |  OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 10
      |      AND l_quantity BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |      AND l_quantity BETWEEN 20 AND 30))""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#21" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** Q21: EXISTS + NOT EXISTS against the same table in one query (q21.sql
    * minus receiptdate/commitdate) — both correlated subqueries decorrelate
    * to semi + anti joins over lineitem self-references. */
  val q21 = Q.sql(
    "q21_exists_notexists",
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name""".stripMargin)

  /** q21 rewritten to a SINGLE lineitem scan with window functions: the
    * EXISTS becomes `nsupp > 1` (another supplier in the order) and the
    * NOT EXISTS becomes `shipdate >= max-shipdate-of-OTHER-suppliers`,
    * where max-other is derived from the order-level max, its distinct
    * owner count, and the runner-up (all computed over one orderkey
    * window). Same oracle SQL as q21 — the rewrite is equivalence-checked
    * by the driver gate. At scale: 3 scans + 2 broadcasts of lineitem
    * become 1 scan + 2 keyed shuffles. */
  val q21Window = Q(
    "q21_window_rewrite",
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wOrder = Window.partitionBy("l_orderkey")
    val wSupp = Window.partitionBy("l_orderkey", "l_suppkey")
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .withColumn("smax", max("l_shipdate").over(wSupp))
      .withColumn("m1", max("l_shipdate").over(wOrder))
      .withColumn("m1_owners",
        size(collect_set(when(col("smax") === col("m1"), col("l_suppkey")))
          .over(wOrder)))
      .withColumn("m2",
        max(when(col("smax") < col("m1"), col("smax"))).over(wOrder))
      .withColumn("nsupp", size(collect_set("l_suppkey").over(wOrder)))
      .filter(col("nsupp") > 1)
      .withColumn("max_other",
        when(col("smax") === col("m1") && col("m1_owners") === 1, col("m2"))
          .otherwise(col("m1")))
      .filter(col("l_shipdate") >= col("max_other"))
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val supp = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
  }

  /** Decimal aggregation semantics (SURVEY §7.3 decimal risk): explicit
    * DECIMAL casts so the decimal sum path (reference hugeint/decimal
    * accumulators, function_aggr.go:223) is exercised even though testdata
    * stores doubles. The accumulation stays decimal; the FINAL casts
    * normalize result representation across engines (DuckDB surfaces
    * decimal/hugeint widths Spark doesn't have — values proven equal). */
  val decimalAgg = Q.sql(
    "agg_decimal_sum",
    """SELECT l_returnflag,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS DECIMAL(38,2)))
      |    AS DOUBLE) AS dec_sum,
      |  CAST(sum(CAST(l_orderkey AS DECIMAL(38,0))) AS BIGINT) AS key_sum
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin)

  /** Q22: NOT EXISTS (anti join) + SUBSTRING + IN + scalar subquery
    * (q22.sql; phone absent → customer-name digits as "country code"). */
  val q22 = Q.sql(
    "q22_anti_substr",
    """SELECT cntrycode, count(*) AS numcust, sum(c_acctbal) AS totacctbal
      |FROM (SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
      |      FROM customer
      |      WHERE substring(c_name, 17, 2) IN ('00','01','02','03','04','05','06')
      |        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
      |                         WHERE c_acctbal > 0.0)) custsale
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY cntrycode""".stripMargin)

  def all: Seq[Q] = Seq(q2, qMinMax, q4, q7, q8, q9, q11, q12, q13, q14, q15,
    q16, q17, q18, q19, q21, q21Window, q22, decimalAgg)
}
