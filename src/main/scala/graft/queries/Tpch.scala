package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** TPC-H-derived queries adapted to the driver testdata schema
  * (FIXTURES.md §B: no partsupp, slimmed columns, dates spanning
  * 1995..2001). The full TPC-H texts are the committed corpus's
  * tpch/q1..q22.sql ([[RefTpchFull]]).
  *
  * All shapes are declared with the DataFrame API and left to Catalyst for
  * physical planning (broadcast vs shuffle join, partial aggregation,
  * TakeOrderedAndProject); see SURVEY.md §2.1 for the reference operator
  * each query covers.
  *
  * Scale notes (100 TB posture):
  *  - Date predicates compare the RAW timestamp attribute against a foldable
  *    literal (`ts(...)`) so they reach the parquet scan as PushedFilters —
  *    asserted by PlanSpec. Output-side casts to DateType happen after.
  *  - `broadcast()` hints only on bounded dimensions (nation 25 rows,
  *    region 5 rows). customer/supplier/part grow with SF; AQE picks their
  *    join strategy from runtime stats.
  */
object Tpch {

  /** Foldable timestamp literal; testdata date columns are midnight-aligned
    * timestamp[ms] (FIXTURES.md §B), so `< ts(d)` ≡ `< DATE d`. */
  private def ts(s: String) = Tables.ts(s)

  /** TPC-H Q1: scan → filter → hash aggregate → sort.
    * Reference: executor_aggr.go (hash aggregate), executor_order.go (sort). */
  val q1 = Q(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  sum(l_extendedprice) AS sum_base_price,
      |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
      |  avg(l_quantity) AS avg_qty,
      |  avg(l_extendedprice) AS avg_price,
      |  avg(l_discount) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= DATE '2001-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2001-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        avg("l_quantity").as("avg_qty"),
        avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3: 3-way join → agg → top-N (TakeOrderedAndProject).
    * o_shippriority does not exist in testdata → o_orderpriority. */
  val q3 = Q(
    "q3_join_topn",
    """SELECT l_orderkey,
      |  sum(l_extendedprice * (1 - l_discount)) AS revenue,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'HOUSEHOLD'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < DATE '1998-06-15' AND l_shipdate > DATE '1998-06-15'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "HOUSEHOLD")
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") < ts("1998-06-15"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") > ts("1998-06-15"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5: 6-table join chain → agg → sort (join-order stress). */
  val q5 = Q(
    "q5_join6",
    """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC""".stripMargin) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
    val li = Tables.load(s, dir, "lineitem")
    val supp = Tables.load(s, dir, "supplier")
    val nat = Tables.load(s, dir, "nation")
    val reg = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust,
        ord("o_custkey") === cust("c_custkey") &&
          supp("s_nationkey") === cust("c_nationkey"))
      .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc)
  }

  /** TPC-H Q6: pure scan+filter+ungrouped agg (filter pushdown showcase). */
  val q6 = Q(
    "q6_filter",
    """SELECT sum(l_extendedprice * l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) {
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") &&
          col("l_shipdate") < ts("1998-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q10: 4-way join → agg → top-N. Slimmed output columns. */
  val q10 = Q(
    "q10_returns_topn",
    """SELECT c_custkey, c_name,
      |  sum(l_extendedprice * (1 - l_discount)) AS revenue, c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= DATE '1996-03-01' AND o_orderdate < DATE '1996-06-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-03-01") &&
        col("o_orderdate") < ts("1996-06-01"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val nat = Tables.load(s, dir, "nation")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  def all: Seq[Q] = Seq(q1, q3, q5, q6, q10)
}
