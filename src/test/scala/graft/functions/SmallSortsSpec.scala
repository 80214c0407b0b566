package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** [[SmallSorts]]: a global sort over a small, bounded input runs in one
  * task with adaptive execution on, gives the rows the range exchange
  * gives, and leaves every other sort and range repartition alone. */
class SmallSortsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import SmallSortsSpec._

  private def withAqe[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  /** Grouped keys with nulls, over four input partitions: 36 groups. */
  private def groups(s: SparkSession = spark): DataFrame =
    s.range(0, 400, 1, 4)
      .select(when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 5).as("k"),
        (col("id") % 6).as("j"), col("id"))
      .groupBy("k", "j").agg(sum("id").as("s"))

  /** How the executed plan feeds its global sorts: "coalesce" for one
    * task, "range" for a planner-inserted range exchange. */
  private def sortInputs(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) { case s: SortExec if s.global => s }
      .map(s => inputOf(s.child))

  private def inputOf(p: SparkPlan): String = p match {
    case CoalesceExec(1, _) => "coalesce"
    case s: QueryStageExec => inputOf(s.plan)
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
      "range"
    case other => other.children match {
      case Seq(c) => inputOf(c)
      case _ => other.nodeName
    }
  }

  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private val orders: Seq[(String, Seq[Column])] = Seq(
    "ASC" -> Seq(col("s").asc),
    "DESC" -> Seq(col("s").desc),
    "ASC NULLS FIRST" -> Seq(col("k").asc_nulls_first, col("j").asc, col("s").asc),
    "ASC NULLS LAST" -> Seq(col("k").asc_nulls_last, col("j").asc, col("s").asc),
    "DESC NULLS FIRST" -> Seq(col("k").desc_nulls_first, col("j").desc, col("s").asc),
    "DESC NULLS LAST" -> Seq(col("k").desc_nulls_last, col("j").desc, col("s").asc),
    "multi-key, ties left to the sort" -> Seq(col("j").desc, col("k").asc_nulls_last))

  for ((name, order) <- orders) {
    test(s"a small aggregate sorts in one task: $name") {
      val (rows, sort) = withAqe(on = true) {
        val df = groups().orderBy(order: _*)
        val rows = df.collect().toSeq
        assert(sortInputs(df) == Seq("coalesce"), df.queryExecution.executedPlan)
        assert(rangeExchanges(df).isEmpty)
        (rows, rootSort(df).get)
      }
      assert(rows.size == 36)
      assertOrdered(rows, groups().schema, sort, name)
      val off = withAqe(on = false) {
        val df = groups().orderBy(order: _*)
        assert(sortInputs(df) == Seq("range"), df.queryExecution.executedPlan)
        df.collect().toSeq
      }
      assert(multiset(rows) == multiset(off))
    }
  }

  test("a sort under a projection and a filter still sorts in one task") {
    withAqe(on = true) {
      val df = groups().orderBy(col("s").desc).filter(col("j") > 1).select("k", "s")
      val want = groups().collect().filter(_.getLong(1) > 1)
        .map(r => Row(r.get(0), r.get(2))).sortBy(-_.getLong(1)).toSeq
      assert(df.collect().toSeq == want)
      assert(sortInputs(df) == Seq("coalesce"), df.queryExecution.executedPlan)
    }
  }

  test("a file scan or an explode under the sort keeps its range exchange") {
    Tables.register(spark, sf0001)
    withAqe(on = true) {
      val scan = spark.table("orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val rows = scan.collect().toSeq
      assert(sortInputs(scan) == Seq("range"), scan.queryExecution.executedPlan)
      assertOrdered(rows, scan.schema, rootSort(scan).get, "orders")
      val exploded = groups().select(col("k"), explode(sequence(lit(0L), col("j"))).as("e"))
        .orderBy(col("e"), col("k").desc)
      exploded.collect()
      assert(sortInputs(exploded) == Seq("range"), exploded.queryExecution.executedPlan)
    }
  }

  test("repartitionByRange and sortWithinPartitions are untouched") {
    withAqe(on = true) {
      val ranged = groups().repartitionByRange(3, col("s"))
      val parts = ranged.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(parts.length == 3 && parts.sum == 36)
      assert(rangeExchanges(ranged).map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM))
      val within = groups().sortWithinPartitions(col("s"))
      within.collect()
      val sorts = collect(within.queryExecution.executedPlan) { case s: SortExec => s }
      assert(sorts.nonEmpty && sorts.forall(!_.global))
      assert(collect(within.queryExecution.executedPlan) { case c: CoalesceExec => c }
        .isEmpty)
    }
  }

  test("a bare builder session and its newSession child carry the rule") {
    withBareSession { bare =>
      for (s <- Seq(bare, bare.newSession())) {
        val df = groups(s).orderBy(col("s"))
        assert(df.collect().length == 36)
        assert(sortInputs(df) == Seq("coalesce"), df.queryExecution.executedPlan)
      }
    }
  }
}

object SmallSortsSpec {

  /** The global sort at the root of `df`'s executed plan, under the
    * adaptive and codegen wrappers. */
  def rootSort(df: DataFrame): Option[SortExec] = {
    def walk(p: SparkPlan): Option[SortExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case r: ResultQueryStageExec => walk(r.plan)
      case w: WholeStageCodegenExec => walk(w.child)
      case i: InputAdapter => walk(i.child)
      case s: SortExec if s.global => Some(s)
      case _ => None
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Fails unless `rows` (with `schema`, the sort's output) never go
    * backwards under `sort`'s ordering. */
  def assertOrdered(rows: Seq[Row], schema: StructType, sort: SortExec,
      name: String): Unit = {
    val ordering = new InterpretedOrdering(sort.sortOrder, sort.output)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => toInternal(r).asInstanceOf[InternalRow])
    internal.sliding(2).zipWithIndex.foreach {
      case (Seq(a, b), i) => assert(ordering.compare(a, b) <= 0,
        s"$name: rows $i and ${i + 1} are out of order under ${sort.sortOrder}: " +
          s"${rows(i)} then ${rows(i + 1)}")
      case _ => ()
    }
  }

  /** `rows` as a multiset: doubles to 12 significant digits, since a sum
    * over other partitions may differ in the last bits. */
  def multiset(rows: Seq[Row]): Map[String, Int] = {
    def norm(v: Any): Any = v match {
      case d: Double => f"$d%.12g"
      case f: Float => f"$f%.6g"
      case r: Row => r.toSeq.map(norm)
      case s: scala.collection.Seq[_] => s.map(norm)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    rows.groupBy(r => norm(r).toString).view.mapValues(_.size).toMap
  }
}
