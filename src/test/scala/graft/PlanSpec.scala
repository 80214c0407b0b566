package graft

import graft.queries.Tpch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Plan goldens: regressions that silently kill 100 TB scalability must fail
  * fast. Round-1 verdict: date filters were computed on a derived `to_date`
  * column → zero parquet pushdown; customer/supplier carried forced
  * broadcast hints → OOM at scale. These tests pin the fixed behavior. */
class PlanSpec extends SparkTestBase {

  /** All (path, pushedFilters-string) of parquet scans in the plan. */
  private def scans(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: FileSourceScanExec =>
        val path = s.relation.location.rootPaths.mkString(",")
        (path, s.metadata.getOrElse("PushedFilters", ""))
    }

  private def pushedFor(df: DataFrame, table: String): String =
    scans(df).collect { case (p, f) if p.contains(table) => f }.mkString("; ")

  test("q6 date-range filter reaches the parquet scan (PushedFilters)") {
    val f = pushedFor(Tpch.q6.run(spark, sf0001), "lineitem")
    assert(f.contains("GreaterThanOrEqual(l_shipdate"), f)
    assert(f.contains("LessThan(l_shipdate"), f)
    assert(f.contains("LessThan(l_quantity"), f)
  }

  test("function-matrix key filters reach the parquet scan") {
    import graft.queries.Rel
    assert(pushedFor(Rel.mathFuncs.run(spark, sf0001), "lineitem")
      .contains("LessThanOrEqual(l_orderkey,640)"))
    assert(pushedFor(Rel.dateFuncs.run(spark, sf0001), "orders")
      .contains("LessThanOrEqual(o_orderkey,1000)"))
    assert(pushedFor(Rel.regexFuncs.run(spark, sf0001), "part")
      .contains("LessThanOrEqual(p_partkey,500)"))
  }

  test("q1 date filter reaches the parquet scan") {
    val f = pushedFor(Tpch.q1.run(spark, sf0001), "lineitem")
    assert(f.contains("LessThanOrEqual(l_shipdate"), f)
  }

  test("q3 orders/lineitem date filters are pushed") {
    val df = Tpch.q3.run(spark, sf0001)
    assert(pushedFor(df, "orders").contains("LessThan(o_orderdate"), pushedFor(df, "orders"))
    assert(pushedFor(df, "lineitem").contains("GreaterThan(l_shipdate"), pushedFor(df, "lineitem"))
  }

  test("broadcast hints only on bounded dims (nation/region)") {
    // q5 joins 6 tables; exactly nation + region may carry explicit hints.
    val analyzed = Tpch.q5.run(spark, sf0001).queryExecution.analyzed.toString
    val hintCount = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hintCount == 2, s"expected 2 broadcast hints (nation, region), got $hintCount:\n$analyzed")
  }

  /** Parquet scan paths under the BUILD side of every broadcast join. */
  private def broadcastBuildScans(df: DataFrame): Seq[String] = {
    def leafPaths(p: SparkPlan): Seq[String] =
      p.collectLeaves().collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",") }
    df.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec =>
        leafPaths(if (j.buildSide == BuildLeft) j.left else j.right)
      case j: BroadcastNestedLoopJoinExec =>
        leafPaths(if (j.buildSide == BuildLeft) j.left else j.right)
    }.flatten
  }

  test("q4/q21 never broadcast a data-proportional side (lineitem/orders)") {
    // BENCH_r04's one-off 10× mode for these queries was a broadcast flip
    // putting a fact-table side on the build side. At tiny SF a cost-based
    // lineitem broadcast is legitimate (real size stats say it fits), so
    // simulate scale: with the broadcast threshold floored, any remaining
    // fact-table broadcast can only come from a forced hint — the plan
    // shape that dies at 100 TB. Bounded dims may still be hinted.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import graft.queries.TpchMore
      for ((name, df) <- Seq(
          "q4_exists" -> TpchMore.q4.run(spark, sf0001),
          "q21_exists_notexists" -> TpchMore.q21.run(spark, sf0001))) {
        val bad = broadcastBuildScans(df)
          .filter(p => p.contains("lineitem") || p.contains("orders"))
        assert(bad.isEmpty, s"$name force-broadcasts a fact-table side: $bad")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("column pruning: q6 scan reads only the 4 needed lineitem columns") {
    val df = Tpch.q6.run(spark, sf0001)
    val cols = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }.head
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
      s"scan reads $cols")
  }

  test("mixing-rate tables broadcast; the corpus never builds a hash side") {
    // curate_mix / pipeline_assemble join a per-source rate table onto the
    // corpus: the rate side (rows = #sources) must broadcast — a shuffled
    // join here would re-shuffle the whole corpus at 100 TB.
    Seq(graft.pipeline.Curate.mix, graft.pipeline.Assemble.assemble)
      .foreach { q =>
        val plan = q.run(spark, sf0001).queryExecution.sparkPlan
        val bhj = plan.collect {
          case j: BroadcastHashJoinExec => j
        }
        assert(bhj.nonEmpty, s"${q.name}: no broadcast join in plan")
        val shuffledCorpusJoins = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
              if j.toString.contains("documents") => j
        }
        assert(shuffledCorpusJoins.isEmpty,
          s"${q.name}: corpus joined via sort-merge")
      }
  }

  test("perceptual near-dup candidates come from equi-joins, never products") {
    // the banded Hamming join must plan as an equi-join on (band, key) —
    // a nested-loop/cartesian here is the all-pairs blowup the banding
    // exists to prevent, and it would go quadratic at corpus scale
    Seq(graft.pipeline.Multimodal.phashNearDup,
        graft.pipeline.Multimodal.audioFpNearDup)
      .foreach { q =>
        val plan = q.run(spark, sf0001).queryExecution.sparkPlan
        val products = plan.collect {
          case j: BroadcastNestedLoopJoinExec => j
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        }
        assert(products.isEmpty,
          s"${q.name}: non-equi join in plan:\n${products.mkString("\n")}")
      }
  }

  test("outer interval join keeps its range condition out of a product") {
    val plan = graft.queries.Rel.evIntervalJoinOuter.run(spark, sf0001)
      .queryExecution.sparkPlan
    val products = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(products.isEmpty, "interval join planned as cartesian product")
  }

  test("no production query plan contains a partition-less Window") {
    // A Window with an empty partitionSpec moves ALL rows to one partition
    // — a driver-shaped sort at 100 TB. r5 verdict flagged the warning in
    // the test log; the two operator-code sites (Curate token budget, Ann
    // IVF seed ranking) were rewritten as broadcast θ-self-joins. This pin
    // keeps the declarative families clean.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    import graft.queries.{Events, Extra, Rel, Tpcds, Tpch, TpchMore}
    import graft.pipeline.{Curate, TextOps}
    val families = Tpch.all ++ TpchMore.all ++ Rel.all ++ Extra.all ++
      Events.all ++ Curate.all ++ TextOps.all
    families.foreach { q =>
      val unpartitioned = q.run(spark, sf0001)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      assert(unpartitioned.isEmpty,
        s"${q.name} plans a partition-less Window: $unpartitioned")
    }
    // The TPC-DS slice runs the kit's VERBATIM texts, two of which (q44,
    // q49) contain the official global rank(). That is acceptable ONLY
    // because they rank an already-aggregated frame (items per store,
    // per-item ratios) — bounded by group cardinality, not corpus rows.
    // Pin exactly that invariant: any partition-less Window in the slice
    // must sit over an Aggregate.
    Tpcds.all.foreach { q =>
      q.run(spark, sf0001).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.foreach { w =>
        assert(w.collectFirst { case a: LAggregate => a }.nonEmpty,
          s"${q.name}: global Window over non-aggregated input: $w")
      }
    }
  }

  test("bench-scale TPC-DS plans carry no cartesian product") {
    // The x167 variants move 10M-row facts through the kit plans; a
    // cartesian product (e.g. from a dropped join condition in the scaled
    // generator) would turn the bench into an accidental O(n^2) — pin the
    // physical plans clean at a small multiplier (plan shape is
    // scale-independent; only the row counts change).
    graft.queries.Tpcds.benchOnly.map(_.name).foreach { name =>
      val slug = name.split("_x")(0) // tpcds_q64 or tpcds_q14a
      val plan = graft.queries.Tpcds.entry(slug, 2).run(spark, sf0001)
        .queryExecution.sparkPlan
      val products = plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(products.isEmpty, s"$name plans a cartesian product")
    }
    graft.queries.RefTpchFull.benchOnly.map(_.name).foreach { name =>
      val n = name.split("_x")(0).stripPrefix("reftpch_q").toInt
      val plan = graft.queries.RefTpchFull.entry(n, 2).run(spark, sf0001)
        .queryExecution.sparkPlan
      val products = plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(products.isEmpty, s"$name plans a cartesian product")
    }
  }
}
