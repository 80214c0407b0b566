package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Misra-Gries guarantees in the APPROXIMATE regime (vocabulary ≫ k):
  * every item with true frequency > n/(k+1) must survive, and kept counts
  * underestimate the truth by at most n/(k+1) — including across the
  * distributed merge path. */
class HeavyHittersSpec extends SparkTestBase {

  private val k = 64 // MgHeavyHitters default

  /** Skewed stream: a few heavy items over a long uniform tail, vocab 500. */
  private def stream: Seq[String] = {
    val heavy = Seq.fill(2000)("alpha") ++ Seq.fill(1200)("beta") ++
      Seq.fill(800)("gamma")
    val rnd = new scala.util.Random(11)
    val tail = Seq.fill(6000)(s"tail${rnd.nextInt(500)}")
    rnd.shuffle(heavy ++ tail)
  }

  test("heavy items survive and counts are within the MG error bound") {
    import spark.implicits._
    val data = stream
    val n = data.size.toLong
    val bound = n / (k + 1)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // 16 partitions: updates happen per-partition, merges combine them —
    // both halves of the TypedImperativeAggregate path are exercised
    val out = data.toDF("tok").repartition(16)
      .agg(call_function("heavy_hitters", col("tok")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.min_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    for ((item, trueCount) <- truth if trueCount > bound) {
      assert(out.contains(item),
        s"$item has freq $trueCount > n/(k+1)=$bound and must survive")
    }
    for ((item, kept) <- out) {
      val t = truth(item)
      assert(kept <= t, s"$item kept=$kept exceeds true count $t")
      assert(t - kept <= bound,
        s"$item undercount ${t - kept} exceeds bound $bound")
    }
    assert(out.size <= k)
  }

  test("exact regime: vocabulary <= k reproduces exact counts deterministically") {
    import spark.implicits._
    val data = Seq.fill(300)("x") ++ Seq.fill(200)("y") ++ Seq.fill(100)("z")
    val run = () => data.toDF("tok").repartition(8)
      .agg(call_function("heavy_hitters", col("tok")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .collect().map(r => (r.getStruct(0).getString(0),
        r.getStruct(0).getLong(1))).toSeq
    val a = run()
    assert(a == Seq(("x", 300L), ("y", 200L), ("z", 100L)))
    assert(run() == a, "exact regime must be merge-order independent")
  }
}
