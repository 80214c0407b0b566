package graft.lake

import graft.{Q, ScratchDir, Tables}
import org.apache.spark.sql.functions._

/** Driver-gate scenario for the streaming ingest sinks
  * ([[graft.streaming.LakeSink]]): foreachBatch handlers are plain
  * `(DataFrame, batchId) => Unit` functions, so the scenario invokes them
  * exactly as Structured Streaming would — including a replayed batch id
  * and a second query with a fresh checkpoint — and the DuckDB oracle
  * states the table counts that exactly-once + dedup-against-the-table
  * semantics require. LakeSinkSpec covers the live MemoryStream runs; this
  * puts the same contract under the cross-engine hash gate. */
object StreamIngestQueries {

  /** Scenario: batches of nation rows flow through the dedup sink.
    *  - batch 0 (query A): regions 0-2, with an in-batch duplicate
    *  - batch 1 (query A): regions 2-4 (region 2 re-sent = cross-batch dup)
    *  - batch 1 REPLAYED (query A): must be skipped (exactly-once)
    *  - batch 0 (query B, fresh "checkpoint"): region 0 again + key 99 —
    *    only 99 lands; dropDuplicates state wouldn't exist for B, the
    *    table itself is the dedup state.
    * Final count = |nation| + 1, and per-region counts match nation's. */
  val streamDedup: Q = Q(
    "lake_stream_dedup",
    """WITH n AS (SELECT count(*) AS total FROM nation)
      |SELECT CAST(n.total + 1 AS BIGINT) AS final_rows,
      |  CAST((SELECT count(*) FROM nation WHERE n_regionkey <= 2)
      |    AS BIGINT) AS batch0_rows,
      |  CAST(1 AS BIGINT) AS replay_skipped,
      |  CAST(1 AS BIGINT) AS fresh_query_added
      |FROM n""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-sd-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val sinkA = graft.streaming.LakeSink.dedupAppendTo(
      root, Seq("n_nationkey"), "qa")
    val b0 = nation.filter(col("n_regionkey") <= 2)
    sinkA(b0.union(b0.limit(3)).coalesce(1), 0L) // in-batch dups die
    val batch0Rows = LakeDataset.open(s, root).read().count()
    sinkA(nation.filter(col("n_regionkey") >= 2).coalesce(1), 1L)
    val afterB1 = LakeDataset.open(s, root).read().count()
    sinkA(nation.coalesce(1), 1L) // foreachBatch replay: same id, skipped
    val replaySkipped =
      if (LakeDataset.open(s, root).read().count() == afterB1) 1L else 0L
    // second query, fresh checkpoint: batch ids restart at 0; only the
    // genuinely new key survives the anti-join against the table
    val sinkB = graft.streaming.LakeSink.dedupAppendTo(
      root, Seq("n_nationkey"), "qb")
    import org.apache.spark.sql.Row
    val extra = s.createDataFrame(
      java.util.List.of(
        Row(Integer.valueOf(0), "DUP_OF_0", Integer.valueOf(0)),
        Row(Integer.valueOf(99), "FRESH", Integer.valueOf(9))),
      LakeDataset.open(s, root).schema).coalesce(1)
    sinkB(extra, 0L)
    val finalRows = LakeDataset.open(s, root).read().count()
    val freshAdded = if (finalRows == afterB1 + 1) 1L else 0L
    import s.implicits._
    Seq((finalRows, batch0Rows, replaySkipped, freshAdded))
      .toDF("final_rows", "batch0_rows", "replay_skipped",
        "fresh_query_added")
  }

  def all: Seq[Q] = Seq(streamDedup)
}
