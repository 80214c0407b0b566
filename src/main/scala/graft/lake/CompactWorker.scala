package graft.lake

/** Stand-alone compaction worker process — the reference runs compaction
  * as a coordinator handing planned fragment groups to separate worker
  * processes (storage2/compaction_coordinator.go,
  * storage2/compaction_worker.go); this main is that worker shape for the
  * lake: it opens the dataset fresh and executes the groups it was handed,
  * committing each through the same optimistic rebase protocol as any
  * other writer, so N workers across N JVMs coordinate with no lock
  * service. MultiProcessCompactionSpec races one of these JVMs against
  * in-process workers over disjoint groups and value-checks the end state.
  *
  * Args: root targetRows groups — groups as `id1+id2,id3+id4` (one
  * comma-separated entry per planned group, fragment ids '+'-joined,
  * exactly what [[LakeDataset.planCompaction]] returns). */
object CompactWorker {
  def main(args: Array[String]): Unit = {
    val Array(root, target, groups) = args
    val spark = graft.GraftSession.local(2)
    try {
      groups.split(',').filter(_.nonEmpty).foreach { g =>
        // a fresh handle per group: each commit rebases over whatever the
        // other process published since (compaction_worker.go's loop shape)
        LakeDataset.open(spark, root)
          .compactGroup(g.split('+').map(_.toLong).toSeq, target.toLong)
      }
    } finally spark.stop()
  }
}
