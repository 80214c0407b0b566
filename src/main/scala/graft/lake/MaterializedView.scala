package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One incremental refresh: the base-version window it consumed and how
  * many view groups it rewrote / removed (`-1` marks a full rebuild). */
final case class MvRefreshStats(
    fromVersion: Long,
    toVersion: Long,
    upsertedGroups: Long,
    removedGroups: Long)

/** One dimension of a star-join view: `base.factCol = dim(root).dimCol`,
  * with `expose` the dim columns the view carries (grouping keys live
  * here — e.g. expose `c_mktsegment` from a customer dim). Exposed names
  * must be distinct from base column names (the joined frame is flat). */
final case class MvDim(root: String, factCol: String, dimCol: String,
    expose: Seq[String])

/** Incrementally-maintained materialized view over a [[LakeDataset]],
  * optionally inner-joined to dimension datasets:
  * `SELECT keys, count(*), sum(c).., max(c).., min(c).. FROM base
  * [JOIN dim1 ON .. JOIN dim2 ON ..] GROUP BY keys`, kept current from
  * the base table's change feed instead of full recompute. A
  * single-table view is the star join with no dims — the SPJG view class
  * of answering-queries-using-views (Goldstein & Larson, SIGMOD 2001 §3)
  * with zero joins. Measures come from the base; keys from base or
  * exposed dim columns.
  *
  * The view is itself a lake dataset with one row per live group —
  * `keys..., mv_cnt, sum_<c>.., max_<c>..` — and the base version it is
  * current to rides in the view manifest's `properties` under
  * `mv.base.version` (each dim's version under `mv.dim.versions`), so the
  * refresh cursor commits atomically with the refreshed state (a crash
  * between data and cursor can only replay the same idempotent window,
  * never skip one).
  *
  * Refresh cost is proportional to the CHANGES, never to the base table:
  *   - [[LakeDataset.changes]] reads only fragments touched in
  *     `(from, to]` (the manifest diff bounds IO) and nets out
  *     rewritten-but-identical rows, so compaction/z-order churn is free;
  *   - the changed rows join the CURRENT dims (cost: changed rows × dim
  *     lookup). This is sound because an unchanged dim row joins a base
  *     delta row the same way it joined the original: insert deltas add
  *     the joined row once, delete deltas retract it once;
  *   - the signed delta aggregation shuffles only changed rows, with
  *     map-side partial combine, down to one row per dirty group;
  *   - the view merge joins that (dirty-groups-sized) frame against the
  *     view and rewrites only fragments holding dirty groups
  *     ([[LakeDataset.mergeInsert]]'s touched-file pruning);
  *   - MAX under deletion is not incrementally computable, so exactly the
  *     groups that lost rows are recomputed by ONE semi-join-pruned scan
  *     of the base restricted to those groups (zonemap skipping applies);
  *     insert-only deltas fold `greatest(old, delta)` with zero base IO.
  *
  * A DIM change fans out to every matching base row, so the base feed is
  * no longer the view delta: `refresh()` then rebuilds the view in one
  * commit (one shuffle of the join), flagged by `removedGroups = -1`.
  *
  * COUNT/SUM are self-maintainable, AVG derives as sum/cnt at read time;
  * this is the standard algebraic-aggregate MV maintenance split (Gupta &
  * Mumick, "Maintenance of Materialized Views", IEEE DE Bulletin 1995).
  * The reference engine has no MV machinery — this is a beyond-reference
  * capability built from the lake's own CDF + merge primitives;
  * [[MvRewrite]] answers matching aggregates from the view transparently. */
final class MaterializedView private (
    val base: LakeDataset,
    val dims: Seq[MvDim],
    val view: LakeDataset,
    val keys: Seq[String],
    val sumCols: Seq[String],
    val maxCols: Seq[String],
    val minCols: Seq[String]) {

  import MaterializedView._

  /** Base version the view state is current to. */
  def baseVersion: Long =
    view.manifest.properties(PropBaseVersion).toLong

  /** Dim versions the view state is current to (definition order). */
  def dimVersions: Seq[Long] =
    view.manifest.properties.getOrElse(PropDimVersions, "")
      .split(',').filter(_.nonEmpty).map(_.toLong).toSeq

  /** Current view contents (one row per live group). The `mv_cnt > 0`
    * filter hides groups that netted to zero in a refresh whose
    * housekeeping delete has not landed yet (e.g. a crash between the
    * merge+cursor commit and the delete commit) — those rows are dead,
    * not wrong, and the next refresh's delete collects them. */
  def read(): DataFrame = view.read().filter(col("mv_cnt") > 0)

  /** True when the state is current to the base's head and every dim's
    * head (version numbers only: lists version files, reads none). */
  private[lake] def isCurrent: Boolean = {
    def head(root: String) = LakeDataset.latestVersion(base.spark, root)
    baseVersion == head(base.root) && dimVersions == dims.map(d => head(d.root))
  }

  /** Bring the view up to the base's current version by applying the
    * change feed; no-op (and no commit) when already current, full
    * rebuild in one commit when a dim moved. Base and dims are RE-OPENED
    * here so writers through other handles are seen (a cached manifest
    * must never mask a moved dim — that would silently fold a delta
    * against the wrong dim rows). */
  def refresh(): MvRefreshStats = {
    val head = LakeDataset.open(base.spark, base.root)
    val dimDs = opened(base.spark, dims)
    val from = baseVersion
    val to = head.version
    val dimVs = dimDs.map(_._2.version)
    val cursor = cursorProps(to, dimVs)
    if (dimVersions != dimVs) {
      view.overwrite(stateOf(joined(head.read(), dimDs), keys, sumCols,
        maxCols, minCols), cursor)
      return MvRefreshStats(from, to,
        view.manifest.fragments.map(_.rowCount).sum, -1L)
    }
    if (from == to) return MvRefreshStats(from, to, 0L, 0L)
    foldDelta(joined(head.changes(from, to), dimDs),
      joined(head.read(), dimDs), view, keys, sumCols, maxCols, minCols,
      cursor, from, to)
  }
}

object MaterializedView {

  /** Signed-delta fold — the algebraic-aggregate maintenance core.
    * `feed` is a CDF-shaped frame (view input columns + `_change_type`);
    * `full` lazily recomputes MAX/MIN source rows for groups that lost
    * rows (only evaluated when such groups exist). The `cursor` props ride
    * in the same manifest swap as the merged state: a crash can never
    * leave data applied with the cursor behind (which would double-apply
    * the window on replay) or vice versa. Net-empty windows (pure layout
    * churn) advance the cursor with a metadata-only commit. Concurrent
    * refreshes of one view are a single-writer contract, as with the
    * streaming sinks. */
  private[lake] def foldDelta(feed: DataFrame, full: => DataFrame,
      view: LakeDataset, keys: Seq[String], sumCols: Seq[String],
      maxCols: Seq[String], minCols: Seq[String],
      cursor: Map[String, String], from: Long, to: Long): MvRefreshStats = {
    val signed = feed.withColumn("_sign",
      when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)))
    val deltaAggs =
      Seq(sum(col("_sign")).as("_d_cnt")) ++
        sumCols.map(c => sum(col(c) * col("_sign")).as(s"_d_sum_$c")) ++
        maxCols.map(c =>
          max(when(col("_sign") === 1L, col(c))).as(s"_d_max_$c")) ++
        minCols.map(c =>
          min(when(col("_sign") === 1L, col(c))).as(s"_d_min_$c")) ++
        Seq(max(col("_sign") === -1L).as("_d_removed"))
    // Pin the delta: one row per dirty group (never base-table-sized), but
    // its lineage is the whole CDF read + aggregation, and it is evaluated
    // again for the removed-groups probe, the merge frame, and every action
    // inside mergeInsert (dup-key gate, touched-file probe, matched count,
    // rewrite join, insert anti-join) — measured 4.9 s of lake_mv_rewrite's
    // 7.6 s wall at sf0.1 was exactly this recomputation (guide §1/§5:
    // don't recompute what a cheap bounded pin can hold).
    val delta = graft.Materialize.pin(signed.groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*))
    // everything below can throw (the removed-groups probe, the eager pin
    // of `merged`) — this try's finally releases delta's blocks on those
    // paths too, not just after mergedPinned exists
    try {

    // Groups that lost rows: MAX/MIN may have moved — recompute those
    // groups (and only those) from the full input. Semi-join keeps the
    // scan prunable by zonemaps/partitioning.
    val extremeNames =
      maxCols.map(c => (s"_r_max_$c", s"_d_max_$c", max(col(c)))) ++
        minCols.map(c => (s"_r_min_$c", s"_d_min_$c", min(col(c))))
    val withRecompute =
      if (extremeNames.isEmpty || delta.filter(col("_d_removed")).isEmpty) {
        extremeNames.foldLeft(delta) { case (df, (r, d, _)) =>
          df.withColumn(r, lit(null).cast(df.schema(d).dataType))
        }
      } else {
        val dirty = delta.filter(col("_d_removed")).select(keys.map(col): _*)
        val reAggs = extremeNames.map { case (r, _, agg) => agg.as(r) }
        val recomputed = full
          .join(dirty, keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(reAggs.head, reAggs.tail: _*)
        delta.join(recomputed, keys, "left")
      }

    // Pinned for the same reason as `delta`: dirty-groups-sized, consumed
    // by isEmpty + mergeInsert's five actions. The recompute branch's
    // semi-joined base scan runs ONCE here instead of per action.
    val merged = withRecompute.join(view.read(), keys, "left")
      .select(
        keys.map(col) ++
          Seq((coalesce(col("mv_cnt"), lit(0L)) + col("_d_cnt")).as("mv_cnt")) ++
          sumCols.map(c =>
            (coalesce(col(s"sum_$c"), lit(0L)) +
              coalesce(col(s"_d_sum_$c"), lit(0L))).as(s"sum_$c")) ++
          maxCols.map(c =>
            when(col("_d_removed"), col(s"_r_max_$c"))
              .otherwise(greatest(col(s"max_$c"), col(s"_d_max_$c")))
              .as(s"max_$c")) ++
          minCols.map(c =>
            when(col("_d_removed"), col(s"_r_min_$c"))
              .otherwise(least(col(s"min_$c"), col(s"_d_min_$c")))
              .as(s"min_$c")): _*)
    val mergedPinned = graft.Materialize.pin(merged)
    try {
      if (mergedPinned.isEmpty) {
        view.setProperties(cursor)
        return MvRefreshStats(from, to, 0L, 0L)
      }
      val (matched, inserted) = view.mergeInsert(mergedPinned, keys,
        extraProps = cursor)
      // housekeeping, idempotent: groups that netted to zero are invisible
      // to read() already; the delete just reclaims their rows
      val removed = view.delete("mv_cnt <= 0")
      MvRefreshStats(from, to, matched + inserted, removed)
    } finally {
      graft.Materialize.unpin(mergedPinned)
    }
    } finally {
      graft.Materialize.unpin(delta)
    }
  }

  val PropBaseVersion = "mv.base.version"
  val PropBasePath = "mv.base.path"
  val PropKeys = "mv.keys"
  val PropSumCols = "mv.sum.cols"
  val PropMaxCols = "mv.max.cols"
  val PropMinCols = "mv.min.cols"
  val PropDims = "mv.dims" // root|factCol|dimCol|e1+e2;...
  val PropDimVersions = "mv.dim.versions"

  private def csv(cols: Seq[String]): String = cols.mkString(",")
  private def uncsv(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  // the dim-spec fields ride in one property string with '|' ';' '+' as
  // separators — all three are legal in URIs/paths, so every field is
  // %-escaped (URL-style, '%' first) to round-trip any root verbatim
  private def esc(s: String): String =
    s.replace("%", "%25").replace("|", "%7C")
      .replace(";", "%3B").replace("+", "%2B")
  private def unesc(s: String): String =
    s.replace("%2B", "+").replace("%3B", ";")
      .replace("%7C", "|").replace("%25", "%")

  private def encodeDims(dims: Seq[MvDim]): String =
    dims.map(d =>
      s"${esc(d.root)}|${esc(d.factCol)}|${esc(d.dimCol)}|" +
        d.expose.map(esc).mkString("+"))
      .mkString(";")

  private def decodeDims(s: String): Seq[MvDim] =
    s.split(';').filter(_.nonEmpty).toSeq.map { part =>
      val Array(root, fc, dc, ex) = part.split('|').padTo(4, "")
      MvDim(unesc(root), unesc(fc), unesc(dc),
        ex.split('+').filter(_.nonEmpty).toSeq.map(unesc))
    }

  /** The refresh cursor: the base version, plus the dim version vector
    * when there are dims (a flat view's manifest carries no dim keys). */
  private def cursorProps(baseV: Long,
      dimVs: Seq[Long]): Map[String, String] =
    Map(PropBaseVersion -> baseV.toString) ++
      (if (dimVs.isEmpty) Nil
       else Seq(PropDimVersions -> dimVs.mkString(",")))

  private def opened(spark: SparkSession,
      dims: Seq[MvDim]): Seq[(MvDim, LakeDataset)] =
    dims.map(d => d -> LakeDataset.open(spark, d.root))

  /** The star join of `baseSide` (full read or a CDF window — extra
    * metadata columns like `_change_type` pass through) against the given
    * dim handles; `baseSide` itself when there are none. */
  private def joined(baseSide: DataFrame,
      dims: Seq[(MvDim, LakeDataset)]): DataFrame =
    dims.foldLeft(baseSide) { case (acc, (d, ds)) =>
      val dimDf = ds.read()
        .select((d.dimCol +: d.expose).distinct.map(col): _*)
      acc.join(dimDf, acc(d.factCol) === dimDf(d.dimCol), "inner")
        .drop(dimDf(d.dimCol))
    }

  private def stateOf(input: DataFrame, keys: Seq[String],
      sumCols: Seq[String], maxCols: Seq[String],
      minCols: Seq[String]): DataFrame = {
    val aggs = Seq(count(lit(1)).as("mv_cnt")) ++
      sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
      maxCols.map(c => max(col(c)).as(s"max_$c")) ++
      minCols.map(c => min(col(c)).as(s"min_$c"))
    input.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Full initial build at the base's (and dims') current version. */
  def create(spark: SparkSession, base: LakeDataset, viewRoot: String,
      keys: Seq[String], sumCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil, minCols: Seq[String] = Nil,
      dims: Seq[MvDim] = Nil): MaterializedView = {
    val baseCols = base.schema.fieldNames.toSet
    dims.foreach { d =>
      require(baseCols.contains(d.factCol),
        s"base has no join column ${d.factCol}")
      require(d.expose.forall(!baseCols.contains(_)),
        s"exposed dim columns must not shadow base columns (${d.expose})")
    }
    val dimDs = opened(spark, dims)
    val snapshotV = base.version
    val state = stateOf(joined(base.read(), dimDs), keys, sumCols, maxCols,
      minCols)
    val view = LakeDataset.create(spark, viewRoot,
      StructType(state.schema.fields.map(_.copy(nullable = true))))
    // The full definition rides in the view's own properties, so `open`
    // (and the SQL `CALL lake.system.mv_refresh(view)` door) needs no
    // caller-supplied definition to re-derive later refreshes. The
    // properties land in the SAME commit as the initial state: one
    // manifest swap instead of two, and no window where the view has
    // data but no cursor.
    view.append(state, cursorProps(snapshotV, dimDs.map(_._2.version)) ++
      Map(
        PropBasePath -> base.root,
        PropKeys -> csv(keys),
        PropSumCols -> csv(sumCols),
        PropMaxCols -> csv(maxCols),
        PropMinCols -> csv(minCols)) ++
      (if (dims.isEmpty) Nil else Seq(PropDims -> encodeDims(dims))))
    new MaterializedView(base, dims, view, keys, sumCols, maxCols,
      minCols)
  }

  /** Reattach to an existing view; the definition, base location, dims,
    * state and refresh cursor all come from the view dataset itself. */
  def open(spark: SparkSession, viewRoot: String): MaterializedView = {
    val view = LakeDataset.open(spark, viewRoot)
    val props = view.manifest.properties
    require(props.contains(PropBaseVersion) && props.contains(PropBasePath),
      s"$viewRoot is not a materialized view (missing mv.* properties)")
    val base = LakeDataset.open(spark, props(PropBasePath))
    new MaterializedView(base,
      decodeDims(props.getOrElse(PropDims, "")), view,
      uncsv(props(PropKeys)),
      uncsv(props.getOrElse(PropSumCols, "")),
      uncsv(props.getOrElse(PropMaxCols, "")),
      uncsv(props.getOrElse(PropMinCols, "")))
  }

  /** Full recompute of what the view SHOULD hold right now — the oracle
    * for specs and for a user-side consistency check. */
  def expected(base: LakeDataset, keys: Seq[String],
      sumCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil, dims: Seq[MvDim] = Nil): DataFrame =
    stateOf(joined(base.read(), opened(base.spark, dims)), keys, sumCols,
      maxCols, minCols)
}
