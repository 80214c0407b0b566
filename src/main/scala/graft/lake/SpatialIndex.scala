package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal}

/** Spatial search over a [[LakeDataset]] — the Spark-native counterpart of
  * the reference's R-tree secondary index (pkg/storage2/rtree_index.go:
  * RangeSearch / ContainsSearch / NearestNeighbors over 2-D bounding
  * boxes). An R-tree's job is hierarchical bounding-box pruning; in a
  * fragment-based lake the same pruning falls out of metadata the manifest
  * already keeps:
  *
  *  - The fragment zonemap over the coordinate columns IS a bounding box,
  *    so the manifest acts as a one-level R-tree with fan-out = fragment
  *    count. (At 10⁶ fragments the manifest-list split in SCALE.md becomes
  *    the second tree level — same structure the R-tree grows internally.)
  *  - [[LakeDataset.optimizeLayoutZOrder]] on the coordinate columns is
  *    the bulk-load step that makes those boxes spatially tight; without
  *    it pruning degrades gracefully toward a full scan, never to a wrong
  *    answer.
  *  - [[intersects]]/[[contains]] compile to conjunctive range predicates,
  *    so fragment skipping comes from the existing zonemap pruner and the
  *    residual filter runs codegen'd on the survivors.
  *  - [[knn]] is best-first branch-and-bound (Roussopoulos et al.,
  *    "Nearest neighbor queries", SIGMOD 1995) at fragment granularity:
  *    probe fragments in MINDIST order until the k-th candidate distance
  *    is no worse than the next fragment's lower bound, then run one exact
  *    top-k over just the probed prefix. Driver-side work is O(fragments)
  *    metadata math; only candidate fragments are ever read.
  */
object SpatialIndex {

  /** Inclusive 2-D box. */
  final case class BBox(xMin: Double, yMin: Double, xMax: Double, yMax: Double)

  /** Row layout for box-valued rows: four numeric columns. */
  final case class BoxCols(xMin: String, yMin: String,
      xMax: String, yMax: String)

  /** Rows whose box intersects `q` (reference RangeSearch semantics:
    * closed-interval overlap). Fragment pruning via zonemaps on the four
    * box columns. */
  def intersects(ds: LakeDataset, cols: BoxCols, q: BBox): DataFrame =
    rangeScan(ds, atMost(cols.xMin, q.xMax), atLeast(cols.xMax, q.xMin),
      atMost(cols.yMin, q.yMax), atLeast(cols.yMax, q.yMin))

  /** Rows whose box lies fully inside `q` (reference ContainsSearch). */
  def contains(ds: LakeDataset, cols: BoxCols, q: BBox): DataFrame =
    rangeScan(ds, atLeast(cols.xMin, q.xMin), atMost(cols.xMax, q.xMax),
      atLeast(cols.yMin, q.yMin), atMost(cols.yMax, q.yMax))

  /** Point rows inside `q` — the point specialization of [[intersects]]. */
  def rangePoints(ds: LakeDataset, xCol: String, yCol: String,
      q: BBox): DataFrame =
    rangeScan(ds, atLeast(xCol, q.xMin), atMost(xCol, q.xMax),
      atLeast(yCol, q.yMin), atMost(yCol, q.yMax))

  private def atLeast(c: String, v: Double): Expression =
    GreaterThanOrEqual(UnresolvedAttribute.quotedString(c), Literal(v))
  private def atMost(c: String, v: Double): Expression =
    LessThanOrEqual(UnresolvedAttribute.quotedString(c), Literal(v))

  /** The current version's rows where every range holds. */
  private def rangeScan(ds: LakeDataset, ranges: Expression*): DataFrame =
    ds.readWhere(ds.manifest, Some(ranges.reduce(And(_, _))),
      withRowId = false)

  /** Exact k nearest point rows to (px, py) by Euclidean distance, with
    * `_dist` appended; ties broken by `tieCol` so the result is
    * deterministic. Reads only fragments whose zonemap bbox could hold a
    * top-k point.
    *
    * Two scan phases: (1) an initial wave of fragments in MINDIST order
    * containing ≥ k physical rows establishes a k-th-distance bound (k
    * doubles to the driver — the same driver-side footprint as the
    * reference's NearestNeighbors, which returns rowids to the caller);
    * (2) the exact top-k runs over every fragment whose MINDIST can still
    * beat that bound. Fragments without parseable numeric stats get
    * MINDIST 0 — always probed, never wrongly skipped. */
  def knn(ds: LakeDataset, xCol: String, yCol: String,
      px: Double, py: Double, k: Int, tieCol: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val m = ds.manifest
    val minDist = minDistOf(m, xCol, yCol, px, py)

    // (x-px)*(x-px) not pow(x-px, 2): sub/mul/add are exactly-rounded IEEE
    // ops and sqrt is correctly rounded, so an oracle computing the same
    // formula gets bit-identical distances; Math.pow carries no such
    // guarantee.
    val ddx = col(xCol) - px
    val ddy = col(yCol) - py
    val distCol = sqrt(ddx * ddx + ddy * ddy)
    def topK(frags: Seq[Fragment]): DataFrame =
      ds.readFragments(m, frags, withRowId = false)
        .withColumn("_dist", distCol)
        .orderBy(col("_dist"), col(tieCol))
        .limit(k)

    val ordered = m.fragments.map(f => (f, minDist(f))).sortBy(_._2)
    // Phase 1: smallest MINDIST prefix holding >= k physical rows. Deleted
    // rows may thin it below k — then the bound stays +inf and phase 2
    // simply probes everything reachable (correct, just unpruned).
    var take = 0
    var rows = 0L
    while (take < ordered.size && rows < k) {
      rows += ordered(take)._1.rowCount
      take += 1
    }
    if (take == 0) return topK(Nil)
    val probe = topK(ordered.take(take).map(_._1))
      .select(col("_dist")).collect()
    val bound =
      if (probe.length < k) Double.PositiveInfinity
      else probe.last.getDouble(0)
    // Phase 2: exact top-k over every fragment that can still contribute.
    val keep = ordered.take(take) ++
      ordered.drop(take).filter(_._2 <= bound)
    topK(keep.map(_._1))
  }

  /** Fragments a kNN probe at this bound would read — the pruning
    * statistic specs assert on (mirrors [[LakeDataset.prunedFileCount]]). */
  def knnCandidateFiles(ds: LakeDataset, xCol: String, yCol: String,
      px: Double, py: Double, bound: Double): Int = {
    val minDist = minDistOf(ds.manifest, xCol, yCol, px, py)
    ds.manifest.fragments.count(minDist(_) <= bound)
  }

  /** A fragment's MINDIST from (px, py): the distance to its zonemap box
    * over the two columns. A fragment whose bounds do not decode to numbers
    * gets 0 — always a candidate. */
  private def minDistOf(m: Manifest, xCol: String, yCol: String,
      px: Double, py: Double): Fragment => Double = {
    def axisDist(c: String, p: Double): Fragment => Option[Double] = {
      val f = m.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no column $c"))
      val decode = ZoneMaps.decoder(DataType.fromJson(f.dataType))
      def num(s: Option[String]): Option[Double] = s.flatMap(decode).collect {
        case n: java.lang.Number => n.doubleValue
        case d: Decimal => d.toDouble
      }
      frag => frag.stats.get(f.id.toString).flatMap { st =>
        for (lo <- num(st.min); hi <- num(st.max)) yield
          if (p < lo) lo - p else if (p > hi) p - hi else 0.0
      }
    }
    val (dx, dy) = (axisDist(xCol, px), axisDist(yCol, py))
    frag => (dx(frag), dy(frag)) match {
      case (Some(a), Some(b)) => math.sqrt(a * a + b * b)
      case _ => 0.0 // unknown stats: always a candidate
    }
  }
}
