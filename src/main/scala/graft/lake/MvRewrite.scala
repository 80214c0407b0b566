package graft.lake

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.DoubleType

/** Transparent materialized-view query rewriting: a Catalyst optimizer
  * rule that redirects matching grouped aggregates over a lake BASE table
  * — or a STAR JOIN of lake tables — to a registered [[MaterializedView]]:
  * the classic answering-queries-using-views rewrite (Goldstein & Larson,
  * SIGMOD 2001; §3 covers the SPJG view class), expressed as a
  * `Rule[LogicalPlan]` so any query — DataFrame or SQL — benefits without
  * the author knowing the view exists.
  *
  * A rewrite fires only when ALL of:
  *   - the aggregate's input is an inner-join tree (a single scan when
  *     the view has no dims) over exactly the view's base + dim scans,
  *     each a plain latest-version lake batch scan (no time travel /
  *     branch / change feed — their results differ from the view's
  *     snapshot by construction), whose equi-join conjuncts hit exactly
  *     the declared pairs;
  *   - the view is CURRENT: its refresh cursor equals the base's head
  *     version and every dim's recorded version equals that dim's head
  *     (a stale or dropped view never answers; metadata-only);
  *   - grouping expressions reference only view key columns (full key
  *     set, any subset, or derived expressions of keys — every view row
  *     is constant in all keys, so re-aggregation to any coarser grouping
  *     is exact);
  *   - residual Filter conditions reference only key columns (key
  *     predicates commute with the group-by). Bare IsNotNull on a join
  *     column is implied by the view's inner join and drops — Spark's
  *     InferFiltersFromConstraints plants exactly these. The lake scan
  *     keeps every pushed filter residual in the plan, so no predicate
  *     can hide inside the scan;
  *   - every aggregate translates losslessly: `count(*)` → `sum(mv_cnt)`,
  *     `sum(c)` → `sum(sum_c)`, `max(c)` → `max(max_c)`, `min(c)` →
  *     `min(min_c)`, `avg(c)` → `sum(sum_c)/sum(mv_cnt)` (only for
  *     non-nullable `c`, where row count equals value count); no
  *     DISTINCT, no FILTER clauses.
  *
  * ROLLUP / CUBE / GROUPING SETS rewrite too: the Expand machinery is
  * kept, its input swapped for the groups-sized view
  * ([[rewriteExpandWith]]).
  *
  * At 100 TB this is the difference between a dashboard group-by reading
  * the whole fact table (or re-running the star join) and reading a
  * groups-sized view kept current for CDF-delta cost — the scan swap
  * happens in the optimizer, so pruning, AQE and codegen all apply to the
  * rewritten plan unchanged. */
object MvRewrite extends Rule[LogicalPlan] {

  /** A registered view:
    * @param tables  normalized roots of base + every dim (set equality
    *                against the query's scan set is the match gate)
    * @param joinPairs declared equi-join pairs as unordered
    *                `Set((norm, col), (norm, col))` — each query conjunct
    *                must hit one, and all must be hit
    * @param keyOf   (table norm, column name) → view column, for grouping
    *                and filter re-sourcing
    * @param sumCols/maxCols/minCols measure columns BY (base norm, name) */
  final case class ViewDef(viewRoot: String, baseNorm: String,
      tables: Set[String],
      joinPairs: Seq[Set[(String, String)]],
      keyOf: Map[(String, String), String],
      sumCols: Set[(String, String)], maxCols: Set[(String, String)],
      minCols: Set[(String, String)])

  /** Per-candidate translation context: how the query side's (table norm,
    * column name) pairs resolve to the FRESH view's scan, so the
    * aggregate / group / filter / Expand rewrites are written once. */
  private final case class RewriteCtx(
      viewRel: DataSourceV2ScanRelation,
      srcOf: Map[ExprId, (String, String)],
      keyOf: Map[(String, String), String],
      sumCols: Set[(String, String)],
      maxCols: Set[(String, String)],
      minCols: Set[(String, String)],
      joinCols: Set[(String, String)]) {
    val viewAttr: Map[String, AttributeReference] =
      viewRel.output.map(a => a.name -> a).toMap
    def keyView(a: AttributeReference): Option[AttributeReference] =
      srcOf.get(a.exprId).flatMap(keyOf.get).flatMap(viewAttr.get)
    def measure(a: AttributeReference,
        set: Set[(String, String)]): Option[String] =
      srcOf.get(a.exprId).filter(set.contains).map(_._2)
    def isJoinCol(a: AttributeReference): Boolean =
      srcOf.get(a.exprId).exists(joinCols.contains)
    /** `mv_cnt > 0` over the view scan — MUST conjoin every rewritten
      * plan's filter. foldDelta commits the merged state (cursor moves)
      * and reclaims netted-to-zero groups in a SEPARATE delete commit;
      * between the two (or forever, if a crash lands between them —
      * refresh() early-returns once from == to) the view is "current"
      * yet holds dead groups MaterializedView.read() hides with this
      * same predicate. Serving the raw scan without it returns phantom
      * groups (count 0, null sums) the base query cannot produce. */
    def liveGuard: Option[Expression] =
      viewAttr.get("mv_cnt").map(a => GreaterThan(a, Literal(0L)))
  }

  // baseNorm -> rewrite candidates for that base, narrowest key set
  // first (so a query grouping on a subset is answered from the smallest
  // covering view). Re-registering a view root replaces its entry.
  private val registry = new ConcurrentHashMap[String, List[ViewDef]]()

  /** Register a view for rewriting and enable the rule in the session.
    * The definition (base, dims, join pairs, exposed keys, measures) comes
    * from the view's own properties via [[MaterializedView.open]]. */
  def register(spark: SparkSession, viewRoot: String): ViewDef = {
    val mv = MaterializedView.open(spark, viewRoot)
    val baseNorm = norm(mv.base.root)
    val dimsN = mv.dims.map(d => (d, norm(d.root)))
    // exposed dim columns never shadow base columns (create checks), so
    // a key is a dim's exactly when that dim exposes it
    val keyOf = mv.keys.map { k =>
      dimsN.collectFirst { case (d, n) if d.expose.contains(k) => (n, k) }
        .getOrElse((baseNorm, k)) -> k
    }.toMap
    val d = ViewDef(
      viewRoot = viewRoot,
      baseNorm = baseNorm,
      tables = (baseNorm +: dimsN.map(_._2)).toSet,
      joinPairs = dimsN.map { case (dm, n) =>
        Set((baseNorm, dm.factCol), (n, dm.dimCol)) },
      keyOf = keyOf,
      sumCols = mv.sumCols.map(c => (baseNorm, c)).toSet,
      maxCols = mv.maxCols.map(c => (baseNorm, c)).toSet,
      minCols = mv.minCols.map(c => (baseNorm, c)).toSet)
    require(d.tables.size == dimsN.size + 1,
      "base and dim roots must be distinct for join matching")
    registry.merge(baseNorm, List(d), (old, add) =>
      (add ::: old.filterNot(_.viewRoot == d.viewRoot))
        .sortBy(_.keyOf.size))
    enable(spark)
    d
  }

  def unregister(spark: SparkSession, viewRoot: String): Unit = {
    registry.replaceAll((_, ds) => ds.filterNot(_.viewRoot == viewRoot))
    registry.entrySet().removeIf(_.getValue.isEmpty)
  }

  /** Idempotently add this rule to the session's extra optimizations. */
  def enable(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.toString.stripSuffix("/")

  /** ROLLUP / CUBE / GROUPING SETS: the analyzer compiles them to
    * `Aggregate(keys + gid, aggs, Expand(rows, out, Project(input)))` —
    * one projection row per grouping set, value columns passed through
    * every row. [[rewriteExpandWith]] substitutes surgically: the Expand
    * rows and the Aggregate's grouping side stay verbatim, the input
    * becomes the groups-sized view. One view scan serves every grouping
    * set — at 100 TB a CUBE over the fact table becomes a CUBE over the
    * view, Expand fan-out included. Only grouping-analytics Expands carry
    * the grouping id (DISTINCT-aggregate Expands do not). */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate => (agg.child match {
        case ex: Expand =>
          if (!ex.output.exists(_.name == "spark_grouping_id")) None
          else lookup(ex.child)(rewriteExpandWith(agg, ex, _, _))
        case child => lookup(child)(rewriteWith(agg, _, _))
      }).getOrElse(agg)
    }
  }

  // -------------------------------------------------------- shape walkers

  /** Flatten an inner-join tree down to (filters, join conditions, scans);
    * a bare scan is the one-table tree. Attribute-only Projects are
    * transparent, anything else aborts. */
  private def flattenJoin(p: LogicalPlan): Option[(List[Expression],
      List[Expression], List[DataSourceV2ScanRelation])] = p match {
    case Join(l, r, Inner, cond, _) =>
      for {
        (fl, jl, sl) <- flattenJoin(l)
        (fr, jr, sr) <- flattenJoin(r)
      } yield (fl ++ fr, cond.toList ++ jl ++ jr, sl ++ sr)
    case Filter(c, child) =>
      flattenJoin(child).map { case (f, j, s) => (c :: f, j, s) }
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      flattenJoin(child)
    case r: DataSourceV2ScanRelation => Some((Nil, Nil, List(r)))
    case _ => None
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Normalized root of a PLAIN latest-version lake batch scan; None for
    * anything pinned (time travel / branch / change feed / rowid — their
    * results differ from any view snapshot by construction). */
  private def lakeRoot(rel: DataSourceV2ScanRelation): Option[String] = {
    val root = rel.relation.table match {
      // the table carries its own read options (catalog time travel lands
      // there, not on the relation), so the pinned check covers both doors
      case lt: LakeTable if !lt.isPinnedHandle => norm(lt.rootPath)
      case _ => return None
    }
    val opts = rel.relation.options
    if (Seq("changesFrom", "versionAsOf", "tag", "branch", "rowid")
        .exists(opts.containsKey)) return None
    Some(root)
  }

  // ------------------------------------------------------------ candidates

  /** The first registered view that answers `input` (a single scan or an
    * inner-join tree of scans, see [[flattenJoin]]) through `rewrite`,
    * given the residual filters and that view's context. Candidates come
    * from EVERY scanned root: a root can be a dim of this query while
    * being the registered base of another view. */
  private def lookup(input: LogicalPlan)(
      rewrite: (List[Expression], RewriteCtx) => Option[Aggregate])
      : Option[Aggregate] =
    for {
      (filters, joinConds, scans) <- flattenJoin(input)
      roots <- {
        val rs = scans.map(lakeRoot)
        if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
      }
      // every table exactly once (self-joins don't match a star view)
      if roots.distinct.size == roots.size
      res <- roots.iterator
        .flatMap(r => Option(registry.get(r)).toList.flatten)
        .flatMap(d => ctxFor(joinConds, scans, roots, d)
          .flatMap(rewrite(filters, _)))
        .nextOption()
    } yield res

  /** The match gate: scan set and equi-join conjuncts must match the
    * view's star exactly (Goldstein & Larson §3's SPJG containment,
    * specialized to exact star-shape match), and the view must be fresh.
    * Returns the translation context on success. */
  private def ctxFor(joinConds: List[Expression],
      scans: List[DataSourceV2ScanRelation], roots: List[String],
      d: ViewDef): Option[RewriteCtx] = {
    if (d.tables != roots.toSet) return None
    val srcOf: Map[ExprId, (String, String)] =
      scans.zip(roots).flatMap { case (s, r) =>
        s.output.map(a => a.exprId -> ((r, a.name)))
      }.toMap
    // each conjunct must be an equality on exactly one declared pair; all
    // declared pairs must be hit (every dim joined the way the view joined
    // it), and nothing else may hide in the ON
    val matched = scala.collection.mutable.Set.empty[Int]
    joinConds.flatMap(splitConj).foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val pair = Set(srcOf.getOrElse(a.exprId, return None),
          srcOf.getOrElse(b.exprId, return None))
        val idx = d.joinPairs.indexOf(pair)
        if (idx < 0) return None
        matched += idx
      case _ => return None
    }
    if (matched.size != d.joinPairs.size) return None
    val spark = SparkSession.active
    // freshness probe (metadata-only): a view, base or dim that no longer
    // exists (LakeDataset.open's `no dataset at`) or a directory that is
    // not a view (MaterializedView.open's check) means no rewrite; any
    // other failure is a real fault and propagates
    val current =
      try MaterializedView.open(spark, d.viewRoot).isCurrent
      catch { case _: IllegalArgumentException => false }
    if (!current) return None
    viewScanRelation(spark, d.viewRoot).map { viewRel =>
      RewriteCtx(viewRel, srcOf, d.keyOf, d.sumCols, d.maxCols, d.minCols,
        joinCols = d.joinPairs.flatten.toSet)
    }
  }

  // ------------------------------------------------------ shared rewrites

  /** Translate one aggregate call to its view fold; None = untranslatable.
    * `need` resolves a view partial-aggregate column to the attribute the
    * caller wants referenced (identity for [[rewriteWith]]; a
    * fresh passthrough attribute for the Expand rewrite). */
  private def translateAggWith(ctx: RewriteCtx,
      need: String => Option[Expression])(
      ae: AggregateExpression): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    ae.aggregateFunction match {
      case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
        need("mv_cnt").map(a =>
          Coalesce(Seq(Sum(a).toAggregateExpression(), Literal(0L))))
      case s: Sum => s.child match {
        case a: AttributeReference =>
          ctx.measure(a, ctx.sumCols).flatMap(n => need(s"sum_$n"))
            .map(x => Sum(x).toAggregateExpression())
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference =>
          ctx.measure(a, ctx.maxCols).flatMap(n => need(s"max_$n"))
            .map(x => Max(x).toAggregateExpression())
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference =>
          ctx.measure(a, ctx.minCols).flatMap(n => need(s"min_$n"))
            .map(x => Min(x).toAggregateExpression())
        case _ => None
      }
      // avg = sum/count(non-null); mv_cnt counts rows, so only columns
      // that cannot hold nulls translate (row count == value count)
      case av: Average => av.child match {
        case a: AttributeReference if !a.nullable =>
          ctx.measure(a, ctx.sumCols).flatMap { n =>
            for { s <- need(s"sum_$n"); c <- need("mv_cnt") } yield
              Divide(
                Cast(Sum(s).toAggregateExpression(), DoubleType),
                Cast(Sum(c).toAggregateExpression(), DoubleType))
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** Residual filters re-sourced to the view: key predicates translate,
    * bare IsNotNull on a join column drops (implied by the view's inner
    * join — null-keyed rows never entered it); anything else aborts. */
  private def filtersToView(ctx: RewriteCtx, filters: List[Expression],
      translate: Expression => Option[Expression])
      : Option[List[Expression]] = {
    val out = filters.flatMap(splitConj).flatMap {
      case IsNotNull(a: AttributeReference) if ctx.isJoinCol(a) => None
      case f => Some(translate(f).getOrElse(return None))
    }
    Some(out)
  }

  /** Plain Aggregate (no Expand) → Aggregate over the view. */
  private def rewriteWith(agg: Aggregate, filters: List[Expression],
      ctx: RewriteCtx): Option[Aggregate] = {

    def translate(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression =>
        // need() resolves straight to the view attribute here; the helper
        // wraps it in the folding aggregate (Sum/Max/Min) itself
        translateAggWith(ctx, n => ctx.viewAttr.get(n))(ae)
      case a: AttributeReference => ctx.keyView(a)
      case l: Literal => Some(l)
      case other if other.children.nonEmpty && other.deterministic =>
        val kids = other.children.map(translate)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
      case _ => None
    }

    val newGroups = agg.groupingExpressions.map(translate)
    if (newGroups.exists(_.isEmpty)) return None
    val newAggs = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        ctx.keyView(a).map(v =>
          Alias(v, a.name)(exprId = a.exprId, qualifier = a.qualifier))
      case al @ Alias(child, name) =>
        translate(child).map(nc =>
          Alias(nc, name)(exprId = al.exprId, qualifier = al.qualifier))
      case _ => None
    }
    if (newAggs.exists(_.isEmpty)) return None
    // the rewritten plan must expose byte-identical output types
    val sameTypes = newAggs.map(_.get).zip(agg.aggregateExpressions)
      .forall { case (n, o) => n.dataType == o.dataType }
    if (!sameTypes) return None

    val residual = filtersToView(ctx, filters, translate)
      .getOrElse(return None)
    val guard = ctx.liveGuard.getOrElse(return None)
    val newChild: LogicalPlan =
      Filter((guard +: residual).reduce(And), ctx.viewRel)
    Some(Aggregate(newGroups.map(_.get), newAggs.map(_.get), newChild))
  }

  /** Grouping-analytics Aggregate over Expand → same Expand shape over the
    * view. The view substitutes SURGICALLY: the new Project re-sources key
    * columns from the view (original exprIds kept, so the Expand rows and
    * the Aggregate's grouping side stay verbatim), value passthrough
    * positions are replaced by the view's partial-aggregate columns, and
    * each aggregate call folds exactly as in [[rewriteWith]]. */
  private def rewriteExpandWith(agg: Aggregate, ex: Expand,
      filters: List[Expression], ctx: RewriteCtx): Option[Aggregate] = {

    // classify each Expand output position
    val groupingOut = AttributeSet(
      agg.groupingExpressions.flatMap(_.references))
    val nPos = ex.output.size
    val keep = Array.fill(nPos)(false)
    // source attrs (from the scan/join side) the kept grouping positions
    // reference
    val keySrcs = scala.collection.mutable.LinkedHashMap
      .empty[ExprId, AttributeReference]
    (0 until nPos).foreach { p =>
      val entries = ex.projections.map(_(p))
      val o = ex.output(p)
      if (groupingOut.contains(o)) {
        if (entries.forall(_.isInstanceOf[Literal])) keep(p) = true // gid
        else {
          val srcs = entries.collect {
            case a: AttributeReference => a
          }.distinct
          val attrOrNull = entries.forall {
            case _: AttributeReference => true
            case Literal(null, _) => true
            case _ => false
          }
          // grouping position: one key-source attr, possibly nulled out
          if (srcs.size != 1 || !attrOrNull) return None
          val src = srcs.head
          if (!ctx.srcOf.get(src.exprId).exists(ctx.keyOf.contains))
            return None
          keySrcs.getOrElseUpdate(src.exprId, src)
          keep(p) = true
        }
      }
      // value passthrough positions: dropped; aggregates re-source below
    }

    // view partial-aggregate columns the rewritten aggregates read; each
    // becomes one Project alias + one passthrough Expand column
    val extra = scala.collection.mutable.LinkedHashMap
      .empty[String, AttributeReference]
    def need(viewCol: String): Option[Expression] =
      ctx.viewAttr.get(viewCol).map { va =>
        extra.getOrElseUpdate(viewCol,
          AttributeReference(viewCol, va.dataType, nullable = true)())
      }

    val keptOut = AttributeSet(
      (0 until nPos).filter(keep).map(ex.output(_)))
    def translate(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => translateAggWith(ctx, need)(ae)
      case a: AttributeReference =>
        if (keptOut.contains(a)) Some(a) else None
      case l: Literal => Some(l)
      case other if other.children.nonEmpty && other.deterministic =>
        val kids = other.children.map(translate)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
      case _ => None
    }

    val newAggs = agg.aggregateExpressions.map {
      case a: AttributeReference if keptOut.contains(a) => Some(a)
      case al @ Alias(child, name) =>
        translate(child).map(nc =>
          Alias(nc, name)(exprId = al.exprId, qualifier = al.qualifier))
      case _ => None
    }
    if (newAggs.exists(_.isEmpty)) return None
    val sameTypes = newAggs.map(_.get).zip(agg.aggregateExpressions)
      .forall { case (n, o) => n.dataType == o.dataType }
    if (!sameTypes) return None

    // new Project: view keys re-aliased to the original source exprIds,
    // plus the partial-aggregate columns the translations requested
    val keyAliases = keySrcs.values.toSeq.map { b =>
      ctx.keyView(b).map(v => Alias(v, b.name)(exprId = b.exprId))
    }
    if (keyAliases.exists(_.isEmpty)) return None
    val extraAliases = extra.toSeq.map { case (colName, attr) =>
      Alias(ctx.viewAttr(colName), colName)(exprId = attr.exprId)
    }

    // residual filter: key predicates only, re-sourced to the view;
    // IsNotNull on join columns drops as in [[rewriteWith]]
    def condToView(e: Expression): Option[Expression] = e match {
      case a: AttributeReference => ctx.keyView(a)
      case l: Literal => Some(l)
      case other if other.children.nonEmpty && other.deterministic =>
        val kids = other.children.map(condToView)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
      case _ => None
    }
    val residual = filtersToView(ctx, filters, condToView)
      .getOrElse(return None)
    val guard = ctx.liveGuard.getOrElse(return None)
    val viewChild: LogicalPlan =
      Filter((guard +: residual).reduce(And), ctx.viewRel)
    val newProject =
      Project(keyAliases.map(_.get) ++ extraAliases, viewChild)

    val keptIdx = (0 until nPos).filter(keep)
    val extraAttrs = extra.values.toSeq
    val newRows = ex.projections.map(row =>
      keptIdx.map(row(_)) ++ extraAttrs)
    val newOut = keptIdx.map(ex.output(_)) ++ extraAttrs
    val newExpand = Expand(newRows, newOut, newProject)
    Some(Aggregate(
      agg.groupingExpressions, newAggs.map(_.get), newExpand))
  }

  /** A ready-to-execute scan relation over the view: the view read goes
    * through Spark's own analysis + optimization (so V2ScanRelationPushDown
    * builds the scan and its V1 wrapper exactly as for any other read),
    * and we lift out the resulting relation node with fresh attribute ids.
    * The nested optimization re-enters this rule, but the view root is
    * never a registered base, so it no-ops. */
  private def viewScanRelation(spark: SparkSession,
      viewRoot: String): Option[DataSourceV2ScanRelation] =
    spark.read.format("lake").load(viewRoot)
      .queryExecution.optimizedPlan match {
      case r: DataSourceV2ScanRelation => Some(r)
      case _ => None
    }
}
