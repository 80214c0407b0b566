package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 stored procedures for dataset maintenance (SPARK-44167 procedure
  * API, the SQL door to the reference's sdk maintenance surface —
  * sdk/dataset.go compaction/cleanup entry points):
  *
  * {{{
  *   CALL lake.system.optimize_zorder(`table` => 'db.t', cols => 'x,y', target_rows => 1000000)
  *   CALL lake.system.compact('db.t', 1000000)
  *   CALL lake.system.vacuum('db.t', 2)
  * }}}
  *
  * Each runs the corresponding [[LakeDataset]] operation through the
  * optimistic commit protocol and returns a one-row summary via a
  * [[LocalScan]]. */
object LakeProcedures {

  val Names: Seq[String] = Seq("optimize_zorder", "compact", "vacuum",
    "create_branch", "merge_branch", "drop_branch", "branches", "history",
    "add_check", "drop_check", "mv_create", "mv_create_join", "mv_refresh")

  /** One-row result surface for a maintenance call. */
  private final case class ResultScan(schema: StructType,
      data: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = schema
    override def description(): String = "lake_procedure_result"
  }

  private def summarySchema: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_fragments", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  private def summary(table: String, op: String,
      ds: LakeDataset): java.util.Iterator[Scan] = {
    val row = InternalRow(UTF8String.fromString(table),
      UTF8String.fromString(op), ds.manifest.fragments.size, ds.version)
    java.util.List.of[Scan](
      ResultScan(summarySchema, Array(row))).iterator()
  }

  private abstract class LakeProc(procName: String,
      params: Array[ProcedureParameter]) extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def bind(input: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
  }

  /** `table` is a catalog-relative name (`ns1[.ns2].table`). */
  def load(name: String,
      resolvePath: Seq[String] => String): UnboundProcedure = {
    def open(tableArg: UTF8String): (String, LakeDataset) = {
      val parts = tableArg.toString.split('.').toSeq
      val path = resolvePath(parts)
      if (!LakeDataset.exists(path))
        throw new IllegalArgumentException(s"no lake table at $path")
      (tableArg.toString, LakeDataset.open(SparkSession.active, path))
    }

    name match {
      case "optimize_zorder" => new LakeProc("optimize_zorder", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("cols", StringType).build(),
        ProcedureParameter.in("target_rows", LongType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val cols = input.getUTF8String(1).toString
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          ds.optimizeLayoutZOrder(cols, input.getLong(2))
          summary(tbl, s"optimize_zorder(${cols.mkString(",")})", ds)
        }
      }
      case "compact" => new LakeProc("compact", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("target_rows", LongType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          ds.compact(input.getLong(1))
          summary(tbl, "compact", ds)
        }
      }
      case "vacuum" => new LakeProc("vacuum", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("keep_versions", IntegerType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          ds.vacuum(keepVersions = input.getInt(1))
          summary(tbl, "vacuum", ds)
        }
      }
      case "create_branch" => new LakeProc("create_branch", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val b = input.getUTF8String(1).toString
          ds.createBranch(b)
          summary(tbl, s"create_branch($b)", ds)
        }
      }
      case "merge_branch" => new LakeProc("merge_branch", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        // rebase=true: squash rebase-merge for diverged histories
        // (mergeBranchRebase); default stays the --ff-only contract
        ProcedureParameter.in("rebase", BooleanType)
          .defaultValue("false").build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val b = input.getUTF8String(1).toString
          val rebase = !input.isNullAt(2) && input.getBoolean(2)
          if (rebase) ds.mergeBranchRebase(b) else ds.mergeBranch(b)
          summary(tbl, s"merge_branch($b)", ds)
        }
      }
      case "add_check" => new LakeProc("add_check", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("expr", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val n = input.getUTF8String(1).toString
          ds.addCheckConstraint(n, input.getUTF8String(2).toString)
          summary(tbl, s"add_check($n)", ds)
        }
      }
      case "drop_check" => new LakeProc("drop_check", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val n = input.getUTF8String(1).toString
          ds.dropCheckConstraint(n)
          summary(tbl, s"drop_check($n)", ds)
        }
      }
      case "drop_branch" => new LakeProc("drop_branch", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val b = input.getUTF8String(1).toString
          ds.deleteBranch(b)
          summary(tbl, s"drop_branch($b)", ds)
        }
      }
      case "branches" => new LakeProc("branches", Array(
        ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (_, ds) = open(input.getUTF8String(0))
          val schema = StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("head_version", LongType, nullable = false)))
          val rows = ds.branches.toSeq.sortBy(_._1).map { case (n, v) =>
            InternalRow(UTF8String.fromString(n), v)
          }.toArray
          java.util.List.of[Scan](ResultScan(schema, rows)).iterator()
        }
      }
      case "history" => new LakeProc("history", Array(
        ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (_, ds) = open(input.getUTF8String(0))
          // DESCRIBE HISTORY shape — same columns as LakeDataset.history()
          val schema = StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("operation", StringType, nullable = false),
            StructField("parent_version", LongType, nullable = true),
            StructField("n_fragments", IntegerType, nullable = false),
            StructField("n_rows", LongType, nullable = false),
            StructField("committed_at", TimestampType, nullable = false)))
          val rows = ds.history().collect().map { r =>
            InternalRow(r.getLong(0), UTF8String.fromString(r.getString(1)),
              if (r.isNullAt(2)) null else r.getLong(2),
              r.getInt(3), r.getLong(4),
              r.getTimestamp(5).getTime * 1000L) // internal micros
          }
          java.util.List.of[Scan](ResultScan(schema, rows)).iterator()
        }
      }
      case "mv_create" => new LakeProc("mv_create", Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("keys", StringType).build(),
        ProcedureParameter.in("sum_cols", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("max_cols", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("min_cols", StringType)
          .defaultValue("''").build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (tbl, ds) = open(input.getUTF8String(0))
          val viewName = input.getUTF8String(1).toString
          val viewPath = resolvePath(viewName.split('.').toSeq)
          def cols(i: Int): Seq[String] =
            if (input.isNullAt(i)) Nil
            else input.getUTF8String(i).toString
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val mv = MaterializedView.create(SparkSession.active, ds,
            viewPath, cols(2), cols(3), cols(4), cols(5))
          // CREATE MATERIALIZED VIEW semantics: queries over the base
          // rewrite to the view from this point on (stale views never
          // answer, and a dropped view fails the freshness probe, so
          // auto-registration is fail-safe)
          MvRewrite.register(SparkSession.active, viewPath)
          summary(tbl, s"mv_create($viewName @ base v${mv.baseVersion})",
            mv.view)
        }
      }
      case "mv_create_join" => new LakeProc("mv_create_join", Array(
        ProcedureParameter.in("fact", StringType).build(),
        // dim spec: `name|fact_col|dim_col|exposed+cols`, ';'-separated
        ProcedureParameter.in("dims", StringType).build(),
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("keys", StringType).build(),
        ProcedureParameter.in("sum_cols", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("max_cols", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("min_cols", StringType)
          .defaultValue("''").build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (factName, fact) = open(input.getUTF8String(0))
          val dims = input.getUTF8String(1).toString
            .split(';').filter(_.nonEmpty).toSeq.map { part =>
              val Array(nm, fc, dc, ex) = part.split('|').padTo(4, "")
              val path = resolvePath(nm.split('.').toSeq)
              if (!LakeDataset.exists(path))
                throw new IllegalArgumentException(s"no lake table at $path")
              MvDim(path, fc, dc,
                ex.split('+').filter(_.nonEmpty).toSeq)
            }
          val viewName = input.getUTF8String(2).toString
          val viewPath = resolvePath(viewName.split('.').toSeq)
          def cols(i: Int): Seq[String] =
            if (input.isNullAt(i)) Nil
            else input.getUTF8String(i).toString
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val mv = MaterializedView.create(SparkSession.active, fact,
            viewPath, cols(3), cols(4), cols(5), cols(6), dims = dims)
          // same fail-safe auto-registration as mv_create
          MvRewrite.register(SparkSession.active, viewPath)
          summary(factName,
            s"mv_create_join($viewName @ fact v${mv.baseVersion})",
            mv.view)
        }
      }
      case "mv_refresh" => new LakeProc("mv_refresh", Array(
        ProcedureParameter.in("view", StringType).build())) {
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val viewName = input.getUTF8String(0).toString
          val mv = MaterializedView.open(SparkSession.active,
            resolvePath(viewName.split('.').toSeq))
          val st = mv.refresh()
          summary(viewName,
            s"mv_refresh(v${st.fromVersion}->v${st.toVersion}, " +
              s"upserted=${st.upsertedGroups}, removed=${st.removedGroups})",
            mv.view)
        }
      }
      case other => throw new IllegalArgumentException(
        s"undefined procedure: $other (have: ${Names.mkString(", ")})")
    }
  }
}
