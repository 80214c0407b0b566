package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector distance + simhash: codegen'd
  * (stay inside whole-stage codegen, unlike a Scala UDF which breaks the
  * span and pays serialization per row). Listed in [[GraftFunctions]];
  * used via `call_function("cosine_sim", ...)`.
  *
  * Reference counterpart: pkg/storage2/distance_metrics.go (metrics);
  * simhash fingerprinting is beyond-reference (north star). */
trait VectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  /** Kernel name on [[VectorOps]], used by both eval paths. */
  def kernel: String

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float>, array<float>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = kernel match {
    case "cosine" => VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "dot"    => VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "l2"     => VectorOps.l2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.$kernel($a, $b);")
}

case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinary {
  override def kernel: String = "cosine"
  override def prettyName: String = "cosine_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
  override def kernel: String = "dot"
  override def prettyName: String = "dot_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2Distance(left: Expression, right: Expression) extends VectorBinary {
  override def kernel: String = "l2"
  override def prettyName: String = "l2_distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** simhash64(array<string>) → bigint fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got $t")
  }

  override def nullSafeEval(tokens: Any): Any =
    VectorOps.simhash(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.VectorOps.simhash($t);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sorted_jaccard(array<bigint>, array<bigint>) → double: exact Jaccard of
  * two sorted distinct long arrays (merge walk, see VectorOps). */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_jaccard expects (array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.sortedJaccard($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sorted_overlap(array<bigint>, array<bigint>) → int: exact intersection
  * size of two sorted distinct long arrays (see VectorOps.sortedOverlap). */
case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "sorted_overlap"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap expects two array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sortedOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.sortedOverlap($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** winnow_fingerprint(string, k, w) → array<bigint>: winnowing document
  * fingerprints (see VectorOps.winnow). k and w must be foldable. */
case class WinnowFingerprint(child: Expression, kExpr: Expression,
    wExpr: Expression) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = child
  override def second: Expression = kExpr
  override def third: Expression = wExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType, kExpr.foldable,
      wExpr.dataType, wExpr.foldable) match {
      case (StringType, IntegerType, true, IntegerType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprint expects (string, int lit, int lit), got $other")
    }

  override def nullSafeEval(s: Any, k: Any, w: Any): Any =
    VectorOps.winnow(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k, w) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" graft.functions.VectorOps.winnow($s, $k, $w);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(child = f, kExpr = s, wExpr = t)
}

/** dedup_sig(string, k, perms) → struct<shh: array<bigint>, sig:
  * array<bigint>>: one-pass shingle-hash set + minhash signature (see
  * VectorOps.dedupSig). k, perms must be foldable. */
case class DedupSig(child: Expression, kExpr: Expression,
    pExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = child
  override def second: Expression = kExpr
  override def third: Expression = pExpr
  override def prettyName: String = "dedup_sig"
  override def dataType: DataType = StructType(Seq(
    StructField("shh", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType, kExpr.foldable,
      pExpr.dataType, pExpr.foldable) match {
      case (StringType, IntegerType, true, IntegerType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dedup_sig expects (string, int lit, int lit), got $other")
    }

  override def nullSafeEval(s: Any, k: Any, p: Any): Any =
    VectorOps.dedupSig(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k, p) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)" +
        s" graft.functions.VectorOps.dedupSig($s, $k, $p);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(child = f, kExpr = s, pExpr = t)
}

/** minhash_sig(array<string>, k) → array<bigint>: k-permutation MinHash
  * signature in one pass (see VectorOps.minhashSig). `k` must be foldable. */
case class MinHashSig(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, kExpr.dataType, kExpr.foldable) match {
      case (ArrayType(StringType, _), IntegerType, true) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects (array<string>, int literal), got $other")
    }

  override def nullSafeEval(tokens: Any, k: Any): Any =
    VectorOps.minhashSig(tokens.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" graft.functions.VectorOps.minhashSig($t, $k);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, kExpr = r)
}

/** Puts the graft functions and the [[ParamLiterals]] and [[SmallSorts]]
  * rules in every SparkSession. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` hands it each new session (and each
  * `newSession()` child) at build time: no config key, no call site. */
class GraftExtensions extends org.apache.spark.sql.SparkSessionExtensionsProvider {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftFunctions.type].getName, name), b))
    }
    ext.injectColumnar(_ => ParamLiterals.columnar)
    ext.injectQueryStagePrepRule(_ => SmallSorts)
  }
}

/** The graft functions, callable through `call_function` / SQL in every
  * session once [[GraftExtensions]] has injected them. */
object GraftFunctions {
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "l2_distance" -> (es => L2Distance(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es.head)),
    "minhash_sig" -> (es => MinHashSig(es(0), es(1))),
    "dedup_sig" -> (es => DedupSig(es(0), es(1), es(2))),
    "sorted_jaccard" -> (es => SortedJaccard(es(0), es(1))),
    "sorted_overlap" -> (es => SortedOverlap(es(0), es(1))),
    "term_positions" -> (es => TermPositions(es(0), es(1))),
    "min_abs_diff" -> (es => MinAbsDiff(es(0), es(1))),
    "phrase_count" -> (es => PhraseCount(es(0), es(1))),
    "winnow_fingerprint" -> (es => WinnowFingerprint(es(0), es(1), es(2))),
    "kmv_distinct" -> (es =>
      KmvDistinct(es.head).toAggregateExpression()),
    "heavy_hitters" -> (es =>
      MgHeavyHitters(es.head).toAggregateExpression()),
    "bloom_agg" -> (es =>
      BloomAgg(es(0), es(1), es(2)).toAggregateExpression()),
    "pq_encode" -> (es => PqEncode(es(0), es(1), es(2), es(3))),
    "pq_adc" -> (es => PqAdc(es(0), es(1))),
    "sq_encode" -> (es => SqEncode(es(0), es(1), es(2))),
    "sq_adc" -> (es => SqAdc(es(0), es(1), es(2), es(3))),
    "bq_encode" -> (es => BqEncode(es.head)),
    "bq_hamming" -> (es => BqHamming(es(0), es(1))),
    "cjk_tokens" -> (es => CjkTokens(es.head)),
    "freq_stats" -> (es => FreqStatsExpr(es.head)),
    "simhash60" -> (es => Simhash60Expr(es.head)),
    "winnow_portable" -> (es => WinnowPortable(es(0), es(1), es(2))),
    "shingle_hashes" -> (es => ShingleHashes(es(0), es(1))),
    "winnow_hashes" -> (es => WinnowHashes(es(0), es(1), es(2))),
    "bigram_freq_stats" -> (es => BigramFreqStatsExpr(es.head)),
    "quantile_rank" -> (es => QuantileRank(es(0), es(1))),
    "z_value" -> (es => ZValueExpr(es.head)))
}
