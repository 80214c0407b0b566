package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A constant whose generated code does not depend on its value.
  *
  * Spark writes a primitive `Literal` into the generated Java
  * (`value_0 == 103L`), so two statements that differ only in a bound key
  * compile two classes, and a stream of point lookups keeps Janino busy and
  * floods the codegen cache. A `ParamLiteral` instead puts its value in
  * the class's `references` array and unboxes it once into a field: the
  * code text, and so the cache key, is the same for every value.
  *
  * It renders exactly as the `Literal` it replaces (`explain` output is
  * unchanged), compares and canonicalizes by value (exchange reuse never
  * merges two different constants), and is not foldable, so nothing
  * constant-folds it back. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal: Literal = Literal(value, dataType)

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Turns the constant operands of comparisons in physical `Filter`s into
  * [[ParamLiteral]]s, so statements that differ only in such constants
  * share one compiled class. Only non-null primitive, date and timestamp
  * constants change: strings and decimals already reach generated code
  * through `references`. Scans keep their pushed and data filters as plain
  * literals, so parquet pushdown and lake pruning see what they saw before.
  *
  * [[GraftExtensions]] installs it as a `ColumnarRule`'s pre-transition
  * rule, the hook that runs right before `CollapseCodegenStages` both when
  * a plan is prepared and when adaptive execution plans each stage. */
object ParamLiterals extends Rule[SparkPlan] {
  private val parameterized: Set[DataType] = Set(ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType,
    TimestampNTZType)

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && parameterized(t) => ParamLiteral(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    })
  }

  /** The rule as the columnar hook `SparkSessionExtensions` accepts. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}
