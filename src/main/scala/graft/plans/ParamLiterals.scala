package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical rule: binds the numeric constants of filter comparisons as
  * parameters of the generated code instead of inlining them into it.
  *
  * `Literal.doGenCode` writes int and long values straight into the
  * Java source (`value_3 < 972533L`), while strings and decimals go
  * through the `references` array. A genome-region read
  * ("genes on chr X between a and b") therefore generated a new
  * whole-stage class for every new region, and Catalyst's codegen
  * cache, keyed by (context classloader, source), compiled that one
  * source twice: once on the driver and once in the first task.
  *
  * The rule replaces each non-null primitive literal (int, long, short,
  * byte, float, double, date, timestamp) that is one side of a
  * `BinaryComparison` in a `FilterExec` condition with a
  * [[ParamLiteral]]. Reads that differ only in their bounds then
  * generate identical source and share one compiled class.
  *
  * Scans are left alone: `FileSourceScanExec` keeps its real literals
  * in `dataFilters`/`partitionFilters`, so parquet pushdown, row-group
  * skipping and partition pruning are unchanged (`ParamLiteralsSpec`).
  *
  * Installed by `SessionTuning.scaleAdaptive` as the
  * `preColumnarTransitions` half of a [[ColumnarRule]]: Spark applies
  * it to every plan just before `CollapseCodegenStages`, including
  * each adaptive query stage.
  */
object ParamLiterals extends Rule[SparkPlan] {

  private def bindable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && bindable(t) => ParamLiteral(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transform { case c: BinaryComparison => c.mapChildren(param) }
      if (cond eq f.condition) f else f.copy(condition = cond)
  }

  /** The rule as a session extension (`injectColumnar`). */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}

/** A constant whose generated code reads its value from the
  * `references` array, the way Spark already handles string and
  * decimal literals, so the value is not part of the Java source.
  * Interpreted evaluation returns the value; `toString` and `sql`
  * render it exactly as the `Literal` it replaced, so explain output
  * and golden plans keep their text.
  *
  * Not foldable, so no expression can inline it back into the source.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}
