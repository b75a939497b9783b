package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `axpy(x, a, b) = a·x + b` over a double column — the scalar carrier
  * for the engine's COLUMNAR extension point.
  *
  * This expression is a complete row-based implementation (interpreted
  * eval + whole-stage codegen), so the function is correct in ANY plan
  * position. When the projection sits directly on a columnar source
  * scan, `graft.plans.ColumnarAxpyRule` (injected via
  * `SparkSessionExtensions.injectColumnar`) swaps the ProjectExec for a
  * `ColumnarBatch`-level map that runs the same arithmetic directly on
  * the scan's column vectors — no row materialization between the
  * parquet reader and the math. NativeFuncSpec proves the two paths
  * bit-identical: both evaluate exactly `a * x + b` in IEEE doubles.
  */
case class Axpy(x: Expression, a: Expression, b: Expression)
    extends TernaryExpression {

  override def first: Expression = x
  override def second: Expression = a
  override def third: Expression = b
  override def dataType: DataType = DoubleType
  override def prettyName: String = "axpy"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (Seq(x, a, b).forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"axpy expects (double, double, double), got " +
        s"${Seq(x, a, b).map(_.dataType).mkString(", ")}")
  }

  override protected def nullSafeEval(xv: Any, av: Any, bv: Any): Any =
    av.asInstanceOf[Double] * xv.asInstanceOf[Double] + bv.asInstanceOf[Double]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xv, av, bv) => s"$av * $xv + $bv")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(x = newFirst, a = newSecond, b = newThird)
}

object Axpy {
  /** SQL literals arrive as DECIMAL (2.5 → DECIMAL(2,1)); the builder
    * wraps every input in a cast to double (AbstractDataType — the
    * ImplicitCastInputTypes route — is private[sql]). SimplifyCasts
    * folds the no-op cast on already-double columns away, so the
    * columnar rewrite still sees a bare AttributeReference. */
  def build(children: Seq[Expression]): Axpy =
    Axpy(Cast(children(0), DoubleType), Cast(children(1), DoubleType),
      Cast(children(2), DoubleType))
}
