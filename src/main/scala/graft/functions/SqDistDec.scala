package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Exact-decimal squared euclidean distance, one pass:
  * `CAST(Σ_i CAST((v_i - c_i)² AS DECIMAL(38,12)) AS DOUBLE)`.
  *
  * Replaces the relational long form (posexplode → per-(vector, centroid)
  * DECIMAL(38,12) aggregation — |V|·dim·|C| rows through two exchanges)
  * with a map-side expression over a broadcast centroid array; the DuckDB
  * oracle still runs the long form, proving equality every round. The
  * decimal rounding per term keeps the distance — and therefore every
  * argmin cell assignment — bit-identical across engines regardless of
  * accumulation order (same contract as Q.decSum / LshBands).
  *
  * Left: array<float> (the stored vector); right: array<double> (the
  * computed centroid).
  */
case class SqDistDec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist_dec"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_dist_dec expects (array<float>, array<double>), got $l / $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SqDistDec.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SqDistDec$$.MODULE$$.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SqDistDec {

  private def exactScaled12(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .movePointRight(12).longValueExact()

  /** Same fast-path/near-tie-fallback rounding as [[LshBands]]. */
  private def scaled12(x: Double): Long = {
    val y = x * 1e12
    val f = Math.floor(y)
    val frac = y - f
    if (Math.abs(frac - 0.5) < 0.01) exactScaled12(x)
    else if (frac > 0.5) f.toLong + 1L
    else f.toLong
  }

  def compute(v: ArrayData, c: ArrayData): Double = {
    val n = math.min(v.numElements(), c.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val diff = v.getFloat(i).toDouble - c.getDouble(i)
      acc += scaled12(diff * diff)
      i += 1
    }
    acc.toDouble / 1e12
  }
}
