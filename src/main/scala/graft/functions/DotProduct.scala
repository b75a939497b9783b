package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two ArrayType(Double) columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * their lambdas interpreted — per element, with boxing — and keep the
  * surrounding operator out of whole-stage codegen. For the O(pairs)
  * similarity operators that cost dominates, so this expression brings
  * the inner loop back into generated code: a primitive double[] loop,
  * identical accumulation order to the HOF fold (sequential, index
  * ascending), so results are bit-identical to the HOF formulation and
  * to DuckDB's list arithmetic.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  // array<float> is accepted alongside array<double>: float→double
  // widening is exact, so the accumulation is bit-identical to casting
  // the array first — but skips the interpreted `transform(_.cast)`
  // lambda (and halves the bytes when the vector is broadcast).
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double|float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def toDoubles(a: Any, float: Boolean): Array[Double] = {
    val ad = a.asInstanceOf[ArrayData]
    if (float) {
      val f = ad.toFloatArray(); val out = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
      out
    } else ad.toDoubleArray()
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = toDoubles(a, isFloat(left))
    val y = toDoubles(b, isFloat(right))
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      def decl(v: String, src: String, float: Boolean): String =
        if (float) s"float[] $v = $src.toFloatArray();"
        else s"double[] $v = $src.toDoubleArray();"
      s"""
         |${decl(x, a, isFloat(left))}
         |${decl(y, b, isFloat(right))}
         |int $n = Math.min($x.length, $y.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += ((double) $x[$i]) * ((double) $y[$i]); }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
