package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Intersection POPCOUNT of two bitmask-encoded sets (array<long>):
  * popcount(a AND b), as a BIGINT — the integer primitive behind
  * containment (|A∩B| / |A|) and Jaccard (|A∩B| / (|A|+|B|−|A∩B|)),
  * left to plain SQL arithmetic so every derived similarity is an
  * integer ratio both engines compute bit-identically (no doubles
  * inside the expression at all). Sibling of [[BitmaskJaccard]]; same
  * codegen loop, minus the union accumulator.
  */
case class BitmaskInter(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bitmask_inter"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmask_inter expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    val y = b.asInstanceOf[ArrayData].toLongArray()
    val n = math.min(x.length, y.length)
    var inter = 0L
    var i = 0
    while (i < n) { inter += java.lang.Long.bitCount(x(i) & y(i)); i += 1 }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val inter = ctx.freshName("inter")
      s"""
         |long[] $x = $a.toLongArray();
         |long[] $y = $b.toLongArray();
         |int $n = Math.min($x.length, $y.length);
         |long $inter = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $inter += java.lang.Long.bitCount($x[$i] & $y[$i]);
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
