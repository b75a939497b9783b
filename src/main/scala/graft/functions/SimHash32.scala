package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 32-bit SimHash of a token array, one pass.
  *
  * Replicates the relational form the DuckDB oracle runs — per token a
  * 32-bit polynomial rolling hash `h = (h*131 + codepoint) mod 2^32`,
  * then per bit position the ±1 vote sum, bit set when the sum is
  * positive — in a single generated-code pass per row. The relational
  * form explodes |tokens|×32 rows through two keyed aggregations; this
  * is pure integer arithmetic per row, so the whole signature stage
  * stays inside the scan's codegen. Exact: all arithmetic is integral,
  * no float/decimal discipline needed.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash32 expects array<string>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any =
    SimHash32.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash32$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](32)
    var t = 0
    while (t < n) {
      // Skip null elements (containsNull arrays are accepted by the type
      // check); matches the relational oracle form, where a NULL token
      // contributes no vote.
      if (arr.isNullAt(t)) { t += 1 }
      else {
      val tok = arr.getUTF8String(t).toString
      var h = 0L
      var i = 0
      while (i < tok.length) {
        // codePointAt matches SQL ascii(substring(token, i, 1)) beyond
        // ASCII too; surrogate pairs advance two chars.
        val cp = tok.codePointAt(i)
        h = (h * 131L + cp) & 0xFFFFFFFFL
        i += Character.charCount(cp)
      }
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
      }
    }
    var sh = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) sh |= (1L << j)
      j += 1
    }
    sh
  }
}
