package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity over two string columns.
  *
  * Spark ships levenshtein but no Jaro-Winkler; a Scala UDF would box
  * both strings per row and fence off whole-stage codegen around the
  * blocked pair join that is this function's hot path. This expression
  * stays inside codegen — the generated code is one static call into
  * [[JaroWinkler.sim]], the same primitive char-array loop the
  * interpreted path runs.
  *
  * Semantics are the textbook Jaro-Winkler (match window
  * `max(|a|,|b|)/2 - 1`, half-transpositions, prefix boost `l·0.1·(1-j)`
  * with `l ≤ 4` applied only when `j > 0.7`) — verified bit-identical to
  * DuckDB 1.0's `jaro_winkler_similarity` on boundary cases (equal
  * strings, empty strings, window-0 swaps, classic record-linkage
  * pairs), so checked queries can hash-match at full double precision.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects (string, string), got ${left.dataType} / ${right.dataType}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroWinkler.sim($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static entry point shared by the interpreted and generated paths. */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString.toCharArray
    val s2 = b.toString.toCharArray
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(s1, s2)) return 1.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(i + window + 1, l2)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0; var k = 0; i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val m = matches.toDouble
    val j = (m / l1 + m / l2 + (m - half) / m) / 3.0
    if (j > 0.7) {
      var l = 0
      val cap = math.min(4, math.min(l1, l2))
      while (l < cap && s1(l) == s2(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }
}
