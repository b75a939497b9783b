package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom table-generating function (the §2-U Generator row): explodes a
  * whitespace-tokenized text column into its word n-grams — one output
  * row per n-gram, usable anywhere `explode` is (`selectExpr(
  * "explode_ngrams(text, 2)")`). Generators are the UDTF extension
  * point: Catalyst plans them through GenerateExec, so the fan-out runs
  * distributed per input row with no driver involvement.
  */
case class ExplodeNgrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, s"ngram size must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      // limit -1 keeps trailing empty tokens — the semantics of Spark's
      // split() and DuckDB's string_split, which every paired oracle uses
      val toks = v.toString.split(" ", -1)
      if (toks.length < n) Nil
      else (0 to toks.length - n).map { i =>
        InternalRow(UTF8String.fromString(toks.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override def prettyName: String = "explode_ngrams"
  override protected def withNewChildInternal(c: Expression): ExplodeNgrams = copy(child = c)
}
