package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Positional twin of [[ExplodeNgrams]]: one output row per word n-gram
  * WITH its 0-based start-token offset — the shape substring-level span
  * analysis needs (h_substring_dup_spans merges duplicated windows into
  * maximal spans by start position). One tight per-row loop replaces
  * `transform(sequence(...), i -> array_join(slice(...)))`, whose
  * higher-order lambdas evaluate interpreted per ELEMENT; the relational
  * long form remains the DuckDB oracle, proving equality every round.
  */
case class ExplodeNgramsPos(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, s"ngram size must be >= 1, got $n")

  override def elementSchema: StructType = StructType(
    StructField("st", IntegerType, nullable = false) ::
      StructField("ngram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      // limit -1 keeps trailing empty tokens — the semantics of Spark's
      // split() and DuckDB's string_split, which every paired oracle uses
      val toks = v.toString.split(" ", -1)
      if (toks.length < n) Nil
      else (0 to toks.length - n).map { i =>
        InternalRow(i, UTF8String.fromString(toks.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override def prettyName: String = "explode_ngrams_pos"
  override protected def withNewChildInternal(c: Expression): ExplodeNgramsPos =
    copy(child = c)
}
