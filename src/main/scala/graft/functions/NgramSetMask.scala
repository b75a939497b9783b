package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper callable from generated Java. */
object NgramMaskUtil {
  /** Word n-gram set of `text` as an nWords×64-bit mask: each distinct
    * n-gram's bit is its position in the SORTED vocabulary array
    * (binary search). Unknown n-grams throw — for the dedup pipeline
    * the vocabulary is derived from the same corpus, so a miss means
    * the mask would silently lie about the set.
    */
  def mask(text: UTF8String, vocab: ArrayData, n: Int, nWords: Int): ArrayData = {
    require(vocab.numElements() <= nWords * 64,
      s"ngram_set_mask: vocabulary ${vocab.numElements()} exceeds ${nWords * 64} bits")
    val words = new Array[Long](nWords)
    // limit -1 keeps trailing empty tokens (Spark split() / DuckDB
    // string_split semantics — matches the vocab built by explode_ngrams)
    val toks = text.toString.split(" ", -1)
    var i = 0
    while (i <= toks.length - n) {
      val g = UTF8String.fromString(toks.slice(i, i + n).mkString(" "))
      var lo = 0
      var hi = vocab.numElements() - 1
      var pos = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = vocab.getUTF8String(mid).compareTo(g)
        if (c == 0) { pos = mid; lo = hi + 1 }
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      if (pos < 0)
        throw new IllegalArgumentException(
          s"ngram_set_mask: n-gram '$g' not in vocabulary")
      words(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
    new GenericArrayData(words)
  }
}

/** Word-n-gram set membership mask in one generated-code pass:
  * `ngram_set_mask(text, sorted_vocab, n, nWords)` returns array<long>
  * with one bit per vocabulary n-gram present in `text`. Replaces the
  * explode → per-doc distinct → vocabulary join → N conditional sums
  * pipeline (four stages, two shuffles) with a map-side scan against
  * the broadcast vocabulary — the mask-building half of the bigram
  * Jaccard dedup becomes embarrassingly parallel. Any bijective
  * bit assignment preserves popcount set algebra, so the sorted-order
  * bits here interoperate with bitmask_jaccard exactly like the
  * join-derived bits did.
  */
case class NgramSetMask(left: Expression, right: Expression, n: Int, nWords: Int)
    extends BinaryExpression {

  require(n >= 1 && nWords >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_set_mask"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"ngram_set_mask expects (string, array<string>), got ($l, $r)")
  }

  override protected def nullSafeEval(t: Any, v: Any): Any =
    NgramMaskUtil.mask(t.asInstanceOf[UTF8String], v.asInstanceOf[ArrayData], n, nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, v) =>
      s"${ev.value} = graft.functions.NgramMaskUtil.mask($t, $v, $n, $nWords);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramSetMask =
    copy(left = l, right = r)
}
