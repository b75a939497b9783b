package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash helpers callable from generated Java (object methods get
  * static forwarders). FNV-1a base hash + murmur3 fmix64 finalizer; the
  * per-permutation hashes derive from one base hash via seed mixing, so
  * a token costs ONE byte scan regardless of signature width.
  */
object MinHashUtil {
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    mix(h)
  }

  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }
}

/** MinHash signature of a token array in one codegen'd pass:
  * sig[i] = min over tokens of mix(hash(token) ^ seed_i). The HOF
  * formulation (numHashes × array_min(transform(...))) evaluates its
  * lambdas interpreted and rescans the token array per permutation;
  * this expression scans each token's bytes once and mixes per seed in
  * a tight generated loop.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= 1024)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig expects array<string>, got $t")
  }

  private final val golden = 0x9E3779B97F4A7C15L

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var t = 0
    while (t < arr.numElements()) {
      val base = MinHashUtil.hash64(arr.getUTF8String(t))
      var i = 0
      while (i < numHashes) {
        val h = MinHashUtil.mix(base ^ (golden * (i + 1)))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sig = ctx.freshName("sig"); val t = ctx.freshName("t")
      val i = ctx.freshName("i"); val base = ctx.freshName("base")
      val h = ctx.freshName("h")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $t = 0; $t < $a.numElements(); $t++) {
         |  long $base = graft.functions.MinHashUtil.hash64($a.getUTF8String($t));
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $h = graft.functions.MinHashUtil.mix($base ^ (${golden}L * ($i + 1)));
         |    if ($h < $sig[$i]) $sig[$i] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}
