package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Random-hyperplane LSH band values for a float vector, one pass —
  * dimension-generic: the plane family is derived from the vector's own
  * length, so a dim-8 table and a dim-64 table each get consistent,
  * engine-reproducible signatures with no code change.
  *
  * Semantically identical to the relational long form (posexplode →
  * broadcast-join a 16×64 plane table → DECIMAL(38,12) projection sums →
  * sign bits → banded 4-bit values) that the DuckDB oracle runs — but
  * computed as a single map-side expression: no generate, no plane join,
  * no two-level decimal aggregation, no exchanges. At 100 TB the
  * signature stage becomes pure scan parallelism; the only shuffle left
  * in an LSH pipeline is the candidate bucket join.
  *
  * Determinism contract (same as Q.decSum / VecMean): every projection
  * term `v * w` is rounded to DECIMAL(38,12) via the canonical
  * shortest-string representation (`BigDecimal.valueOf`), accumulated
  * exactly as a scaled long — so the sign of each projection, and hence
  * every band value, is bit-identical to DuckDB's decimal sums. Plane
  * weights use exact integer arithmetic (multiplicative hash mod a
  * prime), never libm.
  *
  * Layout: 16 planes, 4 bands × 4 bits; returns array<bigint> of the 4
  * band values (index = band id).
  */
case class LshBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lsh_bands expects array<float>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any =
    LshBands.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshBands$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBands {
  private val Planes = 16
  private val BandBits = 4

  /** Plane weights per dimension, derived from the DATA's vector length
    * (not a hardcoded dim): w(p, i | dim) = hash(p·dim + i) scaled to
    * [−0.5, 0.5) via exact integer arithmetic (multiplicative hash mod a
    * prime — never libm). Cached per dim; a table of dim-d vectors costs
    * one 16×d array once per JVM. Mixed-length vectors in one column
    * would each draw their own plane family — the oracle (and any sane
    * embedding table) assumes a uniform dim.
    */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]

  // Bounded-index PRNG, NOT an id coin: (p*d+i) ≤ Planes·dim (~1024 for
  // 16 planes × 64 dims), so the Long multiply tops out near 2.8e12 —
  // nowhere near Int64 overflow. This is the sanctioned raw-multiplier
  // exception noted in Q.coin; id-domain coins must go through Q.coin.
  private def weightsFor(dim: Int): Array[Double] =
    weightCache.computeIfAbsent(dim, d => {
      val w = new Array[Double](Planes * d)
      var p = 0
      while (p < Planes) {
        var i = 1
        while (i <= d) {
          w(p * d + i - 1) =
            (((p.toLong * d + i) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
          i += 1
        }
        p += 1
      }
      w
    })

  /** Exact DECIMAL(38,12) value of x as a scaled long — what both
    * engines hold after `CAST(x AS DECIMAL(38,12))` (decimal-string
    * HALF_UP rounding, like Spark's Decimal(double)).
    */
  private def exactScaled12(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .movePointRight(12).longValueExact()

  /** Fast path for exactScaled12: binary `x*1e12` differs from the true
    * decimal-string value by well under 1e-3 scaled units (≤ a few ulps
    * of ~1e12, plus the ≤ half-ulp binary-vs-decimal gap of x itself),
    * so whenever the fraction is not within 0.01 of a rounding tie the
    * two roundings provably agree; only near-ties (rare) pay BigDecimal.
    */
  private def scaled12(x: Double): Long = {
    val y = x * 1e12
    val f = Math.floor(y)
    val frac = y - f
    if (Math.abs(frac - 0.5) < 0.01) exactScaled12(x)
    else if (frac > 0.5) f.toLong + 1L
    else f.toLong
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val weights = weightsFor(n)
    val bands = new Array[Long](Planes / BandBits)
    var p = 0
    while (p < Planes) {
      var acc = 0L
      val base = p * n
      var i = 0
      while (i < n) {
        acc += scaled12(arr.getFloat(i).toDouble * weights(base + i))
        i += 1
      }
      if (acc >= 0L) bands(p / BandBits) |= (1L << (p % BandBits))
      p += 1
    }
    new GenericArrayData(bands)
  }
}
