package graft.functions

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  GenericInternalRow, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The selection pass of `Q.exactPercentiles`: one aggregate per key
  * that picks, for every fraction p, the two order statistics its
  * interpolation reads, from the brackets [L, H] of the sketch pass.
  *
  * Per key and p the buffer counts the values below L, equal to L and
  * equal to H (H > L), and keeps the values strictly inside (L, H); rank
  * r is then L, the (r − below − eqL)-th sorted inside value, or H. The
  * buffer stays on the executors — partial buffers merge map-side and
  * through the shuffle like `collect_list`'s — and the update, merge and
  * pick are plain Scala, so the generated code around it does not grow
  * with the number of fractions.
  *
  * Output per key: `v`, the picked values `[lo₀, hi₀, lo₁, hi₁, …]`
  * (ranks ⌊(cnt−1)·p⌋+1 and the next one, cnt the number of non-null
  * values), and `frac`, each p's interpolation weight (cnt−1)·p −
  * ⌊(cnt−1)·p⌋ — all null when cnt is 0. A bracket that does not hold a
  * rank, a key whose count `n` from the sketch pass differs from `cnt`,
  * or more than `cap` inside values throws `miss` — never a value.
  *
  * Children: the value, the key's sketch-pass count `n`, and its bracket
  * arrays `lows`/`highs` (one entry per p, all rows of a key carry the
  * same ones); `ps`, `cap` and `miss` are literals.
  */
case class BracketSelect(value: Expression, n: Expression, lows: Expression,
    highs: Expression, ps: Seq[Double], cap: Long, miss: String,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BracketSelect.State] {

  import BracketSelect.State

  override def children: Seq[Expression] = Seq(value, n, lows, highs)
  override def nullable: Boolean = false
  override def prettyName: String = "bracket_select"
  override def dataType: DataType = StructType(Seq(
    StructField("v", ArrayType(value.dataType)),
    StructField("frac", ArrayType(DoubleType))))

  private lazy val vt = value.dataType
  private lazy val ord = PhysicalDataType.ordering(vt).asInstanceOf[Ordering[Any]]

  override def createAggregationBuffer(): State = new State(ps.size)

  override def update(st: State, row: InternalRow): State = {
    val v = value.eval(row)
    if (v != null) {
      st.cnt += 1
      if (st.lows == null) {
        val k = n.eval(row)
        if (k != null) st.setBrackets(k.asInstanceOf[Long],
          lows.eval(row).asInstanceOf[ArrayData].toObjectArray(vt),
          highs.eval(row).asInstanceOf[ArrayData].toObjectArray(vt))
      }
      if (st.lows != null) {
        var i = 0
        while (i < ps.size) {
          val (l, h) = (st.lows(i), st.highs(i))
          if (l != null && h != null) {
            val c = ord.compare(v, l)
            if (c < 0) st.below(i) += 1
            else if (c == 0) st.eqL(i) += 1
            else {
              val ch = ord.compare(v, h)
              if (ch < 0) st.inside(i) += InternalRow.copyValue(v)
              else if (ch == 0) st.eqH(i) += 1
            }
          }
          i += 1
        }
      }
    }
    st
  }

  override def merge(st: State, o: State): State = {
    st.cnt += o.cnt
    if (st.lows == null && o.lows != null) st.setBrackets(o.n, o.lows, o.highs)
    var i = 0
    while (i < ps.size) {
      st.below(i) += o.below(i); st.eqL(i) += o.eqL(i); st.eqH(i) += o.eqH(i)
      st.inside(i) ++= o.inside(i)
      i += 1
    }
    st
  }

  override def eval(st: State): Any = {
    val picks = new Array[Any](2 * ps.size)
    val fracs = new Array[Any](ps.size)
    if (st.cnt > 0) {
      if (st.lows == null || st.n != st.cnt) throw new IllegalStateException(miss)
      var i = 0
      while (i < ps.size) {
        // Spark's floor(double) is a BIGINT: the weight subtracts it as one
        val pos = (st.cnt - 1) * ps(i)
        val lo = math.floor(pos).toLong + 1
        fracs(i) = pos - (lo - 1).toDouble
        val hi = math.min(lo + 1, st.cnt)
        val (b, e, f) = (st.below(i), st.eqL(i), st.eqH(i))
        val sorted = st.inside(i).sorted(ord)
        val m = sorted.size
        if (lo - b < 1 || hi - b > e + m + f || m > cap)
          throw new IllegalStateException(miss)
        def at(r: Long): Any =
          if (r - b <= e) st.lows(i)
          else if (r - b <= e + m) sorted((r - b - e - 1).toInt)
          else st.highs(i)
        picks(2 * i) = at(lo)
        picks(2 * i + 1) = at(hi)
        i += 1
      }
    }
    InternalRow(new GenericArrayData(picks), new GenericArrayData(fracs))
  }

  // the buffer as one UnsafeRow, written by the interpreted projection
  private lazy val bufferTypes = Seq(LongType, LongType, ArrayType(vt), ArrayType(vt),
    ArrayType(LongType), ArrayType(LongType), ArrayType(LongType),
    ArrayType(ArrayType(vt)))
  private lazy val toBytes = InterpretedUnsafeProjection.createProjection(
    bufferTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })

  override def serialize(st: State): Array[Byte] = {
    def arr(xs: Array[_]) = if (xs == null) null else new GenericArrayData(xs)
    toBytes(new GenericInternalRow(Array[Any](st.cnt, st.n, arr(st.lows), arr(st.highs),
      arr(st.below), arr(st.eqL), arr(st.eqH),
      arr(st.inside.map(b => new GenericArrayData(b.toArray)))))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): State = {
    val r = new UnsafeRow(bufferTypes.size)
    r.pointTo(bytes, bytes.length)
    val st = new State(ps.size)
    st.cnt = r.getLong(0)
    if (!r.isNullAt(2)) st.setBrackets(r.getLong(1), r.getArray(2).toObjectArray(vt),
      r.getArray(3).toObjectArray(vt))
    r.getArray(4).toLongArray.copyToArray(st.below)
    r.getArray(5).toLongArray.copyToArray(st.eqL)
    r.getArray(6).toLongArray.copyToArray(st.eqH)
    val in = r.getArray(7)
    for (i <- 0 until ps.size) st.inside(i) ++= in.getArray(i).toObjectArray(vt)
    st
  }

  override def withNewMutableAggBufferOffset(o: Int): BracketSelect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BracketSelect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BracketSelect =
    copy(value = c(0), n = c(1), lows = c(2), highs = c(3))
}

object BracketSelect {
  /** One key's buffer: its count, brackets and per-p counts/inside values. */
  final class State(k: Int) {
    var cnt = 0L
    var n = 0L
    var lows: Array[AnyRef] = _
    var highs: Array[AnyRef] = _
    val below = new Array[Long](k)
    val eqL = new Array[Long](k)
    val eqH = new Array[Long](k)
    val inside: Array[ArrayBuffer[Any]] = Array.fill(k)(ArrayBuffer.empty[Any])
    def setBrackets(n0: Long, l: Array[AnyRef], h: Array[AnyRef]): Unit = {
      n = n0; lows = l; highs = h
    }
  }

  /** The SQL builder: `bracket_select(v, n, lows, highs, ps, cap, miss)`,
    * the last three literals. */
  def build(c: Seq[Expression]): BracketSelect = BracketSelect(c(0), c(1), c(2), c(3),
    c(4).eval().asInstanceOf[ArrayData].toDoubleArray().toSeq,
    c(5).eval().asInstanceOf[Number].longValue(), c(6).eval().toString)
}
