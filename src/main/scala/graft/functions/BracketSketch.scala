package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile,
  TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile.PercentileDigest
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The sketch pass of `Q.exactPercentiles`: `percentile_approx(value,
  * fractions, accuracy)` and the number of values the sketch holds, from
  * one buffer. Output per key: `n`, the non-null value count, and `q`,
  * the sketch's values at `fractions` (null when `n` is 0).
  *
  * `count(v)` beside `percentile_approx` made the aggregate mix
  * declarative and imperative buffers, which generates a projection per
  * phase for the count alone; the digest already counts its inserts.
  */
case class BracketSketch(value: Expression, fractions: Seq[Double], accuracy: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PercentileDigest] {

  private lazy val sketch = new ApproximatePercentile(value,
    Literal.create(fractions.toArray, ArrayType(DoubleType, containsNull = false)),
    Literal(accuracy))

  override def children: Seq[Expression] = Seq(value)
  override def nullable: Boolean = false
  override def prettyName: String = "bracket_sketch"
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("q", ArrayType(value.dataType, containsNull = false))))

  override def createAggregationBuffer(): PercentileDigest = sketch.createAggregationBuffer()
  override def update(b: PercentileDigest, row: InternalRow): PercentileDigest =
    sketch.update(b, row)
  override def merge(b: PercentileDigest, o: PercentileDigest): PercentileDigest =
    sketch.merge(b, o)
  override def eval(b: PercentileDigest): Any =
    InternalRow(b.quantileSummaries.count, sketch.eval(b))
  override def serialize(b: PercentileDigest): Array[Byte] = sketch.serialize(b)
  override def deserialize(bytes: Array[Byte]): PercentileDigest = sketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BracketSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BracketSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BracketSketch =
    copy(value = c.head)
}

object BracketSketch {
  /** The SQL builder: `bracket_sketch(v, fractions, accuracy)`, the last
    * two literals. */
  def build(c: Seq[Expression]): BracketSketch = BracketSketch(c.head,
    c(1).eval().asInstanceOf[ArrayData].toDoubleArray().toSeq,
    c(2).eval().asInstanceOf[Number].intValue())
}
