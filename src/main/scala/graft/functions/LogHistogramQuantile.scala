package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Bounded-memory quantile sketch tuned for throughput: a fixed 65,536-
  * bucket histogram over log-spaced bins (positive values; ~0.06%
  * relative resolution across 1e-6..1e12). Per-row cost is one `ln` and
  * one array increment — an order of magnitude cheaper than
  * percentile_approx's QuantileSummaries insert/compress cycle — and
  * per-group state is O(1) regardless of group size, so a hot group can
  * never OOM the buffer (the property exact percentile lacks at 100 TB).
  *
  * Merge is an elementwise add (partial aggregation applies); partials
  * serialize sparsely (only non-empty buckets cross the shuffle). Values
  * ≤ 0 or NaN count into an underflow slot and read back as the bucket
  * floor — callers with signed data should shift first.
  */
case class LogHistogramQuantile(
    child: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  import LogHistogramQuantile._

  require(percentages.nonEmpty && percentages.forall(p => p >= 0 && p <= 1))

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // slot 0 = underflow (x <= 0 / NaN), slots 1..BUCKETS = histogram
  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](BUCKETS + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buf(slot(v.asInstanceOf[Double])) += 1L
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i <= BUCKETS) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i <= BUCKETS) { n += buf(i); i += 1 }
    if (n == 0L) return null
    val out = new Array[Double](percentages.length)
    var p = 0
    while (p < percentages.length) {
      val rank = percentages(p) * (n - 1)
      var cum = 0L
      var idx = 0
      var done = false
      while (!done && idx <= BUCKETS) {
        val c = buf(idx)
        if (c > 0 && cum + c > rank) {
          val frac = (rank - cum + 0.5) / c
          out(p) =
            if (idx == 0) math.exp(LN_LO) // underflow slot → bucket floor
            else math.exp(LN_LO + (idx - 1 + frac) * W)
          done = true
        }
        cum += c
        idx += 1
      }
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Sparse wire form: count of non-empty buckets, then (idx, count)
    * pairs — a group rarely populates more than a few thousand of the
    * 65k buckets, so partials stay small on the shuffle. */
  override def serialize(buf: Array[Long]): Array[Byte] = {
    var nz = 0
    var i = 0
    while (i <= BUCKETS) { if (buf(i) != 0L) nz += 1; i += 1 }
    val bb = ByteBuffer.allocate(4 + nz * 12)
    bb.putInt(nz)
    i = 0
    while (i <= BUCKETS) {
      if (buf(i) != 0L) { bb.putInt(i); bb.putLong(buf(i)) }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](BUCKETS + 1)
    var nz = bb.getInt
    while (nz > 0) { buf(bb.getInt) = bb.getLong; nz -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): LogHistogramQuantile =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LogHistogramQuantile =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object LogHistogramQuantile {
  val BUCKETS = 65536
  val LN_LO: Double = math.log(1e-6)
  private val LN_HI: Double = math.log(1e12)
  val W: Double = (LN_HI - LN_LO) / BUCKETS
  private val INV_W: Double = 1.0 / W

  def slot(x: Double): Int = {
    if (!(x > 0.0)) 0 // NaN and non-positive → underflow slot
    else {
      val b = ((math.log(x) - LN_LO) * INV_W).toInt
      if (b < 0) 0 else if (b >= BUCKETS) BUCKETS else b + 1
    }
  }

  def logHistQuantile(c: Column, percentages: Seq[Double]): Column =
    GraftSqlBridge.column(
      LogHistogramQuantile(GraftSqlBridge.expression(c), percentages)
        .toAggregateExpression())
}
