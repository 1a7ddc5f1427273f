package graft.catalyst

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact `percentile_disc` of one numeric column at every percentage in
  * `percentages`, from ONE buffer: the kernel
  * [[graft.plans.PercentileDiscRewrite]] puts in place of Spark's
  * `PercentileDisc`. The result is an `array<double>`, one element per
  * percentage, or null for a group with no non-null value.
  *
  * Why: Spark's buffer is a boxed `OpenHashMap[AnyRef, Long]` per
  * percentage, written and read entry by entry through an UnsafeRow at
  * the partial/final boundary, and its result sorts the boxed entries
  * with a Scala `sorted`. An AGP profile pays that five times over the
  * same column. Here the buffer keeps the sorted DISTINCT values and
  * their counts in two primitive arrays, and stages raw values in a
  * third that a primitive sort plus run-length merge folds in. State
  * stays O(distinct values) like Spark's (CGM readings are integer
  * mg/dL: a few hundred distinct values per group however many rows),
  * plus a staging array of under twice
  * max([[PercentileDiscAgg.StageMax]], distinct) values. The wire form
  * is the packed (value, count) pairs; merge is a linear merge of two
  * sorted runs.
  *
  * Values are kept as longs: integral children as themselves, float and
  * double children as an order-preserving encoding of their bits, so
  * one comparison serves every child type. That order is
  * `java.lang.Double.compare`'s: all NaNs are one value above +Inf, and
  * -0.0 sorts below 0.0. Spark's comparator ties -0.0 with 0.0 and
  * breaks the tie by hash-table order, so when both are in a group and
  * the picked rank falls on them, Spark may return either; this kernel
  * returns the one its order puts first at that rank.
  */
case class PercentileDiscAgg(
    child: Expression,
    percentages: Seq[Double],
    reverse: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PercentileDiscAgg.Buffer]
    with UnaryLike[Expression] {
  import PercentileDiscAgg._

  private lazy val fractional = child.dataType match {
    case FloatType | DoubleType => true
    case _ => false
  }

  @transient private lazy val key: Any => Long = child.dataType match {
    case ByteType => v => v.asInstanceOf[Byte].toLong
    case ShortType => v => v.asInstanceOf[Short].toLong
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case LongType => v => v.asInstanceOf[Long]
    case FloatType => v => sortableBits(v.asInstanceOf[Float].toDouble)
    case DoubleType => v => sortableBits(v.asInstanceOf[Double])
  }

  private def toDouble(k: Long): Double =
    if (fractional) java.lang.Double.longBitsToDouble(if (k >= 0) k else k ^ Long.MaxValue)
    else k.toDouble

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_percentile_disc"

  override def createAggregationBuffer(): Buffer = new Buffer

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(key(v))
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    buf.compact()
    other.compact()
    buf.mergeRuns(other.values, other.counts, other.values.length)
    buf
  }

  /** Spark's `PercentileDisc.getPercentile` (legacyCalculation = false),
    * copied: over the cumulative counts in output order, position =
    * total · p, and the answer is the first value whose cumulative count
    * reaches ceil(position), i.e. the element of 1-based rank
    * ceil(n · p) (rank 1 when p = 0). */
  override def eval(buf: Buffer): Any = {
    buf.compact()
    val n = buf.values.length
    if (n == 0) return null
    val cum = new Array[Long](n)
    var total = 0L
    var i = 0
    while (i < n) {
      total += buf.counts(if (reverse) n - 1 - i else i)
      cum(i) = total
      i += 1
    }
    val out = new Array[Double](percentages.length)
    i = 0
    while (i < out.length) {
      val position = total.toDouble * percentages(i)
      val higher = math.ceil(position).toLong
      val ix = Arrays.binarySearch(cum, 0, n, higher) match {
        case j if j < 0 => -(j + 1)
        case j => j
      }
      out(i) = toDouble(buf.values(if (reverse) n - 1 - ix else ix))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    buf.compact()
    val n = buf.values.length
    val bb = ByteBuffer.allocate(4 + 16 * n).putInt(n)
    var i = 0
    while (i < n) {
      bb.putLong(buf.values(i)).putLong(buf.counts(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new Buffer
    buf.values = new Array[Long](n)
    buf.counts = new Array[Long](n)
    var i = 0
    while (i < n) {
      buf.values(i) = bb.getLong()
      buf.counts(i) = bb.getLong()
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PercentileDiscAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PercentileDiscAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): PercentileDiscAgg =
    copy(child = c)
}

object PercentileDiscAgg {

  /** Staged values are folded into the runs once at least
    * max(StageMax, distinct) of them wait (the staging array doubles up to
    * there), so each fold sorts at least as many values as it merges. */
  val StageMax = 4096

  /** An order-preserving long for a double: the longs compare as
    * `Double.compare` orders the doubles, every NaN one value. */
  def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b >= 0) b else b ^ Long.MaxValue
  }

  /** Sorted distinct `values` with their `counts`, plus staged raw values
    * not yet folded in. */
  final class Buffer {
    var values: Array[Long] = Array.emptyLongArray
    var counts: Array[Long] = Array.emptyLongArray
    private var staged: Array[Long] = Array.emptyLongArray
    private var nStaged = 0

    def add(k: Long): Unit = {
      if (nStaged == staged.length) {
        if (nStaged >= math.max(StageMax, values.length)) compact()
        else staged = Arrays.copyOf(staged, math.max(16, nStaged * 2))
      }
      staged(nStaged) = k
      nStaged += 1
    }

    /** Folds the staged values into the runs: sort, run-length encode in
      * place, merge. */
    def compact(): Unit = if (nStaged > 0) {
      Arrays.sort(staged, 0, nStaged)
      val c = new Array[Long](nStaged)
      var m = 0
      var i = 0
      while (i < nStaged) {
        val v = staged(i)
        var j = i + 1
        while (j < nStaged && staged(j) == v) j += 1
        staged(m) = v
        c(m) = j - i
        m += 1
        i = j
      }
      nStaged = 0
      mergeRuns(staged, c, m)
    }

    /** Merges the sorted distinct runs `v(0 until n)` with counts `c`
      * into this buffer's runs. */
    def mergeRuns(v: Array[Long], c: Array[Long], n: Int): Unit = {
      val a = values
      val ac = counts
      val ov = new Array[Long](a.length + n)
      val oc = new Array[Long](a.length + n)
      var i = 0
      var j = 0
      var o = 0
      while (i < a.length || j < n) {
        if (j == n || (i < a.length && a(i) < v(j))) {
          ov(o) = a(i); oc(o) = ac(i); i += 1
        } else if (i == a.length || v(j) < a(i)) {
          ov(o) = v(j); oc(o) = c(j); j += 1
        } else {
          ov(o) = a(i); oc(o) = ac(i) + c(j); i += 1; j += 1
        }
        o += 1
      }
      values = if (o == ov.length) ov else Arrays.copyOf(ov, o)
      counts = if (o == oc.length) oc else Arrays.copyOf(oc, o)
    }
  }
}
