package graft.functions

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Spark's exact `percentile(x, p)` (frequency 1, ascending) on a buffer of
  * primitive arrays instead of a boxed `OpenHashMap[AnyRef, Long]`.
  *
  * Each value is encoded as a sortable long: the value itself for integral
  * input, the unscaled long for a decimal of precision <= 18, and
  * order-preserving IEEE bits for float and double. The encoding is
  * injective and keeps Spark's key identity and order, so equal keys form
  * one run exactly where Spark's map holds one entry. (A cast to double
  * would merge distinct longs above 2^53 and distinct 16+ digit decimals,
  * and with them Spark's equal-key shortcut.)
  *
  * The buffer is sorted `(key, count)` runs plus an unsorted tail that
  * `update` appends to. Compaction sorts the tail, run-length encodes it
  * and merges it linearly into the runs; it runs when the tail outgrows
  * the runs, and before `serialize`, `merge` and `eval`. A low-cardinality
  * column therefore ships one run per distinct value, as Spark's map does.
  *
  * `eval` is `PercentileBase.getPercentile`: position `(n-1)·p`, floor and
  * ceil, the equal-key shortcut, and `(hi−pos)·lo + (pos−lo)·hi`. The one
  * result that can differ is the sign of a zero: Spark orders -0.0 and
  * 0.0 as ties in hash order, the kernel puts -0.0 first.
  *
  * Planned only through [[UseExactPercentile]], never registered as SQL.
  */
final case class ExactPercentile(
    child: Expression,
    percentageExpression: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactPercentile.Runs] with BinaryLike[Expression] {
  import ExactPercentile._

  override def left: Expression = child
  override def right: Expression = percentageExpression
  override def prettyName: String = "exact_percentile"
  override def nullable: Boolean = true

  private lazy val returnArray = percentageExpression.dataType.isInstanceOf[ArrayType]

  override lazy val dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType

  @transient private lazy val percentages: Array[Double] = percentageExpression.eval() match {
    case num: Double => Array(num)
    case arrayData: ArrayData => arrayData.toDoubleArray()
  }

  @transient private lazy val codec: Codec = codecFor(child.dataType).get

  override def createAggregationBuffer(): Runs = new Runs

  override def update(buffer: Runs, input: InternalRow): Runs = {
    val v = child.eval(input)
    if (v != null) buffer.add(codec.encode(v))
    buffer
  }

  override def merge(buffer: Runs, input: Runs): Runs = {
    input.compact()
    buffer.compact()
    buffer.mergeRuns(input.keys, input.counts, input.n)
    buffer
  }

  override def eval(buffer: Runs): Any = {
    buffer.compact()
    if (buffer.n == 0 || percentages.isEmpty) return null
    val cum = new Array[Long](buffer.n)
    var total = 0L
    var i = 0
    while (i < buffer.n) { total += buffer.counts(i); cum(i) = total; i += 1 }
    val maxPosition = total - 1
    val out = percentages.map(p => percentile(buffer.keys, cum, maxPosition * p))
    if (returnArray) new GenericArrayData(out) else out(0)
  }

  private def percentile(keys: Array[Long], cum: Array[Long], position: Double): Double = {
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val lowerIndex = searchCount(cum, lower + 1)
    val higherIndex = searchCount(cum, higher + 1)
    val lowerValue = codec.decode(keys(lowerIndex))
    if (higher == lower) return lowerValue
    val higherValue = codec.decode(keys(higherIndex))
    // Spark compares the two keys with `==`: one entry, or numerically
    // equal floating values (-0.0 and 0.0 are two entries)
    if (lowerIndex == higherIndex || (codec eq Floating) && lowerValue == higherValue) {
      return lowerValue
    }
    (higher - position) * lowerValue + (position - lower) * higherValue
  }

  /** Run count, the keys as fixed 8-byte longs, then the counts as
    * unsigned LEB128 varints (a count is usually one or two bytes).
    */
  override def serialize(buffer: Runs): Array[Byte] = {
    buffer.compact()
    val n = buffer.n
    val bb = ByteBuffer.allocate(4 + 18 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(buffer.keys(i)); i += 1 }
    i = 0
    while (i < n) { putVarLong(bb, buffer.counts(i)); i += 1 }
    Arrays.copyOf(bb.array(), bb.position())
  }

  override def deserialize(bytes: Array[Byte]): Runs = {
    val bb = ByteBuffer.wrap(bytes)
    val runs = new Runs
    val n = bb.getInt()
    runs.n = n
    runs.keys = new Array[Long](n)
    runs.counts = new Array[Long](n)
    var i = 0
    while (i < n) { runs.keys(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < n) { runs.counts(i) = getVarLong(bb); i += 1 }
    runs
  }

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ExactPercentile =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactPercentile =
    copy(child = newLeft, percentageExpression = newRight)
}

object ExactPercentile {

  /** Sorted `(key, count)` runs (`keys`/`counts` up to `n`) plus an
    * unsorted tail of single keys (`tail` up to `t`).
    */
  final class Runs {
    var keys: Array[Long] = Empty
    var counts: Array[Long] = Empty
    var n = 0
    private var tail: Array[Long] = Empty
    private var t = 0

    def add(key: Long): Unit = {
      if (t == tail.length) {
        if (t >= MinCompact && t >= n) compact()
        if (t == tail.length) tail = Arrays.copyOf(tail, math.max(16, 2 * t))
      }
      tail(t) = key
      t += 1
    }

    def compact(): Unit = if (t > 0) {
      Arrays.sort(tail, 0, t)
      mergeRuns(tail, null, t)
      t = 0
    }

    /** Merge sorted keys `bk` (with run counts `bc`, or count 1 each when
      * `bc` is null) into the runs, coalescing equal keys.
      */
    def mergeRuns(bk: Array[Long], bc: Array[Long], bn: Int): Unit = if (bn > 0) {
      val ok = new Array[Long](n + bn)
      val oc = new Array[Long](n + bn)
      var i = 0
      var j = 0
      var m = 0
      while (i < n || j < bn) {
        var k = 0L
        var c = 0L
        if (j >= bn || (i < n && keys(i) <= bk(j))) {
          k = keys(i); c = counts(i); i += 1
        } else {
          k = bk(j); c = if (bc == null) 1L else bc(j); j += 1
        }
        if (m > 0 && ok(m - 1) == k) oc(m - 1) += c
        else { ok(m) = k; oc(m) = c; m += 1 }
      }
      keys = ok
      counts = oc
      n = m
    }
  }

  private val Empty = new Array[Long](0)
  private val MinCompact = 1024

  /** Order-preserving, injective map of one input type onto long keys. */
  sealed abstract class Codec {
    def encode(v: Any): Long
    def decode(key: Long): Double
  }

  private object Integral extends Codec {
    def encode(v: Any): Long = v.asInstanceOf[Number].longValue
    def decode(key: Long): Double = key.toDouble
  }

  /** IEEE bits with the magnitude bits of negatives flipped: Double.compare
    * order, NaN (canonical bits) last, -0.0 just below 0.0.
    */
  private object Floating extends Codec {
    def encode(v: Any): Long = {
      val b = java.lang.Double.doubleToLongBits(v.asInstanceOf[Number].doubleValue)
      if (b < 0) b ^ Long.MaxValue else b
    }
    def decode(key: Long): Double =
      java.lang.Double.longBitsToDouble(if (key < 0) key ^ Long.MaxValue else key)
  }

  private final class Unscaled(t: DecimalType) extends Codec {
    def encode(v: Any): Long = {
      val d = v.asInstanceOf[Decimal]
      if (d.scale == t.scale) d.toUnscaledLong
      else d.toJavaBigDecimal.setScale(t.scale).unscaledValue.longValueExact
    }
    def decode(key: Long): Double = Decimal(key, t.precision, t.scale).toDouble
  }

  /** The long encoding of an input type; None where there is none. */
  def codecFor(dt: DataType): Option[Codec] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(Integral)
    case FloatType | DoubleType => Some(Floating)
    case t: DecimalType if t.precision <= Decimal.MAX_LONG_DIGITS => Some(new Unscaled(t))
    case _ => None
  }

  private def putVarLong(bb: ByteBuffer, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0) { bb.put(((v & 0x7F) | 0x80).toByte); v >>>= 7 }
    bb.put(v.toByte)
  }

  private def getVarLong(bb: ByteBuffer): Long = {
    var v = 0L
    var s = 0
    var more = true
    while (more) {
      val b = bb.get()
      v |= (b & 0x7FL) << s
      s += 7
      more = b < 0
    }
    v
  }

  /** Spark's `binarySearchCount`: index of the first cumulative count >= `value`. */
  private def searchCount(cum: Array[Long], value: Long): Int =
    Arrays.binarySearch(cum, value) match {
      case ix if ix < 0 => -(ix + 1)
      case ix => ix
    }
}

/** Optimizer rule: plans `percentile` on [[ExactPercentile]] where the two
  * are equivalent — frequency literal 1, ascending (not `reverse`), not
  * DISTINCT, a non-null literal percentage, and numeric input the long
  * encoding covers. `median` and ascending `percentile_cont` are
  * `Percentile` by the time optimizer rules run, so they are covered too;
  * everything else stays on Spark's implementation.
  */
object UseExactPercentile extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
      case ae @ AggregateExpression(p: Percentile, _, false, _, _) if covered(p) =>
        ae.copy(aggregateFunction = ExactPercentile(p.child, p.percentageExpression))
    }

  private def covered(p: Percentile): Boolean = !p.reverse &&
    (p.frequencyExpression match {
      case Literal(v: Number, ByteType | ShortType | IntegerType | LongType) => v.longValue == 1L
      case _ => false
    }) &&
    p.percentageExpression.foldable && p.percentageExpression.eval() != null &&
    ExactPercentile.codecFor(p.child.dataType).isDefined
}
