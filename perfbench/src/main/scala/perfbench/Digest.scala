package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a query's full output.
  *
  * The digest is folded over `queryExecution.toRdd`, so computing it IS the
  * materializing action: every output column of every row is produced and
  * hashed, and Catalyst cannot prune anything (unlike `count()`).
  *
  * Per row: the column values are hashed in output order and mixed; the
  * row hashes are summed (mod 2^64), so row order does not matter. Inside
  * a value, array elements and map entries are also combined
  * order-insensitively (collect_list order depends on shuffle fetch order).
  * Floating values are rounded to [[SigDigits]] significant digits first.
  */
object Digest {
  final case class Result(rows: Long, digest: Long) {
    def hex: String = f"$digest%016x"
  }

  val SigDigits = 6

  def of(df: DataFrame): Result = {
    val fields = df.schema.fields
    val types = fields.map(_.dataType)
    val seed = fields.foldLeft(17L)((h, f) => mix(h * 31 + str(f.name)))
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) {
        s += rowHash(it.next(), types)
        n += 1
      }
      Iterator.single((n, s))
    }.collect()
    Result(parts.map(_._1).sum, mix(seed ^ parts.map(_._2).sum))
  }

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def str(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytes(b)
  }

  def bytes(b: Array[Byte]): Long =
    mix(Murmur3_x86_32.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 42).toLong ^ (b.length.toLong << 32))

  private def utf8(u: UTF8String): Long =
    mix(Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
      .toLong ^ (u.numBytes.toLong << 32))

  /** Round to SigDigits significant digits, then hash mantissa and exponent. */
  def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000001L
    else if (d.isInfinite) if (d > 0) 0x7ff0000000000001L else 0xfff0000000000001L
    else if (d == 0.0) 0L
    else {
      val lo = math.pow(10, SigDigits - 1)
      val hi = math.pow(10, SigDigits)
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.round(d * math.pow(10, SigDigits - 1 - e)).toDouble
      if (math.abs(m) >= hi) { e += 1; m = math.round(d * math.pow(10, SigDigits - 1 - e)).toDouble }
      else if (math.abs(m) < lo) { e -= 1; m = math.round(d * math.pow(10, SigDigits - 1 - e)).toDouble }
      if (math.abs(m) >= hi) { e += 1; m = math.round(m / 10).toDouble }
      mix(m.toLong * 1000003L + e)
    }

  def rowHash(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 1L
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + valueHash(r, i, types(i)))
      i += 1
    }
    h
  }

  private val NullHash = 0x5bd1e995L

  def valueHash(g: SpecializedGetters, i: Int, t: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else t match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => mix(g.getByte(i).toLong)
      case ShortType => mix(g.getShort(i).toLong)
      case IntegerType | DateType => mix(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType => mix(g.getLong(i))
      case FloatType => dbl(g.getFloat(i).toDouble)
      case DoubleType => dbl(g.getDouble(i))
      case StringType => utf8(g.getUTF8String(i))
      case BinaryType => bytes(g.getBinary(i))
      case d: DecimalType => dbl(g.getDecimal(i, d.precision, d.scale).toDouble)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var s = mix(a.numElements().toLong)
        var j = 0
        while (j < a.numElements()) { s += mix(valueHash(a, j, et)); j += 1 }
        s
      case st: StructType =>
        rowHash(g.getStruct(i, st.length), st.fields.map(_.dataType))
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val ks = m.keyArray()
        val vs = m.valueArray()
        var s = mix(m.numElements().toLong)
        var j = 0
        while (j < m.numElements()) {
          s += mix(valueHash(ks, j, kt) * 31 + valueHash(vs, j, vt)); j += 1
        }
        s
      case other => str(String.valueOf(g.get(i, other)))
    }
}
