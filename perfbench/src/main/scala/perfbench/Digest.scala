package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count plus an order-insensitive 64-bit digest of a result.
  *
  * Each row hashes its columns in column-name order (so a reordered
  * projection digests the same); the digest is the wrapping sum of the
  * row hashes, so row order does not matter either. Floating-point
  * values are rounded to six significant digits first: parallel sums
  * differ in their last bits from run to run. */
final case class Digest(rows: Long, sum: Long) {
  def hex: String = f"$sum%016x"
}

object Digest {
  private val NullH = 0x5bd1e9955bd1e995L

  /** splitmix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def ofLong(v: Long): Long = mix(v)

  def ofDouble(v: Double): Long =
    if (v.isNaN) mix(0x7ff8L)
    else if (v.isInfinite) mix(if (v > 0) 0x7ff0L else -0x7ff0L)
    else if (v == 0.0) mix(0L)
    else {
      var e = math.floor(math.log10(math.abs(v))).toInt
      var m = math.round(v / math.pow(10, e - 5))
      if (math.abs(m) >= 1000000L) { m /= 10; e += 1 }
      mix(m * 1000 + e)
    }

  def ofBytes(base: AnyRef, offset: Long, len: Int): Long = {
    val hi = Murmur3_x86_32.hashUnsafeBytes(base, offset, len, 0x3c6ef372)
    val lo = Murmur3_x86_32.hashUnsafeBytes(base, offset, len, 0x1b873593)
    mix((hi.toLong << 32) ^ (lo.toLong & 0xffffffffL) ^ len)
  }

  def ofString(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ofBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length)
  }

  /** Combine field hashes in column order into one row hash. */
  def combine(fields: Iterator[Long]): Long =
    mix(fields.foldLeft(17L)((h, f) => h * 31 + f))

  /** Hash of the value at `i` of a row or array of type `dt`. */
  def value(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) NullH
    else dt match {
      case BooleanType => mix(if (g.getBoolean(i)) 1L else 2L)
      case ByteType => mix(g.getByte(i).toLong)
      case ShortType => mix(g.getShort(i).toLong)
      case IntegerType | DateType | _: YearMonthIntervalType => mix(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        mix(g.getLong(i))
      case FloatType => ofDouble(g.getFloat(i).toDouble)
      case DoubleType => ofDouble(g.getDouble(i))
      case _: StringType =>
        val s = g.getUTF8String(i); ofBytes(s.getBaseObject, s.getBaseOffset, s.numBytes)
      case BinaryType =>
        val b = g.getBinary(i); ofBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length)
      case d: DecimalType =>
        ofString(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        combine(Iterator.range(0, a.numElements()).map(j => value(a, j, et)))
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        mix(Iterator.range(0, m.numElements())
          .map(j => mix(value(ks, j, kt) * 31 + value(vs, j, vt))).sum)
      case s: StructType => row(g.getStruct(i, s.length), s)
      case other => ofString(g.get(i, other).toString)
    }

  /** Row hash over the fields of `schema`, visited in column-name order. */
  def row(r: InternalRow, schema: StructType): Long = {
    val order = schema.fields.indices.sortBy(schema.fields(_).name)
    combine(order.iterator.map(i => value(r, i, schema.fields(i).dataType)))
  }

  /** Compute every column of every row of `df` through its own
    * QueryExecution (planned once, as an action would) and digest it on
    * the executors. Nothing is collected but one (count, sum) per task. */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = qe.analyzed.schema
    val order = schema.fields.indices.sortBy(schema.fields(_).name).toArray
    val types = schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var s = 0L
        while (it.hasNext) {
          val r = it.next()
          var h = 17L; var k = 0
          while (k < order.length) { h = h * 31 + value(r, order(k), types(order(k))); k += 1 }
          n += 1; s += mix(h)
        }
        Iterator.single((n, s))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
