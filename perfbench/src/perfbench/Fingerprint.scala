package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: (row count, sum of row hashes).
  *
  * Runs the frame's already-planned physical plan once (one Spark job,
  * like a collect) and hashes every row without bringing it to the
  * driver. Doubles are rounded to 32 mantissa bits (~9.6 significant
  * digits) and -0.0 folds into 0.0, so summation-order noise does not
  * change the hash. Map entries hash order-independently; array order
  * is kept.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += struct(it.next(), schema); n += 1 }
      Iterator((n, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  private def struct(r: InternalRow, t: StructType): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < t.length) {
      h = mix(h, if (r.isNullAt(i)) 0x5bd1e995L else field(r, i, t(i).dataType))
      i += 1
    }
    h
  }

  private def field(r: InternalRow, i: Int, dt: DataType): Long = dt match {
    case BooleanType => if (r.getBoolean(i)) 1L else 2L
    case ByteType => r.getByte(i).toLong
    case ShortType => r.getShort(i).toLong
    case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => r.getLong(i)
    case FloatType => dbl(r.getFloat(i).toDouble)
    case DoubleType => dbl(r.getDouble(i))
    case d: DecimalType => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _: StringType => r.getUTF8String(i).hashCode.toLong
    case BinaryType => java.util.Arrays.hashCode(r.getBinary(i)).toLong
    case s: StructType => struct(r.getStruct(i, s.length), s)
    case a: ArrayType => array(r.getArray(i), a.elementType)
    case m: MapType => map(r.getMap(i), m)
    case u: UserDefinedType[_] => field(r, i, u.sqlType)
    case other => r.get(i, other).toString.hashCode.toLong
  }

  private def array(a: ArrayData, et: DataType): Long = {
    val row = InternalRow.fromSeq(a.toSeq[Any](et))
    var h = mix(0x632BE59BD9B4E019L, a.numElements.toLong)
    var i = 0
    while (i < a.numElements) {
      h = mix(h, if (row.isNullAt(i)) 0x5bd1e995L else field(row, i, et))
      i += 1
    }
    h
  }

  private def map(m: MapData, t: MapType): Long = {
    val ks = InternalRow.fromSeq(m.keyArray.toSeq[Any](t.keyType))
    val vs = InternalRow.fromSeq(m.valueArray.toSeq[Any](t.valueType))
    var s = 0L
    var i = 0
    while (i < m.numElements) {
      s += mix(field(ks, i, t.keyType),
        if (vs.isNullAt(i)) 0x5bd1e995L else field(vs, i, t.valueType))
      i += 1
    }
    s
  }
}
