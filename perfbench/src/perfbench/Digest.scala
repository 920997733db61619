package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent content digest of a query result.
  *
  * Every column of every row is folded into a 64-bit row hash (columns in
  * schema order, nested arrays, maps and structs included), and the row
  * hashes are combined as a multiset: two independent 64-bit sums plus the
  * row count. Row order and partitioning therefore cannot change the digest,
  * while any changed, missing or extra value does.
  *
  * Doubles and floats are canonicalised before hashing: -0.0 becomes 0.0,
  * every NaN the same NaN, and a double keeps its top 32 mantissa bits
  * (about 9.6 significant digits), rounded to nearest. That absorbs the
  * last-bit drift of floating sums whose order depends on task timing, and
  * nothing coarser.
  */
object Digest {

  final case class Result(rows: Long, h1: Long, h2: Long) {
    def merge(o: Result): Result = Result(rows + o.rows, h1 + o.h1, h2 + o.h2)
    override def toString: String = f"$rows%d:$h1%016x:$h2%016x"
  }

  val empty: Result = Result(0L, 0L, 0L)

  /** murmur3 fmix64 */
  def mix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def step(h: Long, v: Long): Long = mix(h * 0x9e3779b97f4a7c15L + v)

  def canonDouble(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN) 0x7ff8000000000000L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  private def bytesHash(b: Array[Byte]): Long = {
    var h = 0x1234567L + b.length
    var i = 0
    while (i < b.length) { h = h * 31 + b(i); i += 1 }
    mix(h)
  }

  /** Hash of one (non-null) value of type `t`. */
  def value(t: DataType, get: Int => Any, i: Int): Long = t match {
    case BooleanType => if (get(i).asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType | LongType | TimestampType |
         TimestampNTZType | _: YearMonthIntervalType | _: DayTimeIntervalType =>
      get(i) match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case n: Int => n.toLong
        case l: Long => l
      }
    case FloatType => canonDouble(get(i).asInstanceOf[Float].toDouble)
    case DoubleType => canonDouble(get(i).asInstanceOf[Double])
    case _: DecimalType => bytesHash(get(i).toString.getBytes("UTF-8"))
    case _: StringType => bytesHash(get(i).asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytesHash(get(i).asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = get(i).asInstanceOf[ArrayData]
      array(et, a, 0x51L)
    case MapType(kt, vt, _) =>
      val m = get(i).asInstanceOf[MapData]
      // map entries are unordered: combine entry hashes commutatively
      var s = 0L
      var j = 0
      while (j < m.numElements()) {
        s += step(field(kt, m.keyArray(), j), field(vt, m.valueArray(), j))
        j += 1
      }
      mix(s + m.numElements())
    case st: StructType =>
      row(st, get(i).asInstanceOf[InternalRow])
    case other => bytesHash(String.valueOf(get(i)).getBytes("UTF-8")) ^ other.hashCode
  }

  private def field(t: DataType, a: ArrayData, j: Int): Long =
    if (a.isNullAt(j)) 0x6e756c6cL else value(t, k => a.get(k, t), j)

  private def array(et: DataType, a: ArrayData, seed: Long): Long = {
    var h = seed + a.numElements()
    var j = 0
    while (j < a.numElements()) { h = step(h, field(et, a, j)); j += 1 }
    h
  }

  /** Hash of one row: fields in schema order, nulls distinct from values. */
  def row(schema: StructType, r: InternalRow): Long = {
    var h = 0x726f77L + schema.length
    var i = 0
    while (i < schema.length) {
      val t = schema(i).dataType
      h = step(h, if (r.isNullAt(i)) 0x6e756c6cL else value(t, k => r.get(k, t), i))
      i += 1
    }
    h
  }

  def ofRows(schema: StructType, rows: Iterator[InternalRow]): Result = {
    var n = 0L; var s1 = 0L; var s2 = 0L
    rows.foreach { r =>
      val h = row(schema, r)
      n += 1; s1 += h; s2 += mix(h ^ 0x5bd1e9955bd1e995L)
    }
    Result(n, s1, s2)
  }

  /** Run `df`'s already-planned physical plan and digest its output. */
  def of(df: DataFrame): Result = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(ofRows(schema, it)))
      .fold(empty)(_ merge _)
  }
}
