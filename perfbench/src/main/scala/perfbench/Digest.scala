package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive digest of a result.
  *
  * Every value is first written in a canonical text form, so results from
  * two engines compare equal when their values are equal: integral numbers
  * of any width (and integral-valued fractions) print as integers, other
  * numbers to 10 significant digits, timestamps as epoch microseconds.
  * Columns are taken in name order. A row's digest is the first 8 bytes of
  * the MD5 of its canonical text; the result's digest is the wrapping sum
  * of its row digests, so row order does not matter but multiplicity does.
  */
final case class Digest(rows: Long, sum: Long, columns: String) {
  def hex: String = f"$rows:$sum%016x:${columns.hashCode}%08x"
}

object Digest {

  /** Materialises every column of `df` inside the tasks and digests it. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name).toArray
    val types = schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += rowHash(r, order, types) }
      Iterator.single((n, s))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum,
      order.map(i => schema.fields(i).name).mkString(","))
  }

  def rowHash(r: InternalRow, order: Array[Int], types: Array[DataType]): Long = {
    val sb = new java.lang.StringBuilder
    order.foreach { i => canon(sb, if (r.isNullAt(i)) null else r.get(i, types(i)), types(i)); sb.append('\u0001') }
    hash64(sb.toString)
  }

  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Canonical number text: integers exactly, fractions to 10 digits. */
  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString

  def canon(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit =
    if (v == null) sb.append('∅')
    else t match {
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append(v.asInstanceOf[Number].longValue)
      case FloatType => sb.append(number(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(number(v.asInstanceOf[Double]))
      case _: DecimalType =>
        val dec = v.asInstanceOf[Decimal].toJavaBigDecimal
        val asLong = scala.util.Try(dec.longValueExact()).toOption
        sb.append(asLong.map(_.toString).getOrElse(number(dec.doubleValue)))
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "T" else "F")
      case DateType => sb.append("d").append(v.asInstanceOf[Int])
      case TimestampType | TimestampNTZType => sb.append("t").append(v.asInstanceOf[Long])
      case BinaryType =>
        sb.append(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { i =>
          if (i > 0) sb.append(',')
          canon(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          val ft = st.fields(i).dataType
          canon(sb, if (r.isNullAt(i)) null else r.get(i, ft), ft)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          canon(e, ks.get(i, kt), kt); e.append("->")
          canon(e, if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
          e.toString
        }.sorted
        sb.append(entries.mkString("<", ",", ">"))
      case _ => sb.append(v.toString) // strings (UTF8String) and the rest
    }
}
