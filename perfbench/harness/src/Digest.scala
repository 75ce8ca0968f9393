package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-independent digest of one result: its row count, its column names
  * in sorted order, and the sum (mod 2^64) of a 64-bit hash of each row's
  * canonical text. The canonical text follows the rules in `digest.py`, so a
  * DuckDB oracle result digests to the same value exactly when the two
  * results hold the same rows. */
final case class Digest(rows: Long, sum: Long, cols: Seq[String]) {
  def sumText: String = java.lang.Long.toUnsignedString(sum)
}

object Digest {
  private val Null = "\u0000N"
  private val Sep = '\u001f'

  private def num(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append(Null)
    else if (!d.isInfinite && d == math.floor(d) && math.abs(d) < 9.0e18)
      sb.append('i').append(d.toLong)
    else sb.append('f').append(
      java.lang.Long.toUnsignedString(java.lang.Double.doubleToRawLongBits(d)))

  private def text(v: Any, t: DataType): String = {
    val sb = new java.lang.StringBuilder
    value(v, t, sb)
    sb.toString
  }

  def value(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append(Null)
    else t match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "b1" else "b0")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append('i').append(v.toString)
      case FloatType => num(v.asInstanceOf[Float].toDouble, sb)
      case DoubleType => num(v.asInstanceOf[Double], sb)
      case _: DecimalType => num(v.asInstanceOf[Decimal].toDouble, sb)
      case _: StringType => sb.append('s').append(v.toString)
      case BinaryType =>
        sb.append('x')
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case DateType => sb.append('t').append(v.asInstanceOf[Int].toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append('t').append(v.asInstanceOf[Long])
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          value(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.zipWithIndex.sortBy(_._1.name).zipWithIndex.foreach { case ((f, i), k) =>
          if (k > 0) sb.append(',')
          sb.append(f.name).append(':')
          value(if (r.isNullAt(i)) null else r.get(i, f.dataType), f.dataType, sb)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        val entries = (0 until m.numElements()).map { i =>
          text(ks.get(i, kt), kt) + ":" + text(if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
        }.sorted
        sb.append("m{").append(entries.mkString(",")).append('}')
      case _ => sb.append('?').append(v.toString)
    }

  /** 64-bit row hash: the first 8 bytes (big-endian) of the MD5 of the
    * row's canonical text, columns in `order`. */
  def rowHash(md: MessageDigest, r: InternalRow, order: Array[Int],
              types: Array[DataType]): Long = {
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < order.length) {
      if (k > 0) sb.append(Sep)
      val i = order(k)
      value(if (r.isNullAt(i)) null else r.get(i, types(i)), types(i), sb)
      k += 1
    }
    ByteBuffer.wrap(md.digest(sb.toString.getBytes(UTF_8))).getLong
  }

  /** The timed action: runs `df`'s physical plan to completion, producing
    * every output column, and digests the rows on the executors. Runs as a
    * named SQL execution so listeners and SQL metrics see it like any other
    * action. */
  def of(spark: SparkSession, df: DataFrame): Digest = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val fields = df.schema.fields
    val types = fields.map(_.dataType)
    val order = fields.indices.sortBy(i => (fields(i).name, i)).toArray
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.digest")) {
      qe.toRdd.mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        var n = 0L; var s = 0L
        it.foreach { r => n += 1; s += rowHash(md, r, order, types) }
        Iterator.single((n, s))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, order.map(fields(_).name).toSeq)
  }
}
