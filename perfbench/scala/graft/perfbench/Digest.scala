package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result digest, byte-identical to `canonical.py`:
  * columns sorted by name, each value encoded with a type tag, rows
  * sorted by their UTF-8 bytes, SHA-256 over the header and the rows.
  * Doubles (and floats widened to double) are compared by bit pattern,
  * with -0.0 folded into 0.0 and every NaN into one token. */
object Digest {

  private def encDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("FNaN")
    else sb.append('F').append(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  def encode(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) "B1" else "B0")
    case x: Byte => sb.append('I').append(x.toLong)
    case x: Short => sb.append('I').append(x.toLong)
    case x: Int => sb.append('I').append(x.toLong)
    case x: Long => sb.append('I').append(x)
    case f: Float => encDouble(f.toDouble, sb)
    case d: Double => encDouble(d, sb)
    case s: String => sb.append('S').append(s.length).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('T').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      sb.append('T').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      encode(l.toInstant(java.time.ZoneOffset.UTC), sb)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case d: java.math.BigDecimal => sb.append('X').append(d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => encode(d.bigDecimal, sb)
    case b: Array[Byte] =>
      sb.append('H')
      b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); encode(r.get(i), sb); i += 1 }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        encode(k, e); e.append('='); encode(x, e); e.toString
      }.sorted
      sb.append('{').append(parts.mkString(",")).append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; encode(x, sb) }
      sb.append(']')
    case a: Array[_] => encode(a.toSeq, sb)
    case other => sb.append('?').append(String.valueOf(other))
  }

  private val byteOrder: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** Hex SHA-256 of `rows` under `schema`. */
  def of(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(i => names(i).getBytes(UTF_8))(byteOrder)
    val lines = rows.map { r =>
      val sb = new java.lang.StringBuilder
      var first = true
      order.foreach { i => if (!first) sb.append('\u001f'); first = false; encode(r.get(i), sb) }
      sb.toString.getBytes(UTF_8)
    }
    java.util.Arrays.sort(lines, byteOrder)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\u001f").getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
