package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive answer hash, computed the same way by `answers.py`
  * over DuckDB results: columns sorted by name, each cell written in a
  * typed canonical form (integers vs floats kept apart, floats by their
  * exact bits with -0.0 folded into 0.0, dates and timestamps alike as
  * epoch microseconds, as pandas reads both), each row hashed, the row
  * digests sorted and hashed with the column header. Two answers hash
  * equal iff they hold the same multiset of rows under the same column
  * names.
  */
object Canon {
  def hash(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val digests = rows.map(r =>
      sha(order.map(i => cell(r.get(i))).mkString("\u0001"))).sorted
    sha(order.map(names(_)).mkString("\u0001") + "\n" + digests.mkString("\n"))
  }

  private val hex = java.util.HexFormat.of()

  def sha(s: String): String =
    hex.formatHex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  private def float(d: Double): String =
    if (d.isNaN) "fNaN"
    else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "bT" else "bF"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case d: java.math.BigDecimal => "d" + d.toPlainString
    case d: scala.math.BigDecimal => "d" + d.bigDecimal.toPlainString
    case s: String => "s" + s
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t" + micros(i.getEpochSecond, i.getNano)
    case d: java.time.LocalDate => cell(d.atStartOfDay)
    case d: java.sql.Date => cell(d.toLocalDate)
    case a: Array[Byte] => "x" + hex.formatHex(a)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => "s" + other
  }
}
