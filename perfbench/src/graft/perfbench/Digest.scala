package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.BooleanType

/** Order-insensitive digest of a result: row count plus the sum (mod
  * 2^64) of a 64-bit hash of each row's canonical text. Columns are taken
  * in name order, so a reordered projection digests the same. Doubles are
  * canonicalized to 12 significant digits, which absorbs last-bit
  * differences of floating-point reductions without hiding a wrong value.
  */
object Digest {

  /** Digest of `df` and, for a `*_check` entry, the number of its
    * boolean cells that are not true (a passing verdict has none). The
    * result is collected once and both are computed from it.
    */
  def of(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val sorted = df.select(cols.map(df.col).toIndexedSeq: _*)
    val flags = sorted.schema.fields.zipWithIndex.collect { case (f, i) if f.dataType == BooleanType => i }
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var notTrue = 0L
    val rows = sorted.collect()
    rows.foreach { row =>
      val h = md.digest(rowText(row).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      notTrue += flags.count(i => row.isNullAt(i) || !row.getBoolean(i))
    }
    (f"${rows.length}:$sum%016x", notTrue)
  }

  private def rowText(r: Row): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) { value(r.get(i), sb); sb += '\u0001'; i += 1 }
    sb.toString
  }

  private def value(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb ++= "∅"
    case d: Double => dbl(d, sb)
    case f: Float => dbl(f.toDouble, sb)
    case b: java.math.BigDecimal => sb ++= b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => sb ++= b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      sb ++= (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => sb ++= (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case b: Array[Byte] => b.foreach(x => sb ++= f"$x%02x")
    case r: Row => sb += '{'; (0 until r.length).foreach { i => value(r.get(i), sb); sb += ',' }; sb += '}'
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder; value(k, e); e += '='; value(x, e); e.toString
      }.sorted
      sb ++= parts.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => sb += '['; xs.foreach { x => value(x, sb); sb += ',' }; sb += ']'
    case other => sb ++= other.toString
  }

  private def dbl(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb ++= "NaN"
    else if (d.isInfinite) sb ++= (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) sb ++= "0"
    else sb ++= new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString
}
