package perfbench

import org.apache.spark.sql.Row
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a query result: the row count, the column
  * names, and the wrapping sum of a 64-bit hash of every row. Summing
  * makes the digest independent of row order and of how the rows were
  * partitioned; every column of every row feeds it. */
final case class Digest(rows: Long, columns: Int, hash: Long) {
  def show: String = s"$rows:$columns:${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  def of(columnNames: Seq[String], rows: Iterator[Row]): Digest = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Digest(n, MurmurHash3.seqHash(columnNames), sum)
  }

  def of(df: org.apache.spark.sql.DataFrame): Digest =
    of(df.columns.toSeq, df.collect().iterator)

  def rowHash(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    render(r, sb)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0dd5).toLong & 0xffffffffL)
  }

  /** A canonical, locale- and time-zone-independent text form of a value.
    * Each value is prefixed with a type tag and terminated, so adjacent
    * columns cannot run together. */
  private def render(v: Any, sb: java.lang.StringBuilder): Unit = {
    v match {
      case null => sb.append('N')
      case r: Row =>
        sb.append("R(")
        var i = 0
        while (i < r.length) { render(r.get(i), sb); i += 1 }
        sb.append(')')
      case d: Double => sb.append('D').append(java.lang.Double.toString(d))
      case f: Float => sb.append('F').append(java.lang.Float.toString(f))
      case b: java.math.BigDecimal => sb.append('M').append(b.toPlainString)
      case b: scala.math.BigDecimal =>
        sb.append('M').append(b.bigDecimal.toPlainString)
      case t: java.sql.Timestamp =>
        sb.append('T').append(t.getTime).append('.').append(t.getNanos)
      case d: java.sql.Date => sb.append('d').append(d.toLocalDate.toEpochDay)
      case i: java.time.Instant =>
        sb.append('T').append(i.getEpochSecond).append('.').append(i.getNano)
      case d: java.time.LocalDate => sb.append('d').append(d.toEpochDay)
      case a: Array[Byte] =>
        sb.append('B')
        a.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16))
          .append(Character.forDigit(x & 0xf, 16)))
      case m: scala.collection.Map[_, _] =>
        sb.append("P(")
        m.toSeq.map { case (k, x) =>
          val e = new java.lang.StringBuilder
          render(k, e); render(x, e); e.toString
        }.sorted.foreach(sb.append)
        sb.append(')')
      case s: scala.collection.Seq[_] =>
        sb.append("A(")
        s.foreach(render(_, sb))
        sb.append(')')
      case other => sb.append('S').append(other.toString)
    }
    sb.append('\u0001')
  }
}
