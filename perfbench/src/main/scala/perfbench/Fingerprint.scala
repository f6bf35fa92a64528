package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash per row. Columns are taken in name order
  * and floating values are rounded to 4 decimal places, the precision
  * the repository's queries and their DuckDB oracle agree on, so a
  * different partitioning of the same result hashes the same.
  */
object Fingerprint {

  final case class Print(rows: Long, hash: Long)

  def of(df: DataFrame): Print = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, h) = df.rdd.map(r => rowHash(r, order))
      .aggregate((0L, 0L))((a, x) => (a._1 + 1, a._2 + x),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    Print(n, h)
  }

  def rowHash(r: Row, order: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder
    order.foreach { i => cell(sb, r.get(i)); sb.append('|') }
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  private def dbl(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else sb.append(new java.math.BigDecimal(d)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros.toPlainString)

  private def cell(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append('N')
    case d: Double => sb.append("d:"); dbl(sb, d)
    case f: Float => sb.append("d:"); dbl(sb, f.toDouble)
    case b: java.math.BigDecimal =>
      sb.append("m:").append(b.stripTrailingZeros.toPlainString)
    case b: Array[Byte] =>
      sb.append("b:"); b.foreach(x => sb.append(f"$x%02x"))
    case r: Row =>
      sb.append('{')
      (0 until r.length).foreach { i => cell(sb, r.get(i)); sb.append(',') }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append("map{")
      m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        cell(e, k); e.append("->"); cell(e, x); e.toString
      }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => cell(sb, x); sb.append(',') }
      sb.append(']')
    case s: String => sb.append("s:").append(s)
    case x => sb.append(x.getClass.getSimpleName).append(':').append(x)
  }
}
