package perfbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a query result: each row renders
  * to a canonical string (columns in name order, floating values rounded
  * to 8 significant digits so the last-bit noise of a different
  * summation order cannot flip it), the first 8 bytes of each row's MD5
  * are summed modulo 2^64. `expect.py` renders DuckDB rows the same way,
  * so an oracle-derived expectation and the engine's result compare
  * digit for digit.
  */
object Digest {
  final case class Result(rows: Long, digest: String, columns: String)

  private val Mc = new MathContext(8, RoundingMode.HALF_EVEN)
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Mc).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp =>
      val l = t.toLocalDateTime
      l.format(TsFmt) + (if (l.getNano == 0) "" else f".${l.getNano / 1000}%06d")
    case other => other.toString
  }

  def of(df: DataFrame): Result = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("|")
      val h = md5.digest(line.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    Result(n, f"$sum%016x", names.sorted.mkString(","))
  }
}
