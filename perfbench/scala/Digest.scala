package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

/** Canonical digest of a query's full output, independent of row and column
  * order: columns sorted by name (as `tools/check.py` sorts them), each value
  * rendered canonically, rows sorted, SHA-256 over the result.
  *
  * Floating-point values keep 8 significant digits. `tools/check.py` accepts
  * 1e-9 absolute differences; a digest needs a fixed rounding instead, and 8
  * digits sits far above the summation-order noise of a double aggregate
  * while still catching any wrong value.
  */
object Digest {
  private val mc = new MathContext(8, RoundingMode.HALF_EVEN)

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def value(v: Any): String = v match {
    case null                      => "∅"
    case d: Double                 => double(d)
    case f: Float                  => double(f.toDouble)
    case b: java.math.BigDecimal   => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal  => b.bigDecimal.stripTrailingZeros.toPlainString
    case s: String                 => "\"" + Json.esc(s) + "\""
    case a: Array[Byte]            => a.map("%02x".format(_)).mkString("0x", "", "")
    case t: java.sql.Timestamp     => s"ts${t.getTime * 1000 + (t.getNanos / 1000) % 1000}"
    case i: java.time.Instant      => s"ts${i.getEpochSecond * 1000000 + i.getNano / 1000}"
    case r: Row                    => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other                     => other.toString
  }

  /** Digest and row count of `rows` under `schema`. */
  def apply(schema: StructType, rows: Array[Row]): (String, Long) = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    val header = order.map(i => s"${schema.fields(i).name}:${schema.fields(i).dataType.simpleString}")
      .mkString(",")
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (md.digest().take(16).map("%02x".format(_)).mkString, rows.length.toLong)
  }
}
