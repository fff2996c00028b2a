package graftbench

import org.apache.spark.sql.{DataFrame, Row}

object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile of the samples (the numpy default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = math.floor(n * (1.0 - p / 100.0) + 1e-9).toInt

  /** The tail rule: the highest of these percentiles with at least ten
    * samples beyond it, or None when even the median lacks that support.
    */
  def supportedTail(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => beyond(n, p) >= 10)
}

/** Order-insensitive digest of a query result: a SHA-256 over the schema
  * and the sorted per-row SHA-256s, so it depends on the multiset of rows
  * only — not on their order or on how they were partitioned. Doubles and
  * floats are rendered at 9 significant digits, so last-bit summation
  * order cannot flip the digest.
  */
object Digest {

  def of(df: DataFrame): String = of(df.schema.simpleString, df.collect().toSeq)

  def of(schema: String, rows: Seq[Row]): String = {
    val rowHashes = rows.map(r => hex(sha(render(r)))).sorted
    hex(sha(schema + "\n" + rowHashes.mkString("\n")))
  }

  private def sha(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  private[graftbench] def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case b: Array[Byte] => "0x" + hex(b)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
