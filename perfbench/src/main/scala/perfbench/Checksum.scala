package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** A task's output fingerprint: the row count and an order-independent
  * checksum of every value, floating point rounded to six significant
  * digits so that a changed summation order is not a wrong answer. */
case class Fingerprint(rows: Long, checksum: Long)

object Checksum {
  /** Consume every column of every row of `df` in one action and
    * fingerprint it. */
  def of(df: DataFrame): Fingerprint = {
    val (rows, sum) = df.rdd
      .mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += rowHash(r) }
        Iterator((n, s))
      }
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    Fingerprint(rows, sum)
  }

  private def rowHash(r: Row): Long = {
    val text = norm(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(text, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(text, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def sig(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(6)).stripTrailingZeros.toString

  /** Canonical text of one value, independent of the JVM's time zone;
    * maps are sorted by key text. */
  def norm(v: Any): String = v match {
    case null                      => "∅"
    case d: Double                 => sig(d)
    case f: Float                  => sig(f.toDouble)
    case b: java.math.BigDecimal   => sig(b.doubleValue)
    case b: Array[Byte]            => java.util.Arrays.hashCode(b).toString
    case t: java.sql.Timestamp     => s"${t.getTime}/${t.getNanos}"
    case r: Row                    => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other                     => other.toString
  }
}
