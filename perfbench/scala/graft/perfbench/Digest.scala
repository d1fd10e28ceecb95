package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** The benchmark's result sink: collect the result to the driver, as a
  * client reading a gold table does, and reduce it to an order-independent
  * digest (row count and the wrapping sum of one 64-bit hash per row), so
  * every timed result can be compared with a result the DuckDB oracle
  * checked.
  *
  * Floating-point values are hashed as 10-significant-digit strings, so a
  * sum whose addition order changes between runs (shuffle fetch order)
  * still digests the same. Map entries are hashed in sorted order. */
object Digest {
  final case class Value(rows: Long, hash: Long) {
    override def toString: String = s"$rows:$hash"
  }

  def of(df: DataFrame): Value = of(df.collect())

  def of(rows: Array[Row]): Value = {
    var sum = 0L
    rows.foreach(r => sum += fnv(canonical(r)))
    Value(rows.length.toLong, sum)
  }

  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else "%.9e".format(d + 0.0) // folds -0.0
    case f: Float => canonical(f.toDouble)
    case r: Row => r.toSeq.map(canonical).mkString("(", "\u0001", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "\u0002" + canonical(x) }
        .sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** 64-bit FNV-1a with a final avalanche, over UTF-16 code units. */
  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^ (h >>> 33)
  }
}
