package graftbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Row count and order-independent digest of a query result.
  *
  * Columns are taken in name order and each cell is rendered as
  * `tools/compare.py`'s `norm` renders it (floats as Python's `%.9g`), so
  * floating-point summation order below nine significant digits does not
  * change the digest. Row hashes are summed modulo 2^64: the digest is a
  * function of the multiset of rows, not of their order or partitioning.
  */
object Digest {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  /** Python's `f"{v:.9g}"`. */
  def g9(v: Double): String =
    if (v.isNaN) "nan"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val bd = new JBigDecimal(v).round(mc)
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 9) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
        val sign = if (bd.signum < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else bd.stripTrailingZeros.toPlainString
    }

  def norm(v: Any): String = v match {
    case null => "None"
    case d: Double => g9(d)
    case f: Float => g9(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${norm(k)}: ${norm(x)}" }.sorted.mkString("{", ", ", "}")
    case r: Row => r.toSeq.map(norm).mkString("(", ", ", ")")
    case other => other.toString
  }

  /** (rows, 16-hex-digit digest) of `df`, computed on the executors. */
  def apply(df: DataFrame): (Long, String) = {
    val idx = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, h) = df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val s = idx.map(i => norm(r.get(i))).mkString("\u0001")
        val hi = MurmurHash3.stringHash(s, 0x5eed)
        val lo = MurmurHash3.stringHash(s, 0x9e3779b9)
        h += (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
        n += 1
      }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    (n, f"$h%016x")
  }
}
