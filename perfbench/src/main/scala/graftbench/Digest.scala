package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, udf}

/** Order-insensitive result digest. Every cell is normalized the way
  * tools/compare.py normalizes it before hashing (floats to 12 significant
  * digits, NaN/NULL spelled out, columns ordered by name), so a digest is
  * stable across plan shapes, partitioning and last-ulp float drift. The
  * twin in perfbench/digest.py computes the same string for DuckDB rows.
  *
  * The digest of a result is `rows:lo:hi`, where lo and hi are the sums of
  * two 31-bit slices of each row's MD5 prefix: a multiset hash that needs no
  * ordering and cannot overflow a long below 2^32 rows.
  */
object Digest {

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      norm(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Python's `f"{v:.12g}"`, which tools/compare.py uses for floats. */
  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val bd = new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 12) {
        val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) digits.head + "." + digits.tail else digits
        val sign = if (bd.signum < 0) "-" else ""
        sign + mant + "e" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
      } else bd.stripTrailingZeros.toPlainString
    }

  /** Normalized cells of one row, columns already in name order. */
  def rowString(r: Row): String = r.toSeq.map(norm).mkString("\u0001")

  def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("MD5")
      .digest(rowString(r).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  private val hashUdf = udf((r: Row) => rowHash(r))

  /** The three aggregate columns whose values make up the digest. */
  def columns(df: DataFrame): Seq[Column] = {
    val names = df.columns.toSeq.sortBy(_.toLowerCase)
    val h = hashUdf(struct(names.map(n => col(s"`$n`")): _*))
    Seq(count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0x7FFFFFFFL))).as("lo"),
      sum(org.apache.spark.sql.functions.shiftrightunsigned(h, 33)).as("hi"))
  }

  def render(rows: Long, lo: Long, hi: Long): String = s"$rows:$lo:$hi"
}
