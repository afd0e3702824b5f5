package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The JVM digest must normalize exactly as perfbench/benchlib/digest.py
  * (and tools/compare.py) do, or golden values could not be cross-checked
  * against DuckDB. The expected strings are Python's `f"{v:.12g}"`.
  */
class DigestSpec extends AnyFunSuite {

  /** What `Digest.columns` aggregates, computed over rows on the driver. */
  private def digestOf(rows: Seq[Row], names: Seq[String]): String = {
    val order = names.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val hs = rows.map(r => Digest.rowHash(Row.fromSeq(order.map(r.get))))
    Digest.render(rows.size, hs.map(_ & 0x7FFFFFFFL).sum, hs.map(_ >>> 33).sum)
  }

  test("floats normalize like Python's .12g") {
    assert(Digest.num(0.1 + 0.2) == "0.3")
    assert(Digest.num(1234567.125) == "1234567.125")
    assert(Digest.num(1e20) == "1e+20")
    assert(Digest.num(-0.00001234) == "-1.234e-05")
    assert(Digest.num(12.0) == "12")
    assert(Digest.num(0.0001) == "0.0001")
    assert(Digest.num(123456789012.0) == "123456789012")
    assert(Digest.num(1234567890123.0) == "1.23456789012e+12")
    assert(Digest.num(Double.NaN) == "NaN")
  }

  test("cells normalize like the Python twin") {
    assert(Digest.norm(null) == "NULL")
    assert(Digest.norm(true) == "true")
    assert(Digest.norm(new java.math.BigDecimal("12.50")) == "12.5")
    assert(Digest.norm(java.time.Instant.ofEpochSecond(1, 5000)) == "1000005")
    assert(Digest.norm(Seq(1.5, 2.0)) == "[1.5,2]")
  }

  test("digest ignores row and column order, not multiplicity") {
    val a = digestOf(Seq(Row(1, 2.0), Row(3, 4.0)), Seq("b", "a"))
    val b = digestOf(Seq(Row(4.0, 3), Row(2.0, 1)), Seq("a", "b"))
    assert(a == b)
    assert(a != digestOf(Seq(Row(4.0, 3), Row(2.0, 1), Row(2.0, 1)), Seq("a", "b")))
  }

  test("the JVM and Python digests agree on one fixed row") {
    // benchlib.digest.digest(["a", "b"], [(1, 2.5)]) == "1:1883931471:770105624"
    assert(digestOf(Seq(Row(1, 2.5)), Seq("a", "b")) == "1:1883931471:770105624")
  }
}
