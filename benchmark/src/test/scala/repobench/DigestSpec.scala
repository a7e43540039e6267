package repobench

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val names = Seq("id", "s", "x")
  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, null, -0.0), Row(3L, "c", 1e300))

  test("the digest ignores row order and column order") {
    val d = Digest.ofRows(names, rows.iterator)
    assert(Digest.ofRows(names, rows.reverseIterator) == d)
    val swapped = rows.map(r => Row(r.get(1), r.get(0), r.get(2)))
    assert(Digest.ofRows(Seq("s", "id", "x"), swapped.iterator) == d)
  }

  test("the digest sees duplicates and changed values") {
    val d = Digest.ofRows(names, rows.iterator)
    assert(Digest.ofRows(names, (rows :+ rows.head).iterator) != d)
    assert(Digest.ofRows(names, (Row(1L, "a", 0.5000001) +: rows.tail).iterator) != d)
    assert(Digest.value(1) != Digest.value(1.0))
    assert(Digest.value(-0.0) == Digest.value(0.0))
  }

  test("canonical forms match the DuckDB side (test_benchlib.py, same vector)") {
    val ts = Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:01.000500Z"))
    val row = Row(7L, true, ts, Date.valueOf("1999-12-31"), Seq(1.5, null),
      new java.math.BigDecimal("12.340"))
    val (n, d) = Digest.ofRows(Seq("k", "b", "t", "d", "arr", "dec"), Iterator(row))
    assert(n == 1 && Digest.hex(d) == "23605d9fb6a729c6")
  }
}
