package repobench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: each row becomes one
  * canonical string (columns sorted by name, every value tagged with its
  * kind), the first 8 bytes of the string's MD5 are the row hash, and the
  * digest is the row count plus the sum of the row hashes mod 2^64.
  * `digest.py` computes the same digest from DuckDB results; the two must
  * agree on every canonical form below. */
object Digest {

  def value(v: Any): String = v match {
    case null => "n"
    case b: Boolean => "b" + b
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => decimal(x)
    case x: scala.math.BigDecimal => decimal(x.bigDecimal)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("r(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted
        .mkString("m{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("a[", ",", "]")
  }

  /** Bit pattern of the double, with -0.0 as 0.0 and one NaN. */
  private def double(d: Double): String =
    if (d.isNaN) "fnan"
    else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def decimal(d: java.math.BigDecimal): String =
    "d" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)

  def rowString(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + value(r.get(i)) }.mkString("\u001f")

  def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** (row count, digest) of a sequence of rows, in any order. */
  def ofRows(names: Seq[String], rows: Iterator[Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) =>
      (n + 1, s + rowHash(rowString(names, r))) }

  /** Digest of a DataFrame, computed in its own Spark tasks. */
  def of(df: DataFrame): (Long, Long) = {
    val names = df.schema.fieldNames.toSeq
    df.rdd.mapPartitions(it => Iterator(ofRows(names, it))).collect()
      .foldLeft((0L, 0L)) { case ((n, s), (m, t)) => (n + m, s + t) }
  }

  def hex(d: Long): String = f"$d%016x"
}
