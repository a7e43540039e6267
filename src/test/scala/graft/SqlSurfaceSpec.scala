package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL face of the library: extension-registered functions and the
  * dbt-style model views. */
class SqlSurfaceSpec extends AnyFunSuite {

  // the shared suite session: Harness.builder installed GraftExtensions
  lazy val spark: SparkSession = GraftSpark.spark

  test("dot_product and sorted_intersect_size callable from SQL") {
    val r = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |       sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS isz""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
  }

  test("nfc_normalize: SQL-callable; unifies composed and decomposed unicode") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val composed = "caf\u00e9"           // e-acute as one codepoint
    val decomposed = "cafe\u0301"        // e + combining acute
    assert(composed != decomposed, "fixture must start out different")
    val r = Seq((composed, decomposed)).toDF("a", "b")
      .select(expr("nfc_normalize(a)").as("na"),
        graft.expressions.NfcNormalize.nfc(col("b")).as("nb"))
      .as[(String, String)].head()
    assert(r._1 == r._2, "NFC must unify composed and decomposed forms")
    assert(r._1 == composed && r._1.length == 4)
  }

  test("simple_casefold: 1:1 codepoint fold where lower() applies full mappings (U+0130)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lower}
    val turkic = "İSTANBUL" // dotted capital I
    val r = Seq(turkic).toDF("t")
      .select(expr("simple_casefold(t)").as("sc"),
        graft.expressions.SimpleCaseFold.casefold(col("t")).as("cc"),
        lower(col("t")).as("lo"))
      .as[(String, String, String)].head()
    assert(r._1 == r._2)
    // simple mapping: one codepoint out per codepoint in — what
    // utf8proc-based engines (the DuckDB oracle) produce
    assert(r._1 == "istanbul", s"got ${r._1.codePoints().toArray.toSeq}")
    // the JVM full mapping expands U+0130 to i + combining dot — the
    // cross-engine divergence simple_casefold exists to avoid
    assert(r._3 != r._1 && r._3.length == turkic.length + 1,
      s"expected lower() to full-map, got ${r._3.codePoints().toArray.toSeq}")
    // surrogate-pair safety: Deseret capital long I folds to lowercase
    val pair = new String(Character.toChars(0x10400))
    val folded = Seq(pair).toDF("t")
      .select(expr("simple_casefold(t)")).as[String].head()
    assert(folded.codePointAt(0) == 0x10428)
  }

  test("zorder2: exact interleave, SQL-callable, and measurably better 2-D file pruning") {
    import graft.expressions.ZOrder2
    // bit-exact interleave: x on even positions, y on odd
    assert(ZOrder2.interleave(3, 0) == 5L)   // 0b11 -> 0b0101
    assert(ZOrder2.interleave(0, 3) == 10L)  // 0b11 -> 0b1010
    assert(ZOrder2.interleave(1, 1) == 3L)
    assert(ZOrder2.interleave(-1, 0) == 0x5555555555555555L)
    val viaSql = spark.sql("SELECT zorder2(3, 0) AS z").collect()(0).getLong(0)
    assert(viaSql == 5L)
    // BIGINT keys (the common warehouse id type) analyze and interleave
    // by their low 32 bits — documented truncation, not a type error
    val viaBigint = spark.sql(
      "SELECT zorder2(CAST(3 AS BIGINT), CAST(0 AS BIGINT)) AS z")
      .collect()(0).getLong(0)
    assert(viaBigint == 5L)
    val wrapped = spark.sql(
      s"SELECT zorder2(CAST(${(1L << 32) + 3} AS BIGINT), 0) AS z")
      .collect()(0).getLong(0)
    assert(wrapped == 5L, "bigint interleaves by its low 32 bits")
    // locality: 64x64 grid, 64 "files" of 64 rows each. An aligned 8x8
    // box is ONE contiguous z-range (<= 2 files); under x-major order
    // the same box spreads across 8 files, and a y-stripe across all 64
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x, y)
    def filesTouched(ordered: Seq[(Int, Int)], hit: ((Int, Int)) => Boolean): Int =
      ordered.grouped(64).zipWithIndex.collect {
        case (chunk, i) if chunk.exists(hit) => i
      }.size
    val byZ = grid.sortBy { case (x, y) => ZOrder2.interleave(x, y) }
    val byX = grid.sortBy { case (x, y) => x * 64 + y }
    def inBox(p: (Int, Int)) = p._1 >= 8 && p._1 <= 15 && p._2 >= 8 && p._2 <= 15
    def inStripe(p: (Int, Int)) = p._2 >= 8 && p._2 <= 15
    assert(filesTouched(byZ, inBox) <= 2, "aligned box must be ~one z-run")
    assert(filesTouched(byX, inBox) == 8)
    assert(filesTouched(byX, inStripe) == 64, "x-major cannot prune a y filter")
    assert(filesTouched(byZ, inStripe) <= 16, "z-order prunes BOTH dimensions")
  }

  test("md5_hash56_pair / md5_hash60 / word_ngrams / top_k_pairs callable from SQL") {
    val r = spark.sql(
      """SELECT md5_hash56_pair('abc').h1 AS h1,
        |       md5_hash60('abc', 7) AS h60,
        |       word_ngrams('a b c d', 3) AS ng,
        |       all_word_ngrams('x y x y x', 3) AS ang""".stripMargin).collect()(0)
    // h1 = first 14 hex chars of md5('abc') base-16
    assert(r.getLong(0) ==
      java.lang.Long.parseLong("900150983cd24f", 16))
    assert(r.getLong(1) > 0)
    assert(r.getSeq[String](2) == Seq("a b c", "b c d"))
    // positioned variant keeps the duplicate gram
    assert(r.getSeq[String](3) == Seq("x y x", "y x y", "x y x"))
    // the custom aggregate resolves and ranks from plain SQL
    val top = spark.sql(
      """SELECT g, top_k_pairs(v, id, 2) AS top FROM VALUES
        |  ('x', 5L, 1L), ('x', 9L, 2L), ('x', 9L, 3L), ('y', 1L, 4L)
        |  AS t(g, v, id)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(top(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((9L, 2L), (9L, 3L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 4L)))
  }

  test("model views answer SQL like the reference's dbt models") {
    val names = graft.model.Models.registerViews(spark, GraftSpark.sf)
    assert(names.contains("yearly_stats"))
    val years = spark.sql(
      "SELECT event_year, event_frequency FROM yearly_stats ORDER BY event_year")
      .collect()
    assert(years.nonEmpty)
    // cross-model join through pure SQL
    val top = spark.sql(
      """SELECT s.nation, s.frequency
        |FROM severity_by_nation s
        |JOIN max_by_nation m ON s.nation = m.nation
        |WHERE s.severity = 'Great'
        |ORDER BY s.frequency DESC, s.nation LIMIT 3""".stripMargin).collect()
    assert(top.length <= 3)
    // ad-hoc SQL over the registered base tables
    val n = spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0)
    assert(n > 0)
  }
}
