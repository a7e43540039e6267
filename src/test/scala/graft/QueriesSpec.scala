package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Materialize

/** Every declared query runs at sf0.001, returns rows, has unique column
  * names (the driver compare sorts columns by name), and has an oracle.
  * Each query runs in the driver's shape — one seam lifecycle, released
  * after it — and a query that materialized a seam runs again with the
  * session's storage directory set: durable seams must give exactly the
  * same rows, since where a seam lives is a layout, not a result. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = GraftSpark.sf

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs, returns rows, unique columns") {
      try {
        val df = fn(spark, sf)
        val cols = df.columns.toSeq
        assert(cols.distinct.size == cols.size, s"dup columns in $name: $cols")
        assert(df.count() > 0, s"$name returned 0 rows")
        if (Materialize.seamed(spark)) {
          val local = sortedRows(df)
          Materialize.releaseAll(spark)
          val dir = Files.createTempDirectory("graft_seams").toFile
          try {
            val stored = Materialize.storingUnder(spark, dir.toString)(
              sortedRows(fn(spark, sf)))
            assert(stored == local, s"$name: durable seams changed the rows; " +
              s"local only ${local.diff(stored).take(3)}, " +
              s"durable only ${stored.diff(local).take(3)}")
            info(s"durable seams: the same ${local.size} rows")
          } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
        }
      } finally Materialize.releaseAll(spark)
    }
  }

  test("every query has an oracle or is documented as rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every oracle names a registered query (no orphaned oracle entries)") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without a query: $orphaned")
  }
}
