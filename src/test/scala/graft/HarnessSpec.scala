package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The measurement mains share one timed-run loop; these specs run the
  * merged paths end to end at sf0.001 and pin the isolation contract
  * every measurement relies on: after a run, no RDD stays persisted and
  * the shuffle layout is back at its static value. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val json = new ObjectMapper()

  private def parse(line: String): JsonNode = json.readTree(line)
  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private def assertReleased(): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  private def assertRuns(row: JsonNode, runs: Int): Unit = {
    assert(row.get("runs").asInt == runs)
    assert(row.get("secs").size == runs)
    val secs = row.get("secs").elements().asScala.map(_.asDouble).toSeq
    assert(row.get("min").asDouble == secs.min)
    assert(row.get("max").asDouble == secs.max)
  }

  test("timedRuns releases after every run, also a failing one, and stops at the first failure") {
    graft.ops.Materialize.releaseAll(spark) // whatever earlier suites left
    var seen = Seq.empty[Int]
    val t = Harness.timedRuns(spark, 4)(Tables.region(spark, GraftSpark.sf)
        .localCheckpoint(true)) { df =>
      // each run starts from the previous run's release
      seen :+= spark.sparkContext.getPersistentRDDs.size
      if (seen.size == 3) throw new IllegalStateException("third run fails")
      df.count()
    }
    assert(seen == Seq(1, 1, 1)) // only this run's own checkpoint
    assert(t.secs.size == 2 && t.last.contains(5L))
    assert(t.failure.exists(_.getMessage == "third run fails"))
    assertReleased()
    assert(intercept[IllegalStateException](t.get).getMessage == "third run fails")
  }

  test("Bench focus: one line per query with every run, seams released") {
    val names = Seq("dd2_minhash_lsh", "dd7_dedup_clusters")
    val lines = Seq.newBuilder[String]
    Bench.focus(spark, GraftSpark.sf, names, runs = 2)(lines += _)
    assertReleased()
    val rows = lines.result().map(parse)
    assert(rows.map(_.get("query").asText) == names)
    rows.foreach { r =>
      assert(keys(r) ==
        Set("query", "action", "cold", "runs", "p50", "min", "max", "secs", "jobs"))
      assert(r.get("action").asText == "noop")
      assertRuns(r, 2)
      // every run builds and writes the query, so each starts jobs
      assert(r.get("jobs").size == 2)
      assert(r.get("jobs").elements().asScala.forall(_.asLong > 0))
    }
    assert(intercept[IllegalArgumentException](Bench.focus(spark,
      GraftSpark.sf, Seq("no_such_query"), 1)(_ => ()))
      .getMessage.contains("no_such_query"))
  }

  test("ScaleProbe: one case at factor 1 prints the factor header and its row, seams released") {
    val lines = Seq.newBuilder[String]
    ScaleProbe.probe(spark, GraftSpark.sf, Seq(1), Seq("distcc"), runs = 2)(lines += _)
    assertReleased()
    val Seq(header, row) = lines.result().map(parse)
    assert(keys(header) == Set("factor", "docs", "vecs", "cust", "dd5_bands", "dd5_planes"))
    assert(header.get("docs").asLong == Tables.documents(spark, GraftSpark.sf).count())
    assert(keys(row) ==
      Set("case", "factor", "runs", "p50", "min", "max", "secs", "rows", "parts"))
    assert(row.get("case").asText == "distcc" && row.get("factor").asInt == 1)
    assertRuns(row, 2)
    assert(row.get("rows").asLong > 0)
    assert(intercept[IllegalArgumentException](ScaleProbe.probe(spark,
      GraftSpark.sf, Seq(1), Seq("nope"), 1)(_ => ())).getMessage.contains("nope"))
  }

  test("Verify.dump writes every output it can and oracle_sql.json, and names the failures") {
    val out = java.nio.file.Files.createTempDirectory("verify_dump").toString
    val queries = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "good" -> ((s, d) => Tables.region(s, d)))
    val oracle = Map("good" -> "SELECT 1", "boom" -> "SELECT\t2", "other" -> "x")
    val failed = Verify.dump(spark, GraftSpark.sf, out, queries, oracle)
    assert(failed == Seq("boom"))
    assertReleased()
    assert(spark.read.parquet(s"$out/good").count() == 5)
    assert(!new java.io.File(s"$out/boom").exists())
    val sql = parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/oracle_sql.json")), "UTF-8"))
    assert(keys(sql) == Set("good", "boom"))
    assert(sql.get("boom").asText == "SELECT\t2")
  }

  test("Verify rejects a prefix that matches no query before starting a session") {
    assert(intercept[IllegalArgumentException](
      Verify.main(Array(GraftSpark.sf, "unused", "dd2_,no_such_prefix")))
      .getMessage.contains("no_such_prefix"))
  }
}
