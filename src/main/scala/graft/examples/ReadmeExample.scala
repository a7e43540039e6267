package graft.examples

import org.apache.spark.sql.SparkSession

import graft.ops.{Dedup, Materialize}

/** The README's runnable consumer example, shipped IN the library jar
  * so the packaging smoke (`scripts/package_smoke.sh`) can prove the
  * `sbt package` artifact runs standalone under plain `spark-submit` —
  * no sbt runtime, no test classpath, no harness. Arg 0: a TESTDATA.md
  * sf directory (default sf0.001). */
object ReadmeExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // spark-submit owns the session recipe here — the library works
    // with ANY session; these two options mirror the README example
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

    // MinHash-LSH near-duplicate pairs with self-sizing band geometry;
    // on a cluster, make the seams durable with
    //   --conf spark.graft.materialize.storageDir=<dir>
    val pairs = Dedup.minhashLshQuery(spark, sfDir)
    pairs.show(10)
    val n = pairs.count()

    // one analytics model for breadth: the severity rollup (a6)
    val sev = graft.model.Analytics.severityByNation(spark, sfDir)
    sev.show(5)
    // consume every result BEFORE releaseAll: it unpersists the
    // localCheckpoint blocks Materialize-seamed frames read from, and
    // truncated lineage cannot recompute — counting after the release
    // fails for any frame with a Materialize seam in its plan
    val nSev = sev.count()

    Materialize.releaseAll(spark)
    println(s"[readme-example] OK: ${n} near-dup pairs, " +
      s"${nSev} severity rows from $sfDir")
    spark.stop()
  }
}
