package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   runMain graft.Verify <sfDir> <outDir> [prefix,prefix...]
  *
  * The optional 3rd arg (comma-separated name prefixes) dumps, and
  * lists in oracle_sql.json, only matching queries — the developer loop
  * on one operator's oracle; the driver always passes 2 args. A failing
  * query fails the run loudly: every other output and oracle_sql.json
  * are still written, then the failed names go to stderr and the exit
  * code is 1. */
object Verify {

  /** Writes each query's output under `outDir/<name>` and
    * `outDir/oracle_sql.json` over `oracle`'s entries for the same
    * names; returns the names of the queries that threw. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracle: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      Harness.timed(spark, 1) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.failure.map { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name
      }
    }
    val names = queries.map(_._1).toSet
    def q(s: String) = "\"" + graft.functions.Functions.jsonEscape(s) + "\""
    val json = oracle.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val all = SparkEntry.queries.toSeq
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    // a typo'd prefix would otherwise dump nothing for it and read as done
    val unmatched = prefixes.toSeq.flatten
      .filterNot(p => all.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query matches the prefixes: ${unmatched.mkString(", ")}")
    val queries = all.filter { case (name, _) =>
      prefixes.forall(_.exists(name.startsWith))
    }
    val spark = Harness.session(Harness.Cpus)
    val failed = dump(spark, sfDir, outDir, queries, SparkEntry.oracleSql)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
