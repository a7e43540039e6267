package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named driver queries to
  * files — the plan-shape evidence the optimization rounds commit
  * under `plans/r<N>/`. Usage:
  *
  *   sbt 'runMain graft.ExplainDump <sfDir> <outDir> <suffix> <query> [query...]'
  *
  * One file per query: `<outDir>/<query>_<suffix>.txt`. The formatted
  * explain is the STATIC plan (AdaptiveSparkPlan isFinalPlan=false);
  * for iterative queries that execute jobs while building (BFS rounds,
  * label propagation), the driver-side loop runs as part of building
  * the frame, so the dump reflects the final returned frame's plan —
  * the same object the bench times. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: ExplainDump <sfDir> <outDir> <suffix> " +
        "<query> [query...]")
      sys.exit(2)
    }
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names = args.drop(3).toSeq
    // validate up front: an unknown name aborting mid-list would leave
    // a partial dump that reads as complete
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Harness.session(Harness.Cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Harness.timed(spark, 1) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), formatted)
      }.get
      println(s"[explaindump] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
