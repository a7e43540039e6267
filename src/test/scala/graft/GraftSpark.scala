package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM),
  * built from [[Harness.builder]] so the plan gates test the shipping
  * configuration; tests add only an app name and a warehouse dir. */
object GraftSpark {
  lazy val spark: SparkSession = {
    val s = Harness.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
