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

  /** Runs `body` on a clone of [[spark]] whose
    * `spark.sql.shuffle.partitions` is `n`: the count every explicit
    * layout reads ([[graft.ops.Materialize.partitions]]). A frame is
    * bound to the session that built it, so `body` builds its inputs
    * from the clone. The clone's seams are released after. */
  def withPartitions[A](n: Int)(body: SparkSession => A): A = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", n.toLong)
    try body(s) finally graft.ops.Materialize.releaseAll(s)
  }
}
