package graft

import org.apache.spark.sql.SparkSession

/** The measurement harness every main shares: the one SparkSession
  * recipe, the one reading of the `SPARK_GRAFT_*` run settings, and the
  * one timed-run loop. A drifted session copy (e.g. a missing
  * `nanosAsLong`) would fail only at runtime on the events table, and a
  * timing loop that forgot the release would let one run's seams leak
  * into the next run's timing, so each lives once. */
object Harness {

  /** Local cores (`local[N]` and the static shuffle-partition
    * baseline). 4 is the driver contract's default. */
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The SF directory the mains read when no directory is passed. */
  val SfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed runs per measurement. 5, not 3: a 3-run median is one slow
    * run away from being dragged to the middle value under machine
    * load — the round-4 j1/a10 false-regression mechanism (adjudicated
    * with n=8 focus runs). A 5-run median tolerates two outliers per
    * query. Override for the sf1/sf10 tiers, where a 5-run sweep over
    * 10× data would run for hours — such an artifact trades median
    * robustness for feasibility and says so in its run count. */
  val Runs: Int = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(5)

  /** The session recipe with every shipping config set, before
    * `getOrCreate` — the test session adds only its app name and
    * warehouse dir, so the plan gates test exactly this config.
    *
    * It installs [[GraftExtensions]]: the SQL functions and two rules.
    * One of them, [[graft.expressions.SortSmallInOnePartition]], sorts a
    * global `orderBy` whose input is at most the advisory partition size
    * (32 MB, below) in one range partition. Its range exchange then runs
    * no sampling job, which would compute the sort's whole upstream
    * stage once more before the shuffle computes it. Plans still read
    * `rangepartitioning(order, 1)`. AQE re-plans with runtime sizes, so
    * a sort whose estimate is large still takes one partition once its
    * input measures small. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      // cores-count STATIC baseline; corpus-scale pipelines ratchet
      // this up from MEASURED bytes at the Materialize seam
      // (Materialize.ratchetShufflePartitions) — the data-size-derived
      // partition rule the 100x probe demanded. A GLOBAL headroom
      // (AQE initialPartitionNum = 8x cores) was measured and
      // rejected: numShufflePartitions would loosen the auto
      // shuffled-hash budget 8x at EVERY tier (distcc 2.6x slower at
      // 40x) while the seam ratchet widens the layout, and with it
      // that budget, only when measured data says so.
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // pin the AQE coalesce target explicitly (it is also the seam
      // ratchet's bytes-per-partition target — the two must agree or
      // ratcheted layouts would coalesce right back down). 32 MB, not
      // Spark's 64 MB default: the round-10 bisect of the 100x distcc
      // bend put the win zone at per-task volumes <= ~32 MB of
      // UnsafeRow bytes for the sort/hash-heavy dedup pipelines
      // (89 s at ~47 MB/task, 20 s at ~23 MB/task) — and the 100x
      // tier's dominant checkpoints measure ~1.5 GB, which a 64 MB
      // target would leave at the cores-count layout (measured:
      // ratchet never engaged, parts=32 in the probe row)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32MB")
      // non-broadcast joins: build a per-partition hash map when one
      // side's HONEST size (the Materialize seam measures checkpointed
      // intermediates) fits the canBuildLocalHashMap budget
      // (threshold × shuffle partitions), instead of sorting both
      // sides. The dedup/LSH pair pipelines join corpus-sized tables
      // on high-cardinality keys where the sort is pure overhead; at
      // warehouse scale the size gate flips the same joins back to
      // sort-merge automatically because size/partitions outgrows the
      // budget — the decision stays size-driven, not hint-driven.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")

  def session(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The completed runs of one measurement (seconds, in run order), the
    * last run's result, and the failure that stopped the loop, if any. */
  final case class Timed[A](secs: Seq[Double], last: Option[A],
      failure: Option[Throwable]) {
    /** Upper median: the middle run, or the slower of the middle two. */
    def p50: Double = secs.sorted.apply(secs.length / 2)
    def min: Double = secs.min
    def max: Double = secs.max
    /** This measurement, or its failure rethrown. */
    def get: Timed[A] = { failure.foreach(e => throw e); this }
    /** The run statistics as JSON object fields. */
    def fields: String =
      s""""runs":${secs.size},"p50":${fmt(p50, 3)},"min":${fmt(min, 3)},""" +
        s""""max":${fmt(max, 3)},"secs":${secs.map(fmt(_, 3)).mkString("[", ",", "]")}"""
  }

  /** The one timed-run loop. Each of `runs` runs evaluates `prepare`
    * untimed, times `action` on its result, and then, OUTSIDE the timed
    * region, releases every block the run cached or checkpointed
    * ([[graft.ops.Materialize.releaseAll]]) — whether the run finished
    * or threw — so no run's residency leaks into the next timing (the
    * round-2 dd2 23.5 s / tx4 7 s outliers). A prepared input is
    * released with the run, which is why it is rebuilt every run. The
    * loop stops at the first failure and keeps the runs before it. */
  def timedRuns[P, A](spark: SparkSession, runs: Int)(prepare: => P)(
      action: P => A): Timed[A] = {
    val secs = Seq.newBuilder[Double]
    var last = Option.empty[A]
    var failure = Option.empty[Throwable]
    var i = 0
    while (i < runs && failure.isEmpty) {
      try {
        val input = prepare
        val t0 = System.nanoTime()
        last = Some(action(input))
        secs += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => failure = Some(e) }
      finally graft.ops.Materialize.releaseAll(spark)
      i += 1
    }
    Timed(secs.result(), last, failure)
  }

  /** [[timedRuns]] with nothing to prepare. */
  def timed[A](spark: SparkSession, runs: Int)(action: => A): Timed[A] =
    timedRuns(spark, runs)(())(_ => action)

  /** Fixed-decimal number for machine-parsed JSON. Locale.ROOT: f"%.3f"
    * under a comma-decimal default locale would emit 26,123. */
  def fmt(x: Double, dec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(x))
}
