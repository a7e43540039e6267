package graft.ops

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization seam for iterative/multi-read pipelines (MinHash
  * shingle tables, LSH band tables, label-propagation rounds, IVF
  * quantized vectors).
  *
  * Two lifecycles, chosen once per session by [[DurableDirKey]]:
  *
  *   - unset — `localCheckpoint(eager)`: executor-memory blocks,
  *     lineage truncated. Fastest, and correct for a run-once driver
  *     program (Verify/Bench), but NOT fault-tolerant: losing an
  *     executor loses blocks that cannot be recomputed. Single-JVM
  *     local mode has no executor to lose, so tests/bench run here.
  *   - a directory — write parquet to `<dir>/<name>`, read it back: the
  *     100-TB lifecycle. The intermediate survives executor loss, is
  *     shared across jobs/sessions, and its lifetime is managed
  *     explicitly (the deployment owns the directory). This is what a
  *     production near-dup pipeline does with the hashed-shingle /
  *     signature tables between stages.
  *
  * Both yield a frame whose downstream plan reads a scan, not the
  * original lineage — self-joins against it do NOT recompute the
  * upstream (the property every caller here needs).
  *
  * ==Lifecycle contract: ONE query lifecycle per SparkSession at a time==
  *
  * The seam keeps per-session state (the working-set byte accumulator
  * and the ratcheted `spark.sql.shuffle.partitions`), all scoped by
  * [[releaseAll]] — which both restores the session's static partition
  * count and drops its cached blocks. Two consequences a consumer must
  * respect:
  *
  *   - '''Call [[releaseAll]] at the end of every query lifecycle.'''
  *     A lifecycle that never releases keeps its widened shuffle
  *     layout (and its checkpoint blocks) for every unrelated job that
  *     later runs in the same session.
  *   - '''Do not interleave two lifecycles in one session.''' The
  *     accumulator and the ratcheted conf are session-global: lifecycle
  *     B's materializations fold into A's working-set sum, and either
  *     side's [[releaseAll]] restores the static partition count
  *     mid-flight of the other — silently shrinking its layout AND the
  *     `threshold × partitions` budget [[hashJoinIfFits]] computed
  *     against the wider count (per-task hash builds can then exceed
  *     the intended bound: a perf/OOM hazard, not wrong results).
  *     Concurrent pipelines get concurrent sessions:
  *     `spark.newSession()` shares the SparkContext (and the block
  *     manager) but has its OWN SQLConf, so each clone ratchets and
  *     releases independently — every map here is keyed by the
  *     session object, so clones never share seam state.
  */
object Materialize {

  /** Session conf key naming the durable seam directory: set, every
    * seam writes parquet under it (`--conf` or `-D` sets it without
    * code); unset, seams are executor-local checkpoints. */
  val DurableDirKey = "spark.graft.materialize.storageDir"

  /** As [[apply]], with a caller-declared working-set factor for the
    * partition ratchet: when the pipeline downstream of this seam
    * provably moves a MULTIPLE of the materialized table through its
    * shuffles (a compile-time-constant explode — smp3's 6-way draw
    * fan-out — or a self-join that doubles the stream), the table's
    * measured bytes under-state the working set by exactly that
    * factor. The factor scales only the ratchet's lifecycle
    * accumulator — the frame's measured stats (what join planning and
    * [[hashJoinIfFits]] read) stay the honest table size. Declare only
    * structural fan-out the plan guarantees; leave 1 when unsure (the
    * ratchet just engages a tier later). */
  def apply(df: DataFrame, name: String, workingSetFactor: Int): DataFrame = {
    require(workingSetFactor >= 1, s"workingSetFactor: $workingSetFactor")
    applyScaled(df, name, workingSetFactor)
  }

  /** Materializes `df` as the seam `name` (the parquet table name in a
    * durable session). */
  def apply(df: DataFrame, name: String): DataFrame =
    applyScaled(df, name, 1)

  private def applyScaled(df: DataFrame, name: String,
      workingSetFactor: Int): DataFrame = storageDir(df.sparkSession) match {
    case None =>
      // honest stats at the seam: localCheckpoint preserves the
      // PRE-checkpoint optimizer estimates, which under-count
      // corpus-derived intermediates badly enough that Catalyst
      // broadcast-joins whole-corpus tables (the round-8 sf1 blowups).
      // The eager checkpoint just materialized the blocks, so swap in
      // their measured BlockManager size instead — small frames stay
      // broadcastable, corpus-sized frames plan as shuffle joins, and
      // no call site needs a static join-strategy hint. Blocks stay
      // DESERIALIZED (default level — the LSH pipelines re-read each
      // checkpoint several times and a serialized level taxes every
      // read); the measurement pass sums exact UnsafeRow binary sizes
      // instead, so the stats still mean on-wire bytes.
      ratchetShufflePartitions(org.apache.spark.sql.graft.Bridge
        .withMeasuredStats(df.localCheckpoint(true)),
        byteScale = workingSetFactor)
    case Some(dir) =>
      val path = s"$dir/$name"
      df.write.mode("overwrite").parquet(path)
      // the read-back frame's stats are COMPRESSED parquet bytes, while
      // the ratchet rule is calibrated for the uncompressed UnsafeRow
      // bytes a local checkpoint measures — scale by a typical columnar
      // expansion so durable pipelines err over-provisioned (the safe
      // direction, AQE trims excess), never under
      ratchetShufflePartitions(df.sparkSession.read.parquet(path),
        byteScale = ParquetExpansion * workingSetFactor)
  }

  /** The session's durable seam directory, if one is set. */
  private def storageDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(DurableDirKey).filter(_.nonEmpty)

  /** Whether this session's seams write durable parquet. */
  def durable(spark: SparkSession): Boolean = storageDir(spark).nonEmpty

  /** Runs `body` with this session's seams durable under `dir`, then
    * restores the session's previous setting. */
  def storingUnder[A](spark: SparkSession, dir: String)(body: => A): A = {
    val prev = storageDir(spark)
    spark.conf.set(DurableDirKey, dir)
    try body
    finally prev.fold(spark.conf.unset(DurableDirKey))(
      spark.conf.set(DurableDirKey, _))
  }

  /** Typical parquet→UnsafeRow expansion for the ratchet's
    * durable-seam signal (columnar encoding + compression commonly
    * shrinks row data 3–6×; 4 errs high, which AQE coalesce absorbs). */
  val ParquetExpansion = 4

  /** Cap on the seam ratchet, as a multiple of the session's static
    * `spark.sql.shuffle.partitions`: bounds single-box bookkeeping
    * (task count, shuffle block count) while covering a decade of
    * per-box data growth; past it a cluster adds executors, which
    * raises the static count and the cap with it.
    *
    * The anchor is the CONFIGURED partition count, not a live executor
    * census — deliberately. Under dynamic allocation the executor set
    * breathes with the workload, so a cap derived from a point-in-time
    * executor count is unstable in exactly the situations the cap
    * exists to bound, and local mode has no executors to count at all.
    * A dynamic-allocation deployment should set
    * `spark.sql.shuffle.partitions` to its steady-state core budget
    * (the same sizing Spark's own docs prescribe); the ratchet then
    * widens from that anchor only when measured data warrants, and
    * `spark.dynamicAllocation.maxExecutors` — not this cap — bounds
    * the hardware the widened layout can recruit. */
  val PartitionHeadroom = 8

  /** Pure sizing rule (spec-pinned): partitions for a pipeline whose
    * dominant materialized table measures `bytes`, targeting the AQE
    * advisory bytes-per-partition — never below the static count,
    * never above [[PartitionHeadroom]]× it. */
  private[graft] def partitionsFor(bytes: BigInt, advisoryBytes: Long,
      staticParts: Int): Int = {
    val ideal = ((bytes + advisoryBytes - 1) / advisoryBytes)
      .min(BigInt(PartitionHeadroom) * staticParts).toInt
    math.max(staticParts, ideal)
  }

  /** Session's pre-ratchet `shuffle.partitions`, recorded the first
    * time the ratchet runs so [[releaseAll]] can restore it. */
  private val staticParts =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Measured bytes accumulated across the lifecycle's
    * materializations — the ratchet's size signal. The SUM, not the
    * max: a pipeline's downstream shuffles move its WORKING SET
    * (shingle stream + signatures + band tables + per-round
    * label-propagation state), which the single biggest checkpoint
    * under-states severalfold — measured at the 100× tier, where the
    * dedup pipelines' individual tables sit just under 1 GB each and
    * a max-trigger left the layout at the cores count while the
    * working set was the 2–3 GB the round-10 bisect sized its
    * manual fix for. Reset by [[releaseAll]]. */
  private val lifecycleBytes =
    scala.collection.concurrent.TrieMap.empty[SparkSession, BigInt]

  /** Whether the session's current lifecycle materialized any seam
    * (spec observability: unlike `getPersistentRDDs`, it does not
    * depend on whether the ContextCleaner already dropped a seam the
    * result no longer references). */
  private[graft] def seamed(spark: SparkSession): Boolean =
    lifecycleBytes.contains(spark)

  /** The data-size-derived shuffle-partition rule (the 100× probe's
    * one nonlinearity was per-partition shuffle volume outgrowing the
    * FIXED cores-count layout — distcc 89 s at 32 partitions, 20 s at
    * 64, structure exactly linear): every materialization already
    * measures its exact bytes for the stats seam, and a pipeline's
    * downstream shuffles (self-joins, keyed re-aggregations of the
    * checkpoints) move its WORKING SET — the lifecycle's accumulated
    * measured bytes ([[lifecycleBytes]]) — so when that sum divided by
    * the AQE advisory target exceeds the session's static partition
    * count, RAISE `spark.sql.shuffle.partitions` so per-partition
    * volume stays at the advisory. Monotone up within a query
    * lifecycle (the accumulator only grows; concurrent checkpoints
    * race benignly through an atomic update), restored by
    * [[releaseAll]]; a small-tier pipeline never
    * ratchets, so its plans — and the shuffled-hash budget
    * `threshold × partitions` that [[hashJoinIfFits]] and Spark's own
    * canBuildLocalHashMap read — are byte-identical to the fixed
    * layout. Measured bytes are UNCOMPRESSED UnsafeRow sizes while
    * AQE coalesces on compressed map outputs, so the ratchet
    * over-provisions by the compression factor and AQE trims the
    * excess — the safe direction. A global AQE initialPartitionNum
    * headroom was measured and REJECTED in favor of this: it widens
    * the hash-build budget and the per-shuffle bookkeeping at every
    * tier whether or not the data warrants it (distcc 2.6× slower at
    * 40×). */
  private def ratchetShufflePartitions(df: DataFrame,
      byteScale: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val static = staticParts
      .getOrElseUpdate(spark, spark.conf.get("spark.sql.shuffle.partitions"))
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val seen = lifecycleBytes.updateWith(spark) { prev =>
      Some(prev.getOrElse(BigInt(0)) +
        org.apache.spark.sql.graft.Bridge.rootSizeInBytes(df) * byteScale)
    }.get
    val target = partitionsFor(seen, advisory, static.toInt)
    if (target > spark.conf.get("spark.sql.shuffle.partitions").toInt)
      spark.conf.set("spark.sql.shuffle.partitions", target.toString)
    df
  }

  /** Stats-GATED shuffled-hash hint, for the two join shapes where
    * Catalyst's own selection picks a worse plan than the evidence
    * supports:
    *
    *   - equi SELF-joins: non-hinted shuffled-hash selection requires
    *     one side 3× smaller (`muchSmaller`) to pick a build side — a
    *     self-join's sides are the same size, so it always falls back
    *     to sort-merge, paying two corpus sorts a per-partition hash
    *     build avoids;
    *   - joins back onto an AGGREGATE keyed by the join key: when the
    *     aggregate's estimate fits the broadcast threshold Catalyst
    *     broadcasts it — paying the aggregate's shuffle PLUS a driver
    *     collect and relation build — while a hash join on the
    *     aggregate's own shuffle key REUSES its exchange and probes
    *     colocated, strictly cheaper.
    *
    * The hint is applied ONLY when the frame's honest size (measured
    * at the Materialize seam, or derived from it) fits Spark's own
    * local-hash-map budget (autoBroadcastJoinThreshold × shuffle
    * partitions — the `canBuildLocalHashMap` convention, ~10 MB build
    * per task): small enough → hash join, the decision the planner
    * would make with perfect information; at warehouse scale the
    * budget is outgrown and the join plans sort-merge with NO hint —
    * never a forced hash build that can't spill. */
  def hashJoinIfFits(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    // Mirror Spark's ConfigHelpers.byteFromString: "-1" (the documented
    // broadcast-disable value) carries its sign outside the byte-string
    // parse, which rejects negative literals.
    val raw = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val (sign, mag) = if (raw.startsWith("-")) (-1L, raw.substring(1)) else (1L, raw)
    val threshold =
      sign * org.apache.spark.network.util.JavaUtils.byteStringAsBytes(mag)
    // the CURRENT session count — the static cores baseline, or the
    // seam ratchet's data-derived value (ratchetShufflePartitions),
    // which is also what Spark's own numShufflePartitions reads here
    // (no AQE initialPartitionNum is set): the budget grows only when
    // measured data has already widened the layout, so per-task builds
    // stay threshold-bounded. (A fixed 8x-wider budget was measured
    // and rejected: it let the dd4 `sets` join hash-build array-heavy
    // 64 MB post-coalesce partitions at the 100x tier — 6x slower
    // than its sort-merge plan.)
    val parts = conf.get("spark.sql.shuffle.partitions", "200").toLong
    val size = org.apache.spark.sql.graft.Bridge.rootSizeInBytes(df)
    if (threshold > 0 && size < BigInt(threshold) * parts)
      df.hint("shuffle_hash")
    else df
  }

  /** Drop every cached/checkpointed block this session holds: the
    * explicit end-of-query lifecycle for local-checkpoint seams.
    *
    * Without this, a harness that runs many LSH-family queries (each
    * materializing shingle/band tables) accumulates storage blocks
    * until eviction + GC churn distort *neighboring* queries' timings —
    * the blocks are only reclaimed when the ContextCleaner notices the
    * RDDs are unreachable, which needs a driver GC that a large heap
    * may not run for minutes. Bench/Verify call this between queries.
    *
    * Safe only once results are fully consumed: unpersisting a
    * locally-checkpointed RDD discards data its truncated lineage
    * cannot recompute. Spark's `RDD.unpersist` warns exactly that once
    * per such RDD; here it is the intent, so that one message is muted
    * while the release runs ([[UnpersistWarning]]) and every other log
    * line still prints. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    withoutUnpersistWarning {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // lifecycle end: un-ratchet the shuffle layout and zero the
    // working-set accumulator (see ratchetShufflePartitions) so the
    // next query re-derives from ITS data instead of inheriting this
    // one's
    lifecycleBytes.remove(spark)
    staticParts.remove(spark)
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
  }

  /** Denies the log event Spark's `RDD.unpersist` writes for a locally
    * checkpointed RDD ("… cannot be recomputed after unpersisting");
    * every other event passes to the next filter. */
  private object UnpersistWarning extends AbstractFilter {
    override def filter(event: LogEvent): Filter.Result =
      if (event.getMessage.getFormattedMessage
          .contains("cannot be recomputed after unpersisting"))
        Filter.Result.DENY
      else Filter.Result.NEUTRAL
  }

  /** Runs `body` with [[UnpersistWarning]] on the root logger config
    * (where Spark's RDD loggers resolve); a non-log4j2 backend runs it
    * unfiltered. */
  private def withoutUnpersistWarning(body: => Unit): Unit =
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val root = ctx.getConfiguration.getRootLogger
        root.addFilter(UnpersistWarning)
        try body finally root.removeFilter(UnpersistWarning)
      case _ => body
    }
}
