package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.epochDay

/** Data-layout operators: compute the clustering keys a 100-TB table
  * is physically ordered by. Z-ordering (bit-interleaving two scan
  * dimensions) is what makes min/max file statistics tight on BOTH
  * columns at once, so a predicate on either dimension prunes files —
  * single-column sort gives perfect pruning on one dimension and none
  * on the other. The engine-side deliverables are (a) the key itself
  * as a pure codegen projection (no shuffle, no UDF) and (b) the
  * per-bucket min/max manifest — exactly the file-skipping statistics
  * a writer would persist. Public technique: Morton order, as used by
  * Delta OPTIMIZE ZORDER / Iceberg sort orders.
  */
object Layout {

  /** Bits kept per dimension (32-bit z-value total). */
  val ZBits = 16
  /** Manifest granularity: top bits of z → 2^10 buckets ("files"). */
  val ZBucketBits = 10

  /** Morton interleave of the low [[ZBits]] bits of x (even positions)
    * and y (odd positions) — a flat sum of 2·[[ZBits]] shift/mask
    * terms, entirely inside whole-stage codegen. */
  def interleave(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** lay1 — z-order layout manifest over lineitem on (ship day,
    * partkey): per z-bucket row count and min/max of BOTH dimensions,
    * i.e. the per-file statistics a z-ordered writer would persist.
    * Tight spans on both columns in every bucket are the pruning
    * property (the spec quantifies it against a single-column sort).
    *
    * Each dimension is range-normalized onto the full 2^[[ZBits]]
    * domain first — the step every production z-order does (raw values
    * leave the interleave's high bits constant and the manifest
    * degenerate, measured here: 2 occupied buckets unnormalized vs
    * ~full occupancy after). The min/max pair comes from one tiny
    * aggregate broadcast back; scaling is exact integer multiply +
    * integer division (operands bounded well under 2^63), truncation =
    * floor for the non-negative operands so both engines agree.
    *
    * One codegen projection + one keyed aggregation; the writer-side
    * twin is `repartitionByRange(z).sortWithinPartitions(z)` over the
    * same key (IoSpec covers the write path). */
  def zorderManifest(s: SparkSession, d: String): DataFrame =
    zorderManifestOf(Tables.lineitem(s, d))

  def zorderManifestOf(li: DataFrame): DataFrame = {
    val base = li.select(
      datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("xr"),
      col("l_partkey").as("yr"))
    val stats = base.agg(
      min("xr").as("xmin"), max("xr").as("xmax"),
      min("yr").as("ymin"), max("yr").as("ymax"))
    val top = (1L << ZBits) - 1
    def norm(v: String, lo: String, hi: String): Column =
      when(col(hi) === col(lo), lit(0L))
        .otherwise(expr(s"(($v - $lo) * $top) div ($hi - $lo)"))
    base.crossJoin(broadcast(stats))
      .withColumn("x", norm("xr", "xmin", "xmax"))
      .withColumn("y", norm("yr", "ymin", "ymax"))
      .withColumn("z", interleave(col("x"), col("y")))
      .withColumn("bucket", shiftright(col("z"), 2 * ZBits - ZBucketBits))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("xr").as("day_min"), max("xr").as("day_max"),
        min("yr").as("part_min"), max("yr").as("part_max"))
      .withColumn("day_span", col("day_max") - col("day_min"))
      .withColumn("part_span", col("part_max") - col("part_min"))
      .orderBy("bucket")
  }

  /** DuckDB replay: same normalization (// = floor = truncation on
    * non-negative longs), same 32-term interleave, same manifest. */
  val zorderManifestOracle: String = {
    val terms = (0 until ZBits).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    val top = (1L << ZBits) - 1
    s"""WITH d AS (
       |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
       |           AS xr,
       |         l_partkey AS yr
       |  FROM lineitem),
       |st AS (SELECT min(xr) AS xmin, max(xr) AS xmax,
       |              min(yr) AS ymin, max(yr) AS ymax FROM d),
       |nz AS (
       |  SELECT xr, yr,
       |    CASE WHEN xmax = xmin THEN 0
       |         ELSE ((xr - xmin) * $top) // (xmax - xmin) END AS x,
       |    CASE WHEN ymax = ymin THEN 0
       |         ELSE ((yr - ymin) * $top) // (ymax - ymin) END AS y
       |  FROM d, st),
       |z AS (SELECT xr, yr, $terms AS z FROM nz)
       |SELECT z >> ${2 * ZBits - ZBucketBits} AS bucket,
       |  count(*) AS n_rows,
       |  min(xr) AS day_min, max(xr) AS day_max,
       |  min(yr) AS part_min, max(yr) AS part_max,
       |  max(xr) - min(xr) AS day_span, max(yr) - min(yr) AS part_span
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** Target rows per compacted output file for [[compactionPlan]] —
    * sized so the sf-series fixtures plan a handful of output files
    * per partition; a production run sets this from target file bytes
    * / avg row width. */
  val CompactTargetRows = 2000L

  /** lay2 — small-file compaction planner (the OPTIMIZE/bin-pack step
    * of Delta/Iceberg maintenance): the "file manifest" is the per-
    * (day, shard) row-count table of events (shard = user_id mod 64 —
    * the write layout a per-executor streaming sink produces), and
    * within each day the planner assigns files to output buckets by
    * FIRST-FIT-IN-ORDER bin packing: walking files in shard order,
    * bucket = floor(cumulative rows BEFORE this file / target), so
    * every output file lands within one input file of the target size
    * — the standard deterministic compaction contract.
    *
    * Scale shape: the manifest aggregation is one keyed shuffle over
    * the scan; the two planning windows run on the AGGREGATED manifest
    * partitioned by day — O(shards) rows per partition, never the
    * event stream (the dq6/inc3 bounded-spine argument). Pure integer
    * arithmetic throughout. A real deployment swaps the count for
    * sum(file_bytes); the plan algebra is identical. */
  def compactionPlan(s: SparkSession, d: String): DataFrame =
    compactionPlanOf(Tables.events(s, d))

  /** [[compactionPlan]] over an explicit events frame; `target` is the
    * rows-per-output-file goal (defaults to [[CompactTargetRows]]). */
  def compactionPlanOf(
      events: DataFrame,
      target: Long = CompactTargetRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = events
      .filter(col("ts").isNotNull)
      .groupBy(
        epochDay(col("ts")).as("day"),
        pmod(col("user_id"), lit(64L)).as("shard"))
      .agg(count(lit(1)).as("n_rows"))
    val wBefore = Window.partitionBy("day").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1L)
    val planned = files
      .withColumn("cum_before",
        coalesce(sum(col("n_rows")).over(wBefore), lit(0L)))
      .withColumn("out_bucket", expr(s"cum_before div $target"))
    val wBucket = Window.partitionBy("day", "out_bucket")
    planned
      .withColumn("bucket_rows", sum(col("n_rows")).over(wBucket))
      .withColumn("bucket_files", count(lit(1)).over(wBucket))
      .select(col("day"), col("shard"), col("n_rows"), col("cum_before"),
        col("out_bucket"), col("bucket_rows"), col("bucket_files"))
      .orderBy("day", "shard")
  }

  val compactionPlanOracle: String =
    s"""WITH files AS (
       |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |           AS BIGINT) AS day,
       |         CAST(user_id % 64 + CASE WHEN user_id % 64 < 0
       |           THEN 64 ELSE 0 END AS BIGINT) AS shard,
       |         count(*) AS n_rows
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
       |planned AS (
       |  SELECT day, shard, n_rows,
       |    CAST(coalesce(sum(n_rows) OVER (PARTITION BY day ORDER BY shard
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM files),
       |b AS (
       |  SELECT *, cum_before // $CompactTargetRows AS out_bucket
       |  FROM planned)
       |SELECT day, shard, n_rows, cum_before, out_bucket,
       |  CAST(sum(n_rows) OVER (PARTITION BY day, out_bucket) AS BIGINT)
       |    AS bucket_rows,
       |  CAST(count(*) OVER (PARTITION BY day, out_bucket) AS BIGINT)
       |    AS bucket_files
       |FROM b ORDER BY day, shard""".stripMargin
}
