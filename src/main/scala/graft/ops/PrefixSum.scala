package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable ordered prefix sums. A bare `Window.orderBy(key)` with no
  * partitionBy funnels the WHOLE dataset through one task — fine on a
  * 7-row yearly aggregate, fatal on a 100 TB corpus. The classic
  * distributed shape used here instead:
  *
  *   1. range-partition by the order key (keys are globally sorted
  *      ACROSS partitions, locally sortable within),
  *   2. per-partition local running sums (parallel windows keyed on
  *      the partition id),
  *   3. per-partition TOTALS — one tiny row per partition — collected
  *      to the driver, exclusively scanned, and broadcast back as each
  *      partition's starting offset.
  *
  * Driver-side state is O(partitions), never O(rows) — the same
  * legitimate footprint as a broadcast threshold or AQE stats. The
  * result is identical to the single-task global window (spec-pinned)
  * but every heavy stage is parallel.
  */
object PrefixSum {

  /** EXCLUSIVE prefix sum of `valCol` in `orderCol` order (the sum of
    * all strictly-preceding rows; 0 for the first). `orderCol` must be
    * unique — it is the total order; `valCol` must be integral and
    * non-null (a null would poison every later offset in its
    * partition). Values may be negative. Appends `offset`. The range
    * step uses the session's partition count, [[Materialize.partitions]]. */
  def exclusive(df: DataFrame, orderCol: String, valCol: String): DataFrame = {
    val ranged = df
      .repartitionByRange(Materialize.partitions(df.sparkSession), col(orderCol))
      .withColumn("__pid", spark_partition_id())
    // inclusive local sum, made exclusive by subtracting the row itself:
    // one window, keyed on the partition id -> parallel
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    // totals + result both read it; compute once
    val local = Materialize(
      ranged.withColumn("__incl", sum(col(valCol)).over(w)),
      "prefix_local")
    // partition totals: O(partitions) rows on the driver. sum(), NOT
    // max(running sum) — the running max diverges from the total the
    // moment a negative value appears, and this is a general utility.
    // The same aggregation pass CHECKS the documented contract instead
    // of trusting it: a duplicated or null order key silently corrupts
    // every offset after it (the RANGE window frame sums all peers), and
    // a null value poisons its partition's total — fail loudly here,
    // where the cause is nameable, not downstream where it's a wrong
    // number. Range partitioning co-locates equal keys, so per-partition
    // distinctness is globally sufficient.
    val stats = local.groupBy("__pid")
      .agg(sum(col(valCol)).cast("long").as("__tot"),
        count(lit(1)).as("__rows"),
        count(col(orderCol)).as("__keys"),
        countDistinct(col(orderCol)).as("__dist"),
        count(col(valCol)).as("__vals"))
      .collect()
    stats.foreach { r =>
      val (rows, keys, dist, vals) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      require(keys == rows && dist == rows,
        s"PrefixSum.exclusive: order column '$orderCol' must be unique " +
          s"and non-null (partition ${r.getInt(0)}: $rows rows, " +
          s"$keys non-null, $dist distinct)")
      require(vals == rows,
        s"PrefixSum.exclusive: value column '$valCol' must be non-null " +
          s"(partition ${r.getInt(0)}: ${rows - vals} nulls)")
    }
    val totals = stats.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val starts = totals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, tot)) => (pid, acc + tot)
    }.init.map { case (_, acc) => acc } // exclusive: offset of partition i
    // ONE map-literal lookup, not a nested when/coalesce chain per
    // partition — a deep conditional tree sends Catalyst's common-
    // subexpression analysis into a tailspin at high partition counts
    val startsByPid = totals.map(_._1).zip(starts).toMap
    val startCol =
      if (startsByPid.isEmpty) lit(0L)
      else coalesce(
        element_at(typedLit(startsByPid), col("__pid")), lit(0L))
    local
      .withColumn("offset", startCol + col("__incl") - col(valCol))
      .drop("__pid", "__incl")
  }
}
