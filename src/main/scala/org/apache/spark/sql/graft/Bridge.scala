package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's Column wraps a ColumnNode (the
  * Connect-compatible representation), so lifting a custom Catalyst
  * Expression into a Column goes through the classic-session
  * ExpressionUtils, which is private[sql] — hence this one-file shim in
  * the org.apache.spark.sql namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Replace a locally-checkpointed frame's carried-over optimizer
    * statistics with the MEASURED size of its materialized blocks.
    *
    * `Dataset.localCheckpoint` builds its `LogicalRDD` via
    * `fromDataset`, which preserves the ORIGINAL optimized plan's
    * `Statistics` so downstream planning keeps working — but those are
    * estimates, and for corpus-derived intermediates (exploded shingle
    * tables, banded signatures) they under-estimate badly enough that
    * Catalyst broadcast-joins tables holding the whole corpus (the
    * round-8 sf1 60×/36× blowups). The blocks are ALREADY materialized
    * by the eager checkpoint, so the truth is one BlockManager lookup
    * away: rebuild the `LogicalRDD` with `originStats` = the EXACT
    * on-wire size, measured by one map-side pass over the just-stored
    * blocks summing each `UnsafeRow`'s binary length (the same bytes a
    * broadcast or shuffle of this table would write — the unit
    * `sizeInBytes` means at parquet scans, so the broadcast threshold
    * compares like with like; deserialized heap size runs ~3× high
    * and would veto genuinely-broadcastable small-tier tables). The
    * pass is local-memory-only (no shuffle), runs once per
    * materialization, and yields the exact `rowCount` for free, which
    * sharpens every downstream cardinality estimate. Genuinely small
    * frames measure small and stay broadcastable; corpus-sized frames
    * measure big and plan as shuffle joins — no static hints needed.
    * A non-UnsafeRow row (possible if a future checkpoint path stops
    * copying UnsafeRows) falls back to the schema's default row width.
    * `originConstraints` are dropped (None): they only feed
    * constraint-propagation simplifications, and the checkpoint seam
    * is a deliberate optimization barrier anyway. */
  def withMeasuredStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = df.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val fallbackRow = lr.schema.defaultSize.toLong
        val (bytes, rows) = lr.rdd
          .mapPartitions { it =>
            var b = 0L; var n = 0L
            it.foreach { r =>
              b += (r match {
                case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                  u.getSizeInBytes.toLong
                case _ => fallbackRow
              })
              n += 1
            }
            Iterator((b, n))
          }
          .fold((0L, 0L)) { case ((b1, n1), (b2, n2)) => (b1 + b2, n1 + n2) }
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          // never 0: Catalyst treats sizeInBytes=0 as "empty, broadcast
          // anything"; an empty checkpoint is still honest at 1 byte
          sizeInBytes = BigInt(bytes).max(1),
          rowCount = Some(BigInt(rows)))
        org.apache.spark.sql.classic.Dataset.ofRows(
          spark, lr.copy()(spark, Some(stats), None))
      case _ => df
    }
  }

  /** The row count a checkpointed frame's stats carry, read without a
    * job: exact for a seam [[withMeasuredStats]] measured. None when the
    * frame is not a checkpoint (a durable seam reads back as a parquet
    * scan) or its stats carry no count. */
  def measuredRowCount(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.computeStats().rowCount.map(_.toLong)
      case _ => None
    }

  /** Blocks until every event posted so far has reached the listeners
    * (`waitUntilEmpty` is private[spark]): a listener's counts are
    * complete only after the bus drains. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The sizeInBytes the optimizer will see for this frame's root. It
    * feeds the seam ratchet's byte sum and the `hashJoinIfFits` gate
    * (both in `graft.ops.Materialize`), and spec gates assert
    * measured-vs-estimated sizes with it without reparsing explain
    * text. */
  def rootSizeInBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `TypeCollection`/`AbstractDataType` are private[sql]; a custom
    * binary expression that accepts INT-or-BIGINT on both sides (e.g.
    * zorder2) can return this from `inputTypes` (with an inferred
    * override type, since the element type isn't nameable outside). */
  def intOrLongPair: Seq[org.apache.spark.sql.types.AbstractDataType] = {
    val t = org.apache.spark.sql.types.TypeCollection(
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    Seq(t, t)
  }
}
