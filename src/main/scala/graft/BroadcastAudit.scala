package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Fleet audit for the tx9/tx46 finding: flag every query whose
  * STATIC plan broadcasts a subtree that scans a FACT-scale table
  * (documents/embeddings/lineitem/orders/events) — the shape that
  * looks fine at toy scale and ships the corpus to every executor at
  * 100 TB. Dim-only broadcasts (region/nation/part/supplier/customer,
  * literals, ranges) are the intended pattern and pass silently.
  *
  * Run at a SMALL sf on purpose: smaller estimates broadcast MORE, so
  * the flag set is a superset of any larger tier's — each flag is
  * then adjudicated (deliberate bounded aggregate vs hazard) by hand,
  * in NOTES. AQE runtime conversions to broadcast are out of scope:
  * those are evidence-based (actual sizes), not estimate-based.
  *
  *   sbt 'runMain graft.BroadcastAudit [sfDir]'
  *
  * Building a frame may execute Materialize seams (eager
  * checkpoints), so the audit releases each query's lifecycle like
  * every measurement loop does.
  */
object BroadcastAudit {
  val FactTables = Seq("documents", "embeddings", "lineitem", "orders",
    "events")

  /** Deep node list that looks THROUGH AdaptiveSparkPlanExec wrappers
    * (their `collect` does not traverse the wrapped plan). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      nodes(a.executedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  def factLeaves(p: SparkPlan): Seq[String] =
    nodes(p).collect {
      case s: FileSourceScanExec =>
        val loc = s.relation.location.rootPaths.mkString(",")
        FactTables.filter(t => loc.contains(t + ".parquet"))
    }.flatten.distinct

  /** The classifier: every broadcast side in `plan` that scans a fact
    * table AND contains a Generate (explode) with NO measured
    * Materialize checkpoint between — fan-out-blind estimates, the
    * class whose toy-tier broadcast decision survives tiers longer
    * than it should. Three classes pass silently:
    *
    *   - MEASURED — the side contains a Materialize checkpoint (RDD
    *     scan): the seam swapped in measured BlockManager bytes, so
    *     the decision is evidence-based and re-made per tier.
    *   - SCAN-PROP — plain (filtered/projected) fact scan: the
    *     estimate is proportional to file size and self-corrects as
    *     the data grows.
    *   - dim-only broadcasts — the intended pattern.
    *
    * Returns (fact tables, subtree head) per flagged side. */
  def fanoutBlindSides(plan: SparkPlan): Seq[(Seq[String], String)] = {
    val sides = nodes(plan).collect {
      case b: BroadcastExchangeExec => b.child
      case b: BroadcastNestedLoopJoinExec =>
        if (b.buildSide.toString.contains("Left")) b.left else b.right
    }
    sides.flatMap { side =>
      val facts = factLeaves(side)
      val ns = nodes(side)
      val measured = ns.exists {
        case _: org.apache.spark.sql.execution.RDDScanExec => true
        case _ => false
      }
      val fanout = ns.exists {
        case _: org.apache.spark.sql.execution.GenerateExec => true
        case _ => false
      }
      if (facts.nonEmpty && !measured && fanout)
        Some((facts, side.toString.linesIterator.filterNot(_.trim.isEmpty)
          .take(4).map(_.take(150)).mkString("\n    | ")))
      else None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(Harness.SfDir)
    val spark = Harness.session(Harness.Cpus)
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        fanoutBlindSides(plan).foreach { case (facts, head) =>
          flagged += 1
          println(s"FLAG $name FANOUT-BLIND broadcast of ${facts.mkString(",")}:\n    | " + head)
        }
      } catch {
        case e: Exception => println(s"ERR $name ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      } finally {
        graft.ops.Materialize.releaseAll(spark)
      }
    }
    println(s"[broadcast-audit] $sfDir flagged=$flagged of ${SparkEntry.queries.size}")
    spark.stop()
  }
}
