package repobench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records every Spark job (its call site, stages, tasks
  * and task metrics), every task's running interval, and the planning time
  * of every query execution. Events arrive on Spark's listener bus; the
  * record is kept in memory and handed to the run record by [[finish]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val start: Long, val site: String,
      val execution: String) {
    var end = -1L
    var stages, singleTaskStages, tasks = 0L
    var taskMs, shuffleWrite, shuffleRead, scanBytes, scanRows, spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // every stage of a new job carries the job's call site as its name
    // ("parquet at Tables.scala:17"); the result stage has the highest id
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    val job = new Job(e.jobId, e.time, site, execution)
    jobs(e.jobId) = job
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { j =>
      j.stages += 1
      if (info.numTasks == 1) j.singleTaskStages += 1
      j.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans += ((funcName, phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def settled: Boolean = synchronized(jobs.values.forall(_.end >= 0))

  /** Waits for the listener bus to deliver the last events, detaches, and
    * returns the record's JSON fields. */
  def finish(spark: SparkSession): Seq[(String, String)] = {
    var seen = -1
    var waited = 0
    while (waited < 30000 && !(settled && seen == synchronized(taskSpans.size + plans.size))) {
      seen = synchronized(taskSpans.size + plans.size)
      Thread.sleep(200); waited += 200
    }
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      Seq(
        "jobs" -> Json.arr(jobs.values.toSeq.map(j => Json.obj(Seq(
          "id" -> Json.num(j.id), "start_ms" -> Json.num(j.start.toDouble),
          "end_ms" -> Json.num(j.end.toDouble), "site" -> Json.str(j.site),
          "execution" -> Json.str(j.execution),
          "stages" -> Json.num(j.stages.toDouble),
          "single_task_stages" -> Json.num(j.singleTaskStages.toDouble),
          "tasks" -> Json.num(j.tasks.toDouble),
          "task_s" -> Json.num(j.taskMs / 1000.0),
          "shuffle_write" -> Json.num(j.shuffleWrite.toDouble),
          "shuffle_read" -> Json.num(j.shuffleRead.toDouble),
          "scan_bytes" -> Json.num(j.scanBytes.toDouble),
          "scan_rows" -> Json.num(j.scanRows.toDouble),
          "spill" -> Json.num(j.spill.toDouble))))),
        "tasks" -> Json.arr(taskSpans.toSeq.map { case (a, b) =>
          Json.arr(Seq(Json.num(a.toDouble), Json.num(b.toDouble))) }),
        "plans" -> Json.arr(plans.toSeq.map { case (f, start, ms) =>
          Json.obj(Seq("func" -> Json.str(f), "start_ms" -> Json.num(start.toDouble),
            "plan_s" -> Json.num(ms / 1000.0))) }))
    }
  }
}

object Recorder {
  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  /** Bytes of RDD storage the session holds (the seam's checkpoints). */
  def heldBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
