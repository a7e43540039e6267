package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Materialize, Similarity}

/** The persistence seam: every LSH-family operator must produce
  * identical results whether its intermediates live as executor-local
  * checkpoints (run-once driver shape) or as durable parquet tables
  * under the session's storage directory (the fault-tolerant warehouse
  * lifecycle). */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = GraftSpark.sf

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("minhash LSH pairs: storage-mode intermediates == local-checkpoint mode, files on disk") {
    val dir = Files.createTempDirectory("graft_mat").toString
    val local = rows(Dedup.minhashLshQuery(spark, sf))
    val stored = Materialize.storingUnder(spark, dir)(
      rows(Dedup.minhashLshQuery(spark, sf)))
    assert(stored == local)
    // the shingle table really was persisted as readable parquet
    assert(spark.read.parquet(s"$dir/minhash_shingles").count() > 0)
  }

  test("n-gram Jaccard: storage mode == local mode") {
    val dir = Files.createTempDirectory("graft_mat").toString
    val local = rows(Dedup.ngramJaccardPairs(spark, sf))
    val stored = Materialize.storingUnder(spark, dir)(
      rows(Dedup.ngramJaccardPairs(spark, sf)))
    assert(stored == local)
    assert(spark.read.parquet(s"$dir/jaccard_shingles").count() > 0)
  }

  test("bloom decontamination and contamination score: storage mode == local mode") {
    import graft.ops.{Sketch, TextStats}
    val dir = Files.createTempDirectory("graft_mat").toString
    val localB = rows(Sketch.bloomDecontaminateOf(Tables.documents(spark, sf)))
    val storedB = Materialize.storingUnder(spark, dir)(
      rows(Sketch.bloomDecontaminateOf(Tables.documents(spark, sf))))
    assert(storedB == localB)
    assert(spark.read.parquet(s"$dir/bloom_shingles").count() > 0)
    val localC = rows(TextStats.contaminationScore(spark, sf))
    val storedC = Materialize.storingUnder(spark, dir)(
      rows(TextStats.contaminationScore(spark, sf)))
    assert(storedC == localC)
    assert(spark.read.parquet(s"$dir/contam_shingles").count() > 0)
  }

  test("label propagation rounds persist and converge identically in storage mode") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("u", "v")
    val dir = Files.createTempDirectory("graft_mat").toString
    // threshold 0: the distributed loop, whose rounds are seams
    val local = rows(Dedup.labelPropagation(edges, localThreshold = 0L)
      .orderBy("id"))
    val stored = Materialize.storingUnder(spark, dir)(
      rows(Dedup.labelPropagation(edges, localThreshold = 0L).orderBy("id")))
    assert(stored == local)
    assert(spark.read.parquet(s"$dir/cc_round_0").count() > 0)
  }

  test("IVF top-k: storage mode == local mode") {
    val dir = Files.createTempDirectory("graft_mat").toString
    val local = rows(Similarity.ivfTopK(spark, sf))
    val stored = Materialize.storingUnder(spark, dir)(
      rows(Similarity.ivfTopK(spark, sf)))
    assert(stored == local)
    assert(spark.read.parquet(s"$dir/ivf_quantized").count() > 0)
  }

  test("releaseAll drops every cached and checkpointed block") {
    val sc = spark.sparkContext
    Dedup.minhashLshQuery(spark, sf).count() // leaves Local blocks behind
    assert(sc.getPersistentRDDs.nonEmpty)
    Materialize.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
  }

  test("Local mode injects MEASURED stats: array-heavy frames stop under-reporting, small frames stay broadcastable") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    Materialize.releaseAll(spark)
    // the round-8 sf1 failure shape: a collect_list aggregate whose
    // optimizer estimate uses fixed default column widths (tiny) while
    // the real rows carry 200-element string arrays (tens of MB)
    val arrayHeavy = spark.range(400000).toDF("id")
      .withColumn("g", col("id") % 2000)
      .groupBy("g")
      .agg(collect_list(md5(col("id").cast("string"))).as("hs"))
    // counterfactual: what the optimizer believed BEFORE measurement —
    // the raw checkpoint preserves the pre-checkpoint estimate
    val carried = Bridge.rootSizeInBytes(arrayHeavy)
    val mat = Materialize(arrayHeavy, "stats_probe")
    val measured = Bridge.rootSizeInBytes(mat)
    val thresholdB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    info(s"carried=$carried measured=$measured threshold=$thresholdB")
    assert(measured > carried,
      s"measured stats ($measured) must exceed the carried-over " +
        s"under-estimate ($carried) for an array-heavy aggregate")
    assert(measured > 10L * 1024 * 1024,
      s"the probe frame should really be >10MB in memory, got $measured")
    // broadcast consequence: joined against a fact side (itself past
    // the broadcast threshold, 3M×8B), the measured size keeps the
    // plan keyed (pre-fix, the under-estimate let Catalyst broadcast
    // the whole corpus-derived table)
    val fact = spark.range(3000000).toDF("g")
    val keyedPlan = fact.join(mat, "g").queryExecution.executedPlan.toString
    assert(!keyedPlan.contains("BroadcastHashJoin"), keyedPlan.take(1500))
    // and a genuinely small materialized frame still measures small and
    // still broadcasts — no blanket anti-broadcast tax
    val small = Materialize(
      spark.range(200).toDF("g").withColumn("x", col("g") * 2),
      "stats_small")
    assert(Bridge.rootSizeInBytes(small) < 10L * 1024 * 1024)
    val bcastPlan = fact.join(small, "g").queryExecution.executedPlan.toString
    assert(bcastPlan.contains("BroadcastHashJoin"), bcastPlan.take(1500))
    Materialize.releaseAll(spark)
  }

  test("hashJoinIfFits: autoBroadcastJoinThreshold=-1 (broadcast disabled) disables the hint, no parse crash") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = Materialize(spark.range(100).toDF("g"), "neg_thresh")
      // negative threshold → threshold > 0 guard disables the hint
      val hinted = Materialize.hashJoinIfFits(df)
      assert(hinted.queryExecution.logical.toString ==
        df.queryExecution.logical.toString)
      Materialize.releaseAll(spark)
    } finally spark.conf.set(key, saved)
  }

  test("the storage directory is a session setting that storingUnder scopes") {
    val dir = Files.createTempDirectory("graft_mat").toString
    assert(spark.conf.getOption(Materialize.DurableDirKey).isEmpty)
    val local = Materialize(spark.range(5).toDF("id"), "scoped_probe")
    assert(local.inputFiles.isEmpty) // a checkpoint, not a file scan
    Materialize.storingUnder(spark, dir) {
      assert(spark.conf.getOption(Materialize.DurableDirKey).contains(dir))
      val stored = Materialize(spark.range(5).toDF("id"), "scoped_probe")
      assert(stored.inputFiles.nonEmpty &&
        stored.inputFiles.forall(_.contains("scoped_probe")))
      assert(stored.count() == 5L)
    }
    // restored: the next seam is local again
    assert(spark.conf.getOption(Materialize.DurableDirKey).isEmpty)
    Materialize.releaseAll(spark)
  }

  test("releaseAll mutes Spark's unpersist-after-checkpoint warning, and only inside the release") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val sc = spark.sparkContext
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("unpersist-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    def warnings =
      lines.asScala.count(_.contains("cannot be recomputed after unpersisting"))
    try {
      Materialize.releaseAll(spark)
      Dedup.minhashLshQuery(spark, sf).count() // leaves local checkpoints behind
      assert(sc.getPersistentRDDs.nonEmpty)
      lines.clear()
      Materialize.releaseAll(spark)
      assert(sc.getPersistentRDDs.isEmpty)
      assert(warnings == 0, lines.asScala.mkString("\n"))
      // the same unpersist outside releaseAll still warns: the capture
      // is live and the mute ends with the release
      spark.range(10).toDF("id").localCheckpoint(true)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(warnings == 1, lines.asScala.mkString("\n"))
    } finally {
      root.removeAppender(capture.getName)
      capture.stop()
      Materialize.releaseAll(spark)
    }
  }
}
