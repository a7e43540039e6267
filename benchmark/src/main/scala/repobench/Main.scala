package repobench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Harness, SparkEntry}
import graft.ops.Materialize

/** JVM side of the benchmark; `run.py` launches it and turns the record
  * it writes into metrics.
  *
  *   oracle <file> <query>...  write the queries' DuckDB oracle SQL as JSON
  *   run <request file>        set up, check outputs, run timed passes
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: file :: names =>
      Files.writeString(Paths.get(file), Json.obj(names.map(n =>
        n -> Json.str(SparkEntry.oracleSql(n)))))
    case "run" :: request :: Nil =>
      new Run(Request.read(Paths.get(request))).apply()
    case _ =>
      System.err.println("usage: oracle <file> <query>... | run <request>")
      sys.exit(2)
  }

  def cores: String = sys.props.getOrElse("repobench.cores",
    Runtime.getRuntime.availableProcessors.toString)

  /** A session with its warm-up done: one small aggregate, so the
    * scheduler, the executor and code generation are initialised. Queries
    * are warmed by the output check that follows, outside set-up. Returns
    * the seconds from JVM start to the end of the warm-up. */
  def setUp(): (SparkSession, Double) = {
    val spark = Harness.session(cores)
    spark.range(0, 200000, 1, 4).selectExpr("sum(id % 7)").collect()
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - started) / 1000.0)
  }
}

/** What `run.py` asks one run to do (a `key=value` file; `passes` holds one
  * line per pass with the query order of that pass). */
final case class Request(data: String, out: Path, result: Path,
    sink: String, warmSeconds: Double, seconds: Double, trace: Boolean,
    passes: Seq[Seq[String]])

object Request {
  def read(p: Path): Request = {
    val lines = Files.readAllLines(p).asScala.toSeq
    val kv = lines.takeWhile(_.nonEmpty).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    Request(kv("data"), Paths.get(kv("out")), Paths.get(kv("result")),
      kv("sink"), kv("warm_seconds").toDouble, kv("seconds").toDouble,
      kv("trace") == "1",
      lines.dropWhile(_.nonEmpty).drop(1).filter(_.nonEmpty)
        .map(_.split(' ').toSeq))
  }
}

final class Run(req: Request) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private def secs(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  private def sink(df: DataFrame, name: String): Unit = req.sink match {
    case "noop" => df.write.mode("overwrite").format("noop").save()
    case "parquet" =>
      df.write.mode("overwrite").parquet(req.out.resolve(name).toString)
  }

  /** Isolation guard: nothing a query cached may survive its release, and
    * the partition ratchet must be back at the session's static value. */
  private def guard(spark: SparkSession, name: String, staticParts: String): Unit = {
    val held = spark.sparkContext.getPersistentRDDs.size
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    if (held != 0 || parts != staticParts)
      throw new IllegalStateException(s"isolation guard after $name: " +
        s"$held persistent RDDs, shuffle.partitions=$parts (static $staticParts)")
  }

  /** Row count and digest of the query's output; for the parquet sink,
    * of what was written. */
  private def checkOne(spark: SparkSession, name: String): Either[String, (Long, Long)] =
    try {
      val df = fn(name)(spark, req.data)
      try Right(req.sink match {
        case "noop" => Digest.of(df)
        case "parquet" =>
          sink(df, name)
          Digest.of(spark.read.parquet(req.out.resolve(name).toString))
      }) finally Materialize.releaseAll(spark)
    } catch { case e: Exception => Left(describe(e)) }

  private def fn(name: String) = SparkEntry.queries.getOrElse(name,
    throw new NoSuchElementException(s"unknown query $name"))

  def apply(): Unit = {
    val (spark, setupS) = Main.setUp()
    val staticParts = spark.conf.get("spark.sql.shuffle.partitions")
    val names = req.passes.headOption.getOrElse(Nil)

    // output check, outside the timed region; it is also every query's
    // first, cold run in this JVM
    val prepStart = System.nanoTime()
    val check = names.map { name =>
      val out = checkOne(spark, name)
      guard(spark, name, staticParts)
      name -> out
    }
    // untimed warm passes for warmSeconds: after one run of each query the
    // JIT is still compiling what it made hot, and the next passes are slow
    val warmUntil = System.nanoTime() + (req.warmSeconds * 1e9).toLong
    var warmPasses = 0
    while (System.nanoTime() < warmUntil) {
      names.foreach { name =>
        try sink(fn(name)(spark, req.data), name)
        catch { case _: Exception => () } // the check reported it
        finally Materialize.releaseAll(spark)
        guard(spark, name, staticParts)
      }
      warmPasses += 1
    }
    val prepS = secs(prepStart, System.nanoTime())

    val recorder = if (req.trace) Some(Recorder.attach(spark)) else None
    val passes = Vector.newBuilder[String]
    val deadline = System.nanoTime() + (req.seconds * 1e9).toLong
    val orders = req.passes.iterator
    while (System.nanoTime() < deadline && orders.hasNext) {
      val order = orders.next()
      val gc0 = gcMs
      val p0 = System.nanoTime()
      val samples = order.map(name => sample(spark, name, staticParts, recorder))
      passes += Json.obj(Seq(
        "wall_s" -> Json.num(secs(p0, System.nanoTime())),
        "gc_s" -> Json.num((gcMs - gc0) / 1000.0),
        "queries" -> Json.arr(samples)))
    }
    val trace = recorder.map(_.finish(spark))
    val result = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "prep_s" -> Json.num(prepS),
      "warm_passes" -> Json.num(warmPasses.toDouble),
      "vm_hwm_kb" -> Json.num(vmHwmKb.toDouble),
      "cores" -> Json.str(Main.cores),
      "check" -> Json.obj(check.map {
        case (n, Right((rows, d))) =>
          n -> Json.obj(Seq("rows" -> Json.num(rows.toDouble), "digest" -> Json.str(Digest.hex(d))))
        case (n, Left(err)) => n -> Json.obj(Seq("error" -> Json.str(err)))
      }),
      "passes" -> Json.arr(passes.result())) ++ trace.toSeq.flatten)
    Files.writeString(req.result, result)
    spark.stop()
  }

  /** One timed sample: construct → action → release. With tracing on, the
    * seam's held storage is read just before release and the sink's files
    * are counted after the sample; neither is inside a phase. */
  private def sample(spark: SparkSession, name: String, staticParts: String,
      recorder: Option[Recorder]): String = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2, r0, r1 = -1L
    var held = 0L
    var error: Option[String] = None
    try {
      val df = fn(name)(spark, req.data)
      t1 = System.nanoTime()
      sink(df, name)
      t2 = System.nanoTime()
      if (recorder.isDefined) held = Recorder.heldBytes(spark)
    } catch { case e: Exception =>
      error = Some(describe(e))
      val t = System.nanoTime()
      if (t1 < 0) t1 = t
      if (t2 < 0) t2 = t
    } finally {
      r0 = System.nanoTime()
      Materialize.releaseAll(spark)
      r1 = System.nanoTime()
    }
    guard(spark, name, staticParts)
    val sinkFiles = if (recorder.isDefined && req.sink == "parquet" && error.isEmpty) {
      val listing = Files.list(req.out.resolve(name))
      val files = try listing.iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally listing.close()
      Seq("sink_files" -> Json.num(files.size.toDouble),
        "sink_bytes" -> Json.num(files.map(Files.size).sum.toDouble))
    } else Nil
    Json.obj(Seq(
      "name" -> Json.str(name),
      "start_ms" -> Json.num(startMs.toDouble),
      "construct_s" -> Json.num(secs(t0, t1)),
      "action_s" -> Json.num(secs(t1, t2)),
      "release_s" -> Json.num(secs(r0, r1)),
      "release_at_s" -> Json.num(secs(t0, r0)),
      "wall_s" -> Json.num(secs(t0, r1)),
      "held_bytes" -> Json.num(held.toDouble)) ++ sinkFiles ++
      error.map(e => "error" -> Json.str(e)).toSeq)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
