package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.merge.Upsert

/** Property tests promised in SURVEY.md §5 (seeded randomized cases —
  * the scalacheck/scalatest bridge isn't in the offline cache, so the
  * generators are plain seeded Randoms): dedup idempotence, merge
  * idempotence, severity-bucket totality/monotonicity, decade
  * correctness, window planner cover.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._
  val rnd = new Random(42)

  test("pricing wide accumulators: exact past the int64 envelope where bigint sums wrap") {
    // rows engineered AT the documented overflow envelope
    // (model/Pricing.scala header): per-row e-6 charge p·100·100 = 9e18
    // sits just under Long.MaxValue (9.22e18), so TWO rows in one group
    // push the bigint sum past the boundary. The narrow path wraps; the
    // wide (decimal(38,0)) path must equal the BigInt ground truth.
    val p = 9.0e12 // dollars → 9e14 cents → 9e18 per-row charge_e6
    val rows = Seq(
      ("N", "O", 1.0, p, 0.0, 0.0),
      ("N", "O", 1.0, p, 0.0, 0.0),
      ("R", "F", 2.0, 100.0, 0.10, 0.05))
    val li = rows.toDF("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax")
    val perRow = BigInt(9) * BigInt(10).pow(14) * 100 * 100
    val expectWide = perRow * 2
    assert(perRow < BigInt(Long.MaxValue) && expectWide > BigInt(Long.MaxValue),
      "fixture must straddle the int64 boundary")
    val wide = graft.model.Pricing.pricingSummaryOf(li, wide = true)
      .filter(col("l_returnflag") === "N")
      .select(col("sum_charge_e6").cast("string")).as[String].head()
    assert(BigInt(wide) == expectWide, s"wide sum: $wide")
    // the narrow path past the envelope either throws (ANSI overflow
    // check, the Spark 4 default) or wraps (legacy mode) — both are
    // the failure the wide accumulator exists to prevent
    scala.util.Try(
      graft.model.Pricing.pricingSummaryOf(li, wide = false)
        .filter(col("l_returnflag") === "N")
        .select(col("sum_charge_e6")).as[Long].head()) match {
      case scala.util.Success(narrow) =>
        assert(BigInt(narrow) != expectWide,
          "narrow path should demonstrate the wraparound the wide path guards")
      case scala.util.Failure(_) => // ANSI overflow: the guarded failure
    }
    // within the envelope the two paths agree exactly (same oracle)
    val n2 = graft.model.Pricing.pricingSummaryOf(li, wide = false)
      .filter(col("l_returnflag") === "R")
      .select(col("sum_charge_e6")).as[Long].head()
    val w2 = graft.model.Pricing.pricingSummaryOf(li, wide = true)
      .filter(col("l_returnflag") === "R")
      .select(col("sum_charge_e6").cast("long")).as[Long].head()
    assert(n2 == w2 && n2 == 10000L * 90 * 105,
      s"in-envelope paths must agree: $n2 vs $w2")
  }

  test("q1b typed-decimal consumer variant equals the digit-string oracle form value-for-value") {
    // same boundary-straddling fixture as above: the typed projection
    // must carry DECIMAL(38,0) (consumers keep aggregating exactly)
    // and render to exactly the oracle-form digit strings
    val p = 9.0e12
    val li = Seq(
      ("N", "O", 1.0, p, 0.0, 0.0),
      ("N", "O", 1.0, p, 0.0, 0.0),
      ("R", "F", 2.0, 100.0, 0.10, 0.05))
      .toDF("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
    val typed = graft.model.Pricing.pricingSummaryOf(li, wide = true, typed = true)
    val strForm = graft.model.Pricing.pricingSummaryOf(li, wide = true)
    val sums = Seq("sum_qty_cents", "sum_base_cents", "sum_disc_e4", "sum_charge_e6")
    sums.foreach { c =>
      assert(typed.schema(c).dataType ==
        org.apache.spark.sql.types.DecimalType(38, 0),
        s"$c must stay a typed decimal(38,0), got ${typed.schema(c).dataType}")
      assert(strForm.schema(c).dataType ==
        org.apache.spark.sql.types.StringType)
    }
    val key = Seq("l_returnflag", "l_linestatus")
    val a = typed.select((key ++ sums).map(c => col(c).cast("string")): _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = strForm.select((key ++ sums).map(col): _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq,
      s"typed and string wide variants diverge:\n${a.toSeq}\nvs\n${b.toSeq}")
    // the consumer-facing wrapper itself (table-dir entry point) carries
    // the typed schema and renders to the q1b oracle form on real data
    val wrapper = graft.model.Pricing.pricingSummaryWideTyped(spark, GraftSpark.sf)
    sums.foreach(c => assert(wrapper.schema(c).dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0)))
    val rendered = wrapper
      .select((key ++ sums).map(c => col(c).cast("string")): _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    val oracleForm = graft.model.Pricing.pricingSummaryWide(spark, GraftSpark.sf)
      .select((key ++ sums).map(col): _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rendered.toSeq == oracleForm.toSeq)
  }

  test("severity is total and monotone over arbitrary magnitudes") {
    val order = Seq("Minor", "Light", "Moderate", "Strong", "Major", "Great")
    val mags = List.fill(200)(rnd.nextDouble() * 40 - 20)
    val got = mags.toDF("m")
      .select(col("m"), graft.functions.Functions.severity(col("m")).as("s"))
      .as[(Double, String)].collect()
    got.foreach { case (_, s) => assert(order.contains(s)) }
    got.sortBy(_._1).sliding(2).foreach {
      case Array((_, s1), (_, s2)) =>
        assert(order.indexOf(s1) <= order.indexOf(s2))
      case _ =>
    }
  }

  test("getDecade is floor-to-10 of the year for arbitrary dates") {
    val dates = List.fill(40)(
      (1500 + rnd.nextInt(1000), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)))
    val df = dates.map { case (y, m, d) => f"$y%04d-$m%02d-$d%02d" }.toDF("s")
      .select(col("s"), graft.functions.Functions.getDecade(to_timestamp(col("s"))).as("dec"))
      .as[(String, Long)].collect()
    df.foreach { case (s, dec) =>
      assert(dec == (s.take(4).toInt / 10) * 10, s)
    }
  }

  test("dropDuplicates is idempotent; output keyset equals input keyset") {
    (1 to 5).foreach { _ =>
      val pairs = List.fill(60)((rnd.nextInt(6), rnd.nextInt(4)))
      val df = pairs.toDF("a", "b")
      val once = df.dropDuplicates(Seq("a", "b"))
      assert(once.count() == pairs.distinct.size)
      assert(once.dropDuplicates(Seq("a", "b")).count() == once.count())
    }
  }

  test("antiJoinUpsert: idempotent, target rows never replaced, keys = union of keysets") {
    (1 to 5).foreach { _ =>
      val t = List.fill(20)(rnd.nextLong(16L)).distinct
      val i = List.fill(20)(rnd.nextLong(16L)).distinct
      val target = t.map(k => (k, "t")).toDF("k", "src")
      val incoming = i.map(k => (k, "i")).toDF("k", "src")
      val merged = Upsert.antiJoinUpsert(target, incoming, Seq("k"))
      val m = merged.as[(Long, String)].collect().toMap
      assert(m.keySet == (t.toSet ++ i.toSet))
      t.foreach(k => assert(m(k) == "t")) // insert-only: no updates
      assert(Upsert.antiJoinUpsert(merged, incoming, Seq("k")).count() == merged.count())
    }
  }

  test("planWindows covers any range contiguously with no over-limit window (when a day fits)") {
    (1 to 20).foreach { _ =>
      val spanDays = 1 + rnd.nextInt(400)
      val perDay = 100L + rnd.nextLong(18900L)
      val start = LocalDate.of(2000, 1, 1)
      val end = start.plusDays(spanDays)
      def count(s: LocalDate, e: LocalDate): Long =
        (java.time.temporal.ChronoUnit.DAYS.between(s, e) + 1) * perDay
      val ws = graft.ingest.Ingest.planWindows(start, end, count, eraShortcuts = Nil)
      assert(ws.head._1 == start && ws.last._2 == end)
      ws.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 == e1.plusDays(1))
        case _ =>
      }
      ws.foreach { case (s, e) => assert(count(s, e) <= 20000) }
    }
  }

  test("top-k aggregate equals the sort-based reference on random data (any partitioning)") {
    import graft.expressions.TopKPairs
    val rows = List.fill(300)((
      s"g${rnd.nextInt(5)}", rnd.nextInt(20).toLong, rnd.nextLong().abs))
    val k = 4
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sortBy { case (v, id) => (-v, id) }.take(k)
    }
    Seq(1, 3, 13).foreach { parts =>
      val got = rows.toDF("g", "v", "id").repartition(parts)
        .groupBy("g").agg(TopKPairs.topK($"v", $"id", k).as("top"))
        .as[(String, Seq[(Long, Long)])].collect().toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("as-of join equals the per-row latest-at-or-before reference on random data") {
    val probes = List.fill(150)((rnd.nextInt(6).toLong, rnd.nextInt(100).toLong))
      .zipWithIndex.map { case ((key, t), i) => (key, t, i.toLong) }
    val builds = List.fill(60)((rnd.nextInt(6).toLong, rnd.nextInt(100).toLong))
      .groupBy(identity).map { case ((key, t), _) =>
        (key, t, rnd.nextLong().abs) }.toList // unique per (k, t)
    val expected = probes.map { case (key, t, id) =>
      id -> builds.filter(b => b._1 == key && b._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
    }.toMap
    val got = graft.ops.AsOf.asofLeft(
        probes.toDF("k", "t", "event_id"),
        builds.toDF("k", "t", "o_orderkey"), "o_orderkey")
      .select("event_id", "asof_o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == expected)
  }

  test("bucketed as-of equals plain as-of under heavy key skew (one key = 50% of rows)") {
    // half the probes (and a third of the builds) land on key 0 — the
    // hot-key regime where the plain union-window puts every key-0 row
    // into one task; the bucketed variant must return identical rows
    // while sub-partitioning by the time bucket
    val probes = (0 until 400).map { i =>
      val key = if (i % 2 == 0) 0L else 1L + rnd.nextInt(5).toLong
      (key, rnd.nextInt(1000).toLong, i.toLong)
    }
    val builds = List.fill(90)((
        if (rnd.nextInt(3) == 0) 0L else 1L + rnd.nextInt(5).toLong,
        rnd.nextInt(1000).toLong))
      .distinct.map { case (key, t) => (key, t, rnd.nextLong().abs) }
    val probeDf = probes.toDF("k", "t", "event_id")
    val buildDf = builds.toDF("k", "t", "o_orderkey")
    val plain = graft.ops.AsOf.asofLeft(probeDf, buildDf, "o_orderkey")
      .select("event_id", "asof_o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    // width 64 → ~16 buckets: both within-bucket matches and
    // cross-bucket carry-in paths are exercised at every key
    Seq(64L, 7L, 5000L).foreach { width =>
      val bucketed = graft.ops.AsOf.asofLeftBucketed(
          probeDf, buildDf, "o_orderkey")(t => floor(t / width.toDouble).cast("long"))
        .select("event_id", "asof_o_orderkey")
        .as[(Long, Option[Long])].collect().toMap
      assert(bucketed == plain, s"width=$width")
    }
  }

  test("CMS on random corpora: estimate >= exact for EVERY token, sketches merge by sum") {
    import graft.ops.Sketch
    // random multiset of tokens with a skewed repeat distribution
    val vocab = Vector.tabulate(300)(i => s"tok$i")
    // the replay below reads cells through the plain-JVM md5-60 hash,
    // so first pin it to the column expression (same bytes both engines)
    val sample = Seq("a b c", "tok9", "", "x:y", "ü ñ") ++ vocab
    Seq(57, Sketch.CmsSeedBase).foreach { seed =>
      val viaCol = sample.toDF("v")
        .select(graft.functions.Functions.md5Hash60(col("v"), seed).as("h"))
        .as[Long].collect().toSeq
      assert(sample.map(Sketch.jvmHash60(_, seed)) == viaCol,
        s"jvmHash60 diverges from the md5Hash60 column expression (seed $seed)")
    }
    def cells(docs: Seq[String]) = Sketch.cmsTable(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def estimate(cms: Map[(Int, Long), Long], tok: String) =
      (0 until Sketch.CmsD).map { j =>
        val h = Sketch.jvmHash60(tok, Sketch.CmsSeedBase + j)
        cms.getOrElse((j, h & (Sketch.CmsW - 1)), 0L)
      }.min
    // four tokens in D·W = 2048 cells do not collide: exact estimates
    val small = cells(Seq("a b a c a b d"))
    Seq("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 1L).foreach { case (tok, n) =>
      assert(estimate(small, tok) == n, s"'$tok' cell replay")
    }
    for (trial <- 1 to 3) {
      val toks = List.fill(4000)(vocab(
        math.min(rnd.nextInt(300), rnd.nextInt(300)))) // skew toward low ids
      val cms = cells(toks.grouped(40).map(_.mkString(" ")).toList)
      // estimate every token from the collected cells and compare to truth
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (tok, n) =>
        val est = estimate(cms, tok)
        assert(est >= n, s"trial $trial: $tok underestimated ($est < $n)")
      }
    }
  }

  test("HLL registers on random corpora: duplicates never change the sketch") {
    import graft.ops.Sketch
    // HLL is a function of the SET of values: re-appending the same docs
    // (new ids, same text) must leave every register untouched
    val base = List.tabulate(60)(i =>
      (i.toLong, List.fill(12)(s"w${rnd.nextInt(150)}").mkString(" "), "en"))
    val once = base.toDF("doc_id", "text", "lang")
    val twice = (base ++ base.map { case (id, t, l) => (id + 1000, t, l) })
      .toDF("doc_id", "text", "lang")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketch.shingleRegisters(df)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(regs(once) == regs(twice),
      "duplicate documents changed HLL registers")
  }

  test("Bloom on random shingle sets: a member NEVER misses (plain-JVM bitmap replay)") {
    import graft.ops.Sketch
    // the one-sided guarantee on arbitrary data: every inserted value
    // probes positive against the built bitmap, whatever collides
    for (trial <- 1 to 3) {
      val members = List.fill(150)(
        s"s${rnd.nextInt(3000)} t${rnd.nextInt(3000)} u${rnd.nextInt(3000)}")
        .distinct
      val bitmap = Sketch.bloomTable(members.toDF("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def probe(v: String): Boolean = (0 until Sketch.BloomK).forall { j =>
        val bit = Sketch.jvmHash60(v, Sketch.BloomSeedBase + j) & (Sketch.BloomBits - 1)
        (bitmap.getOrElse(bit >> Sketch.BloomWordShift, 0L) &
          (1L << (bit & 31))) != 0L
      }
      members.foreach(m =>
        assert(probe(m), s"trial $trial: member '$m' missed — bloom broke one-sidedness"))
      // and the filter is not degenerate: far more non-members miss than hit
      val nonMembers = List.tabulate(300)(i => s"absent$trial-$i xyz qqq")
      val fp = nonMembers.count(probe)
      assert(fp < 30, s"trial $trial: $fp/300 false positives — bitmap saturated")
    }
  }
}
