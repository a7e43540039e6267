package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.Clean
import graft.merge.Upsert

class OperatorSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._
  val sf = GraftSpark.sf

  test("clean pipeline filters, dedups (arbitrary survivor) and fills (clean_historical.py:16-57)") {
    val raw = Seq(
      ("p1", "2020-01-01 00:00:00", 5.0, Some(10.0)),  // keeper
      ("p1", "2020-01-01 00:00:00", 5.0, Some(10.0)),  // dup of keeper
      ("p2", "2020-01-01 00:00:00", 11.0, Some(1.0)),  // mag out of range
      ("p3", "2020-01-01 00:00:00", -2.0, Some(1.0)),  // mag out of range
      ("p4", "1499-12-31 00:00:00", 5.0, Some(1.0)),   // ts out of range
      ("p5", "2020-01-01 00:00:00", 5.0, None)         // null depth → filled 0
    ).toDF("place", "ts_s", "magnitude", "depth")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val out = Clean.cleanEvents(raw, "magnitude", "ts",
      "1500-01-01 00:00:00", "2025-07-31 00:00:00", -1.0, 10.0,
      dedupKeys = Seq("place", "ts"), fillZero = Seq("depth"))

    val rows = out.select("place", "depth").as[(String, Double)].collect().toMap
    assert(rows.keySet == Set("p1", "p5"))
    assert(rows("p5") == 0.0)
  }

  test("dropDuplicates keeps exactly one row per key regardless of partitioning (D1)") {
    val df = Tables.events(spark, sf)
    val n1 = df.dropDuplicates(Seq("user_id", "event_type")).count()
    val n2 = df.repartition(7).dropDuplicates(Seq("user_id", "event_type")).count()
    val distinct = df.select("user_id", "event_type").distinct().count()
    assert(n1 == distinct && n2 == distinct)
  }

  test("antiJoinUpsert is idempotent on replay (MERGE semantics, dag:176-192)") {
    val target = Seq((1L, "t"), (2L, "t")).toDF("k", "src")
    val incoming = Seq((2L, "i"), (3L, "i")).toDF("k", "src")
    val once = Upsert.antiJoinUpsert(target, incoming, Seq("k"))
    assert(once.count() == 3)
    assert(once.filter($"k" === 2L && $"src" === "i").count() == 0)
    val twice = Upsert.antiJoinUpsert(once, incoming, Seq("k"))
    assert(twice.count() == 3)
    // j4's shape on real data (target = pre-2000 orders, incoming = big
    // orders): folding the merge over 500-row chunks == the one-shot merge
    val orders = Tables.orders(spark, sf)
    val target0 = orders.filter($"o_orderdate" < lit("2000-01-01").cast("timestamp"))
      .select($"o_orderkey".as("k"), lit("existing").as("src"))
    val big = orders.filter($"o_totalprice" > 300000)
      .select($"o_orderkey".as("k"), lit("inserted").as("src"))
      .as[(Long, String)].collect().toSeq
    val chunked = big.grouped(500).foldLeft(target0) { (t, chunk) =>
      Upsert.antiJoinUpsert(t, chunk.toDF("k", "src"), Seq("k"))
    }.as[(Long, String)].collect().toSet
    val oneShot = Upsert.antiJoinUpsert(target0, big.toDF("k", "src"), Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(big.size > 500 && oneShot.nonEmpty && chunked == oneShot,
      s"chunked only ${(chunked -- oneShot).take(5)}, " +
        s"one-shot only ${(oneShot -- chunked).take(5)}")
  }

  test("cogroup reconciliation: per-key two-sided diff matches the outer-join computation") {
    import graft.ops.Reconcile
    // asymmetric sides: keys only-left, only-right, both; dup rows
    val left = Seq((1L, 10L), (1L, 5L), (2L, 7L), (4L, 1L)).toDS()
    val right = Seq((1L, 8L), (3L, 9L), (4L, 1L), (4L, 2L)).toDS()
    val got = Reconcile.keyedDiff(left, right)
      .collect().map(d => d.key -> d).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == Reconcile.KeyDiff(1L, 2, 1, 15, 8, 7))
    assert(got(2L) == Reconcile.KeyDiff(2L, 1, 0, 7, 0, 7))
    assert(got(3L) == Reconcile.KeyDiff(3L, 0, 1, 0, 9, -9))
    assert(got(4L) == Reconcile.KeyDiff(4L, 1, 2, 1, 3, -2))
    // against the fixture tables: events cents vs a perturbed copy
    // must reconcile to zero delta except where perturbed
    val ev = Tables.events(spark, GraftSpark.sf)
      .filter($"value".isNotNull)
      .select($"user_id", round($"value" * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val perturbed = ev.map { case (u, c) => (u, if (u == 3L) c + 1 else c) }
    val diffs = Reconcile.keyedDiff(ev, perturbed).collect()
    val bad = diffs.filter(_.delta != 0L)
    assert(bad.forall(_.key == 3L) && bad.nonEmpty,
      s"unexpected deltas: ${bad.take(3).mkString(",")}")
  }

  test("keyedDiffFrame (codegen form) == keyedDiff (cogroup form), synthetic and rc1 shape") {
    import graft.ops.Reconcile
    val left = Seq((1L, 10L), (1L, 5L), (2L, 7L), (4L, 1L)).toDS()
    val right = Seq((1L, 8L), (3L, 9L), (4L, 1L), (4L, 2L)).toDS()
    val viaFrame = Reconcile.keyedDiffFrame(left.toDF(), right.toDF())
      .orderBy("key").collect().map(_.toString).toSeq
    val viaCogroup = Reconcile.keyedDiff(left, right).toDF()
      .orderBy("key").collect().map(_.toString).toSeq
    assert(viaFrame == viaCogroup)
    // the rc1 driver query (frame form) == its cogroup twin on real data
    val frameQ = Reconcile.keyedDiffQuery(spark, GraftSpark.sf)
      .collect().map(_.toString).toSeq
    val cogroupQ = Reconcile.keyedDiffQueryCogroup(spark, GraftSpark.sf)
      .collect().map(_.toString).toSeq
    assert(frameQ == cogroupQ && frameQ.nonEmpty)
  }

  test("SCD2 history: versions chain per key (valid_to = next valid_from), exactly one current") {
    val hist = Upsert.scd2History(spark, GraftSpark.sf)
      .collect()
      .groupBy(_.getLong(0)) // custkey
    assert(hist.nonEmpty)
    hist.foreach { case (key, rows) =>
      val sorted = rows.sortBy(r => (r.getString(3), r.getLong(1)))
      // exactly one open (current) version per key, and it is the last
      assert(sorted.count(_.getBoolean(5)) == 1, s"key $key: current count")
      assert(sorted.last.getBoolean(5), s"key $key: current not last")
      // each version's valid_to equals the next version's valid_from —
      // intervals tile the key's history with no gaps or overlaps
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(4) == b.getString(3),
            s"key $key: interval break ${a.getString(4)} -> ${b.getString(3)}")
        case _ =>
      }
    }
  }

  test("as-of left join: latest build row at or before probe time; nulls before first build") {
    val probe = Seq(
      (1L, 5L, 100L),   // after builds at t=1,4 → picks t=4
      (1L, 4L, 101L),   // equal time → inclusive match t=4
      (1L, 0L, 102L),   // before any build → null
      (2L, 9L, 103L)    // key 2 has one build at t=3
    ).toDF("k", "t", "event_id")
    val build = Seq((1L, 1L, 11L), (1L, 4L, 44L), (2L, 3L, 33L))
      .toDF("k", "t", "o_orderkey")
    val got = graft.ops.AsOf.asofLeft(probe, build, "o_orderkey")
      .select("event_id", "asof_o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(44L))
    assert(got(101L).contains(44L))
    assert(got(102L).isEmpty)
    assert(got(103L).contains(33L))
  }

  test("top-k aggregate: partition-invariant, ties broken by id, k-bounded") {
    import graft.expressions.TopKPairs
    val data = Seq(
      ("a", 10L, 1L), ("a", 30L, 2L), ("a", 30L, 3L), ("a", 20L, 4L),
      ("a", 5L, 5L), ("b", 7L, 6L)).toDF("g", "v", "id")
    def run(parts: Int) = data.repartition(parts)
      .groupBy("g").agg(TopKPairs.topK($"v", $"id", 3).as("top"))
      .select($"g", $"top")
      .as[(String, Seq[(Long, Long)])].collect().toMap
    val expected = Map(
      "a" -> Seq((30L, 2L), (30L, 3L), (20L, 4L)), // tie 30: lower id first
      "b" -> Seq((7L, 6L)))
    (1 to 7 by 3).foreach { parts =>
      assert(run(parts) == expected, s"parts=$parts")
    }
  }

  test("as-of join null semantics: NULL payload carries, NULL build key/time never matches") {
    val probe = Seq(
      (Some(1L), Some(10L), 100L),  // matches t=9 whose payload is NULL
      (Some(1L), Some(5L), 101L),   // matches t=1 payload 11
      (Some(2L), Some(9L), 102L),   // its only build has NULL time → no match
      (None: Option[Long], Some(9L), 103L) // NULL probe key → no match
    ).toDF("k", "t", "event_id")
    val build = Seq(
      (Some(1L), Some(1L), Some(11L)),
      (Some(1L), Some(9L), None: Option[Long]),   // genuine NULL payload
      (Some(2L), None: Option[Long], Some(22L)),  // NULL time: never matches
      (None: Option[Long], Some(1L), Some(33L))   // NULL key: never matches
    ).toDF("k", "t", "o_orderkey")
    val got = graft.ops.AsOf.asofLeft(probe, build, "o_orderkey")
      .select("event_id", "asof_o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(100L).isEmpty, "NULL build payload must carry as NULL (matched)")
    assert(got(101L).contains(11L))
    assert(got(102L).isEmpty)
    assert(got(103L).isEmpty)
    // and the matched-with-NULL case is distinguishable from no-match
    // only through SQL semantics — both are NULL, as in an ASOF join
  }

  test("bucketed as-of: same NULL semantics and inclusive-≤ rule as the plain variant") {
    val probe = Seq(
      (Some(1L), Some(10L), 100L),  // matches t=9 (NULL payload) via cross-bucket carry at width 2
      (Some(1L), Some(5L), 101L),   // matches t=1 payload 11 from an earlier bucket
      (Some(2L), Some(9L), 102L),   // its only build has NULL time → no match
      (None: Option[Long], Some(9L), 103L), // NULL probe key → no match
      (Some(1L), None: Option[Long], 104L)  // NULL probe time → no match
    ).toDF("k", "t", "event_id")
    val build = Seq(
      (Some(1L), Some(1L), Some(11L)),
      (Some(1L), Some(9L), None: Option[Long]),
      (Some(2L), None: Option[Long], Some(22L)),
      (None: Option[Long], Some(1L), Some(33L))
    ).toDF("k", "t", "o_orderkey")
    val got = graft.ops.AsOf.asofLeftBucketed(probe, build, "o_orderkey")(
        t => floor(t / 2.0).cast("long"))
      .select("event_id", "asof_o_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(100L).isEmpty, "NULL payload must carry as NULL across buckets")
    assert(got(101L).contains(11L))
    assert(got(102L).isEmpty)
    assert(got(103L).isEmpty)
    assert(got(104L).isEmpty)
  }

  test("watermark incremental drops late data but merge path catches it (T2 vs T3)") {
    val existing = Seq((1L, 10L), (2L, 20L)).toDF("k", "ts")
    val incoming = Seq((3L, 15L), (4L, 25L)).toDF("k", "ts") // 15 < max(20) = late
    val wm = existing.agg(max($"ts")).as[Long].head()
    val incremental = incoming.filter($"ts" > wm)
    assert(incremental.select("k").as[Long].collect().toSet == Set(4L))
    val merged = Upsert.antiJoinUpsert(existing, incoming, Seq("k"))
    assert(merged.count() == 4) // merge-by-key keeps the late row
  }
}
