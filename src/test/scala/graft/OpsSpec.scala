package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextStats}

class OpsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._
  val sf = GraftSpark.sf

  test("WordNGrams: distinct first-occurrence shingles, whitespace runs, short-text empty") {
    val got = Seq(
      "a b c d",          // 2 distinct trigrams
      "x y x y x y",      // duplicates collapse, first-occurrence order
      "one  two\tthree",  // whitespace runs / tabs
      "just two",         // shorter than n → empty
      "  padded text here  ")
      .toDF("t").select(TextStats.shingles(col("t"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("x y x", "y x y"))
    assert(got(2) == Seq("one two three"))
    assert(got(3) == Seq.empty)
    assert(got(4) == Seq("padded text here"))
  }

  test("AllWordNGrams: positioned grams keep duplicates in token order; short/blank text empty") {
    val got = Seq(
      "a b c d",       // 2 positioned bigram... with n=3: "a b c","b c d"
      "x y x y x",     // duplicates KEPT: "x y x","y x y","x y x"
      "just two",      // shorter than n → empty
      "",              // blank → empty
      "   ")
      .toDF("t")
      .select(graft.expressions.AllWordNGrams.ngrams(col("t"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("x y x", "y x y", "x y x"))
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq.empty)
    assert(got(4) == Seq.empty)
  }

  test("dd10 duplicated spans: exact extents on a planted fixture") {
    // doc 1 carries a 12-token block; doc 2 repeats it at offset 3;
    // doc 3 shares only a 6-token block with doc 1 (below the 10 floor);
    // doc 4 shares TWO disjoint 10-token blocks with doc 2.
    val block = (1 to 12).map(i => s"b$i").mkString(" ")
    val six = (1 to 6).map(i => s"s$i").mkString(" ")
    val t1 = s"$block tail1 $six"
    val t2 = s"pre1 pre2 pre3 $block after"
    val t3 = s"$six u1 u2 u3 u4 u5 u6 u7 u8"
    val ten1 = (1 to 10).map(i => s"p$i").mkString(" ")
    val ten2 = (1 to 10).map(i => s"q$i").mkString(" ")
    val t4 = s"$ten1 gap $ten2"
    // place the two ten-blocks inside doc 2's text? separate doc pair:
    val t5 = s"z1 $ten1 z2 z3 $ten2"
    val docs = Seq((1L, t1), (2L, t2), (3L, t3), (4L, t4), (5L, t5))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpansOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    // doc1×doc2: the 12-block, at 1 in doc1 and 4 in doc2
    assert(got.contains((1L, 2L, 1L, 4L, 12L)))
    // doc1×doc3 six-token share is below MinSpanTokens → absent
    assert(!got.exists(r => r._1 == 1L && r._2 == 3L))
    // doc4×doc5: two DISJOINT spans → two rows with exact extents
    assert(got.contains((4L, 5L, 1L, 2L, 10L)))
    assert(got.contains((4L, 5L, 12L, 14L, 10L)))
    assert(got.count(r => r._1 == 4L && r._2 == 5L) == 2)
  }

  test("mm6 pcm frames: LE16 round-trip, partial tail frame, empty payload, hand-checked features") {
    import graft.ops.Multimodal.{Media, pcmFrameFeatures, audioSample}
    // track 2: 1000 samples → frames of 256/256/256/232
    val payload = graft.ops.Multimodal.fixtureAudio()
      .find(_._1 == 2L).get._2
    val frames = pcmFrameFeatures(Media(2L, payload, payload.length)).toList
    assert(frames.map(f => (f.frame_idx, f.n_samples)) ==
      List((0L, 256L), (1L, 256L), (2L, 256L), (3L, 232L)))
    // decode(bytes) must reproduce the formula: recompute frame 1 directly
    val direct = (256 until 512).map(i => audioSample(2L, i.toLong))
    val e = direct.map(v => v.toLong * v).sum
    val zc = direct.sliding(2).count(p => p(0).toLong * p(1) < 0)
    val pk = direct.map(v => math.abs(v.toLong)).max
    assert((frames(1).energy, frames(1).zero_crossings, frames(1).peak) ==
      (e, zc.toLong, pk))
    // empty payload → no frames; odd trailing byte is ignored (n/2)
    assert(pcmFrameFeatures(Media(9L, Array.empty[Byte], 0)).isEmpty)
    val one = pcmFrameFeatures(Media(9L, Array[Byte](1, 2, 3), 3)).toList
    assert(one.map(f => (f.n_samples, f.energy)) == List((1L, 513L * 513)))
  }

  test("tx22 source overlap: shared distinct shingles per source pair, zeros included") {
    val docs = Seq(
      (1L, "a b c d", "srcA"),  // shingles {a b c, b c d}
      (2L, "a b c", "srcA"),    // duplicate shingle collapses per source
      (3L, "a b c x", "srcB"),  // {a b c, b c x}; shares {a b c} with A
      (4L, "z z z z", "srcC"))  // {z z z}; disjoint from both
      .toDF("doc_id", "text", "source")
    val got = TextStats.sourceOverlapOf(docs)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    assert(got == List(
      ("srcA", "srcB", 1L, 2L, 2L, 1.0 / 3),
      ("srcA", "srcC", 0L, 2L, 1L, 0.0),
      ("srcB", "srcC", 0L, 2L, 1L, 0.0)))
  }

  test("g1 pagerank: floor-integer rounds match hand-computed ranks on a star graph") {
    // 2→1, 3→1, 4→1, 1→2: node 1 collects three contributions, node 2
    // rides node 1's rank, nodes 3/4 decay to the damping floor
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val got = graft.ops.Similarity.pagerankOf(edges, nodes, iters = 2)
      .as[(Long, Long)].collect().toList
    // r1: 1 ← 150000 + 85·3e6/100 = 2700000; 2 ← 150000 + 850000;
    //     3,4 ← 150000
    // r2: 1 ← 150000 + 85·(1000000+150000+150000)/100 = 1255000;
    //     2 ← 150000 + 85·2700000/100 = 2445000
    assert(got == List(
      (1L, 1255000L), (2L, 2445000L), (3L, 150000L), (4L, 150000L)))
  }

  test("j10 overlap pairs: multi-bucket intervals dedup to one row; half-open boundaries exclude") {
    // bucket 10s. ids 1 [5,35) and 2 [28,60) co-reside in buckets 2 AND
    // 3 — the first-shared-bucket rule must emit the pair ONCE; id 3
    // [35,40) abuts id 1 at the half-open boundary (no overlap with 1)
    // but sits inside id 2; key 2 checks keying and a same-bucket pair
    val iv = Seq(
      (1L, 1L, 5L, 35L), (1L, 2L, 28L, 60L), (1L, 3L, 35L, 40L),
      (2L, 4L, 0L, 100L), (2L, 5L, 90L, 95L))
      .toDF("k", "id", "s_ep", "e_ep")
    val got = graft.ops.RangeJoin.overlapPairsOf(iv, 10L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 1L, 2L, 7L), (1L, 2L, 3L, 5L), (2L, 4L, 5L, 5L)))
  }

  test("hll2 rollup: global row equals a direct single-grain sketch (merge is lossless)") {
    import graft.ops.Sketch
    val docs = graft.Tables.documents(spark, sf)
    val global = Sketch.hllRollupOf(docs)
      .where($"level" === 0)
      .select("v_empty", "s_scaled", "est_raw")
      .as[(Long, Long, Double)].collect().toList
    // collapsing both grouping dims makes the FINE level a direct
    // whole-corpus sketch — no merge step involved
    val direct = Sketch.hllRollupOf(
      docs.withColumn("source", lit("x")).withColumn("lang", lit("y")))
      .where($"level" === 2)
      .select("v_empty", "s_scaled", "est_raw")
      .as[(Long, Long, Double)].collect().toList
    assert(global.nonEmpty && global == direct)
  }

  test("tx23 surprisal: whole-bit scores, short-text zeros, rare beats common") {
    // corpus trigrams: aaa ×2 (from "aaaa"), xyz ×1; total 3 → lbits 2.
    // "aaaa": 2 occurrences of the common trigram → 0 bits each;
    // "ab": too short → zero row survives the left join;
    // "xyz": one singleton → 2 − bitlen(1) = 1 bit
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "xyz"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.surprisalOf(docs)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 2L, 0L, 0.0), (2L, 0L, 0L, 0.0), (3L, 1L, 1L, 1.0)))
  }

  test("a18 robust outliers: median/MAD ignore the outlier that drags the mean") {
    // cents 100,200,300,400,10000: med=300, adevs 200,100,0,100,9700 →
    // MAD=100; only 9700 > 3·100. A mean/σ flag would call none of
    // these outliers (σ is inflated by the 10000 itself).
    val ev = Seq(
      ("view", 1.0), ("view", 2.0), ("view", 3.0), ("view", 4.0),
      ("view", 100.0), (null.asInstanceOf[String], 999.0))
      .toDF("event_type", "value")
    val got = graft.model.Analytics.robustOutliersOf(ev)
      .as[(String, Long, Double, Double, Long)].collect().toList
    assert(got == List(("view", 5L, 300.0, 100.0, 1L)))
  }

  test("mm8 channel stats: undecodable payloads drop; halves image bins split exactly") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.Media
    val garbage = Media(99L, Array[Byte](1, 2, 3, 4, 5), 5)
    assert(Multimodal.channelStatsAll(
      spark.createDataset(Seq(garbage))(
        org.apache.spark.sql.Encoders.product[Media])).count() == 0)
    val got = Multimodal.channelStatsQuery(spark, sf)
      .where($"img_id" === 4)
      .as[(Long, Int, Int, Long, Long, Long, Long, Int, Int, Long, Long, Long, Long)]
      .collect().toList
    // img 4: 20×12, left 10 columns black, right 10 white — histogram
    // mass sits entirely in the extreme bins, channel sums = 255·120
    assert(got == List((4L, 20, 12, 240L, 30600L, 30600L, 30600L,
      0, 255000, 120L, 0L, 0L, 120L)))
  }

  test("w6 funnel: ordered reachability with ties, skips, and reversed sequences") {
    def ts(sec: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC))
    // u1 full funnel (view/click tie at 20s both advance);
    // u2 views only before signup → depth 1;
    // u3 signup+view same second (>= chain admits it) → depth 2;
    // u4 skips view → stuck at 1; u5 reversed order → 1;
    // u6 only non-step events → ignored entirely;
    // u7 purchase BEFORE click's time → depth 3
    val ev = Seq(
      (1L, "signup", ts(10)), (1L, "view", ts(20)), (1L, "click", ts(20)),
      (1L, "purchase", ts(30)),
      (2L, "view", ts(5)), (2L, "signup", ts(10)), (2L, "view", ts(9)),
      (3L, "signup", ts(10)), (3L, "view", ts(10)),
      (4L, "signup", ts(10)), (4L, "click", ts(15)), (4L, "purchase", ts(20)),
      (5L, "purchase", ts(1)), (5L, "click", ts(2)), (5L, "view", ts(3)),
      (5L, "signup", ts(4)),
      (6L, "error", ts(7)),
      (7L, "view", ts(1)), (7L, "signup", ts(2)), (7L, "purchase", ts(2)),
      (7L, "view", ts(3)), (7L, "click", ts(3)))
      .toDF("user_id", "event_type", "ts")
    val got = graft.model.Analytics.funnelOf(ev)
      .as[(Int, String, Long, Double)].collect().toList
    assert(got == List(
      (1, "signup", 6L, 100.0),
      (2, "view", 3L, 100.0 * 3 / 6),
      (3, "click", 2L, 100.0 * 2 / 6),
      (4, "purchase", 1L, 100.0 * 1 / 6)))
  }

  test("g2 triangles: canonicalization, per-node counts, coefficient on a tailed triangle") {
    // triangle {1,2,3} plus pendant 3-4, with a reversed duplicate arc
    // (2,1) and a self loop (4,4) that canonicalization must drop;
    // node 5 is isolated and must still appear with zeros
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 4L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    val got = graft.ops.Graph.trianglesOf(edges, nodes)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 2L, 1L, 1.0),
      (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3),
      (4L, 1L, 0L, 0.0),
      (5L, 0L, 0L, 0.0)))
  }

  test("g2 triangles: shared-edge triangles count once each at every member") {
    // K4 minus edge {1,4}: triangles {1,2,3} and {2,3,4} share edge {2,3}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val got = graft.ops.Graph.trianglesOf(edges, nodes)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 2L, 1L, 1.0),
      (2L, 3L, 2L, 2.0 / 3),
      (3L, 3L, 2L, 2.0 / 3),
      (4L, 2L, 1L, 1.0)))
  }

  test("mm7 onset frames: openers always fire; tail fires only on a >=10% energy move") {
    import graft.ops.Multimodal
    val got = Multimodal.onsetFrameQuery(spark, sf)
      .as[(Long, Long, Long, Option[Long])].collect().toList
    // every track contributes its opener with a null prev
    assert(got.filter(_._4.isEmpty).map(_._1).sorted ==
      Multimodal.audioTrackLens.map(_._1).sorted)
    // independent recompute of the lag filter from the frame features
    val expected = Multimodal.fixtureAudio().flatMap { case (id, payload) =>
      val fs = Multimodal.pcmFrameFeatures(
        Multimodal.Media(id, payload, payload.length)).toList
      fs.zip(None +: fs.map(f => Some(f.energy))).collect {
        case (f, pe) if pe.isEmpty ||
            (f.energy - pe.get).abs * Multimodal.OnsetDen >=
              pe.get * Multimodal.OnsetNum =>
          (f.track_id, f.frame_idx, f.energy, pe)
      }
    }.toList.sortBy(r => (r._1, r._2))
    assert(got == expected)
    // the short tail of track 4 (44 of 256 samples) must register as
    // a boundary, and some full frame must NOT (selection is adaptive,
    // not all-pass)
    assert(got.exists(r => r._1 == 4L && r._2 == 1L))
    val allFrames = Multimodal.audioTrackLens.map { case (_, n) =>
      (n + Multimodal.AudioFrameSamples - 1) / Multimodal.AudioFrameSamples
    }.sum
    assert(got.length < allFrames, "onset filter selected every frame")
  }

  test("pipe1 curation audit: flag algebra holds and canonical picks are unique per content") {
    val docs = Tables.documents(spark, sf)
    val audit = graft.ops.Curation.curationAuditOf(docs)
    val got = audit.collect()
    assert(got.length == docs.count())
    got.foreach { r =>
      val (split, qk, canon, cont, sel) = (r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))
      assert(sel == (canon && !cont), s"selection algebra broke: $r")
      if (canon) assert(qk && split == "train", s"canonical outside pool: $r")
      if (split == "test") assert(!canon && !cont && !sel,
        s"test doc carries train-only flags: $r")
    }
    assert(got.exists(_.getBoolean(5)), "no survivors at all")
    assert(got.exists(r => r.getString(1) == "test"), "split produced no test docs")
    // canonical uniqueness: at most one canonical per content hash
    val dupCanon = audit.filter(col("is_canonical"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(dupCanon == 0, "two canonical docs share one content hash")
  }

  test("dd14 containment: subset-duplicate caught at low Jaccard, sub-threshold overlap rejected") {
    // doc 2 = doc 1's 12 tokens embedded in 90 fillers: containment 1.0
    // but Jaccard ≈ 0.1 — the pair dd4's threshold is blind to
    val short = (1 to 12).map(i => s"c$i").mkString(" ")
    val filler = (1 to 90).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, short, "en"),
      (2L, s"$filler $short", "en"),
      (3L, "c1 c2 c3 x1 x2 x3 x4 x5 x6 x7 x8 x9", "en"), // 1 shared shingle of 10
      (4L, "y1 y2", "en")) // < 3 tokens → no shingles, never a candidate
      .toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairsOf(docs)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toList
    // doc1: 10 shingles, doc2: 100, intersection 10
    assert(got == List((1L, 2L, 10L, 10L, 100L, 1.0, 0.1, 0.1)))
    // and dd4 at its 0.1 threshold keeps the pair only marginally —
    // shrink the overlap by one token and containment still fires
    // while Jaccard drops below threshold
    val docs2 = docs.withColumn("text",
      when(col("doc_id") === 2L, concat(col("text"), lit(" tail extra words")))
        .otherwise(col("text")))
    val j = Dedup.ngramJaccardPairsOf(docs2).as[(Long, Long, Long, Long, Double)]
      .collect().toList
    val c = Dedup.containmentPairsOf(docs2)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toList
    assert(j.isEmpty, s"jaccard should miss the lengthened pair: $j")
    assert(c.map(r => (r._1, r._2, r._6)) == List((1L, 2L, 1.0)))
  }

  test("dd12 cluster survivors: longest-then-lowest-id argmax per cluster, singletons kept") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), // ties on n_chars: 2 vs 3
      (4L, 4L, 1L),                             // singleton
      (5L, 5L, 2L), (6L, 5L, 2L))               // equal n_chars: min id wins
      .toDF("doc_id", "cluster_id", "cluster_size")
    val docs = Seq(
      (1L, "en", "web", 100L), (2L, "en", "web", 300L),
      (3L, "de", "book", 300L), (4L, "en", "web", 50L),
      (5L, "fr", "web", 70L), (6L, "fr", "code", 70L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = Dedup.clusterSurvivorsOf(clusters, docs)
      .as[(Long, Long, Long, String, String, Long)].collect().toList
    assert(got == List(
      (2L, 1L, 3L, "en", "web", 300L),
      (4L, 4L, 1L, "en", "web", 50L),
      (5L, 5L, 2L, "fr", "web", 70L)))
  }

  test("dd13 duplicate coverage: overlapping intervals merge, disjoint sum, zero-coverage docs appear") {
    val block = (1 to 12).map(i => s"b$i").mkString(" ")
    val sub = (3 to 12).map(i => s"b$i").mkString(" ")
    val ten1 = (1 to 10).map(i => s"p$i").mkString(" ")
    val ten2 = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block tail1 s1 s2 s3 s4 s5 s6"), // 19 tokens; covered [1,12]
      (2L, s"pre1 pre2 pre3 $block after"),    // 16 tokens; [4,15]∪[6,15]
      (3L, sub),                               // 10 tokens; fully covered
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),  // no dup → 0
      (5L, s"$ten1 gap $ten2"),                // 21 tokens; [1,10]∪[12,21]
      (6L, s"z1 $ten1 z2 z3 $ten2"))           // 23 tokens; [2,11]∪[14,23]
      .toDF("doc_id", "text")
    val got = Dedup.duplicateCoverageOf(docs)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 19L, 12L, 12.0 / 19),
      (2L, 16L, 12L, 12.0 / 16),
      (3L, 10L, 10L, 1.0),
      (4L, 10L, 0L, 0.0),
      (5L, 21L, 20L, 20.0 / 21),
      (6L, 23L, 20L, 20.0 / 23)))
  }

  test("dd11 incremental dedup: index dupes flagged, within-batch repeats keep first, novel accepted") {
    val index = Seq("known doc one", "known doc two")
      .toDF("text").select(md5(col("text")).as("text_md5"))
    val batch = Seq(
      (10L, "known doc one"),   // dup of index
      (11L, "fresh repeat"),    // first in batch → accept
      (12L, "fresh repeat"),    // batch repeat → reject
      (13L, "wholly novel"),    // accept
      (14L, "known doc two"))   // dup of index
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedupOf(index, batch)
      .as[(Long, Boolean, Boolean, Boolean)].collect().toList
    assert(got == List(
      (10L, true, false, false),
      (11L, false, false, true),
      (12L, false, true, false),
      (13L, false, false, true),
      (14L, true, false, false)))
  }

  test("dd10 island merge: overlapping anchors of one long span yield ONE row, not per-anchor rows") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$long x"), (2L, s"y $long")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpansOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 2L, 1L, 2L, 40L)))
  }

  test("minhash LSH finds the near-dup pairs brute-force finds (recall on real data)") {
    val docs = Tables.documents(spark, sf)
    val sh = docs.select(col("doc_id"), TextStats.shingles(col("text"), 3).as("sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("u", size(col("a.sh")) + size(col("b.sh")) - col("i"))
      .filter(col("i") / col("u") >= 0.5) // high-sim pairs: LSH must catch these
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain high-sim pairs")
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall over ${brute.size} true pairs")
  }

  test("simhash: near-identical texts land at small hamming distance, unrelated far") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different words about spark shuffle partitions and codegen")
    ).toDF("doc_id", "text").createOrReplaceTempView("documents_tmp")
    val sigs = Dedup.simhashQuery(spark, sf) // signatures over real table: sanity
    assert(sigs.count() > 0)
    // direct pairwise check on the tiny fixture through the same vote logic
    val tok = spark.table("documents_tmp")
      .select(col("doc_id"), explode(array_distinct(TextStats.words(col("text")))).as("w"))
      .withColumn("h", graft.functions.Functions.md5Hash60(col("w"), 99))
    val votes = (0 until Dedup.SimHashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j"))
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until Dedup.SimHashBits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val m = agg.select(col("doc_id"), sig.as("s")).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)),
      s"near-dup hamming ${ham(m(1L), m(2L))} should beat unrelated ${ham(m(1L), m(3L))}")
  }

  test("LSH top-k: candidates come only from the query bucket; hits agree with brute force") {
    val brute = Similarity.bruteTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.nonEmpty)
    // every LSH hit must be a real vector; overlap with brute force is the
    // recall the bucket trade-off buys (not asserted to a level — random
    // fixture — but must be a subset of the corpus and deterministic)
    val lsh2 = Similarity.lshTopK(spark, sf).select("vec_id").as[Long].collect().toSet
    assert(lsh == lsh2, "LSH probe must be deterministic")
    assert((brute & lsh).nonEmpty || brute.isEmpty)
  }

  test("trained IVF: recall vs brute force, deterministic training, k results") {
    val brute = Similarity.bruteTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size == Similarity.K, s"expected full k, got ${ivf.size}")
    // Lloyd's is fully deterministic (quantized integer sums, fixed
    // seed, fixed tiebreaks) — two trainings must agree exactly
    val ivf2 = Similarity.ivfTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf == ivf2, "IVF training/probe must be deterministic")
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall vs brute top-${brute.size}")
  }

  test("IVF tuning dial: nprobe = ncells probes every cell and equals exact brute force") {
    // the recall/cost parameters are real dials, not constants: probing
    // all cells makes the candidate set the whole corpus, so the result
    // must equal the exact scan; fewer probes can only shrink it
    val brute = Similarity.bruteTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val all = Similarity.ivfTopK(spark, sf, ncells = 5, nprobe = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(all == brute, s"full-probe IVF must be exact: $all vs $brute")
    val one = Similarity.ivfTopK(spark, sf, ncells = 5, nprobe = 1)
      .select("vec_id", "cell").collect()
    assert(one.map(_.getInt(1)).distinct.length == 1,
      "nprobe=1 must scan exactly one cell")
  }

  test("label propagation: chains collapse into one component, singletons untouched") {
    // a-b, b-c, and isolated pair d-e: components {a,b,c} and {d,e}
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
    val labels = Dedup.labelPropagation(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    // long chain needs multiple propagation rounds (localThreshold = 0
    // forces the distributed loop past the driver union-find shortcut)
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("u", "v")
    val chainLabels = Dedup.labelPropagation(chain, localThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(chainLabels.forall(_._2 == 1L), chainLabels.mkString(","))
  }

  test("label propagation: pointer jumping converges a 200-deep chain in O(log d) rounds") {
    // plain min-label propagation needs ~199 rounds here; pointer
    // jumping must finish within 10 (2^10 >> 200); localThreshold = 0
    // forces the distributed loop
    val deep = (1L until 200L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = Dedup.labelPropagation(deep, maxIters = 10, localThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(labels.length == 200)
    assert(labels.forall(_._2 == 1L),
      labels.filter(_._2 != 1L).take(5).mkString(","))
  }

  test("label propagation: driver union-find path matches the distributed loop") {
    // random-ish graph with chains, a cycle, self-loop, and singleton pair
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 5L), (8L, 9L)) ++
      (20L until 40L).map(i => (i, i + 1)) ++ Seq((40L, 20L))).toDF("u", "v")
    val local = Dedup.labelPropagation(edges)
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.labelPropagation(edges, localThreshold = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
    // property form: seeded sparse random graphs (the regime near-dup
    // pair graphs live in — many small components, occasional chains)
    // must agree between the two paths at every density tried
    val rnd = new scala.util.Random(42)
    Seq(80, 200, 400).foreach { m =>
      val rEdges = (1 to m).map { _ =>
        (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong)
      }.toDF("u", "v")
      val l = Dedup.labelPropagation(rEdges)
        .as[(Long, Long)].collect().toSet
      val d = Dedup.labelPropagation(rEdges, localThreshold = 0L)
        .as[(Long, Long)].collect().toSet
      assert(l == d, s"paths diverge at $m random edges: " +
        s"onlyLocal=${(l -- d).take(3)} onlyDist=${(d -- l).take(3)}")
    }
  }

  test("dedup family survives null, empty, and whitespace-only texts") {
    // real corpora carry degenerate rows; none of the dedup paths may
    // crash on them, silently multiply them, or let them pair with
    // real documents (no shared shingles/tokens by construction)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog", "en"),
      (2L, "the quick brown fox jumps over the dog", "en"), // exact dup of 1
      (3L, null.asInstanceOf[String], "en"),
      (4L, "", "en"),
      (5L, "   \t  ", "en"),
      (6L, "tiny", "en")) // shorter than the 3-gram window
      .toDF("doc_id", "text", "lang")
    // exact-dedup shape (dd1's groupBy(md5)): the two real dups
    // collapse; null text groups apart from empty/whitespace
    // (md5(NULL) is NULL, its own group)
    val byHash = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canon"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byHash.size == 5 && byHash(None)._1 == 1L, s"got $byHash")
    // shingle/minhash path: degenerate docs produce zero shingles, so
    // they simply drop out of the signature table — no pairs involve them
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(sigs == Set(1L, 2L), s"signature docs: $sigs")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
    val jac = Dedup.ngramJaccardPairsOf(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(jac == Set((1L, 2L)), s"jaccard pairs: $jac")
    // simhash: null drops (explode of null token array); empty-ish
    // texts still get a signature from their (degenerate) token set,
    // and the exact dup pair collides at Hamming 0
    val sh = Dedup.simhashSigs(docs)
      .as[(Long, Long)].collect().toMap
    assert(!sh.contains(3L) && sh.contains(1L) && sh(1L) == sh(2L), s"sigs: $sh")
  }

  test("multimodal decode: per-partition stub decode preserves rows, frames sized by payload") {
    val media = Multimodal.mediaTable(spark, sf).repartition(5)
    val feats = Multimodal.decodeAll(media).collect()
    assert(feats.length == Tables.documents(spark, sf).count())
    feats.foreach { f =>
      assert(f.n_frames == (f.n_bytes + 63) / 64)
      assert(f.features.length == f.n_frames)
    }
    // determinism across partitionings
    val feats2 = Multimodal.decodeAll(media.repartition(2)).collect()
      .map(f => f.doc_id -> f.checksum).toMap
    feats.foreach(f => assert(feats2(f.doc_id) == f.checksum))
  }

  test("multimodal REAL decode: javax.imageio PNG/BMP through the same seam, stub fallback for non-media") {
    import java.awt.image.BufferedImage
    // synthesize images with known pixel statistics
    def png(w: Int, h: Int, rgb: Int, format: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format codec")
      bos.toByteArray
    }
    val red16 = png(16, 8, 0xff0000, "png")   // 16×8 solid red PNG
    val gray4 = png(4, 4, 0x808080, "bmp")    // 4×4 mid-gray BMP
    val text = "not an image at all".getBytes("UTF-8")
    val media = Seq(
      Multimodal.Media(1L, red16, red16.length),
      Multimodal.Media(2L, gray4, gray4.length),
      Multimodal.Media(3L, text, text.length))
    val ds = spark.createDataset(media)(
      org.apache.spark.sql.Encoders.product[Multimodal.Media]).repartition(2)
    val got = Multimodal.decodeAll(ds).collect().map(f => f.doc_id -> f).toMap
    // PNG: real decode — width/height and exact channel means
    assert(got(1L).features.toSeq == Seq(16f, 8f, 255f, 0f, 0f))
    assert(got(1L).n_frames == 1)
    // BMP: second codec, gray means on all channels
    assert(got(2L).features.toSeq == Seq(4f, 4f, 128f, 128f, 128f))
    // non-media payload: falls back to the deterministic stub
    val stub = Multimodal.decodeStub(media(2))
    assert(got(3L).features.toSeq == stub.features.toSeq)
    assert(got(3L).n_frames == stub.n_frames)
  }

  test("aHash: codec-invariant perceptual hash — same pixels via PNG and BMP collide, distinct images don't") {
    import java.awt.image.BufferedImage
    val rnd = new scala.util.Random(11)
    def img(seed: Int, w: Int, h: Int): BufferedImage = {
      val r = new scala.util.Random(seed)
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      // blocky random pattern: structure at aHash's 8×8 granularity
      val blocks = Array.fill(8, 8)(r.nextInt(0xffffff))
      for (y <- 0 until h; x <- 0 until w)
        bi.setRGB(x, y, blocks(math.min(7, y * 8 / h))(math.min(7, x * 8 / w)))
      bi
    }
    def enc(bi: BufferedImage, format: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, format, bos), s"no $format codec")
      bos.toByteArray
    }
    def media(id: Long, b: Array[Byte]) = Multimodal.Media(id, b, b.length)
    // 20 distinct images; each encoded as PNG and (different bytes!) BMP
    val images = (0 until 20).map(i => img(seed = 100 + i, 40 + i, 32 + i))
    val rows = images.zipWithIndex.flatMap { case (bi, i) =>
      val png = enc(bi, "png"); val bmp = enc(bi, "bmp")
      assert(!java.util.Arrays.equals(png, bmp))
      Seq(media(2L * i, png), media(2L * i + 1, bmp))
    } :+ media(999L, "definitely not an image".getBytes("UTF-8"))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.Media]).repartition(3)
    val got = Multimodal.aHashAll(ds).collect().map(h => h.doc_id -> h.ahash).toMap
    assert(!got.contains(999L), "non-media rows must drop out")
    assert(got.size == 40)
    // codec invariance: PNG and BMP encodings of the same pixels collide
    (0 until 20).foreach(i => assert(got(2L * i) == got(2L * i + 1), s"img $i"))
    // discrimination: the 20 distinct images yield 20 distinct hashes
    assert((0 until 20).map(i => got(2L * i)).distinct.size == 20)
    // dedup composition: groupBy(ahash) collapses exactly the codec pairs
    val dedup = Multimodal.aHashAll(ds).groupBy("ahash").count().collect()
    assert(dedup.length == 20 && dedup.forall(_.getLong(1) == 2))
  }

  test("two-phase prefix sum equals the single-task global window, at any partitioning") {
    import graft.GraftSpark.withPartitions
    import graft.ops.PrefixSum
    import org.apache.spark.sql.expressions.Window
    def values(s: org.apache.spark.sql.SparkSession) = Tables.documents(s, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("v"))
    val naive = values(spark).withColumn("offset",
        coalesce(sum(col("v")).over(
          Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("doc_id", "offset")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (p <- Seq(1, 3, 32)) {
      val scalable = withPartitions(p)(s =>
        PrefixSum.exclusive(values(s), "doc_id", "v")
          .select("doc_id", "offset")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(scalable == naive, s"prefix sum diverges at $p partitions")
    }
    // negative values: partition totals must be true sums, not running
    // maxima (a ledger-style workload would silently corrupt otherwise)
    val ledger = (1L to 100L).map(i => (i, if (i % 3 == 0) -2L * i else i))
    val expect = ledger.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .init.map(_._2) // exclusive: offset of row i = sum of rows < i ... shifted
    val gotNeg = withPartitions(7)(s =>
      PrefixSum.exclusive(s.createDataFrame(ledger).toDF("id", "v"), "id", "v")
        .orderBy("id").select("offset").as[Long].collect())
    assert(gotNeg.toSeq == expect.toSeq, "negative-value prefix sums wrong")
    // contract violations fail loudly instead of corrupting offsets:
    // a duplicate order key (RANGE frame would sum all peers) ...
    val dup = Seq((1L, 1L), (2L, 2L), (2L, 3L), (4L, 4L))
    val eDup = intercept[IllegalArgumentException] {
      withPartitions(3)(s =>
        PrefixSum.exclusive(s.createDataFrame(dup).toDF("id", "v"), "id", "v")
          .collect())
    }
    assert(eDup.getMessage.contains("unique"), eDup.getMessage)
    // ... and a null value (would poison every later offset)
    val nul = Seq((1L, Some(1L)), (2L, None), (3L, Some(3L)))
    val eNul = intercept[IllegalArgumentException] {
      withPartitions(3)(s =>
        PrefixSum.exclusive(s.createDataFrame(nul).toDF("id", "v"), "id", "v")
          .collect())
    }
    assert(eNul.getMessage.contains("non-null"), eNul.getMessage)
  }

  test("HLL sketch: estimates inside the stderr envelope and registers merge by max") {
    import graft.ops.Sketch
    val rows = Sketch.hllLangDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lang, exact, est) = (r.getString(0), r.getLong(1), r.getDouble(4))
      // 512 registers → ~4.6% standard error; 3 sigma ≈ 14%
      assert(math.abs(est - exact) / exact < 0.15,
        s"$lang: est $est vs exact $exact drifts past 3-sigma")
    }
    // mergeability — the 100-TB property: sketches built on disjoint
    // halves, merged by register-wise max, equal the whole-corpus sketch
    val docs = Tables.documents(spark, sf)
    val whole = Sketch.shingleRegisters(docs)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val halves = Sketch.shingleRegisters(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(Sketch.shingleRegisters(docs.filter(col("doc_id") % 2 === 1)))
      .groupBy("lang", "reg").agg(max(col("mx")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(halves == whole, "merged half-sketches diverge from the whole")
    // plain-JVM replay of registers and estimate on a slice: the same
    // jvmHash60 index/rho split, the same exact integer scaled sum and
    // its one division, so every output row agrees exactly
    val slice = docs.filter(col("doc_id") % 10 === 0)
    val w1 = Sketch.HllValueBits + 1
    val replay = slice
      .select(col("lang"), explode(TextStats.shingles(col("text"), 3)).as("sh"))
      .as[(String, String)].collect().groupBy(_._1).map { case (lang, items) =>
        val regs = new Array[Int](Sketch.HllM)
        items.foreach { case (_, sh) =>
          val h = Sketch.jvmHash60(sh, Sketch.HllSeed)
          val reg = (h & (Sketch.HllM - 1)).toInt
          // rho = W + 1 - bitlen(rem), W + 1 when rem == 0
          val rho = w1 - (64 - java.lang.Long.numberOfLeadingZeros(h >> Sketch.HllP))
          regs(reg) = math.max(regs(reg), rho)
        }
        val present = regs.filter(_ > 0)
        val vEmpty = (Sketch.HllM - present.length).toLong
        val sScaled = present.map(r => 1L << (w1 - r)).sum + vEmpty * (1L << w1)
        (lang, vEmpty, sScaled, Sketch.HllNumerator / sScaled)
      }.toSet
    val batch = Sketch.estimateFromRegisters(Sketch.shingleRegisters(slice))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty && batch == replay,
      s"batch only ${(batch -- replay).take(2)}, replay only ${(replay -- batch).take(2)}")
  }

  test("CMS sketch: never underestimates, near-exact on heavy hitters, cells merge by sum") {
    import graft.ops.Sketch
    val rows = Sketch.cmsHeavyHitters(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (tok, exact, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(est >= exact, s"$tok: CMS underestimated ($est < $exact)")
      // heavy hitters sit far above the ε·N collision noise floor
      assert(est - exact <= exact / 2, s"$tok: est $est vs exact $exact")
    }
    // cells are additive: sketches of disjoint halves, summed cell-wise,
    // equal the whole-corpus sketch
    val docs = Tables.documents(spark, sf)
    val whole = Sketch.cmsTable(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val halves = Sketch.cmsTable(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(Sketch.cmsTable(docs.filter(col("doc_id") % 2 === 1)))
      .groupBy("j", "bucket").agg(sum(col("cell")).as("cell"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(halves == whole, "summed half-sketches diverge from the whole")
  }

  test("mixture resample hits the exact per-slice quotas of the binding-slice bound") {
    import graft.ops.TextStats
    val docs = Tables.documents(spark, sf)
    val n = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent re-derivation of the feasibility math
    val t = TextStats.MixWeights.map { case (l, w) => n(l) * 100 / w }.min
    val expect = TextStats.MixWeights.map { case (l, w) => l -> w * t / 100 }.toMap
    val got = TextStats.mixtureResample(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got $got, want $expect")
    // every slice sits within the floor-rounding envelope of its exact
    // target share: its own floor (≤1) plus its weight's share of the
    // ≤`slices` docs the total loses to the other slices' floors
    val total = got.values.sum
    val slices = TextStats.MixWeights.size
    TextStats.MixWeights.foreach { case (l, w) =>
      assert(math.abs(got(l) - w * total / 100.0) <= 1.0 + w * 0.01 * slices,
        s"$l drifted from ${w}% of $total: ${got(l)}")
    }
  }

  test("dd4 inverted-index exact Jaccard equals the all-pairs brute force") {
    // the candidate-generation rewrite (equi join on shingle hash) must
    // produce EXACTLY the all-pairs result — J ≥ t > 0 implies a shared
    // shingle, so no qualifying pair can be missed
    val docs = Tables.documents(spark, sf)
    val sh = docs.select(col("doc_id"), col("lang"),
      TextStats.shingles(col("text"), 3).as("sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val brute = a.join(b,
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("u", size(col("a.sh")) + size(col("b.sh")) - col("i"))
      .filter(col("i") / col("u") >= Dedup.JaccardThreshold)
      .select(col("a.doc_id"), col("b.doc_id"), col("i").cast("long"),
        col("u").cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val inverted = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b", "i_size", "u_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inverted == brute,
      s"missing=${brute -- inverted} extra=${inverted -- brute}")
    assert(brute.nonEmpty, "fixture should contain qualifying pairs")
  }

  test("tx39 gopher repetition: dup-line and top-ngram rules fire on hand-derivable fixtures") {
    val docs = Seq(
      // 4 lines, "aaa bbb" three times: dup-line occ 3/4 (> 30%), dup
      // chars 21/28 (> 20%), top bigram "aaa bbb" ×3 = 21 of 31 chars
      (1L, "aaa bbb\nccc ddd\naaa bbb\naaa bbb"),
      // no repetition anywhere; long enough that a single-occurrence
      // n-gram stays under every top-mass threshold (30 × 3-char words:
      // top 4-gram = 15 of 119 chars ≈ 13% < 16%)
      (2L, (1 to 30).map(i => f"w$i%02d").mkString(" ")),
      // single word: no bigrams at all, top masses 0
      (3L, " x ")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val got = TextStats.gopherRepetitionOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_lines") == 4 && d1.getAs[Long]("dup_line_occ") == 3)
    assert(d1.getAs[Long]("dup_line_chars") == 21 && d1.getAs[Long]("line_chars") == 28)
    assert(d1.getAs[Long]("top2_chars") == 21, s"top2=${d1.getAs[Long]("top2_chars")}")
    assert(d1.getAs[Boolean]("fail_dup_lines") && d1.getAs[Boolean]("fail_dup_line_chars")
      && d1.getAs[Boolean]("fail_top2") && !d1.getAs[Boolean]("keep"))
    val d2 = got(2L)
    assert(d2.getAs[Boolean]("keep"), "unrepeated text must pass every rule")
    assert(!d2.getAs[Boolean]("fail_top3") && d2.getAs[Long]("dup_line_occ") == 0)
    val d3 = got(3L)
    assert(d3.getAs[Long]("top2_chars") == 0 && d3.getAs[Boolean]("keep"))
  }

  test("dd4/dd14 prefix filter: boilerplate-heavy corpus, result equals the unfiltered index") {
    // adversarial hot-shingle corpus: the same footer sentence appended
    // to EVERY doc gives those shingles df = corpus size — the Σdf²
    // detonation mode of the unfiltered inverted index. The PPJoin
    // prefix (rare-shingles-first) must exclude them from candidate
    // generation while producing the EXACT same thresholded output as
    // the unfiltered index + filter.
    // a 3-token footer = ONE fully-boilerplate shingle with df = its
    // whole language block (plus two low-df bridge shingles) — the
    // copyright-line shape. Every doc's rare-first suffix has ≥ 1 slot
    // at t=1/10 (min corpus doc: 13 tokens → 11 shingles → 1 slot), so
    // the hot shingle must vanish from EVERY prefix.
    val boiler = " all rights reserved"
    val docs = Tables.documents(spark, sf)
      .withColumn("text", concat(col("text"), lit(boiler)))
    // dd4: prefix path vs unfiltered-index path, full rows
    val viaPrefix = Dedup.ngramJaccardPairsOf(docs)
      .select("doc_a", "doc_b", "i_size", "u_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaFullIndex = Dedup.shingleIntersections(docs)
      .withColumn("u_size", col("n_a") + col("n_b") - col("i_size"))
      .filter(col("i_size") / col("u_size") >= Dedup.JaccardThreshold)
      .select("doc_a", "doc_b", "i_size", "u_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaPrefix == viaFullIndex,
      s"missing=${viaFullIndex -- viaPrefix} extra=${viaPrefix -- viaFullIndex}")
    assert(viaPrefix.nonEmpty, "boilerplate corpus should still contain pairs")
    // dd14 containment: the asymmetric (smaller-side prefix vs full
    // index) variant must also match the unfiltered index + cut
    val contPrefix = Dedup.containmentPairsOf(docs)
      .select("doc_a", "doc_b", "i_size", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val contFull = Dedup.shingleIntersections(docs)
      .filter(col("i_size") * Dedup.ContainmentDen >=
        lit(Dedup.ContainmentNum) * least(col("n_a"), col("n_b")))
      .select("doc_a", "doc_b", "i_size", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(contPrefix == contFull,
      s"missing=${contFull -- contPrefix} extra=${contPrefix -- contFull}")
    // the skew shield itself: the hottest (df = corpus) shingles must
    // be absent from every doc's prefix, so the prefix index's max df
    // stays far below the corpus size
    val flatAll = docs.select(col("doc_id"), col("lang"),
        explode(TextStats.shingles(col("text"), 3)).as("sh"))
    // the index is lang-blocked, so the hottest possible df is the
    // largest language group's doc count — the footer must reach it
    val maxLangDocs = docs.groupBy("lang").count().agg(max("count"))
      .as[Long].head()
    val maxDfFull = flatAll.groupBy("lang", "sh").count()
      .agg(max("count")).as[Long].head()
    assert(maxDfFull == maxLangDocs,
      s"fixture must actually contain a hot shingle: maxDf=$maxDfFull maxLangDocs=$maxLangDocs")
    val maxDfPrefix = Dedup.prefixIndexMaxDf(docs)
    assert(maxDfPrefix < maxDfFull / 4,
      s"hot shingles must leave the prefix index: prefix maxDf=$maxDfPrefix vs full $maxDfFull")
  }

  test("mm4 perceptual-hash fixture: hand-derivable anchors hold and images discriminate") {
    val got = Multimodal.perceptualHashQuery(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 8)
    // anchors derived from the hash DEFINITIONS, not a recorded run:
    assert(got(0) == ((0L, 0L, 0L)), "constant image must hash to 0/0")
    assert(got(1) == ((1L, 0xF0F0F0F0F0F0F0F0L, -1L)),
      "horizontal ramp: right-half cells above mean; every gradient rises")
    assert(got(2) == ((2L, 0xFFFFFFFF00000000L, 0L)),
      "vertical ramp: bottom-half rows above mean; no horizontal gradient")
    assert(got(7)._3 == -1L, "diagonal: every gradient rises")
    // discrimination: each family collides where its definition says it
    // must — ahash can't tell the ramp from the step (identical
    // cell-vs-global-mean signs: img 1 ≡ 4), dhash can't tell the two
    // all-rising images apart (img 1 ≡ 7 → -1) nor the two with no
    // horizontal gradient (img 0 ≡ 2 → 0) — but the PAIR separates all
    // 8, which is why the dedup key is (ahash, dhash) jointly
    assert(got.map(_._2).distinct.length == 7)
    assert(got.map(_._3).distinct.length == 6)
    assert(got.map(t => (t._2, t._3)).distinct.length == 8)
  }

  test("mm5 image near-dup: re-encoded duplicates pair at distance 0; single-hash collision traps are rejected") {
    val got = Multimodal.imageNearDupQuery(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    // exactly the three codec-duplicate pairs, all at combined 0
    assert(got == List((3L, 8L, 0L, 0L), (5L, 9L, 0L, 0L), (6L, 10L, 0L, 0L)))
    // the rejected traps are genuine CANDIDATES (shared aHash band),
    // not pairs the banding never saw — so their absence above proves
    // the combined verify did the killing: img 1 and 4 share the whole
    // aHash (all four bands); img 0 and 2 share the low two bands
    val hs = Multimodal.perceptualHashQuery(spark, "unused")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def shareBand(a: Long, b: Long): Boolean = (0 until 4).exists(k =>
      ((hs(a)._1 >> (k * 16)) & 0xFFFFL) == ((hs(b)._1 >> (k * 16)) & 0xFFFFL))
    assert(shareBand(1L, 4L) && shareBand(0L, 2L))
  }

  test("dHash: gradient hash — codec-invariant, brightness-shift-invariant, direction-sensitive") {
    import java.awt.image.BufferedImage
    def enc(bi: BufferedImage, format: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, format, bos), s"no $format codec")
      bos.toByteArray
    }
    def media(id: Long, b: Array[Byte]) = Multimodal.Media(id, b, b.length)
    def gray(v: Int) = (v << 16) | (v << 8) | v
    def fill(w: Int, h: Int)(f: (Int, Int) => Int): BufferedImage = {
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, f(x, y))
      bi
    }
    // ramp rising left→right: every gradient bit set; its mirror: none
    val rising = fill(36, 32)((x, _) => gray(40 + x * 5))
    val falling = fill(36, 32)((x, _) => gray(40 + (35 - x) * 5))
    val flat = fill(36, 32)((_, _) => gray(128))
    val brighter = fill(36, 32)((x, _) => gray(60 + x * 5)) // rising + 20
    val hashes = Multimodal.dHashAll(spark.createDataset(Seq(
      media(1, enc(rising, "png")), media(2, enc(rising, "bmp")),
      media(3, enc(falling, "png")), media(4, enc(flat, "png")),
      media(5, enc(brighter, "png")),
      media(9, "not an image".getBytes("UTF-8"))))(
      org.apache.spark.sql.Encoders.product[Multimodal.Media]))
      .collect().map(h => h.doc_id -> h.dhash).toMap
    assert(!hashes.contains(9L), "non-media rows must drop out")
    assert(hashes(1L) == -1L, "rising ramp: all 64 gradient bits set")
    assert(hashes(3L) == 0L, "falling ramp: no gradient bits set")
    assert(hashes(4L) == 0L, "flat image: no gradients")
    assert(hashes(1L) == hashes(2L), "codec invariance (PNG vs BMP)")
    assert(hashes(1L) == hashes(5L), "uniform brightness shift preserves gradients")
    // and the aHash CANNOT separate rising from falling-mirror the way
    // dHash does — the two families are complementary, not redundant
    assert(hashes(1L) != hashes(3L))
  }

  test("sign-LSH recall ≥ 0.9 on planted near-dup clusters (the regime the family is built for)") {
    // The sf fixture embeddings are near-random (true neighbors at ~70°),
    // which is sign-LSH's information-theoretic floor — documented at
    // Similarity.lshTopK. This fixture PLANTS near-dup pairs at the
    // cos ≥ 0.95 regime real embedding corpora put duplicates in, and
    // measures recall of both blocking schemes actually shipped:
    //   - sim2/sim4's single table with Hamming-1 multi-probe (at this
    //     fixture's size planesFor derives the 8-plane floor)
    //   - dd5/dd8's banded family (4 tables × the 4-plane floor,
    //     any-table collide)
    val rnd = new scala.util.Random(7)
    val dim = Similarity.Dim
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val planted = (0 until 80).map { i =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      // small perturbation: per-component σ=0.015 → noise norm ≈ 0.12
      // over 64 dims → cos ≈ 0.993; keep only genuinely near pairs
      val dup = unit(base.map(_ + 0.015 * rnd.nextGaussian()))
      val cos = base.zip(dup).map { case (a, b) => a * b }.sum
      (2L * i, base, 2L * i + 1, dup, cos)
    }.filter(_._5 >= 0.95)
    assert(planted.size >= 70, "fixture must retain most planted pairs")
    val rows = planted.flatMap(p => Seq((p._1, p._2.toSeq), (p._3, p._4.toSeq)))
    val df = rows.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val bands = (0 until Dedup.EmbBands).map(t =>
      Similarity.bandBucketCol(col("v"), t, Dedup.EmbBandPlanes).as(s"band$t"))
    val buckets = df.select(
        (col("vec_id") +: Similarity.bucketCol(col("v")).as("bucket") +: bands): _*)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        (0 until Dedup.EmbBands).map(t => r.getInt(2 + t))))
      .toMap
    val multiProbeHits = planted.count { p =>
      Integer.bitCount(buckets(p._1)._1 ^ buckets(p._3)._1) <= 1
    }
    val bandedHits = planted.count { p =>
      buckets(p._1)._2.zip(buckets(p._3)._2).exists { case (a, b) => a == b }
    }
    val n = planted.size.toDouble
    assert(multiProbeHits / n >= 0.9,
      s"multi-probe recall ${multiProbeHits / n} on ${planted.size} planted pairs")
    assert(bandedHits / n >= 0.9,
      s"banded recall ${bandedHits / n} on ${planted.size} planted pairs")

    // …and at the SELF-SIZED geometry a ~5k-vector corpus derives
    // (12 planes / 8 per band): recall in the real near-dup regime
    // must degrade gracefully, not collapse — the planes are fixed
    // md5 hyperplanes and the fixture is seeded, so these are
    // deterministic measurements with a safety margin, recording the
    // documented thin-bucket recall price of sizing for volume
    val buckets12 = df.select(
        (col("vec_id") +: Similarity.bucketCol(col("v"), 12).as("b12") +:
          (0 until Dedup.EmbBands).map(t =>
            Similarity.bandBucketCol(col("v"), t, 8).as(s"w$t"))): _*)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        (0 until Dedup.EmbBands).map(t => r.getInt(2 + t))))
      .toMap
    val mp12 = planted.count { p =>
      Integer.bitCount(buckets12(p._1)._1 ^ buckets12(p._3)._1) <= 1
    }
    val banded8 = planted.count { p =>
      buckets12(p._1)._2.zip(buckets12(p._3)._2).exists { case (a, b) => a == b }
    }
    assert(mp12 / n >= 0.8,
      s"12-plane multi-probe recall ${mp12 / n} collapsed on planted pairs")
    assert(banded8 / n >= 0.9,
      s"4×8-plane banded recall ${banded8 / n} collapsed on planted pairs")
  }

  test("IVF sample training past the exact-in-double envelope: dominant cell > 60k vectors, sums stay bounded") {
    // full-corpus IVF training keeps centroid sums exact-in-double only
    // up to ~60k vectors/cell; a clustered corpus puts ~70k vectors in
    // ONE cell — the regime where sampled training is mandatory. The
    // deterministic-stride sample bounds every component sum at 256·cap
    // regardless of corpus size, while the full corpus still assigns
    // against the sampled centroids with the same exact expression.
    val n = 700000L
    // 700k quantized vectors over ≤ IvfCells(10) cells → ≥ 70k
    // vectors/cell, past the ~60k full-training exactness bound
    val qt = spark.range(n).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          pmod(hash(col("id"), lit(j)), lit(256)).cast("long")): _*)
          .as("qv"))
      .withColumn("qvd", col("qv").cast("array<double>"))
      .withColumn("a2", graft.expressions.DotProduct.dot(col("qvd"), col("qvd")))
    val cap = 8192L
    val c1 = Similarity.trainedCentroidsSampled(qt, "vec_id", cap)
    val c2 = Similarity.trainedCentroidsSampled(qt, "vec_id", cap)
    assert(c1.map(c => (c.cid, c.n, c.s.toSeq)) ==
      c2.map(c => (c.cid, c.n, c.s.toSeq)), "sampled training must be deterministic")
    assert(c1.map(_.n).sum <= cap, "training must touch only the sample")
    // every component sum bounded by 256·cap ≪ 2^26.5 → s² ≪ 2^53: exact
    c1.foreach(c => c.s.foreach(x => assert(math.abs(x) <= 256L * cap)))
    // full-corpus assignment against sampled centroids partitions all rows
    val cells = Similarity.assignCells(qt, c1)
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(cells.sum == n)
    assert(cells.max > 60000L,
      s"fixture must exceed the 60k/cell envelope, got max ${cells.max}")
  }

  test("approx_count_distinct tracks exact distinct within tolerance (HLL for 100TB cardinalities)") {
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(explode(TextStats.words(col("text"))).as("w"))
    val (exact, approx) = toks
      .agg(countDistinct(col("w")).as("exact"),
        approx_count_distinct(col("w"), 0.02).as("approx"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("train/test split is stable across partitionings and ~90/10") {
    val a = TextStats.trainTestSplit(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Tables.documents(spark, sf).repartition(7)
      .createOrReplaceTempView("ignored") // no-op; determinism comes from the hash
    val again = TextStats.trainTestSplit(spark, sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == again)
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"split fraction $trainFrac")
  }

  test("fingerprint dedup collapses bag-of-words duplicates") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma  beta alpha"),  // same word set, different order/spacing
      (3L, "alpha beta delta")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("langId: marker argmax with first-wins ties, 'und' when no markers") {
    val got = Seq(
      "the table query join runs",   // sqlish
      "vector embedding model shine", // mlish
      "xyz qqq zzz")                  // und
      .toDF("text").select(TextStats.langId(col("text")).as("l"))
      .as[String].collect()
    assert(got.toSeq == Seq("sqlish", "mlish", "und"))
  }

  test("histogram quantile sketch: estimate within one bucket of exact, cells merge by sum") {
    import graft.ops.Sketch
    val width = 1L << Sketch.HistShift
    val rows = Sketch.histQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pr, est50, ex50, est90, ex90) =
        (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // lower bucket bound ≤ exact < bound + width — by construction
      assert(est50 <= ex50 && ex50 < est50 + width, s"$pr p50: $est50 vs $ex50")
      assert(est90 <= ex90 && ex90 < est90 + width, s"$pr p90: $est90 vs $ex90")
    }
    // cells are additive: histograms of disjoint halves, summed, equal
    // the whole-corpus histogram
    val o = Tables.orders(spark, sf)
    val whole = Sketch.histTable(o)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val halves = Sketch.histTable(o.filter(col("o_orderkey") % 2 === 0))
      .unionByName(Sketch.histTable(o.filter(col("o_orderkey") % 2 === 1)))
      .groupBy("priority", "bucket").agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(halves == whole, "summed half-histograms diverge from the whole")
    // plain-JVM replay of the cells from (priority, total cents)
    val replay = o.select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long"))
      .as[(String, Long)].collect().toSeq
      .groupBy { case (pr, c) => (pr, c >> Sketch.HistShift) }
      .view.mapValues(_.size.toLong).toMap
    assert(replay == whole, "cells diverge from the plain-JVM replay")
  }

  test("Bloom sketch: one-sided membership, eval docs fully flagged, words merge by OR") {
    import graft.ops.Sketch
    val rows = Sketch.bloomDecontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, nSh, nBloom, nExact) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nBloom >= nExact,
        s"doc $id: bloom missed a true member ($nBloom < $nExact)")
      assert(nBloom <= nSh)
    }
    // eval docs' every shingle is in the filter by construction
    rows.filter(_.getLong(0) % TextStats.ContamStride == 0).foreach { r =>
      assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == r.getLong(1),
        s"eval doc ${r.getLong(0)} not fully flagged")
    }
    // mergeability — the 100-TB property: bitmaps built on disjoint
    // halves, merged by word-wise OR, equal the whole-corpus bitmap
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextStats.shingles(col("text"), 3)).as("sh"))
    val whole = Sketch.bloomTable(sh.select("sh").distinct())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val halves = Sketch.bloomTable(
        sh.filter(col("doc_id") % 2 === 0).select("sh").distinct())
      .unionByName(Sketch.bloomTable(
        sh.filter(col("doc_id") % 2 === 1).select("sh").distinct()))
      .groupBy("slot").agg(expr("bit_or(word)").as("word"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(halves == whole, "OR-merged half-bitmaps diverge from the whole")
  }

  test("sign-LSH geometry self-sizes: integer ceil-log2, floors and ceilings honored") {
    import graft.ops.Similarity._
    // the shared integer ceil-log2 (the SQL twin is length(bin(m-1)))
    assert(ceilLog2(0) == 0 && ceilLog2(1) == 0 && ceilLog2(2) == 1)
    assert(ceilLog2(3) == 2 && ceilLog2(4) == 2 && ceilLog2(5) == 3)
    assert(ceilLog2(256) == 8 && ceilLog2(257) == 9)
    // sim4: floor 8 at tiny corpora, log growth, hard ceiling
    assert(planesFor(1) == MinPlanes && planesFor(50) == MinPlanes)
    assert(planesFor(500) == 8 && planesFor(512) == 8)
    assert(planesFor(5000) == 12 && planesFor(50000) == 15)
    assert(planesFor(Long.MaxValue / 8) == MaxPlanes)
    // dd5/dd8: per-band planes, floor 4, stride ceiling 16
    assert(Dedup.embBandPlanesFor(500) == 4)
    assert(Dedup.embBandPlanesFor(5000) == 8)
    assert(Dedup.embBandPlanesFor(1L << 40) == MaxEmbBandPlanes)
    // dd9: band width capped by the 60-bit signature at 4 bands
    assert(Dedup.simhashBandBitsFor(500) == 9)
    assert(Dedup.simhashBandBitsFor(1 << 20) == Dedup.SimHashBandBits)
  }

  test("dd9 output is banding-invariant: derived, narrow, and full 15-bit band widths emit identical pairs") {
    // exact pigeonhole recall at every width ≥1 (4 disjoint bands, ≤3
    // differing bits) + the final hamming filter and distinct ⇒ the
    // pair set is the full Hamming-≤3 set regardless of geometry —
    // the invariance that lets the DuckDB oracle keep its fixed 4×15
    // rendering while the Spark side self-sizes
    val docs = Tables.documents(spark, sf)
    def pairs(bandBits: Int): Seq[String] =
      Dedup.simhashPairsOf(docs, bandBitsOverride = bandBits)
        .collect().map(_.toString).toSeq
    val derived = Dedup.simhashPairsOf(docs).collect().map(_.toString).toSeq
    val full = pairs(Dedup.SimHashBandBits)
    assert(full.nonEmpty, "fixture must contain near-dup pairs")
    assert(derived == full, "derived band width changed the pair set")
    assert(pairs(5) == full, "narrow bands changed the pair set")
  }

  test("tx17 PII scrub: exact counts and redacted text on organic PII; scrubbing is idempotent") {
    val fixture = Seq(
      (1L, "write bob.smith+x@mail.example.co or ADMIN@h.io today"),
      (2L, "servers 10.0.0.1 and 192.168.255.3 up, version 1.2.3 alone stays"),
      (3L, "dial +1-555-0199 now, +1-555-12345 redacts its first four digits"),
      (4L, "no pii here at all"),
      (5L, "mixed a@b.com at 8.8.8.8 call +1-555-0000"))
      .toDF("doc_id", "t")
    val got = TextStats.piiRedactOf(fixture)
      .select("doc_id", "n_email", "n_ip", "n_phone").as[(Long, Long, Long, Long)]
      .collect().toList
    assert(got == List((1L, 2L, 0L, 0L), (2L, 0L, 2L, 0L),
      (3L, 0L, 0L, 2L), (4L, 0L, 0L, 0L), (5L, 1L, 1L, 1L)))
    // the redacted strings themselves, via the same chain minus the digest
    val redacted = fixture
      .withColumn("t", regexp_replace(col("t"), TextStats.PiiEmailRe, "[EMAIL]"))
      .withColumn("t", regexp_replace(col("t"), TextStats.PiiIpRe, "[IP]"))
      .withColumn("t", regexp_replace(col("t"), TextStats.PiiPhoneRe, "[PHONE]"))
      .as[(Long, String)].collect().toMap
    assert(redacted(1L) == "write [EMAIL] or [EMAIL] today")
    assert(redacted(2L) == "servers [IP] and [IP] up, version 1.2.3 alone stays")
    assert(redacted(3L) == "dial [PHONE] now, [PHONE]5 redacts its first four digits")
    assert(redacted(5L) == "mixed [EMAIL] at [IP] call [PHONE]")
    // idempotence: placeholders contain no PII shapes, so a second pass
    // finds zero matches and changes nothing
    val twice = TextStats.piiRedactOf(
      redacted.toSeq.toDF("doc_id", "t"))
      .select("n_email", "n_ip", "n_phone").as[(Long, Long, Long)].collect()
    assert(twice.forall(_ == ((0L, 0L, 0L))))
  }

  test("tx21 token shards: stable-hash order, whole-doc placement, brute-force parity, shard fill bounded") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nTok = (1L to 60L).map(i => i -> (i % 50 + 10)).toMap
    val docs = (1L to 60L)
      .map(i => (i, (1L to nTok(i)).map(j => s"w${i}_$j").mkString(" ")))
    val budget = 128L
    val got = GraftSpark.withPartitions(4)(s =>
      TextStats.tokenShardsOf(s.createDataFrame(docs).toDF("doc_id", "text"), budget)
        .as[(Long, Long, Long, Long)].collect()).sortBy(_._1).toList
    // brute force: md5-hex order (Spark's md5() is the same lowercase
    // hex, so lexicographic order agrees), running offset, floor-div
    var off = 0L
    val expected = (1L to 60L).sortBy(i => md5hex(i.toString)).map { i =>
      val o = off; off += nTok(i)
      (i, nTok(i), o, o / budget)
    }.sortBy(_._1).toList
    assert(got == expected)
    assert(got.map(_._4).distinct.size > 5, "fixture must span shards")
    // fill bound: a shard closes only when an offset crosses its
    // boundary, so no shard exceeds budget + (max doc − 1) tokens
    val fills = got.groupBy(_._4).view.mapValues(_.map(_._2).sum)
    val maxDoc = nTok.values.max
    assert(fills.values.forall(_ <= budget + maxDoc - 1),
      s"overfilled shard: $fills")
  }

  test("tx20 winnowing: equals brute force incl. rightmost ties; a shared k+w-1 run shares a fingerprint; short docs empty") {
    import graft.ops.Sketch.jvmHash60
    def brute(text: String): Set[(Long, Long)] = {
      val ws = text.trim.split("\\s+", -1).toSeq
      if (ws.length < TextStats.WinnowK) return Set.empty
      val hs = (0 to ws.length - TextStats.WinnowK)
        .map(i => jvmHash60(
          ws.slice(i, i + TextStats.WinnowK).mkString(" "), TextStats.WinnowSeed))
      val m = hs.length
      val w = TextStats.WinnowW
      if (m < w) return Set.empty
      (0 to m - w).map { i =>
        val win = hs.slice(i, i + w)
        val rel = win.lastIndexOf(win.min) // rightmost minimum
        ((i + rel + 1).toLong, win.min)
      }.toSet
    }
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "x y x y x y x y x y"), // repeated grams → real in-window ties
      (3L, "p1 p2 s1 s2 s3 s4 s5 s6 q1 q2"),
      (4L, "r1 r2 r3 s1 s2 s3 s4 s5 s6 r4"), // shares the 6-token run
      (5L, "short one two")) // one gram < w → no window, no fingerprint
    val got = TextStats.winnowOf(fixture.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    fixture.foreach { case (id, t) =>
      assert(got.getOrElse(id, Set.empty) == brute(t), s"doc $id diverges")
    }
    // the paper's guarantee: a shared token run of k+w-1 = 6 tokens
    // must leave at least one common selected hash
    assert((got(3L).map(_._2) & got(4L).map(_._2)).nonEmpty,
      "shared-run fingerprint guarantee broken")
  }

  test("tx19 temperature mix: sqrt-flattened quotas, exact largest-remainder split, tail source upsampled past one epoch") {
    // counts 100 / 16 / 4 → weights 10 / 4 / 2, Σw = 16, total 120,
    // target 60; bases ⌊60·w/16⌋ = 37 / 15 / 7 (Σ 59), one leftover
    // goes to the largest remainder (60·10 % 16 = 8 for 'aa' vs 0 / 8;
    // tie aa/cc broken by name → aa). Quota 38/15/7: 'cc' repeats its
    // 4 docs ~1.75 epochs (175 e2) — the flattening under test.
    val rows =
      (1 to 100).map(i => (i.toLong, "aa")) ++
      (101 to 116).map(i => (i.toLong, "bb")) ++
      (117 to 120).map(i => (i.toLong, "cc"))
    val docs = rows.toDF("doc_id", "lang")
    val fin = TextStats.temperatureMixOf(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(fin == List(
      ("aa", 100L, 10L, 38L, 38L, 38L),
      ("bb", 16L, 4L, 15L, 15L, 93L),
      ("cc", 4L, 2L, 7L, 4L, 175L)))
    assert(fin.map(_._4).sum == 60L, "quotas must sum exactly to the target")
    // and the driver query itself: quotas sum to the target on real data
    val real = TextStats.temperatureMix(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val total = Tables.documents(spark, sf).count()
    assert(real.map(_._4).sum == total * TextStats.TempTargetPct / 100)
    assert(real.forall(r => r._5 <= r._2), "selection capped by source size")
  }

  test("tx18 segment dedup: global first occurrence survives, later and within-doc repeats drop, ragged tail kept") {
    val A = (1 to 8).map(i => s"a$i").mkString(" ")
    val B = (1 to 8).map(i => s"b$i").mkString(" ")
    val C = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$A $B"),          // both first occurrences
      (2L, s"$A $C"),          // A repeats → dropped; C first
      (3L, s"$C $C"),          // both occurrences already seen (doc 2 / within)
      (4L, s"$B tail1 tail2")) // B dropped; ragged 2-token tail is novel
      .toDF("doc_id", "text")
    val got = TextStats.segmentDedupOf(docs)
      .as[(Long, Long, Long, String)].collect().toList
    assert(got == List(
      (1L, 2L, 2L, s"$A $B"),
      (2L, 2L, 1L, C),
      (3L, 2L, 0L, ""),
      (4L, 2L, 1L, "tail1 tail2")))
  }

  test("df-prune: independent re-derivation — boilerplate gone everywhere, order kept, every doc survives") {
    val out = TextStats.dfPrune(spark, sf).collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out.length == texts.size, "every document must survive the prune")
    val tokens = texts.view.mapValues(_.trim.split("\\s+").toSeq).toMap
    val dfm = tokens.values.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    val keep = dfm.collect {
      case (t, df) if df * 100 <= TextStats.MaxDfPct * texts.size => t
    }.toSet
    assert(keep.nonEmpty && keep.size < dfm.size,
      "fixture should split the vocabulary, else the test is vacuous")
    out.foreach { r =>
      val (id, nOrig, nKept, text) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val expected = tokens(id).filter(keep)
      assert(nOrig == tokens(id).size, s"doc $id n_orig")
      assert(nKept == expected.size, s"doc $id n_kept")
      assert(text == expected.mkString(" "), s"doc $id reassembly order")
    }
  }

  test("smp1 stratified balance: min stratum survives whole; threshold rule is exact both ways") {
    val docs = (1L to 20L).map(i =>
      (i, if (i <= 4) "small" else "big", s"src${i % 3}"))
      .toDF("doc_id", "lang", "source")
    val kept = TextStats.stratifiedBalanceOf(docs)
      .as[(Long, String, String, Long)].collect().toList
    // smallest stratum: u·t < t·10⁶ ⇔ u < 10⁶ — always true
    assert(kept.count(_._2 == "small") == 4, "min stratum kept whole")
    // completeness + soundness of the cut, checked against an
    // independently computed u per doc (shared md5 primitive)
    val u = docs.select(col("doc_id"),
        pmod(graft.functions.Functions.md5Hash60(
          col("doc_id").cast("string"), TextStats.BalanceSeed),
          lit(TextStats.BalanceDen)).as("u"))
      .as[(Long, Long)].collect().toMap
    val expect = (1L to 20L).filter { i =>
      val nLang = if (i <= 4) 4L else 16L
      u(i) * nLang < 4L * TextStats.BalanceDen
    }.toList
    assert(kept.map(_._1) == expect, "hash-threshold cut")
    assert(kept.map(_._4) == expect.map(u), "sample_key is the variate")
  }

  test("tx24 vocab coverage: exact ranks, prefix sums, and token-share fractions") {
    val docs = Seq((1L, "w w w x"), (2L, "x y"))
      .toDF("doc_id", "text")
    val got = TextStats.vocabCoverageOf(docs)
      .as[(Long, String, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, "w", 3L, 3L, 3.0 / 6),
      (2L, "x", 2L, 5L, 5.0 / 6),
      (3L, "y", 1L, 6L, 1.0)))
  }

  test("tx25 novelty: first copy scores 1, exact dup 0, partial overlap fractional, short doc NULL") {
    val docs = Seq(
      (1L, "a b c d"),   // "a b c","b c d" — both first here
      (2L, "a b c d"),   // exact dup → nothing novel
      (3L, "xx"),        // < 3 words → no shingles, NULL fraction
      (4L, "b c d e"))   // "b c d" seen in doc 1; "c d e" novel
      .toDF("doc_id", "text")
    val got = TextStats.ngramNoveltyOf(docs)
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        col("novel_frac"))
      .as[(Long, Long, Long, Option[Double])].collect().toList
    assert(got == List(
      (1L, 2L, 2L, Some(1.0)),
      (2L, 2L, 0L, Some(0.0)),
      (3L, 0L, 0L, None),
      (4L, 2L, 1L, Some(0.5))))
  }

  test("dd15 estimate: exact dups agree on all slots; every row internally consistent") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                    // exact dup: J = 1
      (3L, base + " lambda"), (4L, "unrelated words entirely here now"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashEstimateOf(docs)
      .as[(Long, Long, Double, Long, Double, Double)].collect().toList
    assert(got.nonEmpty)
    val dup = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(dup._3 == 1.0 && dup._4 == Dedup.NumHashes.toLong &&
      dup._5 == 1.0 && dup._6 == 0.0)
    got.foreach { case (_, _, j, agree, est, err) =>
      assert(agree >= 0L && agree <= Dedup.NumHashes.toLong)
      assert(est == agree.toDouble / Dedup.NumHashes)
      assert(err == est - j)
    }
  }

  test("g3 assortativity: a directed star is exactly −1; self-consistent moment sums") {
    // hub 1 ↔ leaves 2,3: every edge joins the degree-2 hub to a
    // degree-1 leaf — perfect disassortativity
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.assortativityOfEdges(edges)
      .as[(Long, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toList
    assert(got == List((4L, 6L, 6L, 8L, 10L, 10L, Some(-1.0))))
    // uniform-degree graph (directed 3-cycle): zero variance → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val gotCyc = graft.ops.Graph.assortativityOfEdges(cyc)
      .select("assortativity").as[Option[Double]].collect().toList
    assert(gotCyc == List(None))
  }

  test("dd16 source dup stats: totals reconcile with dd7's cluster structure") {
    val got = Dedup.sourceDupStats(spark, sf)
      .as[(String, Long, Long, Double)].collect().toList
    val clusters = Dedup.dedupClusters(spark, sf)
    val nDocs = clusters.count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    assert(got.map(_._2).sum == nDocs, "per-source doc counts partition the corpus")
    // each cluster's min-id member is its own canonical doc, so total
    // dups = docs − clusters
    assert(got.map(_._3).sum == nDocs - nClusters)
    got.foreach { case (_, n, d, f) => assert(f == d.toDouble / n) }
  }

  test("sim5 centroids: axis-aligned labels give exact 0 / −1 cosines") {
    def vec(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(Similarity.Dim)(j =>
        if (j == axis) scale else if (j == axis + 1) 0.0f else 0.0f)
    val emb = Seq(
      (1L, 0, vec(0, 1.0f)), (2L, 0, vec(0, 2.0f)),   // +x
      (3L, 1, vec(1, 1.0f)), (4L, 1, vec(1, 3.0f)),   // +y
      (5L, 2, vec(0, -1.0f)))                          // −x
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelCentroidsOf(emb)
      .as[(Int, Int, Long, Long, Double)].collect().toList
    assert(got == List(
      (0, 1, 2L, 2L, 0.0), (0, 2, 2L, 1L, -1.0), (1, 2, 2L, 1L, 0.0)))
  }

  test("a19 trend: exact line recovers slope/intercept with r²=1; single-year group NULLs") {
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    // y = 3x + 5 dollars with x = year − 2000 → 300x + 500 cents
    val ev = Seq(
      ("t", ts(2001), Some(8.0)), ("t", ts(2002), Some(11.0)),
      ("t", ts(2003), Some(14.0)),
      ("s", ts(2001), Some(1.0)), ("s", ts(2001), Some(2.0)),
      ("t", ts(2001), Option.empty[Double]))
      .toDF("event_type", "ts", "value")
    val got = graft.model.Analytics.trendRegressionOf(ev)
      .select(col("event_type"), col("n"), col("slope"), col("intercept"),
        col("r2"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toList
    assert(got == List(
      ("s", 2L, None, None, None),
      ("t", 3L, Some(300.0), Some(500.0), Some(1.0))))
  }

  test("w8 conversion latency: first-signup→first-purchase deltas, hour buckets, dropouts excluded") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ev = Seq(
      // u1: signup 00:00, purchase 00:30 → 1800 s, bucket 0
      (10L, "signup", ts("00:00:00")), (10L, "purchase", ts("00:30:00")),
      // u2: two signups (first wins), purchase at 02:00 → 7200 s, bucket 2
      (20L, "signup", ts("00:00:00")), (20L, "signup", ts("01:00:00")),
      (20L, "purchase", ts("02:00:00")),
      // u3: purchase BEFORE signup → excluded
      (30L, "purchase", ts("00:00:00")), (30L, "signup", ts("01:00:00")),
      // u4: signup only → excluded
      (40L, "signup", ts("00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val got = graft.model.Analytics.conversionLatencyOf(ev)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((0L, 1L, 1800L, 1800L), (2L, 1L, 7200L, 7200L)))
  }

  test("w7 transitions: per-user successor chains, same-second ties break on event_id") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ev = Seq(
      (1L, 10L, "A", ts("00:00:01")), (2L, 10L, "B", ts("00:00:02")),
      (3L, 10L, "A", ts("00:00:03")),
      (4L, 20L, "A", ts("00:00:01")), (5L, 20L, "B", ts("00:00:02")),
      // same second: event_id order pins C→D, not D→C
      (6L, 30L, "C", ts("00:00:05")), (7L, 30L, "D", ts("00:00:05")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.model.Analytics.markovTransitionsOf(ev)
      .as[(String, String, Long, Double)].collect().toList
    assert(got == List(
      ("A", "B", 2L, 1.0), ("B", "A", 1L, 1.0), ("C", "D", 1L, 1.0)))
  }

  test("sim7 margins: a planted mislabeled point is the one negative margin") {
    def vec(axis: Int, scale: Float): Seq[Float] =
      Seq.tabulate(Similarity.Dim)(j => if (j == axis) scale else 0.0f)
    // label 0 clusters on +x, label 1 on +y; vector 5 carries label 0
    // but points along +y — it must be label 0's single misassignment,
    // and label 1's points must all be positive-margin
    val emb = Seq(
      (1L, 0, vec(0, 1.0f)), (2L, 0, vec(0, 2.0f)), (3L, 0, vec(0, 1.5f)),
      (4L, 1, vec(1, 1.0f)), (6L, 1, vec(1, 2.0f)),
      (5L, 0, vec(1, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.clusterMarginsOf(emb)
      .as[(Int, Long, Long, Long)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3)) == List((0, 4L, 1L), (1, 2L, 0L)))
    // label 1's margin sum is strictly positive; label 0's carries the
    // planted negative but stays internally consistent (3 clean points
    // near +x vs one pure +y outlier)
    assert(got(1)._4 > 0L)
  }

  test("j11 nearest event: distance ties go to the EARLIER click; same-second clicks dedup to min id") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val ev = Seq(
      // user 1: clicks at 00:00:00 and 00:00:20, purchase at 00:00:10 —
      // equidistant (10 s both ways) → earlier click (id 1) wins
      (1L, 1L, "click", ts("00:00:00")),
      (2L, 1L, "click", ts("00:00:20")),
      (3L, 1L, "purchase", ts("00:00:10")),
      // user 2: two clicks in the same second → min event_id survives;
      // purchase same second → distance 0
      (4L, 2L, "click", ts("00:01:00")),
      (5L, 2L, "click", ts("00:01:00")),
      (6L, 2L, "purchase", ts("00:01:00")),
      // user 3: purchase with no clicks → dropped (inner semantics)
      (7L, 3L, "purchase", ts("00:02:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val dir = java.nio.file.Files.createTempDirectory("j11spec").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ops.AsOf.nearestEventQuery(spark, dir)
      .select("purchase_id", "click_id", "dsec")
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((3L, 1L, 10L), (6L, 4L, 0L)))
  }

  test("mm12 finds exactly the planted clip-reuse pair: 4 shared scene-2 frames, nothing else") {
    val got = graft.ops.Multimodal.videoNearDupQuery(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect().toList
    // clip 4 replays clip 1's scenes 2-3 at offset 8: the 4 frames of
    // scene 2 coincide (clip 1 ends mid-scene-3 at frame 11); clips
    // 2/3 have different dims and share no fingerprint with anything
    assert(got == List((1L, 4L, 4L, true)))
    // and the fingerprints really are frame-level: the shared count
    // equals SceneFrames, the full shared scene
    assert(got.head._3 == graft.ops.Multimodal.SceneFrames)
  }

  test("a20 CUSUM lands on a planted rate shift; brute-force statistic agrees") {
    // 20 days at 2 events/day, then 10 days at 10/day → the max
    // cumulative deviation from the pooled mean sits at the boundary
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-02-${day + 1}%02d 0${i % 10}:00:00")
    val counts = (0 until 20).map(_ => 2) ++ (0 until 10).map(_ => 10)
    val ev = counts.zipWithIndex.flatMap { case (c, day) =>
      (0 until c).map(i =>
        (day.toLong * 100 + i, ts(day, i), 1L, "x", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.cusumChangepointOf(ev)
      .select("n_days", "total", "cut_day", "cusum_stat")
      .as[(Long, Long, String, Long)].collect().head
    // brute force the same statistic
    val n = counts.length.toLong
    val t = counts.sum.toLong
    val stats = counts.scanLeft(0L)(_ + _).drop(1).zipWithIndex.map {
      case (ck, k0) => math.abs(n * ck - (k0 + 1) * t)
    }
    val bestK = stats.indexOf(stats.max) // earliest argmax
    assert(got._1 == n && got._2 == t)
    assert(got._3 == f"2024-02-${bestK + 1}%02d", s"got ${got._3} k=$bestK")
    assert(got._4 == stats.max)
    assert(bestK == 19, "the planted boundary day")
  }

  test("g5 RA weighting: a shared 2-degree neighbour outranks a shared 5-degree hub at equal CN") {
    // hub 100 ~ {1..5}; tight node 200 ~ {6,7}: every candidate pair
    // has cn=1, but (6,7)'s witness has degree 2 vs the hub's 5
    val arcs = (1L to 5L).map(i => (100L, i)) ++ Seq((200L, 6L), (200L, 7L))
    val hubPairs = (1L to 5L).flatMap(i => (i + 1 to 5L).map(j =>
      (i, j, 1L, 200000L))).toList
    // a self-loop on the hub is ignored: its degree stays 5, not 6
    for (edges <- Seq(arcs, arcs :+ ((100L, 100L)))) {
      val got = graft.ops.Graph.linkScoresOf(edges.toDF("src", "dst"))
        .as[(Long, Long, Long, Long)].collect().toList
      assert(got == (6L, 7L, 1L, 500000L) :: hubPairs, edges)
    }
  }

  test("sim8 PQ on a zero-error lattice: codes hit the planted patterns, ADC order = exact L2 order") {
    val sub = Similarity.PqSub
    val sd = Similarity.PqSubDim
    // subvector pattern k (k=0..7) = constant (k+1)/256 — quantizes
    // exactly to integer k+1, so codebooks converge to the patterns and
    // ADC degenerates to the exact squared L2 distance
    def pat(j: Int, m: Int): Int = if (j < 8) j else (j + m) % 8
    val emb = (0 until 40).map { j =>
      val v = Array.tabulate(Similarity.Dim) { d =>
        (pat(j, d / sd) + 1).toFloat / 256f
      }
      (j.toLong, v.toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.pqTopKOf(emb)
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"),
        col("code3"), col("adc"))
      .as[(Long, Int, Int, Int, Int, Double)].collect().toList
    // codes = planted pattern ids (seed vec j<8 carries pattern j → cid j)
    got.foreach { case (j, c0, c1, c2, c3, _) =>
      assert(Seq(c0, c1, c2, c3) == (0 until sub).map(m => pat(j.toInt, m)),
        s"vec $j codes ($c0,$c1,$c2,$c3)")
    }
    // ADC ranking equals brute-force integer L2 against query vec 0
    val expect = (1 until 40).map { j =>
      val d2 = (0 until Similarity.Dim).map { d =>
        val diff = pat(0, d / sd) + 1 - (pat(j, d / sd) + 1); diff * diff
      }.sum.toLong
      (j.toLong, d2)
    }.sortBy(r => (r._2, r._1)).take(Similarity.K)
    assert(got.map(_._1) == expect.map(_._1),
      s"got ${got.map(_._1)} expect ${expect.map(_._1)}")
    // and the emitted adc values are those exact integers
    got.zip(expect).foreach { case ((_, _, _, _, _, adc), (_, d2)) =>
      assert(adc == d2.toDouble, s"adc $adc != $d2")
    }
  }

  test("tx30 merge application is greedy-leftmost: overlapping runs alternate, isolated matches all merge") {
    // top pair is (a, a) with 6 occurrences; "a a a a a" must merge to
    // [a_a, a_a, a] (positions 0 and 2, NOT 1 or 3), "a a b a a" to
    // [a_a, b, a_a]
    val docs = Seq(
      (1L, "a a a a a", "en", "s", 9L),
      (2L, "a a b a a", "en", "s", 9L),
      (3L, "b b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextStats.bpeMergeRoundOf(docs)
      .as[(String, Long)].collect().toList
    assert(got == List(
      ("a_a a", 1L), ("a_a a_a", 1L), ("a_a b", 1L),
      ("b a_a", 1L), ("b b", 1L)))
  }

  test("mm11 shots align to scene boundaries; equal-motion ties elect the EARLIEST frame") {
    val got = graft.ops.Multimodal.keyframeQuery(spark, sf)
      .select("video_id", "shot_id", "first_frame", "last_frame", "key_frame")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val k = graft.ops.Multimodal.SceneFrames
    got.foreach { case (vid, shot, first, last, key) =>
      // every shot after the first starts exactly at a scene boundary
      // (the cut frame); shot 0 starts at frame 1 (frame 0 has no diff)
      assert(first == (if (shot == 0) 1L else shot * k))
      assert(last < (shot + 1) * k)
      // intra-scene diffs are all equal (the fixture moves every pixel
      // by exactly 1/frame) and the boundary frame dwarfs them — so the
      // keyframe is the cut frame, and for shot 0 the tie rule elects
      // the earliest frame
      assert(key == first, s"video $vid shot $shot: key $key != first $first")
    }
    // clip 1: 12 frames / 4-frame scenes → shots 0..2 present
    assert(got.filter(_._1 == 1L).map(_._2) == List(0L, 1L, 2L))
  }

  test("inc1 maintenance law: merged partial states equal the single-pass aggregate; split covers all rows") {
    val (o, c, n) = (graft.Tables.orders(spark, sf),
      graft.Tables.customer(spark, sf), graft.Tables.nation(spark, sf))
    val merged = graft.ops.Incremental.aggMaintenanceOf(o, c, n)
    // direct single-pass plan over the same inputs
    import graft.functions.Functions.cents
    val direct = o
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("sum_cents"),
        min(cents(col("o_totalprice"))).as("min_cents"),
        max(cents(col("o_totalprice"))).as("max_cents"))
      .withColumn("avg_price",
        col("sum_cents").cast("double") / col("n_orders").cast("double") / 100.0)
      .orderBy("nation", "priority")
    assert(merged.collect().toSeq == direct.collect().toSeq)
    // the split is a partition: base + delta row counts sum to the total
    assert(merged.agg(sum("n_orders")).as[Long].collect().head == o.count())
  }

  test("lay1 z-order buckets are tight on BOTH dimensions — single-column sort is not") {
    val li = graft.Tables.lineitem(spark, sf)
    val m = graft.ops.Layout.zorderManifestOf(li)
      .select("n_rows", "day_span", "part_span")
      .as[(Long, Long, Long)].collect()
    assert(m.length > 500, s"manifest should occupy most buckets, got ${m.length}")
    val n = m.map(_._1).sum.toDouble
    // row-weighted mean spans (what a scan actually prunes against)
    val daySpan = m.map(r => r._1 * r._2).sum / n
    val partSpan = m.map(r => r._1 * r._3).sum / n
    val (dayRange, partRange) = li.select(
      (max(datediff(to_date(col("l_shipdate")), lit("1970-01-01"))) -
        min(datediff(to_date(col("l_shipdate")), lit("1970-01-01")))).cast("long"),
      (max("l_partkey") - min("l_partkey")).cast("long"))
      .as[(Long, Long)].collect().head
    // 10 bucket bits = 5 per dimension → ideal span ≈ range/32; allow 4×
    assert(daySpan < dayRange / 8.0, s"day span $daySpan vs range $dayRange")
    assert(partSpan < partRange / 8.0, s"part span $partSpan vs range $partRange")
    // the single-column contrast: bucket by day rank alone → partkey
    // span per bucket stays ~the full range (no pruning on dim 2)
    val byDay = li.select(datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("d"), col("l_partkey").as("p"))
      .withColumn("bucket", (col("d") * 1024L / (lit(dayRange) + 1)).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        (max("p") - min("p")).as("pspan"))
      .as[(Long, Long, Long)].collect()
    val sortedPartSpan = byDay.map(r => r._2 * r._3).sum / byDay.map(_._2).sum.toDouble
    assert(partSpan * 4 < sortedPartSpan,
      s"z-order part span $partSpan should beat day-sorted $sortedPartSpan by ≥4×")
  }

  test("rl1 blocking recall is total: every corrupted row links back to its source at its rule's distance") {
    val cust = graft.Tables.customer(spark, sf)
    val n = cust.count()
    val links = graft.ops.Linkage.recordLinkageOf(cust)
      .filter(col("same_entity"))
      .select(col("clean_id"), col("lev"))
      .as[(Long, Long)].collect().toMap
    // pigeonhole guarantee: all n true pairs survive blocking
    assert(links.size == n)
    // distance equals the corruption rule: 0 for untouched (key%4==3),
    // 1 for substitution/deletion/insertion
    links.foreach { case (id, lev) =>
      assert(lev == (if (id % 4 == 3) 0L else 1L), s"custkey $id lev $lev")
    }
  }

  test("rl1 blocked pair set equals per-nation brute force lev<=1 exactly") {
    val cust = graft.Tables.customer(spark, sf)
    val got = graft.ops.Linkage.recordLinkageOf(cust)
      .select("clean_id", "dirty_id").as[(Long, Long)].collect().toSet
    val clean = cust.select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .as[(Long, String, Int)].collect()
    val dirty = graft.ops.Linkage.dirtyRegistryOf(cust)
      .as[(Long, String, Int)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (cid, cn, cnk) <- clean; (did, dn, dnk) <- dirty
      if cnk == dnk && lev(cn, dn) <= 1
    } yield (cid, did)).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("smp3 negatives are never positives, capped at k, and partition-invariant") {
    val got = graft.ops.Sampling.negativeSampling(spark, sf)
    val rows = got.collect()
    val pos = graft.Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").distinct()
      .as[(Long, Long)].collect().toSet
    rows.foreach { r =>
      assert(!pos.contains((r.getAs[Long]("l_suppkey"),
        r.getAs[Long]("neg_partkey"))),
        s"negative is a positive: $r")
      assert(r.getAs[Long]("rank") >= 1L && r.getAs[Long]("rank") <= 3L)
    }
    // per-positive counts never exceed k (fewer only when draws collide
    // with the dense positive set — legal and deterministic)
    val perPair = rows.groupBy(r =>
      (r.getAs[Long]("l_suppkey"), r.getAs[Long]("l_partkey")))
    assert(perPair.values.forall(_.length <= 3))
    // hash-derived draws are partitioning-independent: 17-way
    // repartitioned input produces the identical sample
    val repart = graft.ops.Sampling.negativeSamplingOf(
      graft.Tables.lineitem(spark, sf).repartition(17),
      graft.Tables.part(spark, sf).repartition(3))
    assert(repart.collect().map(_.toString).sorted
      .sameElements(rows.map(_.toString).sorted))
  }

  test("a23 trims exactly floor(n/10) per side and the kept range brackets the mean") {
    val rows = graft.model.Analytics.trimmedStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_total"); val kept = r.getAs[Long]("n_kept")
      assert(kept == n - 2 * (n / 10), r.toString)
      val avg = r.getAs[Double]("trimmed_avg")
      assert(avg * 100 >= r.getAs[Long]("lo_cents") &&
        avg * 100 <= r.getAs[Long]("hi_cents"))
    }
  }

  test("kmv1: below k the sketch IS the exact set — union/intersect/jaccard exact") {
    // srcA: shingles from "t1..t6" stream; srcB overlaps on a suffix;
    // srcC disjoint. All well under k=64 distinct trigrams.
    val docs = Seq(
      (1L, "a b c d e f", "en", "srcA", 11L),
      (2L, "d e f g h", "en", "srcB", 9L),
      (3L, "p q r s", "en", "srcC", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Sketch.kmvSetOpsOf(docs)
      .select("source_a", "source_b", "n_a", "n_b", "n_union_topk",
        "n_common", "est_union", "est_jaccard", "est_intersect")
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toList
    // srcA trigrams: {abc,bcd,cde,def} (4); srcB: {def,efg,fgh} (3);
    // shared: {def} (1). srcC: {pqr,qrs} (2), disjoint from both.
    val ab = got.find(r => r._1 == "srcA" && r._2 == "srcB").get
    assert((ab._3, ab._4) == (4L, 3L))
    assert(ab._5 == 6L && ab._6 == 1L)       // |A∪B|=6, |A∩B|=1
    assert(ab._7 == 6.0 && ab._9 == 1.0)     // exact below k
    assert(ab._8 == 1.0 / 6.0)
    val ac = got.find(r => r._1 == "srcA" && r._2 == "srcC").get
    assert(ac._5 == 6L && ac._6 == 0L && ac._9 == 0.0)
  }

  test("kmv1 above k: kth/rho agree with brute-force k smallest; estimate within 3 stderr") {
    // two sources sharing half their shingles, each ~200 distinct — the
    // cutoff prefilter + window path must reproduce the exact k
    // smallest hashes of each set and of the merged union
    val mk = (s: String, n: Int, off: Int) =>
      (0 until n).map(i => s"w${off + i}").grouped(50)
        .zipWithIndex.map { case (ws, i) =>
          ((s + i).hashCode.toLong, ws.mkString(" "), "en", s, 1L) }.toSeq
    val docs = (mk("sA", 300, 0) ++ mk("sB", 300, 150))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = graft.ops.Sketch.kmvSetOpsOf(docs)
      .select("n_a", "n_b", "n_union_topk", "kth", "n_common", "est_union")
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(row._1 == 64L && row._2 == 64L && row._3 == 64L)
    // brute force: hash every distinct trigram of each source directly
    import graft.functions.Functions.md5Hash60
    def hashes(src: String) = docs.filter(col("source") === src)
      .select(explode(TextStats.shingles(col("text"), 3)).as("sh"))
      .select(md5Hash60(col("sh"), graft.ops.Sketch.KmvSeed).as("h"))
      .distinct().as[Long].collect().sorted
    val (ha, hb) = (hashes("sA"), hashes("sB"))
    val merged = (ha ++ hb).distinct.sorted.take(64)
    assert(row._4 == merged.last)
    assert(row._5 == merged.count(h => ha.contains(h) && hb.contains(h)))
    // true union: ~448 distinct trigrams (300+300 minus ~150 shared
    // minus boundary effects); KMV stderr ≈ 1/sqrt(k−2)
    val trueUnion = (ha ++ hb).distinct.length.toDouble
    assert(math.abs(row._6 - trueUnion) / trueUnion < 3.0 / math.sqrt(62.0))
  }

  test("a21 autocorrelation matches brute force on a planted alternating series") {
    // 14 days alternating 2/8 events → acf1 strongly negative, acf2
    // strongly positive; exact integers all the way to the division
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-03-${day + 1}%02d 0${i % 10}:00:00")
    val counts = (0 until 14).map(d => if (d % 2 == 0) 2 else 8)
    val ev = counts.zipWithIndex.flatMap { case (c, day) =>
      (0 until c).map(i =>
        (day.toLong * 100 + i, ts(day, i), 1L, "x", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.autocorrelationOf(ev)
      .select("n_days", "total", "den", "num1", "num2", "num3")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val n = counts.length.toLong
    val sTot = counts.sum.toLong
    val d0 = counts.map(x => n * x - sTot)
    def num(k: Int) = (k until counts.length)
      .map(t => d0(t) * d0(t - k)).sum
    val den = d0.map(x => x * x).sum
    assert(got == ((n, sTot, den, num(1), num(2), num(3))))
    assert(num(1) < 0 && num(2) > 0, "alternating series signs")
  }

  test("leak1 catches a planted cross-split near-dup and only that") {
    // find one id in each split under the tx5 bucket function, give
    // them near-identical text; a third doc is unrelated
    import graft.functions.Functions.md5Hash60
    val ids = (1L to 200L).toDF("doc_id")
      .withColumn("b", pmod(md5Hash60(col("doc_id").cast("string"), 7), lit(100L)))
    val trainId = ids.filter(col("b") < 90).select("doc_id").as[Long].head()
    val testId = ids.filter(col("b") >= 90).select("doc_id").as[Long].head()
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (trainId, base + " extra", "en", "s", 1L),
      (testId, base + " other", "en", "s", 1L),
      (999999L, (100 to 140).map(i => s"zz$i").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Curation.splitLeakageOf(docs).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("test_doc") == testId)
    assert(got.head.getAs[Long]("n_train_neardups") == 1L)
    assert(got.head.getAs[Double]("max_jaccard") >= 0.5)
  }

  test("a22 dow profile: uniform week has dev7=0/chi2=0; a missing day contributes total²") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00")
    // type 'u': one event each day Mon..Sun (Jan 1 2024 = Monday) → uniform
    // type 'm': one event Mon..Sat only (6 days, Sunday missing)
    val ev = ((1 to 7).map(dd => (dd.toLong, ts(dd), 1L, "u", 1.0, "{}")) ++
      (1 to 6).map(dd => (100L + dd, ts(dd), 1L, "m", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.dowProfileOf(ev).collect()
    val u = got.filter(_.getAs[String]("event_type") == "u")
    assert(u.length == 7 && u.forall(_.getAs[Long]("dev7") == 0L))
    assert(u.forall(_.getAs[Double]("chi2") == 0.0))
    val m = got.filter(_.getAs[String]("event_type") == "m")
    assert(m.length == 6)
    // present days: dev7 = 7·1 − 6 = 1; the missing Sunday owes its
    // (0−E)²/E term via (7−6)·total², so χ² = (6·1² + 6²)/(7·6) = 1
    assert(m.forall(_.getAs[Long]("dev7") == 1L))
    assert(math.abs(m.head.getAs[Double]("chi2") - 1.0) < 1e-15)
  }

  test("w12 merges an event INSIDE a long predecessor (where gap sessionization splits)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: a 2h interval (value 72.00 → 7200 s), then an event 90 min
    // later (inside it, 1-min duration), then one 10 s booking starting
    // exactly at the merged end (touching → merges), then a separate one
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), 1L, "x", 72.00, "{}"),
      (2L, ts("2024-01-01 09:30:00"), 1L, "x", 0.60, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 1L, "x", 0.10, "{}"),
      (4L, ts("2024-01-01 15:00:00"), 1L, "x", 0.50, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.intervalUnionOf(ev)
      .select("n_events", "n_busy_blocks", "busy_seconds")
      .as[(Long, Long, Long)].collect().head
    // block 1: [08:00, 10:00) ∪ [09:30, 09:31) ∪ [10:00, 10:00:10) →
    // [08:00, 10:00:10) = 7210 s (event 2 is 5400 s after event 1 —
    // a 30-min gap rule would have split; the running-max-end merge
    // doesn't). block 2: 50 s.
    assert(got == ((4L, 2L, 7260L)), got.toString)
  }

  test("av1 matches every cut to the true nearest onset with the earliest-tie rule") {
    import graft.ops.Multimodal
    val rows = Multimodal.avSyncQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent onset timeline: decode frames, Scala-side lag + filter
    val media = Multimodal.fixtureAudio().map { case (id, b) =>
      Multimodal.Media(id, b, b.length) }
    val frames = media.flatMap(m => Multimodal.pcmFrameFeatures(m).toSeq)
      .groupBy(_.track_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    val onsetsByTrack = frames.map { case (t, fs) =>
      t -> fs.zip(None +: fs.map(f => Some(f.energy))).collect {
        case (f, prev) if prev.isEmpty ||
          (f.energy - prev.get).abs * Multimodal.OnsetDen >=
            prev.get * Multimodal.OnsetNum =>
          f.frame_idx * Multimodal.AudioFrameMs
      }
    }
    rows.foreach { r =>
      val onsets = onsetsByTrack(r.getAs[Long]("video_id"))
      val cutMs = r.getAs[Long]("cut_ms")
      val best = onsets.map(o => ((cutMs - o).abs, o)).min
      assert(r.getAs[Long]("delta_ms") == best._1, r.toString)
      assert(r.getAs[Long]("onset_ms") == best._2, s"earliest-tie: $r")
      assert((r.getAs[Long]("in_sync") == 1L) == (best._1 <= 48L))
    }
    // and the cut list is exactly mm10's flagged frames
    val expectedCuts = Multimodal.fixtureVideo()
      .flatMap(v => Multimodal.frameDiffs(v).filter(_.is_cut))
      .map(f => (f.video_id, f.frame_idx)).toSet
    assert(rows.map(r => (r.getAs[Long]("video_id"),
      r.getAs[Long]("cut_frame"))).toSet == expectedCuts)
  }

  test("g6 peel removes a chain wave by wave and keeps the clique core") {
    // 4-clique {1,2,3,4} (3-core) with a tail 4-5-6-7: at k=2 the tail
    // peels one vertex per round from the free end — the multi-round
    // propagation a single degree filter cannot express
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tail = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (clique ++ tail).toDF("src", "dst")
    val got = graft.ops.Graph.kCorePeel(edges, k = 2, rounds = 5)
      .collect()
      .map(r => r.getAs[Long]("vertex") ->
        (Option(r.getAs[java.lang.Long]("removed_round")).map(_.toLong),
          r.getAs[Long]("in_core"))).toMap
    assert(got(7L) == ((Some(1L), 0L)), got.toString) // degree 1 → round 1
    assert(got(6L) == ((Some(2L), 0L)))               // exposed after 7 leaves
    assert(got(5L) == ((Some(3L), 0L)))               // exposed after 6 leaves
    (1L to 4L).foreach(v => assert(got(v) == ((None, 1L)), s"clique $v"))
    // at k=3 the whole tail AND nothing of the clique survives
    val g3 = graft.ops.Graph.kCorePeel(edges, k = 3, rounds = 5)
      .filter(col("in_core") === 1L)
      .select("vertex").as[Long].collect().toSet
    assert(g3 == Set(1L, 2L, 3L, 4L))
  }

  test("inc2 delta terms partition the join exactly — no drops, no double counting") {
    val o = graft.Tables.orders(spark, sf)
    val c = graft.Tables.customer(spark, sf)
    val direct = o.join(c, col("o_custkey") === col("c_custkey")).count()
    val viaDeltas = graft.ops.Incremental.joinMaintenanceOf(o, c)
      .agg(sum("n_orders")).as[Long].head()
    assert(viaDeltas == direct)
  }

  test("tx31 flags a genuinely mixed doc, not a dominated or empty one") {
    val docs = Seq(
      (1L, "table query join scan filter table", "en", "s", 1L), // pure sqlish
      (2L, "table vector batch query model stream", "en", "s", 1L), // 2/2/2 mixed
      (3L, "nothing matches here at all", "en", "s", 1L),         // zero hits
      (4L, "table table table table vector", "en", "s", 1L))      // 4/5 = dominated
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.langMixtureOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("top_lang"), r.getAs[Long]("is_mixed"),
          r.getAs[Long]("n_hits"))).toMap
    assert(got(1L) == (("sqlish", 0L, 6L)))
    // the langId convention: a tie resolves to the LAST marker family
    // (earlier families need strict > over later ones) — tx1's exact rule
    assert(got(2L) == (("opsish", 1L, 6L)), "ties resolve last; 2/6 < 80%")
    assert(got(3L) == (("und", 0L, 0L)), "no hits is unknown, not mixed")
    assert(got(4L) == (("sqlish", 0L, 5L)), "4/5 = 80% is NOT mixed (strict <)")
  }

  test("a24 flags a planted arm effect; universal conversion yields NULL z2") {
    import graft.functions.Functions.md5Hash60
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:00")
    val armOf = (1L to 200L).toDF("user_id")
      .select(col("user_id"), pmod(md5Hash60(col("user_id").cast("string"), 17),
        lit(2L)).as("b")).as[(Long, Long)].collect().toMap
    val ev = (1L to 200L).flatMap { u =>
      val base = Seq((u * 10, ts(u.toInt), u, "signup", 1.0, "{}"))
      // purchases only from the control arm → maximal separation
      val effect = if (armOf(u) == 0L)
        Seq((u * 10 + 1, ts(u.toInt), u, "purchase", 1.0, "{}")) else Nil
      base ++ effect
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.abProportionsOf(ev).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val p = got("purchase")
    assert(p.getAs[Long]("c2") == 0L && p.getAs[Long]("significant") == 1L)
    assert(p.getAs[Double]("z2") > 100.0, "one-armed conversion is extreme")
    // signup converts EVERY user: C = N → no variance → NULL, not a crash
    val s0 = got("signup")
    assert(s0.isNullAt(s0.fieldIndex("z2")))
    assert(s0.getAs[Long]("significant") == 0L)
    assert(s0.getAs[Long]("c1") + s0.getAs[Long]("c2") ==
      s0.getAs[Long]("n1") + s0.getAs[Long]("n2"))
  }

  test("dd18 cohesion rows reconcile with dd7's clusters and stay in range") {
    val rows = graft.ops.Dedup.clusterCohesion(spark, sf).collect()
    val dd7 = graft.ops.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("cluster_size"))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val pairs = r.getAs[Long]("n_pairs")
      // same component structure as dd7, only multi-member clusters
      assert(dd7(r.getAs[Long]("cluster_id")) == size, r.toString)
      assert(size >= 2 && pairs >= 1)
      assert(pairs <= size * (size - 1) / 2, "more pairs than member pairs")
      val d = r.getAs[Double]("pair_density")
      assert(d > 0.0 && d <= 1.0)
      val m = r.getAs[Double]("mean_qj_e6")
      // verified pairs sit at J >= threshold, so the mean must too
      assert(m >= 1000000.0 * graft.ops.Dedup.JaccardThreshold - 1 &&
        m <= 1000000.0)
    }
  }

  test("tx32: single-source corpus diverges exactly 0; disjoint sources diverge positive") {
    // one source ⇒ pool == source ⇒ every term cancels to exactly 0
    val solo = Seq((1L, "abcdefgh", "en", "only", 8L),
      (2L, "abcdxyz", "en", "only", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r0 = graft.ops.TextStats.sourceDivergenceOf(solo).collect()
    assert(r0.length == 1 && r0.head.getAs[Long]("div_bits") == 0L)
    assert(r0.head.getAs[Double]("bits_per_tri") == 0.0)
    // two trigram-disjoint sources: each source's own model finds its
    // trigrams ~2x more often than the pool does ⇒ strictly positive
    val duo = Seq((1L, "aaaaaaaaaa", "en", "srcA", 10L),
      (2L, "bbbbbbbbbb", "en", "srcB", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = graft.ops.TextStats.sourceDivergenceOf(duo).collect()
    assert(r1.length == 2)
    r1.foreach(r => assert(r.getAs[Long]("div_bits") > 0L, r.toString))
  }

  test("priv1 accounts for every customer and flags agree with the counts") {
    val sf = GraftSpark.sf
    val total = graft.Tables.customer(spark, sf).count()
    val rows = graft.ops.Privacy.kAnonymityAudit(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      assert((r.getAs[Long]("k_anon_ok") == 1L) == (r.getAs[Long]("n") >= 5L))
      assert((r.getAs[Long]("l_div_ok") == 1L) ==
        (r.getAs[Long]("n_sensitive") >= 3L))
      assert(r.getAs[Long]("n_sensitive") <= r.getAs[Long]("n"))
    }
  }

  test("dq2: digit counts partition n; a planted non-Benford segment flags, a Benford-profile one passes") {
    import java.sql.Timestamp
    // "good": counts proportional to Benford expectations over 1000
    // rows (first digit d appears round(1000·p_d) times — χ² stays
    // far under the critical value); "bad": every price starts with 9
    val good = (1 to 9).flatMap { d =>
      val n = math.round(1000 * graft.ops.Profile.BenfordP(d - 1)).toInt
      (1 to n).map(i => ("GOOD", d * 100.0 + (i % 90)))
    }
    val bad = (1 to 200).map(i => ("BAD", 900.0 + (i % 90)))
    val df = (good ++ bad).zipWithIndex.map { case ((p, v), i) =>
      (i.toLong, p, v, "O", new Timestamp(0L), "x")
    }.toDF("o_orderkey", "o_orderpriority", "o_totalprice",
      "o_orderstatus", "o_orderdate", "o_comment")
    val rows = graft.ops.Profile.benfordAuditOf(df).collect()
      .map(r => r.getAs[String]("priority") -> r).toMap
    val g = rows("GOOD")
    val b = rows("BAD")
    Seq(g, b).foreach { r =>
      assert((1 to 9).map(i => r.getAs[Long](s"c$i")).sum ==
        r.getAs[Long]("n"))
    }
    assert(g.getAs[Long]("benford_ok") == 1L, s"good chi2=${g.getAs[Double]("chi2")}")
    assert(b.getAs[Long]("benford_ok") == 0L)
    assert(b.getAs[Long]("c9") == b.getAs[Long]("n"))
  }

  test("w13: gaps bucket by bit length and attribute to the later event's type") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: events at 0 (view), 1 (click), 1 (view, tied ts → by
    // event_id), 9 (click): gaps 1→click(1s, bucket 1), 2→view(0s,
    // bucket 0), 3→click(8s, bucket 4: bin(8)=1000)
    val ev = Seq(
      (0L, ts(0), 1L, "view", 1.0, "{}"),
      (1L, ts(1), 1L, "click", 1.0, "{}"),
      (2L, ts(1), 1L, "view", 1.0, "{}"),
      (3L, ts(9), 1L, "click", 1.0, "{}"),
      (4L, ts(100), 2L, "view", 1.0, "{}")) // user 2: no gap
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def hist(df: org.apache.spark.sql.DataFrame) =
      graft.model.Analytics.gapHistogramOf(df).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")) ->
          (r.getAs[Long]("n_gaps"), r.getAs[Long]("sum_gap_s"))).toMap
    assert(hist(ev) == Map(
      ("click", 1L) -> (1L, 1L),
      ("click", 4L) -> (1L, 8L),
      ("view", 0L) -> (1L, 0L)))
    // rows out of event_id order; user 2 ties at 50 s (click after view
    // by id, a 0 s gap) and then waits 64 s (bucket 7: bin(64) = 1000000)
    val ev2 = Seq((1L, ts(0), 1L, "view"), (3L, ts(1), 1L, "view"),
      (2L, ts(1), 1L, "click"), (10L, ts(50), 2L, "view"),
      (4L, ts(9), 1L, "click"), (11L, ts(50), 2L, "click"),
      (12L, ts(114), 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(hist(ev2) == Map(
      ("click", 1L) -> (1L, 1L),
      ("click", 4L) -> (1L, 8L),
      ("view", 0L) -> (1L, 0L),
      ("click", 0L) -> (1L, 0L),
      ("view", 7L) -> (1L, 64L)))
  }

  test("tx33: cumulative vocabulary counts each type once at its first bucket") {
    val docs = Seq(
      (0L, "a b a", "en", "s", 5L),        // bucket 0: types a,b
      (300L, "b c", "en", "s", 3L),        // bucket 1: new type c
      (600L, "a b c", "en", "s", 5L))      // bucket 2: nothing new
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.TextStats.vocabGrowthOf(docs).collect()
    assert(rows.map(r => (r.getAs[Long]("bucket"),
      r.getAs[Long]("bucket_tokens"), r.getAs[Long]("new_types"),
      r.getAs[Long]("cum_tokens"), r.getAs[Long]("cum_types"))).toSeq ==
      Seq((0L, 3L, 2L, 3L, 2L), (1L, 2L, 1L, 5L, 3L), (2L, 3L, 0L, 8L, 3L)))
  }

  test("g7: BFS distances, min-seed tiebreak at equal distance, hop cap, unreachable NULL") {
    // path 0-1-2-3-4 plus seed 97 attached at node 3: node 2 is dist 1
    // from 97 vs dist 2 from 0 → nearest wins; node 1 is dist 1 from 0
    // and dist 2 from 97 → 0 wins; isolated 50 stays NULL. (vec_id 0
    // and 97 are the seeds: ≡ 0 mod 97.)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (97L, 2L))
      .toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 50L, 97L).toDF("vec_id")
    val got = graft.ops.Graph.bfsOf(edges, nodes, 97L, 6).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (Option(r.getAs[java.lang.Long]("dist")),
          Option(r.getAs[java.lang.Long]("seed")))).toMap
    assert(got(0L) == (Some(0L), Some(0L)))
    assert(got(97L) == (Some(0L), Some(97L)))
    assert(got(1L) == (Some(1L), Some(0L)))
    assert(got(2L) == (Some(1L), Some(97L)))
    assert(got(3L) == (Some(2L), Some(97L)))
    assert(got(4L) == (Some(3L), Some(97L)))
    assert(got(50L) == (None, None))
    // hop cap: with maxHops = 1 nodes at dist ≥ 2 stay unreached
    val capped = graft.ops.Graph.bfsOf(edges, nodes, 97L, 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        Option(r.getAs[java.lang.Long]("dist"))).toMap
    assert(capped(2L) == Some(1L) && capped(3L) == None && capped(4L) == None)
  }

  test("a25: constant column gives zero-width interval; planted spread brackets the mean; n=1 NULLs") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, v: Double) =
      (id, new Timestamp(0L), 1L, t, v, "{}")
    val rows = (
      (1 to 10).map(i => ev(i, "const", 2.0)) ++
      (1 to 50).map(i => ev(100 + i, "spread", if (i % 2 == 0) 1.0 else 3.0)) ++
      Seq(ev(200, "solo", 5.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.meanCiOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val c = got("const")
    assert(c.getAs[Double]("half_width") == 0.0 &&
      c.getAs[Double]("mean_value") == 2.0)
    val sp = got("spread")
    assert(sp.getAs[Double]("mean_value") == 2.0)
    assert(sp.getAs[Double]("half_width") > 0.0)
    assert(sp.getAs[Double]("ci_lo") < 2.0 && sp.getAs[Double]("ci_hi") > 2.0)
    // planted: var = 1 (values ±1 around mean), se = 1/√50,
    // hw ≈ 1.96·0.1414 ≈ 0.277 — sanity bracket, exactness is the
    // driver compare's job
    assert(math.abs(sp.getAs[Double]("half_width") - 0.2772) < 0.01)
    val so = got("solo")
    assert(so.isNullAt(so.fieldIndex("half_width")) &&
      so.isNullAt(so.fieldIndex("ci_lo")))
  }

  test("dd19: buckets partition the candidate pairs; cumulative column sweeps thresholds; source split adds up") {
    val sf = GraftSpark.sf
    val rows = graft.ops.Dedup.similarityHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("n_same_source") + r.getAs[Long]("n_cross_source")
        == r.getAs[Long]("n_pairs"))
      val b = r.getAs[Long]("bucket")
      assert(b >= 0L && b <= 20L)
    }
    // reverse-cumulative: the lowest bucket's at-or-above equals the
    // grand total; monotone nonincreasing in bucket
    val sorted = rows.sortBy(_.getAs[Long]("bucket"))
    assert(sorted.head.getAs[Long]("pairs_at_or_above") == total)
    sorted.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("pairs_at_or_above") >=
          hi.getAs[Long]("pairs_at_or_above"))
      case _ =>
    }
    // consistency with dd4: pairs at or above the production threshold
    // (0.7 → bucket 14) ≥ the thresholded pair count (bucket floor
    // truncates, so the histogram can only over-count at the boundary)
    val dd4 = graft.ops.Dedup.ngramJaccardPairs(spark, sf).count()
    val ge14 = sorted.find(_.getAs[Long]("bucket") >= 14L)
      .map(_.getAs[Long]("pairs_at_or_above")).getOrElse(0L)
    assert(ge14 >= dd4)
  }

  test("mm13: quiet runs merge maximally, totals reconcile, gate is relative to the track mean") {
    val rows = graft.ops.Multimodal.lowEnergySegmentsQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nq = r.getAs[Long]("n_quiet")
      val ns = r.getAs[Long]("n_segments")
      val lr = r.getAs[Long]("longest_run")
      assert(nq <= r.getAs[Long]("n_frames"))
      assert(ns <= nq, "more segments than quiet frames")
      assert(lr <= nq && (ns == 0L || lr >= 1L))
      // with a strict below-mean gate a multi-frame track always
      // gates something (some frame sits below the mean unless every
      // frame's per-sample energy is equal — the fixture's are not);
      // a single-frame track IS its own mean and must gate nothing
      if (r.getAs[Long]("n_frames") >= 2L)
        assert(nq >= 1L, s"track ${r.getAs[Long]("track_id")} gated nothing")
      else assert(nq == 0L)
    }
    // cross-check one track against a direct recompute of the gate
    import spark.implicits._
    val frames = graft.ops.Multimodal.audioFramesAll(
      spark.createDataset(graft.ops.Multimodal.fixtureAudio().map {
        case (id, b) => graft.ops.Multimodal.Media(id, b, b.length) })(
        org.apache.spark.sql.Encoders.product[graft.ops.Multimodal.Media]))
      .collect().filter(_.track_id == 1L).sortBy(_.frame_idx)
    val tot = frames.map(_.energy).sum
    val totSamples = frames.map(_.n_samples).sum
    val quiet = frames.map(f =>
      f.energy * totSamples < f.n_samples * tot)
    val expectedQuiet = quiet.count(identity).toLong
    val r1 = rows.find(_.getAs[Long]("track_id") == 1L).get
    assert(r1.getAs[Long]("n_quiet") == expectedQuiet)
    // segments = number of quiet-run starts
    val expectedSegs = quiet.zipWithIndex.count { case (q, i) =>
      q && (i == 0 || !quiet(i - 1)) }.toLong
    assert(r1.getAs[Long]("n_segments") == expectedSegs)
  }

  test("ord1: each epoch is a full permutation, positions are per-shard contiguous, epochs disagree") {
    val docs = (0L until 200L).map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.ops.Sampling.epochShuffleOf(docs).collect()
    val epochs = graft.ops.Sampling.ShuffleEpochs
    assert(rows.length == 200 * epochs)
    (0 until epochs).foreach { e =>
      val ep = rows.filter(_.getAs[Long]("epoch") == e.toLong)
      assert(ep.map(_.getAs[Long]("doc_id")).toSet == (0L until 200L).toSet,
        s"epoch $e is not a permutation")
      ep.groupBy(_.getAs[Long]("shard")).foreach { case (_, sh) =>
        val ps = sh.map(_.getAs[Long]("pos")).sorted
        assert(ps.toSeq == (1L to sh.length.toLong), "positions not contiguous")
      }
    }
    // different epochs must produce different shard/pos assignments
    // for at least one doc (md5 keys differ with the epoch in the
    // preimage) and the whole thing is deterministic across runs
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id")).values
    assert(byDoc.exists(v =>
      v.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toSet.size > 1))
    val again = graft.ops.Sampling.epochShuffleOf(docs).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("inc3: recurrence equals brute-force window on gapped days, ramp-up head included") {
    import java.sql.Timestamp
    def at(day: Int) = new Timestamp(day * 86400L * 1000L)
    // type A: days 0,1,2 then a GAP, then 10..12 (the lag-by-rows trap);
    // counts vary per day
    val ev = (Seq.tabulate(3)(d => (d, 0)) ++ Seq((10, 0), (11, 0), (12, 0)))
      .flatMap { case (day, _) =>
        (0 to day % 4).map(k => (day * 100L + k, at(day), 1L, "A", 1.0, "{}"))
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Incremental.rollingRefreshOf(ev).collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay ->
        (r.getAs[Long]("n_day"), r.getAs[Long]("rolling"))).toMap
    // dense spine: every day 0..12 present
    assert(got.size == 13)
    val w = graft.ops.Incremental.RollingDays
    val daily = (0L to 12L).map(d => d -> got(d)._1).toMap
    (0L to 12L).foreach { d =>
      val brute = ((d - w + 1) to d).filter(_ >= 0).map(daily).sum
      assert(got(d)._2 == brute, s"day $d: ${got(d)._2} != $brute")
    }
    // gap days materialize with zero counts
    assert(daily(5L) == 0L && daily(9L) == 0L)
  }

  test("w14: a planted 3-day cycle is detected as best_lag 3; argmax needs no floats") {
    import java.sql.Timestamp
    def at(day: Int) = new Timestamp(day * 86400L * 1000L)
    // 30 days with counts cycling 1,1,8 — strongest autocorrelation at
    // lag 3 (and its multiples; 3 wins the tie against nothing, 6/9/12
    // have identical structure but the series favors the shortest full
    // alignment; assert the detected lag is a multiple of 3)
    val ev = (0 until 30).flatMap { day =>
      val c = if (day % 3 == 2) 8 else 1
      (0 until c).map(k => (day * 100L + k, at(day), 1L, "cyc", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.model.Analytics.dominantPeriodOf(ev).collect().head
    assert(r.getAs[String]("event_type") == "cyc")
    val lag = r.getAs[Long]("best_lag")
    assert(lag % 3 == 0, s"best_lag $lag not a multiple of the planted 3")
    assert(r.getAs[Long]("best_num") > 0L)
    assert(r.getAs[Double]("best_acf") > 0.0)
    assert(r.getAs[Long]("is_weekly") == (if (lag == 7) 1L else 0L))
  }

  test("dq3: planted orphans and null FKs are counted; clean pair audits zero") {
    val child = Seq(Some(1L), Some(2L), Some(99L), None, Some(98L))
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("fk")
    val r = graft.ops.Profile.relationRow("t->p", child, parent)
      .collect().head
    assert(r.getAs[Long]("n_child") == 5L)
    assert(r.getAs[Long]("n_null_fk") == 1L)
    assert(r.getAs[Long]("n_orphans") == 2L)
    assert(r.getAs[Double]("orphan_rate") == 2.0 / 5.0)
    val clean = graft.ops.Profile.relationRow("c", parent, parent)
      .collect().head
    assert(clean.getAs[Long]("n_orphans") == 0L &&
      clean.getAs[Long]("n_null_fk") == 0L)
    // the star-schema audit covers all 7 relations with sane rates
    val all = graft.ops.Profile.fkAudit(spark, sf).collect()
    assert(all.length == 7)
    all.foreach { row =>
      val rate = row.getAs[Double]("orphan_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(row.getAs[Long]("n_null_fk") + row.getAs[Long]("n_orphans")
        <= row.getAs[Long]("n_child"))
    }
  }


  test("cal2: perfect-miss brier is exactly 1, balanced base rate gives uncertainty 1/4, identity closes") {
    // every positive predicted at 0 ⇒ p_i = 0, y = 1 ⇒ brier = 1.0
    // exactly ((0 − D)²/D²); balanced pos/neg ⇒ unc = 0.25 exactly
    val miss = ((1 to 20).map(i => ("purchase", 0L)) ++
      (1 to 20).map(i => ("view", 0L)))
      .toDF("event_type", "pred_cents")
    val r = graft.ops.Eval.brierDecompositionOf(miss).collect().head
    assert(r.getAs[Long]("n") == 40L && r.getAs[Long]("n_pos") == 20L)
    assert(r.getAs[Double]("uncertainty") == 0.25)
    // brier here is (20·D² + 0)/40D² = 0.5 exactly
    assert(r.getAs[Double]("brier") == 0.5)
    // single constant-forecast bin ⇒ zero within-bin variance
    assert(r.getAs[Double]("within_bin_var") == 0.0)
    // on the real fixture the generalized identity closes numerically
    val f = graft.ops.Eval.brierDecomposition(spark, sf).collect().head
    val lhs = f.getAs[Double]("brier")
    val rhs = f.getAs[Double]("reliability") - f.getAs[Double]("resolution") +
      f.getAs[Double]("uncertainty") + f.getAs[Double]("within_bin_var") -
      2.0 * f.getAs[Double]("within_bin_cov")
    assert(math.abs(lhs - rhs) < 1e-9, s"identity broke: $lhs vs $rhs")
    assert(f.getAs[Double]("resolution") >= 0.0 &&
      f.getAs[Double]("reliability") >= 0.0)
  }

  test("rank1: planted two-user ranking gives exact fixed-point NDCG deciles and MRR") {
    // user 1: 3 events, the one positive lands at rank 2 (pred desc)
    //   dcg = W(2) = 630930, idcg = CW(1) = 1000000 → decile 6, rr = 500000
    // user 2: 1 event, positive at rank 1 → dcg = idcg → decile 10, rr = 1000000
    // user 3: no positives → EXCLUDED
    val df = Seq(
      (1L, 10L, "purchase", 500L), (1L, 11L, "view", 900L),
      (1L, 12L, "click", 100L),
      (2L, 20L, "signup", 700L),
      (3L, 30L, "view", 400L), (3L, 31L, "error", 300L))
      .toDF("user_id", "event_id", "event_type", "pred_cents")
    val rows = graft.ops.Eval.rankingMetricsOf(df).collect()
    assert(rows.map(_.getAs[Long]("ndcg_decile")).toSeq == Seq(6L, 10L))
    assert(rows.forall(_.getAs[Long]("total_users") == 2L))
    assert(rows.head.getAs[Double]("micro_ndcg10") == 1630930.0 / 2000000.0)
    assert(rows.head.getAs[Double]("mrr10") == 0.75)
  }

  test("rank1: a positive below rank 10 scores dcg 0 and rr 0 but stays counted") {
    // 11 events, the single positive ranked last (lowest pred):
    // dcg = 0 (outside top-10), idcg = CW(1), decile 0, first_hit null → rr 0
    val df = ((1 to 10).map(i => (7L, i.toLong, "view", 1000L - i)) :+
      (7L, 99L, "purchase", 1L))
      .toDF("user_id", "event_id", "event_type", "pred_cents")
    val r = graft.ops.Eval.rankingMetricsOf(df).collect()
    assert(r.length == 1 && r.head.getAs[Long]("ndcg_decile") == 0L)
    assert(r.head.getAs[Double]("micro_ndcg10") == 0.0)
    assert(r.head.getAs[Double]("mrr10") == 0.0)
  }

  test("lift1: top band captures all positives with lift n/p; bottom lift is exactly 1") {
    // 6 rows in band 9 (3 pos), 6 in band 0 (0 pos):
    // cumulative at band 9: gain 1.0, lift = (3/6)/(3/12) = 2.0
    // at band 0: gain 1.0, lift 1.0 by construction
    val df = ((1 to 6).map(i => (if (i <= 3) "purchase" else "view", 47000L)) ++
      (1 to 6).map(_ => ("view", 100L)))
      .toDF("event_type", "pred_cents")
    val rows = graft.ops.Eval.gainsTableOf(df).collect()
    assert(rows.map(_.getAs[Long]("bin")).toSeq == Seq(9L, 0L))
    assert(rows(0).getAs[Double]("gain") == 1.0 &&
      rows(0).getAs[Double]("lift") == 2.0)
    assert(rows(1).getAs[Double]("gain") == 1.0 &&
      rows(1).getAs[Double]("lift") == 1.0)
  }

  test("dq4: the key-FD control holds while candidate FDs report exact violation counts") {
    val rows = graft.ops.Profile.fdAudit(spark, sf).collect()
      .map(r => r.getAs[String]("rule") -> r).toMap
    val key = rows("part:p_partkey->p_name")
    assert(key.getAs[Long]("n_violating_groups") == 0L &&
      key.getAs[Long]("n_rows_violating") == 0L &&
      key.getAs[Double]("violation_rate") == 0.0 &&
      key.getAs[Long]("max_distinct_dep") == 1L)
    // sanity: every rule accounts for all its rows
    assert(rows.values.forall(r =>
      r.getAs[Long]("n_rows_violating") <= r.getAs[Long]("n_rows")))
  }

  test("mm14: buckets partition the corpus, square inputs into the square canvas waste 0") {
    val rows = Multimodal.aspectBucketQuery(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_images")).sum == nDocs)
    rows.foreach { r =>
      val (n, b, slack) = (r.getAs[Long]("n_images"),
        r.getAs[Long]("n_batches"), r.getAs[Long]("tail_slack"))
      assert(b == (n + 31) / 32 && slack == b * 32 - n && slack < 32)
      assert(r.getAs[Long]("max_waste_ppm") <= 1000000L &&
        r.getAs[Double]("mean_waste_ppm") <= r.getAs[Long]("max_waste_ppm"))
    }
    // w == h lands in c_square (r = 1000 < 1155) with zero crop waste:
    // keep = min(1024·h, 1024·w) = fill exactly, so waste_ppm = 0 —
    // verified via the planted-dimension formula the query uses
    val sq = rows.find(_.getAs[String]("bucket") == "c_square").get
    assert(sq.getAs[Long]("target_w") == 1024L &&
      sq.getAs[Long]("target_h") == 1024L)
  }

  test("g8: two planted triangles bridged by one edge give the textbook Q = 70/196") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L),
      (4L, 20L), (5L, 20L)).toDF("vec_id", "lab")
    val rows = graft.ops.Graph.modularityOfEdges(edges, labels).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      // per community: 3 internal edges, degree mass 7, m = 7
      assert(r.getAs[Long]("internal_edges") == 3L)
      assert(r.getAs[Long]("degree_sum") == 7L)
      assert(r.getAs[Long]("m") == 7L)
      assert(r.getAs[Long]("term_num") == 4L * 7 * 3 - 49)
      assert(r.getAs[Double]("q_total") == 70.0 / 196.0)
    }
    // degenerate partition: everything one label → Q = 0 exactly
    // (term_num = 4m·m − (2m)² = 0)
    val one = labels.withColumn("lab", lit(1L))
    val qs = graft.ops.Graph.modularityOfEdges(edges, one).collect()
    assert(qs.length == 1 && qs.head.getAs[Long]("term_num") == 0L)
    assert(qs.head.getAs[Double]("q_total") == 0.0)
  }

  test("a26: equal revenues gini 0; one-whale nation matches the rank formula; zero-revenue nation NULLs") {
    val rev = Seq(
      ("EQ", 1L, 100L), ("EQ", 2L, 100L), ("EQ", 3L, 100L), ("EQ", 4L, 100L),
      // whale: [1, 1, 1, 97] → G = (2·(1+2+3+4·97) − 5·100)/(4·100) = 0.72
      ("WHALE", 1L, 1L), ("WHALE", 2L, 1L), ("WHALE", 3L, 1L),
      ("WHALE", 4L, 97L),
      ("ZERO", 1L, 0L), ("ZERO", 2L, 0L))
      .toDF("nation", "custkey", "rev")
    val got = graft.model.Analytics.giniOfRevenue(rev).collect()
      .map(r => r.getAs[String]("nation") -> r).toMap
    assert(got("EQ").getAs[Double]("gini") == 0.0)
    assert(got("WHALE").getAs[Double]("gini") == 0.72)
    assert(got("WHALE").getAs[Long]("weighted_cents") == 1L + 2 + 3 + 4 * 97)
    assert(got("ZERO").isNullAt(got("ZERO").fieldIndex("gini")))
  }

  test("a27: exact linear series slope 1; outlier day barely moves the median; single-day type NULLs") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    // lin: counts 1,2,3,4,5 on days 0..4 → every pairwise slope is 1
    val lin = (0 until 5).flatMap(d => ev(1000L * d, "lin", d, d + 1))
    // rob: same linear counts plus day 9 spiking to 50 — the 5 spike
    // slopes are a minority of the 15 pairs, so the median stays 1
    val rob = (0 until 5).flatMap(d => ev(100000L + 1000L * d, "rob", d, d + 1)) ++
      ev(200000L, "rob", 9, 50)
    val solo = ev(300000L, "solo", 0, 3)
    val rows = (lin ++ rob ++ solo)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.theilSenOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(got("lin").getAs[Double]("ts_slope") == 1.0)
    assert(got("lin").getAs[Long]("n_pairs") == 10L)
    assert(got("rob").getAs[Double]("ts_slope") == 1.0)
    val so = got("solo")
    assert(so.getAs[Long]("n_pairs") == 0L &&
      so.isNullAt(so.fieldIndex("ts_slope")))
  }

  test("w15: single-type user lands in bucket 100; uniform two-type user at 50; bucket stats exact") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, t: String) =
      (id, new Timestamp(0L), u, t, 1.0, "{}")
    val rows = (
      (1 to 4).map(i => ev(i, 1L, "only")) ++
      Seq(ev(10, 2L, "a"), ev(11, 2L, "b")) ++
      // user 3: [3, 1] → (10000·10)/16 = 6250 → bucket 62
      Seq(ev(20, 3L, "a"), ev(21, 3L, "a"), ev(22, 3L, "a"), ev(23, 3L, "b")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.userHhiOf(rows).collect()
      .map(r => r.getAs[Long]("pct_bucket") -> r).toMap
    assert(got(100L).getAs[Long]("n_users") == 1L &&
      got(100L).getAs[Long]("min_bp") == 10000L)
    assert(got(50L).getAs[Long]("n_users") == 1L &&
      got(50L).getAs[Long]("max_bp") == 5000L)
    assert(got(62L).getAs[Long]("min_bp") == 6250L &&
      got(62L).getAs[Long]("sum_types") == 2L)
  }

  test("a28: pure-weekly series eta2 exactly 1; constant series NULLs; moments exact") {
    import java.sql.Timestamp
    def dayEvents(t: String, d: Int, n: Int, base: Long) =
      (0 until n).map(k => (base + 100L * d + k,
        Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    val epoch0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    // weekly: count = (epochDay % 7) + 1 over exactly two weeks → every
    // dow group has two identical values → SSW = 0 → eta2 == 1.0
    val weekly = (0 until 14).flatMap(d =>
      dayEvents("weekly", d, ((epoch0 + d) % 7).toInt + 1, 10000L))
    val flat = (0 until 14).flatMap(d => dayEvents("flat", d, 5, 50000L))
    val rows = (weekly ++ flat)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.dowAnovaOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val wk = got("weekly")
    assert(wk.getAs[Long]("n_days") == 14L &&
      wk.getAs[Long]("n_dow_groups") == 7L)
    assert(wk.getAs[Double]("eta2") == 1.0)
    val fl = got("flat")
    assert(fl.getAs[Double]("ss_total") == 0.0 &&
      fl.isNullAt(fl.fieldIndex("eta2")))
  }

  test("dq5: planted composition shift yields the hand-computed chi-square; stable type contributes its margin term") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int) =
      (id, Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}")
    // days 0,1 → first half; 2,3 → second (median-day-ceil boundary)
    val rows = (
      (1 to 10).map(i => ev(i, "stable", 0)) ++
      (1 to 10).map(i => ev(100 + i, "stable", 2)) ++
      (1 to 10).map(i => ev(200 + i, "shift", 1)) ++
      (1 to 30).map(i => ev(300 + i, "shift", 3)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.chisqDriftOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val st = got("stable")
    // N1=20, N2=40; D = 10·40 − 10·20 = 200; contrib = 200²/(20·20·40)
    assert(st.getAs[Long]("d_num") == 200L)
    assert(st.getAs[Double]("contrib") == 2.5)
    val sh = got("shift")
    assert(sh.getAs[Long]("d_num") == -200L)
    assert(sh.getAs[Double]("contrib") == 1.25)
    assert(st.getAs[Double]("chi2_total") == 3.75 &&
      st.getAs[Long]("df") == 1L)
  }

  test("w16: durations land in their bit-length buckets; 1800s gap keeps one session, 1801 splits") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, sec: Long) =
      (id, new Timestamp(sec * 1000L), u, "view", 1.0, "{}")
    val rows = Seq(
      ev(1, 1L, 0L), ev(2, 1L, 100L),          // dur 100 → 7 bits
      ev(3, 2L, 0L),                           // dur 0 → bucket 1
      ev(4, 2L, 10000L),                       // second dur-0 session
      ev(5, 3L, 0L), ev(6, 3L, 1800L),         // exactly 1800 → one session
      ev(7, 4L, 0L), ev(8, 4L, 1801L))         // 1801 → two sessions
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.sessionDurationsOf(rows).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(got(7L).getAs[Long]("n_sessions") == 1L &&
      got(7L).getAs[Long]("min_sec") == 100L)
    // dur-0 sessions: users 2 (×2) and 4 (×2) → 4 sessions, 2 users
    assert(got(1L).getAs[Long]("n_sessions") == 4L &&
      got(1L).getAs[Long]("n_users") == 2L)
    // 1800 s = 11100001000₂ → 11 bits
    assert(got(11L).getAs[Long]("n_sessions") == 1L &&
      got(11L).getAs[Long]("max_sec") == 1800L)
    assert(got.keySet == Set(1L, 7L, 11L))
  }

  test("pf2: cents land in their width buckets, share_bp truncates, nulls excluded") {
    val orders = Seq(
      (1L, 100.00), (2L, 25000.00), (3L, 49999.99),
      (4L, Double.NaN))
      .toDF("o_orderkey", "o_totalprice")
      .withColumn("o_totalprice",
        when(isnan(col("o_totalprice")), lit(null)).otherwise(col("o_totalprice")))
    val got = graft.ops.Profile.priceHistogramOf(orders).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(got(0L).getAs[Long]("n_orders") == 1L &&
      got(0L).getAs[Long]("min_cents") == 10000L)
    assert(got(1L).getAs[Long]("n_orders") == 2L &&
      got(1L).getAs[Long]("max_cents") == 4999999L)
    assert(got(0L).getAs[Long]("share_bp") == 3333L &&
      got(1L).getAs[Long]("share_bp") == 6666L)
    assert(got.size == 2)
  }

  test("g9: degree counts partition the node spine; isolates land at degree 0; mass equals 2·edges") {
    val emb = graft.Tables.embeddings(spark, sf)
    val rows = graft.ops.Graph.degreeHistogramOf(emb).collect()
    val nNodes = emb.count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == nNodes)
    val mass = rows.map(r =>
      r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum
    assert(rows.forall(_.getAs[Long]("deg_mass") == mass))
    assert(mass % 2 == 0) // every undirected edge contributes exactly 2
    val shares = rows.map(_.getAs[Long]("share_bp"))
    assert(shares.sum <= 10000L && shares.forall(_ >= 0L))
  }

  test("tx35: planted class mix counts exactly; accounting identity; empty source guarded") {
    val docs = Seq(
      (1L, "ab1 2cd", "s1"),   // 4 letters, 2 digits, 1 space
      (2L, "xyz", "s1"),
      (3L, "", "s2"),
      (4L, "#$%", "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextStats.charClassProfileOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = got("s1")
    assert(s1.getAs[Long]("letters") == 7L && s1.getAs[Long]("digits") == 2L &&
      s1.getAs[Long]("spaces") == 1L && s1.getAs[Long]("other") == 0L)
    assert(s1.getAs[Long]("letters_pm") == 700L)
    val s2 = got("s2")
    assert(s2.getAs[Long]("n_chars") == 3L && s2.getAs[Long]("other") == 3L &&
      s2.getAs[Long]("other_pm") == 1000L)
  }

  test("dq6: planted spike flags, steady days don't, warm-up days NULL") {
    import java.sql.Timestamp
    def ev(id: Long, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, "view", 1.0, "{}"))
    // 10 steady days at 100/day, then day 10 spikes to 200
    val rows = ((0 until 10).flatMap(d => ev(1000L * d, d, 100)) ++
      ev(20000L, 10, 200))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.volumeAnomalyOf(rows).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(got.length == 11)
    // days 0..2 have < 3 trailing observations → NULL flag
    assert(got(0).isNullAt(got(0).fieldIndex("is_anomaly")))
    assert(got(2).isNullAt(got(2).fieldIndex("is_anomaly")))
    // steady interior days: zero deviation → not anomalous
    assert(got(5).getAs[Long]("is_anomaly") == 0L)
    // the spike: trailing window is constant-100 (σ = 0), x = 200 → flag
    val spike = got(10)
    assert(spike.getAs[Long]("x") == 200L &&
      spike.getAs[Long]("is_anomaly") == 1L)
  }

  test("tx34: repetitive text scores low, all-distinct scores 10000, empty degenerates, null propagates") {
    val docs = Seq(
      (1L, "a a a a"), (2L, "a b c d"), (3L, ""), (4L, null: String),
      (5L, "x y x y"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.typeTokenOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("ttr_bp") == 2500L)
    assert(got(2L).getAs[Long]("ttr_bp") == 10000L)
    // empty text: the single empty token both engines agree on
    assert(got(3L).getAs[Long]("n_tokens") == 1L &&
      got(3L).getAs[Long]("ttr_bp") == 10000L)
    assert(got(4L).isNullAt(got(4L).fieldIndex("ttr_bp")))
    assert(got(5L).getAs[Long]("ttr_bp") == 5000L)
  }

  test("dq7: complete separation gives D = n1·n2 and rejects; identical halves give D = 0") {
    import java.sql.Timestamp
    def ev(id: Long, day: Int, v: Double) =
      (id, Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00"),
        1L, "view", v, "{}")
    // days 0,1 → first half; 2,3 → second (median-day-ceil boundary)
    val drift = (
      (1 to 20).map(i => ev(i, 0, 5.0)) ++
      (1 to 20).map(i => ev(100 + i, 3, 15.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.ksDriftOf(drift).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    // CDF at bucket 5: c1=20, c2=0 → gap = 20·20 = 400 = n1·n2 → D=1
    assert(got(5L).getAs[Long]("gap_num") == 400L)
    assert(got(5L).getAs[Long]("d_num") == 400L)
    assert(got(5L).getAs[Double]("ks_d") == 1.0)
    // 400 > 1.358·sqrt(400·40) ≈ 171.8 → reject at α=0.05
    assert(got(5L).getAs[Long]("reject_05") == 1L)
    // bucket 15 closes the CDFs: gap 0
    assert(got(15L).getAs[Long]("gap_num") == 0L)

    val same = (
      (1 to 10).map(i => ev(i, 0, 5.0)) ++
      (1 to 10).map(i => ev(50 + i, 0, 15.0)) ++
      (1 to 10).map(i => ev(100 + i, 3, 5.0)) ++
      (1 to 10).map(i => ev(150 + i, 3, 15.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val flat = graft.ops.Profile.ksDriftOf(same).collect()
    assert(flat.forall(_.getAs[Long]("d_num") == 0L))
    assert(flat.forall(_.getAs[Long]("reject_05") == 0L))
  }

  test("pf3: linear pair hits r = ±1 exactly, zero-variance pair is NULL, moments exact") {
    // qty 1..4; price = 200·qty dollars; discount constant; tax = 0.08 − 0.01·qty
    val li = (1 to 4).map { i =>
      (i.toDouble, 200.0 * i, 0.05, 0.08 - 0.01 * i)
    }.toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val got = graft.ops.Profile.correlationMatrixOf(li).collect()
      .map(r => r.getAs[String]("pair") -> r).toMap
    assert(got.size == 6)
    val qp = got("quantity__price_usd")
    assert(qp.getAs[Long]("n") == 4L && qp.getAs[Long]("sx") == 10L &&
      qp.getAs[Long]("sy") == 2000L && qp.getAs[Long]("sxy") == 6000L)
    assert(qp.getAs[Double]("r") == 1.0)
    // y = 800 − 100·x basis points → exactly −1 (sqrt(100²·d) = 100·sqrt(d))
    assert(got("quantity__tax_bp").getAs[Double]("r") == -1.0)
    // constant discount: zero variance → NULL r on every discount pair
    assert(got("quantity__discount_bp").isNullAt(
      got("quantity__discount_bp").fieldIndex("r")))
    assert(got("discount_bp__tax_bp").isNullAt(
      got("discount_bp__tax_bp").fieldIndex("r")))
  }

  test("tx36: hand-counted words/sentences/vowel-runs produce the exact FRE rationals") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, ""),
      (3L, "xyzzy!!"),
      (4L, null: String))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.readabilityOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got.contains(4L)) // null text filtered
    val d1 = got(1L)
    assert(d1.getAs[Long]("n_words") == 6L &&
      d1.getAs[Long]("n_sentences") == 2L &&
      d1.getAs[Long]("n_vowel_runs") == 6L)
    // 206835·2·6 − 1015·36 − 84600·6·2 = 1430280 over 1000·2·6
    assert(d1.getAs[Long]("fre_num") == 1430280L &&
      d1.getAs[Long]("fre_den") == 12000L)
    assert(d1.getAs[Double]("fre") == 1430280.0 / 12000.0)
    // empty text: one empty whitespace token, sentence floor 1, no vowels
    val d2 = got(2L)
    assert(d2.getAs[Long]("n_words") == 1L &&
      d2.getAs[Long]("n_sentences") == 1L &&
      d2.getAs[Long]("n_vowel_runs") == 0L &&
      d2.getAs[Long]("fre_num") == 205820L)
    // "!!" is ONE terminator run; y is not a vowel here
    val d3 = got(3L)
    assert(d3.getAs[Long]("n_sentences") == 1L &&
      d3.getAs[Long]("n_vowel_runs") == 0L)
  }

  test("lay2: first-fit-in-order packs the planted manifest; totals conserve; days independent") {
    import java.sql.Timestamp
    def evs(day: Int, shard: Int, n: Int) = (0 until n).map { k =>
      (day * 100000L + shard * 1000L + k,
        Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00"),
        shard.toLong, "view", 1.0, "{}")
    }
    // day 0 shard counts: 15, 10, 6, 1, 25 at target 20
    val rows = (evs(0, 0, 15) ++ evs(0, 1, 10) ++ evs(0, 2, 6) ++
      evs(0, 3, 1) ++ evs(0, 4, 25) ++ evs(1, 7, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Layout.compactionPlanOf(rows, target = 20L)
      .collect()
    val day0 = got.filter(_.getAs[Long]("day") ==
      got.map(_.getAs[Long]("day")).min)
    val byShard = day0.map(r => r.getAs[Long]("shard") -> r).toMap
    // cum_before: 0, 15, 25, 31, 32 → buckets 0, 0, 1, 1, 1
    assert(byShard(0L).getAs[Long]("out_bucket") == 0L &&
      byShard(1L).getAs[Long]("out_bucket") == 0L &&
      byShard(2L).getAs[Long]("out_bucket") == 1L &&
      byShard(3L).getAs[Long]("out_bucket") == 1L &&
      byShard(4L).getAs[Long]("out_bucket") == 1L)
    assert(byShard(0L).getAs[Long]("bucket_rows") == 25L &&
      byShard(0L).getAs[Long]("bucket_files") == 2L)
    assert(byShard(4L).getAs[Long]("bucket_rows") == 32L &&
      byShard(4L).getAs[Long]("bucket_files") == 3L)
    // conservation: Σ n_rows per day == Σ bucket_rows over distinct buckets
    val sumRows = day0.map(_.getAs[Long]("n_rows")).sum
    val sumBuckets = day0.map(r =>
      (r.getAs[Long]("out_bucket"), r.getAs[Long]("bucket_rows")))
      .distinct.map(_._2).sum
    assert(sumRows == 57L && sumBuckets == 57L)
    // packing bound: every bucket within one input file of target
    val maxFile = day0.map(_.getAs[Long]("n_rows")).max
    assert(day0.forall(_.getAs[Long]("bucket_rows") <= 20L + maxFile))
    // day 1 packs independently from cum 0
    val day1 = got.filter(_.getAs[Long]("day") !=
      day0.head.getAs[Long]("day"))
    assert(day1.length == 1 && day1.head.getAs[Long]("out_bucket") == 0L &&
      day1.head.getAs[Long]("bucket_rows") == 3L)
  }

  test("a29: perfect concordance hits τ = 1; one swap prices exactly 1/3; all-tied column is NULL") {
    def li(q: Double, disc: Double) = (q, 0.0, disc, 0.0)
    val mono = Seq(li(1, 0.01), li(2, 0.02), li(3, 0.03))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val t1 = graft.model.Analytics.kendallTauOf(mono).collect().head
    assert(t1.getAs[Long]("nc") == 3L && t1.getAs[Long]("nd") == 0L)
    assert(t1.getAs[Long]("n1") == 0L && t1.getAs[Long]("n2") == 0L)
    // the fixed IEEE shape: √3·√3 = 2.9999999999999996, NOT 3 — both
    // engines compute this identical value (the hash-match relies on it)
    val den3 = math.sqrt(3.0) * math.sqrt(3.0)
    assert(t1.getAs[Double]("tau_b") == 3.0 / den3)

    // (1,1),(2,3),(3,2): two concordant, one discordant → 1/(√3·√3)
    val mixed = Seq(li(1, 0.01), li(2, 0.03), li(3, 0.02))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val t2 = graft.model.Analytics.kendallTauOf(mixed).collect().head
    assert(t2.getAs[Long]("nc") == 2L && t2.getAs[Long]("nd") == 1L)
    assert(t2.getAs[Double]("tau_b") == 1.0 / den3)

    // constant discount: n2 = n0 → τ undefined (NULL), counts still exact
    val tied = Seq(li(1, 0.05), li(2, 0.05), li(3, 0.05))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val t3 = graft.model.Analytics.kendallTauOf(tied).collect().head
    assert(t3.getAs[Long]("n2") == 3L && t3.getAs[Long]("n0") == 3L)
    assert(t3.isNullAt(t3.fieldIndex("tau_b")))
  }

  test("ord2: equal-sized buckets interleave strictly round-robin; ranks contiguous; key encodes bucket") {
    // bucket = bit length of n_chars: 1 → 1; 2,3 → 2
    val docs = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 3L), (6L, 2L))
    val got = GraftSpark.withPartitions(2)(s => graft.ops.Sampling
        .curriculumOrderOf(s.createDataFrame(docs).toDF("doc_id", "n_chars"))
        .collect())
      .sortBy(_.getAs[Long]("schedule_key"))
    assert(got.length == 6)
    // keys are unique and key mod stride recovers the bucket
    assert(got.map(_.getAs[Long]("schedule_key")).distinct.length == 6)
    assert(got.forall(r => r.getAs[Long]("schedule_key") % 64L ==
      r.getAs[Long]("bucket")))
    // equal-sized buckets → strict alternation 1,2,1,2,1,2
    assert(got.map(_.getAs[Long]("bucket")).toSeq ==
      Seq(1L, 2L, 1L, 2L, 1L, 2L))
    // ranks contiguous 0..2 within each bucket
    Seq(1L, 2L).foreach { b =>
      val ranks = got.filter(_.getAs[Long]("bucket") == b)
        .map(_.getAs[Long]("rank_in_bucket")).sorted.toSeq
      assert(ranks == Seq(0L, 1L, 2L))
    }
  }

  test("smp4: groups are atomic, the bucket replays the md5 reference, shares conserve") {
    val docs = graft.Tables.documents(spark, sf)
    val got = graft.ops.Sampling.groupedSplitOf(docs).collect()
    // one row per (source, lang): atomicity by construction
    val keys = got.map(r => (r.getAs[String]("source"), r.getAs[String]("lang")))
    assert(keys.distinct.length == keys.length)
    // bucket replays the md5Hash60 reference formulation
    import graft.functions.Functions.md5Hash60Reference
    val ref = docs
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .select(col("source"), col("lang"),
        pmod(md5Hash60Reference(
          concat_ws(":", col("source"), col("lang")), 11), lit(100L))
          .as("b"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("b"))
      .toMap
    assert(got.forall(r => r.getAs[Long]("bucket") ==
      ref((r.getAs[String]("source"), r.getAs[String]("lang")))))
    // doc counts conserve and shares stay within the basis-point budget
    val total = docs.filter(col("source").isNotNull &&
      col("lang").isNotNull).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum == total)
    assert(got.map(_.getAs[Long]("docs_share_bp")).sum <= 10000L)
    assert(got.forall(r => Set("train", "heldout")
      .contains(r.getAs[String]("split"))))
  }

  test("dd20: histogram conserves the corpus, removable matches keep-one-per-cluster, giant is the max") {
    val got = graft.ops.Dedup.clusterHistogram(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val removable = got.filter(_.getAs[Long]("cluster_size") > 1L)
      .map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters")).sum
    assert(got.forall(_.getAs[Long]("removable_docs") == removable))
    val giant = got.map(_.getAs[Long]("cluster_size")).max
    assert(got.forall(_.getAs[Long]("giant_size") == giant))
    assert(got.map(_.getAs[Long]("docs_share_bp")).sum <= 10000L)
  }

  test("sim9: mined positives share the anchor label, negatives don't, and a brute-force replay agrees") {
    val emb = graft.Tables.embeddings(spark, sf)
    val got = graft.ops.Similarity.tripletMiningOf(emb).collect()
    assert(got.nonEmpty)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      val srcLabel = r.getAs[Int]("src_label")
      if (!r.isNullAt(r.fieldIndex("pos_id")))
        assert(labels(r.getAs[Long]("pos_id")) == srcLabel)
      if (!r.isNullAt(r.fieldIndex("neg_id")))
        assert(labels(r.getAs[Long]("neg_id")) != srcLabel)
      if (!r.isNullAt(r.fieldIndex("violation")))
        assert((r.getAs[Long]("violation") == 1L) ==
          (r.getAs[Double]("neg_cos") > r.getAs[Double]("pos_cos")))
    }
    // brute-force replay for three anchors: same argmin/argmax
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.take(3).foreach { r =>
      val src = r.getAs[Long]("src")
      val srcLabel = r.getAs[Int]("src_label")
      val sv = vecs(src)
      val others = vecs.keys.filter(_ != src).toSeq
      val pos = others.filter(labels(_) == srcLabel)
        .map(id => (cos(vecs(id), sv), id)).minOption
      val neg = others.filter(labels(_) != srcLabel)
        .map(id => (cos(vecs(id), sv), id)).maxOption
      pos.foreach { case (_, id) =>
        assert(r.getAs[Long]("pos_id") == id, s"pos for $src") }
      neg.foreach { case (_, id) =>
        assert(r.getAs[Long]("neg_id") == id, s"neg for $src") }
    }
  }

  test("cal3: perfectly calibrated bin contributes zero; the exact-numerator identity closes") {
    // bin 5 (c=25000): 2 pos + 2 neg → 50000·2 == sum_c → gap 0
    // bin 9 (c=49000): 1 neg → gap 49000
    val rows = Seq(
      ("purchase", 25000L), ("signup", 25000L),
      ("view", 25000L), ("click", 25000L),
      ("view", 49000L))
      .toDF("event_type", "pred_cents")
    val got = graft.ops.Eval.calibrationErrorOf(rows).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(got(5L).getAs[Long]("gap_num") == 0L &&
      got(5L).getAs[Double]("bin_gap") == 0.0)
    assert(got(9L).getAs[Long]("gap_num") == 49000L)
    // identity: ece = Σ gap_num / (50000·N), N = 5
    val sumGaps = got.values.map(_.getAs[Long]("gap_num")).sum
    val n = got.values.map(_.getAs[Long]("n_bin")).sum
    assert(got.values.forall(_.getAs[Double]("ece") ==
      sumGaps.toDouble / (50000.0 * n.toDouble)))
    // mce is the worst bin's gap
    val worst = got.values.map(_.getAs[Double]("bin_gap")).max
    assert(got.values.forall(_.getAs[Double]("mce") == worst))
  }

  test("a30: constant days → F = 0, planted burst prices exactly, single day NULL") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    val rows = (
      ev(0L, "steady", 0, 4) ++ ev(100L, "steady", 1, 4) ++
        ev(200L, "steady", 2, 4) ++
      ev(1000L, "burst", 0, 1) ++ ev(1100L, "burst", 1, 1) ++
        ev(1200L, "burst", 2, 10) ++
      ev(2000L, "single", 0, 7))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.burstinessOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val st = got("steady")
    assert(st.getAs[Long]("fano_num") == 0L &&
      st.getAs[Double]("fano") == 0.0)
    // days 1,1,10: num = 3·102 − 144 = 162, den = 2·12 = 24 → 6.75
    val b = got("burst")
    assert(b.getAs[Long]("fano_num") == 162L &&
      b.getAs[Long]("fano_den") == 24L &&
      b.getAs[Double]("fano") == 6.75)
    val sg = got("single")
    assert(sg.getAs[Long]("n_days") == 1L &&
      sg.isNullAt(sg.fieldIndex("fano")))
  }

  test("tx37: each Gopher rule fires on its planted violator and only there") {
    val goodText = "the cat and dog have fun with all of that " +
      "be cause words keep flowing here nicely ok then" // 19 words, all alpha
    val docs = Seq(
      (1L, goodText),
      (2L, "too short to pass"),                       // words rule
      (3L, goodText + " ### ... ### ... #"),           // symbols rule
      (4L, goodText + " 111 222 333 444 555"),         // alpha rule (5/24 > 2/10)
      (5L, "- one\n- two\n- three"),                   // bullets (3/3 > 9/10)
      (6L, "xyz qrs tuv wxy zab cde fgh ijk lmn opq rst uvw"))  // stops
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.gopherFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("pass_words") &&
      got(2L).getAs[Long]("n_words") == 4L)
    // "###" counts 3 single-# matches; 2 ellipses + 7 hashes = 9
    assert(!got(3L).getAs[Boolean]("pass_symbols") &&
      got(3L).getAs[Long]("n_symbols") == 9L)
    assert(!got(4L).getAs[Boolean]("pass_alpha") &&
      got(4L).getAs[Long]("n_nonalpha_words") == 5L)
    assert(!got(5L).getAs[Boolean]("pass_bullets") &&
      got(5L).getAs[Long]("n_bullet_lines") == 3L &&
      got(5L).getAs[Long]("n_lines") == 3L)
    assert(!got(6L).getAs[Boolean]("pass_stops") &&
      got(6L).getAs[Long]("n_stop_present") == 0L)
    assert(got.values.count(_.getAs[Boolean]("keep")) == 1)
  }

  test("dq8: constant column reads zero entropy, uniform 4-way reads exactly 2000 mbits, nulls bucket") {
    import java.sql.Timestamp
    val rows = (0 until 8).map { i =>
      (i.toLong, Timestamp.valueOf("2024-01-01 00:00:00"), (i % 4).toLong,
        "view", if (i < 2) Double.NaN else 10.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("value",
        when(isnan(col("value")), lit(null)).otherwise(col("value")))
    val got = graft.ops.Profile.entropyProfileOf(rows).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    val et = got("event_type")
    assert(et.getAs[Long]("n_distinct") == 1L &&
      et.getAs[Long]("h_mbits") == 0L &&
      et.getAs[Long]("top_share_bp") == 10000L)
    // 4 values × 2 rows: sbits = len(bin(8 div 2)) − 1 = 2 → 2000 mbits
    val uid = got("user_id")
    assert(uid.getAs[Long]("n_distinct") == 4L &&
      uid.getAs[Long]("h_mbits") == 2000L)
    // nulls form their own bucket: {∅×2, 10$×6} → 2 distinct
    val vu = got("value_usd")
    assert(vu.getAs[Long]("n_distinct") == 2L &&
      vu.getAs[Long]("n_rows") == 8L)
  }

  test("mm15: crest² is the exact rational, dyn_bits recomputes from its own columns, accounting holds") {
    val got = graft.ops.Multimodal.audioDynamicsQuery(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (peak, n, e) = (r.getAs[Long]("peak"), r.getAs[Long]("n_samples"),
        r.getAs[Long]("energy"))
      assert(r.getAs[Long]("crest2_num") == peak * peak * n)
      assert(r.getAs[Double]("crest2") == (peak * peak * n).toDouble / e)
      assert(r.getAs[Long]("n_full_frames") <= r.getAs[Long]("n_frames"))
      if (!r.isNullAt(r.fieldIndex("dyn_bits"))) {
        val ratio = r.getAs[Long]("max_frame_energy") /
          math.max(1L, r.getAs[Long]("min_frame_energy"))
        assert(r.getAs[Long]("dyn_bits") ==
          (63 - java.lang.Long.numberOfLeadingZeros(ratio)))
      }
    }
  }

  test("a31: monotone trend reads two runs and flags; short alternation doesn't; constant series drops out") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    val trend = (0 until 10).flatMap(d => ev(d * 100L, "trend", d, d + 1))
    // counts 1,9,2,8,3,7,4,6 → med 4 (lower middle), day 6 drops
    val altCounts = Seq(1, 9, 2, 8, 3, 7, 4, 6)
    val alt = altCounts.zipWithIndex.flatMap { case (n, d) =>
      ev(10000L + d * 100L, "alt", d, n) }
    val const = (0 until 6).flatMap(d => ev(50000L + d * 100L, "const", d, 3))
    val rows = (trend ++ alt ++ const)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.runsTestOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // trend: med=5 drops its day; signs 0000 11111 → R=2, flagged
    val tr = got("trend")
    assert(tr.getAs[Long]("n") == 9L && tr.getAs[Long]("n1") == 5L &&
      tr.getAs[Long]("r") == 2L &&
      tr.getAs[Long]("nonrandom_05") == 1L)
    // alt: signs 0,1,0,1,0,1,1 → R=6, n=7 — not extreme enough at α=.05
    val al = got("alt")
    assert(al.getAs[Long]("n") == 7L && al.getAs[Long]("n1") == 4L &&
      al.getAs[Long]("n2") == 3L && al.getAs[Long]("r") == 6L &&
      al.getAs[Long]("nonrandom_05") == 0L)
    // constant series: every day equals the median → no surviving rows
    assert(!got.contains("const"))
  }

  test("dq9: interior hole counts exactly; edge buckets audit against observed bounds") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    // bucket 0: complete from its observed start; bucket 1: 5 ids
    // removed; bucket 2: hi edge, complete to its observed end
    val ids = (0L until 4096L) ++
      (4096L until 8192L).filterNot(i => i >= 5000L && i < 5005L) ++
      (8192L until 8292L)
    val rows = ids.map(i => (i, ts, 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.idGapAuditOf(rows).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(got(0L).getAs[Long]("n_missing") == 0L)
    assert(got(1L).getAs[Long]("n_missing") == 5L &&
      got(1L).getAs[Long]("span_lo") == 4096L &&
      got(1L).getAs[Long]("span_hi") == 8191L)
    assert(got(2L).getAs[Long]("n_missing") == 0L &&
      got(2L).getAs[Long]("span_hi") == 8291L)
  }

  test("tx38: planted code votes its signals, prose votes none, signals are independent") {
    val code =
      """def f(x):
        |    y = x * 2;
        |    return {"someKey": my_val}
        |    # camelCase and snake_case here
        |""".stripMargin
    val prose = "the quick brown fox jumps over a lazy dog and keeps " +
      "running through fields of tall grass toward the river"
    val docs = Seq((1L, code), (2L, prose))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.codeDetectOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val c = got(1L)
    assert(c.getAs[Boolean]("is_code") && c.getAs[Long]("n_votes") >= 2L)
    assert(c.getAs[Boolean]("sig_braces") && c.getAs[Boolean]("sig_stmt") &&
      c.getAs[Boolean]("sig_indent"))
    val p = got(2L)
    assert(!p.getAs[Boolean]("is_code") && p.getAs[Long]("n_votes") == 0L)
  }

  test("w18: DAU/MAU prices exactly per month; months independent") {
    import java.sql.Timestamp
    def ev(id: Long, day: String, u: Long) =
      (id, Timestamp.valueOf(s"$day 10:00:00"), u, "view", 1.0, "{}")
    val rows = Seq(
      ev(1, "2024-01-01", 1L), ev(2, "2024-01-01", 2L),
      ev(3, "2024-01-01", 3L), ev(4, "2024-01-01", 3L), // dup user same day
      ev(5, "2024-01-02", 2L), ev(6, "2024-01-02", 3L),
      ev(7, "2024-02-05", 9L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.stickinessOf(rows).collect()
      .map(r => r.getAs[String]("month") -> r).toMap
    val jan = got("2024-01")
    // dau: 3 + 2 = 5; mau 3; n_days 2 → 5000 div 6 = 833; 5/6 exact
    assert(jan.getAs[Long]("sum_dau") == 5L && jan.getAs[Long]("mau") == 3L)
    assert(jan.getAs[Long]("stickiness_pm") == 833L)
    assert(jan.getAs[Double]("stickiness") == 5.0 / 6.0)
    val feb = got("2024-02")
    assert(feb.getAs[Long]("stickiness_pm") == 1000L)
  }

  test("dq10: replayed content under fresh ids counts as excess; unique content doesn't") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = Seq(
      (1L, ts, 1L, "view", 5.0, "{}"),
      (2L, ts, 1L, "view", 5.0, "{}"),      // replay: same content, new id
      (3L, ts, 1L, "view", 5.0, "{}"),      // triple ingest
      (4L, ts, 2L, "view", 5.0, "{}"),      // different user → unique
      (5L, ts, 1L, "click", 5.0, "{}"))     // different type → unique
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.dupRowAuditOf(rows).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_rows") == 5L && r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("n_dup_groups") == 1L &&
      r.getAs[Long]("n_excess_rows") == 2L &&
      r.getAs[Long]("max_multiplicity") == 3L)
    assert(r.getAs[Long]("excess_bp") == 4000L)
  }

  test("sim10: identical-direction halves read cos 1, orthogonal read 0, missing half reads NULL") {
    // label 0: [1,0] (even id) vs [2,0] (odd) → same direction → 1.0
    // label 1: [1,0] vs [0,1] → orthogonal → 0.0
    // label 2: even id only → NULL drift, n_b = 0
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(2.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 1), (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(3.0f, 4.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.centroidDriftOf(emb).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(got(0).getAs[Double]("cos_drift") == 1.0)
    assert(got(1).getAs[Double]("cos_drift") == 0.0)
    assert(got(2).isNullAt(got(2).fieldIndex("cos_drift")) &&
      got(2).getAs[Long]("n_a") == 1L && got(2).getAs[Long]("n_b") == 0L)
  }

  test("ord3: docs land whole in one batch, budgets bound every batch, tokens conserve") {
    // words per doc: 3 and 5-token docs (buckets 2 and 3) at budget 8
    val docs = (1L to 8L).map(i =>
      (i, if (i <= 4) "a b c" else "a b c d e"))
    val got = GraftSpark.withPartitions(2)(s => graft.ops.Sampling
      .packedBatchesOf(s.createDataFrame(docs).toDF("doc_id", "text"), budget = 8L)
      .collect())
    assert(got.length == 8)
    assert(got.map(_.getAs[Long]("doc_id")).distinct.length == 8)
    val byBatch = got.groupBy(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("batch")))
    byBatch.foreach { case ((_, _), rows) =>
      val toks = rows.map(_.getAs[Long]("n_tokens")).sum
      assert(rows.forall(_.getAs[Long]("batch_tokens") == toks))
      assert(rows.forall(_.getAs[Long]("batch_docs") == rows.length))
      // first-fit bound: within one doc of the budget
      val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
      assert(toks <= 8L + maxDoc)
    }
    // bucket 2 = 3-token docs (bin(3)='11'): 4 docs × 3 = 12 tokens
    // → batches of cum 0,3,6 | 9 → two batches
    val b2 = got.filter(_.getAs[Long]("bucket") == 2L)
    assert(b2.length == 4 &&
      b2.map(_.getAs[Long]("batch")).distinct.sorted.toSeq == Seq(0L, 1L))
  }

  test("w19: early-stopping users churn against the corpus end; cohorts key on first month") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, day: String) =
      (id, Timestamp.valueOf(s"$day 10:00:00"), u, "view", 1.0, "{}")
    val rows = Seq(
      ev(1, 1L, "2024-01-01"), ev(2, 1L, "2024-03-30"), // active to end
      ev(3, 2L, "2024-01-05"),                          // churned (jan)
      ev(4, 3L, "2024-02-10"), ev(5, 3L, "2024-03-25"), // within horizon
      ev(6, 4L, "2024-03-30"))                          // feb?? no — mar cohort
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.churnCohortsOf(rows).collect()
      .map(r => r.getAs[String]("cohort") -> r).toMap
    // end_day = 2024-03-30; horizon 7 → churned iff last < 03-23
    val jan = got("2024-01")
    assert(jan.getAs[Long]("n_users") == 2L &&
      jan.getAs[Long]("n_churned") == 1L &&
      jan.getAs[Long]("churn_bp") == 5000L)
    assert(got("2024-02").getAs[Long]("n_churned") == 0L)
    assert(got("2024-03").getAs[Long]("n_users") == 1L)
  }

  test("dd21: planted df spectrum buckets by bit length; distinct-share and mass-share diverge on boilerplate") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d}
      (2L, "a b c x"),   // {a b c, b c x}
      (3L, "a b c y"))   // {a b c, b c y}
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.dfSpectrumOf(docs).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    // df=1 ×3 shingles → bucket 1; df=3 ("a b c") → bucket 2
    assert(got(1L).getAs[Long]("n_shingles") == 3L &&
      got(1L).getAs[Long]("mass") == 3L)
    assert(got(2L).getAs[Long]("n_shingles") == 1L &&
      got(2L).getAs[Long]("mass") == 3L &&
      got(2L).getAs[Long]("max_df") == 3L)
    assert(got(1L).getAs[Long]("shingle_share_bp") == 7500L &&
      got(1L).getAs[Long]("mass_share_bp") == 5000L)
    assert(got.keySet == Set(1L, 2L))
  }

  test("dq11: a bucket minted before the previous range drained flags overlap; aligned buckets don't") {
    import java.sql.Timestamp
    def ev(id: Long, sec: Long) =
      (id, new Timestamp(sec * 1000L), 1L, "view", 1.0, "{}")
    val rows = (Seq(ev(0L, 0L), ev(10L, 100L)) ++          // bucket 0: [0,100]
      Seq(ev(4096L, 50L), ev(4100L, 150L)) ++              // bucket 1: [50,150] overlaps
      Seq(ev(8192L, 200L), ev(8200L, 300L)))               // bucket 2: [200,300] clean
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.idTimeAlignmentOf(rows).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(got(0L).isNullAt(got(0L).fieldIndex("overlap")))
    assert(got(1L).getAs[Long]("overlap") == 1L &&
      got(1L).getAs[Long]("prev_max_sec") == 100L)
    assert(got(2L).getAs[Long]("overlap") == 0L)
    assert(got.values.forall(_.getAs[Long]("n_overlaps") == 1L))
  }

  test("w20: active-day counts histogram users exactly with truncated shares") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, day: String) =
      (id, Timestamp.valueOf(s"$day 10:00:00"), u, "view", 1.0, "{}")
    val rows = Seq(
      ev(1, 1L, "2024-01-01"), ev(2, 1L, "2024-01-01"), ev(3, 1L, "2024-01-01"),
      ev(4, 2L, "2024-01-01"), ev(5, 2L, "2024-01-02"),
      ev(6, 3L, "2024-01-03"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.activeDaysOf(rows).collect()
      .map(r => r.getAs[Long]("active_days") -> r).toMap
    assert(got(1L).getAs[Long]("n_users") == 2L &&
      got(1L).getAs[Long]("n_events") == 4L &&
      got(1L).getAs[Long]("user_share_bp") == 6666L)
    assert(got(2L).getAs[Long]("n_users") == 1L &&
      got(2L).getAs[Long]("user_share_bp") == 3333L)
  }

  test("g10: mix matrix conserves the undirected edge set; pairs canonicalize; shares bound") {
    val emb = graft.Tables.embeddings(spark, sf)
    val got = graft.ops.Graph.knnLabelMixOf(emb).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("label_a") <= r.getAs[Long]("label_b"))
      assert((r.getAs[Long]("within") == 1L) ==
        (r.getAs[Long]("label_a") == r.getAs[Long]("label_b")))
    }
    assert(got.map(_.getAs[Long]("share_bp")).sum <= 10000L)
    // conservation against the canonicalized edge set
    val und = graft.ops.Similarity.knnGraphOf(emb)
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct().count()
    assert(got.map(_.getAs[Long]("n_edges")).sum == und)
  }

  test("w21: first-ever days count as new, later days as returning; shares truncate") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, day: String) =
      (id, Timestamp.valueOf(s"$day 10:00:00"), u, "view", 1.0, "{}")
    val rows = Seq(
      ev(1, 1L, "2024-01-01"), ev(2, 2L, "2024-01-01"),
      ev(3, 1L, "2024-01-02"), ev(4, 3L, "2024-01-02"),
      ev(5, 2L, "2024-01-03"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.newVsReturningOf(rows).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(got.length == 3)
    val (d1, d2, d3) = (got(0), got(1), got(2))
    assert(d1.getAs[Long]("new_users") == 2L &&
      d1.getAs[Long]("returning_users") == 0L &&
      d1.getAs[Long]("new_share_bp") == 10000L)
    assert(d2.getAs[Long]("active_users") == 2L &&
      d2.getAs[Long]("new_users") == 1L &&
      d2.getAs[Long]("returning_users") == 1L &&
      d2.getAs[Long]("new_share_bp") == 5000L)
    assert(d3.getAs[Long]("new_users") == 0L &&
      d3.getAs[Long]("returning_users") == 1L)
  }

  test("a33: rho recomputes from the row's own exact moments; co-monotone pairs read 1, constants NULL") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    // up and up2 co-monotone; down anti-monotone; flat constant
    val rows = (0 until 4).flatMap { d =>
      ev(d * 1000L, "up", d, d + 1) ++ ev(10000L + d * 1000L, "up2", d, 2 * d + 1) ++
        ev(20000L + d * 1000L, "down", d, 8 - d) ++
        ev(30000L + d * 1000L, "flat", d, 3)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.spearmanPairsOf(rows).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) -> r)
      .toMap
    def jvmRho(r: org.apache.spark.sql.Row): Double = {
      val n = r.getAs[Long]("n_days").toDouble
      val (sx, sy) = (r.getAs[Long]("sx").toDouble, r.getAs[Long]("sy").toDouble)
      val num = n * r.getAs[Long]("sxy").toDouble - sx * sy
      val dx = n * r.getAs[Long]("sxx").toDouble - sx * sx
      val dy = n * r.getAs[Long]("syy").toDouble - sy * sy
      num / (math.sqrt(dx) * math.sqrt(dy))
    }
    val upPair = got(("up", "up2"))
    assert(upPair.getAs[Double]("rho") == jvmRho(upPair))
    assert(math.abs(upPair.getAs[Double]("rho") - 1.0) < 1e-12)
    val anti = got(("down", "up"))
    assert(math.abs(anti.getAs[Double]("rho") + 1.0) < 1e-12)
    // constant series: zero rank variance → NULL for every flat pair
    assert(got(("flat", "up")).isNullAt(
      got(("flat", "up")).fieldIndex("rho")))
  }

  test("j13: fresh edge serves, one second past the SLA voids but reports, no-match stays NULL") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val tol = 100L
    val ev = Seq(
      (1L, t(50L), 101L),    // within SLA (staleness 50)
      (1L, t(100L), 102L),   // exactly at the SLA edge → fresh
      (1L, t(101L), 103L),   // one past → voided but reported
      (2L, t(10L), 104L))    // key with no build → all NULL
      .toDF("k", "t", "event_id")
    val ord = Seq((1L, t(0L), 77L)).toDF("k", "t", "o_orderkey")
    val got = graft.ops.AsOf.asofToleranceOf(ev, ord, toleranceSec = tol)
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(got(101L).getAs[Long]("o_orderkey") == 77L &&
      got(101L).getAs[Long]("fresh") == 1L)
    assert(got(102L).getAs[Long]("staleness_sec") == 100L &&
      got(102L).getAs[Long]("fresh") == 1L)
    val stale = got(103L)
    assert(stale.isNullAt(stale.fieldIndex("o_orderkey")) &&
      stale.getAs[Long]("staleness_sec") == 101L &&
      stale.getAs[Long]("fresh") == 0L)
    val none = got(104L)
    assert(none.isNullAt(none.fieldIndex("o_orderkey")) &&
      none.isNullAt(none.fieldIndex("staleness_sec")) &&
      none.isNullAt(none.fieldIndex("fresh")))
  }

  test("smp5: folds replay the md5 reference, docs conserve, the delta identity holds") {
    val docs = graft.Tables.documents(spark, sf)
    val got = graft.ops.Sampling.kfoldAssignmentOf(docs).collect()
    val total = docs.filter(col("lang").isNotNull).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum == total)
    // fold assignment replays the reference md5 formulation
    import graft.functions.Functions.md5Hash60Reference
    val ref = docs.filter(col("lang").isNotNull)
      .groupBy(pmod(md5Hash60Reference(col("doc_id").cast("string"), 17),
        lit(5L)).as("fold"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[String]("lang")) ->
        r.getAs[Long]("n")).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        ref((r.getAs[Long]("fold"), r.getAs[String]("lang"))))
      assert(r.getAs[Long]("delta_bp") ==
        r.getAs[Long]("fold_lang_bp") - r.getAs[Long]("corpus_lang_bp"))
    }
  }

  test("pf4: the dominant value ranks first, ties break lexicographically, nulls surface as their bucket") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    // event_type: view ×4, click ×2, error ×2 (tie with click), null ×1
    val types = Seq("view", "view", "view", "view", "click", "click",
      "error", "error", null)
    val rows = types.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts, 1L, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Profile.topValuesOf(rows)
      .filter(col("column") === "event_type").collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(got.head.getAs[String]("value") == "view" &&
      got.head.getAs[Long]("n") == 4L)
    // click/error tie at 2 → lexicographic: click before error
    assert(got(1).getAs[String]("value") == "click" &&
      got(2).getAs[String]("value") == "error")
    assert(got(3).getAs[String]("value") == "∅" &&
      got(3).getAs[Long]("n") == 1L)
    // shares against the total row count (9)
    assert(got.head.getAs[Long]("share_bp") == 10000L * 4 / 9)
  }

  test("a36: monotone series flag ±1, all-tied series has zero variance, z recomputes from the row") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    // up: counts 1..10 (S = 45, no ties); down: 10..1 (S = −45);
    // flat: constant 3 (every day tied → variance numerator 0)
    val rows = (0 until 10).flatMap { d =>
      ev(d * 1000L, "up", d, d + 1) ++
        ev(100000L + d * 1000L, "down", d, 10 - d) ++
        ev(200000L + d * 1000L, "flat", d, 3)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.mannKendallOf(rows).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val up = got("up")
    assert(up.getAs[Long]("s_stat") == 45L &&
      up.getAs[Long]("n_pairs") == 45L)
    // no ties: var_num = n(n−1)(2n+5) = 10·9·25
    assert(up.getAs[Long]("var_num") == 2250L)
    val zUp = (45.0 - 1.0) / math.sqrt(2250.0 / 18.0)
    assert(up.getAs[Double]("z") == zUp)
    assert(up.getAs[Long]("trend") == 1L)
    val down = got("down")
    assert(down.getAs[Long]("s_stat") == -45L &&
      down.getAs[Double]("z") == (-45.0 + 1.0) / math.sqrt(2250.0 / 18.0) &&
      down.getAs[Long]("trend") == -1L)
    val flat = got("flat")
    assert(flat.getAs[Long]("s_stat") == 0L &&
      flat.getAs[Long]("var_num") == 0L &&
      flat.isNullAt(flat.fieldIndex("z")) &&
      flat.getAs[Long]("trend") == 0L)
  }

  test("tx40: each garbage rule fires on its planted doc, clean text passes, empty text flags") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "clean", 44L),
      (2L, "bcdfghjklmnpqrstvz appeared mid scan", "en", "runs", 36L),
      (3L, "12345 67890 12345 67890 12345 67890 ab", "en", "nums", 38L),
      (4L, "@#$% @#$% @#$% @#$% words", "en", "syms", 25L),
      (5L, "", "en", "empty", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.garbledTextOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got("clean").getAs[Long]("n_garbage") == 0L)
    val runs = got("runs")
    assert(runs.getAs[Long]("n_long_run") == 1L &&
      runs.getAs[Long]("max_run") == 18L &&
      runs.getAs[Long]("n_garbage") == 1L)
    assert(got("nums").getAs[Long]("n_low_alpha") == 1L &&
      got("nums").getAs[Long]("n_sym_heavy") == 0L)
    val syms = got("syms")
    assert(syms.getAs[Long]("n_sym_heavy") == 1L &&
      syms.getAs[Long]("garbage_pm") == 1000L)
    // empty: low_alpha by the chars=0 branch, NOT sym_heavy
    val empty = got("empty")
    assert(empty.getAs[Long]("n_low_alpha") == 1L &&
      empty.getAs[Long]("n_sym_heavy") == 0L &&
      empty.getAs[Long]("n_garbage") == 1L)
  }

  test("mm16: snippets match their source track at the planted offset, decoy and too-short queries stay unmatched") {
    val got = Multimodal.audioFingerprintQuery(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") -> r).toMap
    val q1 = got(101L)
    assert(q1.getAs[Long]("best_track") == 15L &&
      q1.getAs[Long]("best_offset") == 10L)
    // every interior landmark of the snippet exists in the source at
    // the planted offset — votes equal the query's landmark count
    assert(q1.getAs[Long]("votes") == q1.getAs[Long]("n_landmarks") &&
      q1.getAs[Long]("votes") >= 5L)
    val q2 = got(102L)
    assert(q2.getAs[Long]("best_track") == 12L &&
      q2.getAs[Long]("best_offset") == 4L &&
      q2.getAs[Long]("votes") >= 3L)
    // 103: one partial frame → one peak → zero landmarks, no match row
    val q3 = got(103L)
    assert(q3.getAs[Long]("n_peaks") == 1L &&
      q3.getAs[Long]("n_landmarks") == 0L &&
      q3.getAs[Long]("votes") == 0L &&
      q3.isNullAt(q3.fieldIndex("best_track")))
    // 104: landmarks exist but the source track is not in the catalog
    val q4 = got(104L)
    assert(q4.getAs[Long]("n_landmarks") >= 1L &&
      q4.getAs[Long]("votes") == 0L &&
      q4.isNullAt(q4.fieldIndex("best_track")))
  }

  test("a37: spike over a flat tail bursts, gaps self-normalize, the 3x boundary is strict, weights are exact powers") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, day: Int, n: Int) =
      (0 until n).map(k => (id + k, Timestamp.valueOf(
        f"2024-01-${day + 1}%02d 00:00:00"), 1L, t, 1.0, "{}"))
    val rows = (
      (0 until 5).flatMap(d => ev(d * 1000L, "spike", d, 2)) ++
        ev(5000L, "spike", 5, 20) ++
        ev(10000L, "gap", 0, 4) ++ ev(11000L, "gap", 10, 4) ++
        ev(20000L, "w", 0, 1) ++ ev(21000L, "w", 1, 3) ++
        ev(22000L, "w", 2, 100)
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val epoch0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    val got = graft.model.Analytics.ewmaBurstOf(rows).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("day") - epoch0) -> r).toMap
    def at(t: String, d: Long) = got((t, d))
    val spike = at("spike", 5)
    assert(spike.getAs[Long]("x") == 20L && spike.getAs[Long]("burst") == 1L)
    // flat history → ewma exactly 2.0
    assert(spike.getAs[Double]("ewma") == 2.0)
    val first = at("spike", 0)
    assert(first.isNullAt(first.fieldIndex("burst")))
    // 10-day gap: single trailing obs at weight 2^6 — ewma still
    // exactly the old level, no burst at equal volume
    val gap = at("gap", 10)
    assert(gap.getAs[Long]("ewma_den") == 64L &&
      gap.getAs[Double]("ewma") == 4.0 && gap.getAs[Long]("burst") == 0L)
    // day1 of w: x=3 vs ewma 1 → exactly 3x is NOT a burst (strict >)
    val w1 = at("w", 1)
    assert(w1.getAs[Long]("ewma_num") == 32768L &&
      w1.getAs[Long]("ewma_den") == 32768L &&
      w1.getAs[Long]("burst") == 0L)
    // day2: weights 2^14 (lag 2) and 2^15 (lag 1), exact longs
    val w2 = at("w", 2)
    assert(w2.getAs[Long]("ewma_num") == 1L * 16384L + 3L * 32768L &&
      w2.getAs[Long]("ewma_den") == 16384L + 32768L &&
      w2.getAs[Long]("burst") == 1L)
  }

  test("rc3: every merge class lands on its planted key") {
    val base = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L, 5L -> 10L,
      6L -> 10L, 7L -> 10L, 8L -> 10L, 9L -> 10L).toDF("key", "v")
    val ours = Seq(1L -> 10L, 2L -> 11L, 3L -> 10L, 4L -> 11L, 5L -> 11L,
      7L -> 10L, // 6, 8, 9 deleted
      100L -> 1L, 102L -> 5L, 103L -> 5L).toDF("key", "v")
    val theirs = Seq(1L -> 10L, 2L -> 10L, 3L -> 11L, 4L -> 11L, 5L -> 12L,
      6L -> 10L, 9L -> 11L, // 7, 8 deleted
      101L -> 2L, 102L -> 5L, 103L -> 6L).toDF("key", "v")
    val got = graft.ops.Reconcile.threeWayMerge(base, ours, theirs)
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("class"))
      .toMap
    val expect = Map(
      1L -> "unchanged", 2L -> "ours_change", 3L -> "theirs_change",
      4L -> "both_change_agree", 5L -> "change_conflict",
      6L -> "ours_delete", 7L -> "theirs_delete", 8L -> "both_delete",
      9L -> "delete_change_conflict", 100L -> "ours_insert",
      101L -> "theirs_insert", 102L -> "both_insert_agree",
      103L -> "insert_conflict")
    assert(got == expect)
  }

  test("g12: path-graph distances quantize exactly, two landmarks sum, isolated node reads zero") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 97L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 97L, 8L).toDF("vec_id")
    val got = graft.ops.Graph.landmarkCentralityOfEdges(edges, nodes)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    // seeds: ids ≡ 0 (mod 97) → {0, 97}; path distances d and 97−d
    val expect = Map(
      0L -> 2166666L, 1L -> 1200000L, 2L -> 750000L, 3L -> 666666L,
      4L -> 750000L, 5L -> 1200000L, 97L -> 2166666L)
    expect.foreach { case (id, h) =>
      assert(got(id).getAs[Long]("harmonic_micro") == h, s"node $id")
      assert(got(id).getAs[Long]("n_reached") == 2L)
    }
    val iso = got(8L)
    assert(iso.getAs[Long]("n_reached") == 0L &&
      iso.getAs[Long]("harmonic_micro") == 0L &&
      iso.isNullAt(iso.fieldIndex("min_dist")))
  }

  test("w22: a timer user flags as bot, irregular traffic does not, two events are insufficient data") {
    import java.sql.Timestamp
    def at(id: Long, u: Long, s: Long) =
      (id, new Timestamp(1700000000000L + s * 1000L), u, "view", 1.0, "{}")
    val rows = (
      (0 until 10).map(i => at(i.toLong, 1L, i * 60L)) ++       // timer
        Seq(0L, 10L, 610L, 640L, 2640L, 2645L)
          .zipWithIndex.map { case (s, i) => at(100L + i, 2L, s) } ++ // human
        Seq(at(200L, 3L, 0L), at(201L, 3L, 500L))               // sparse
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.model.Analytics.cadenceRegularityOf(rows).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    // timer: 9 gaps of exactly 60s → CV² = 0 → bucket 0, bot
    assert(got(0L).getAs[Long]("n_bots") == 1L &&
      got(0L).getAs[Long]("n_users") == 1L &&
      got(0L).getAs[Long]("min_cv2_c") == 0L)
    // sparse user: one gap → the explicit insufficient-data bucket
    assert(got(-1L).getAs[Long]("n_users") == 1L &&
      got(-1L).getAs[Long]("n_bots") == 0L)
    // the human lands in SOME positive bucket, unflagged
    val human = got.collect { case (b, r) if b > 0L => r }
    assert(human.size == 1 && human.head.getAs[Long]("n_bots") == 0L)
  }

  test("dq12: planted lags hit the violation count, the month cap, and the exact rate") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-03-10 00:00:00")
    def day(n: Long) = new Timestamp(base.getTime + n * 86400000L)
    val orders = Seq((1L, 9L, "O", 10.0, base, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val items = Seq(-5L, 0L, 31L, 200L).zipWithIndex.map { case (lag, i) =>
      (1L, 1L, 1L, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day(lag))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val got = graft.ops.Profile.temporalConsistencyOf(orders, items)
      .collect().head
    assert(got.getAs[Long]("n_items") == 4L &&
      got.getAs[Long]("n_violations") == 1L &&
      got.getAs[Long]("min_lag") == -5L && got.getAs[Long]("max_lag") == 200L)
    // months: 0 + 0 + 1 + cap(6→5) = 6; rate 1/4 = 2500 bp
    assert(got.getAs[Long]("sum_capped_months") == 6L &&
      got.getAs[Long]("violation_bp") == 2500L)
  }

  test("mm17: patch accounting — pixel counts tile the image, constant image pins every tile mean, edge tiles split exactly") {
    val got = Multimodal.patchStatsQuery(spark, sf).collect()
    val byImg = got.groupBy(_.getAs[Long]("img_id"))
    // Σ patch n_px = w·h for every fixture image
    val dims = Map(0L -> (16, 16), 1L -> (32, 16), 2L -> (16, 32),
      3L -> (24, 24), 4L -> (20, 12), 5L -> (9, 8), 6L -> (40, 28),
      7L -> (33, 17))
    dims.foreach { case (id, (w, h)) =>
      assert(byImg(id).map(_.getAs[Long]("n_px")).sum == w.toLong * h,
        s"img $id")
    }
    // constant-gray image: every tile mean exactly 128·1000
    assert(byImg(0L).forall(_.getAs[Long]("mean_mluma") == 128000L))
    // img 4 (20×12, step at x=10): tile (1,0) mixes 2 black + 6 white
    // columns → mean 255000·6/8
    val t10 = byImg(4L).find(r => r.getAs[Int]("patch_x") == 1 &&
      r.getAs[Int]("patch_y") == 0).get
    assert(t10.getAs[Long]("n_px") == 64L &&
      t10.getAs[Long]("mean_mluma") == 255000L * 6 / 8)
    // rightmost tile of img 4 is the 4-wide partial, all white
    val t20 = byImg(4L).find(r => r.getAs[Int]("patch_x") == 2 &&
      r.getAs[Int]("patch_y") == 0).get
    assert(t20.getAs[Long]("n_px") == 32L &&
      t20.getAs[Long]("mean_mluma") == 255000L)
  }

  test("tx41: conditional bits charge rare continuations, not rare words; short docs read zero") {
    val docs = Seq(
      (1L, "the cat sat", "en", "s", 11L),
      (2L, "the cat ran", "en", "s", 11L),
      (3L, "cat the", "en", "s", 7L),
      (4L, "solo", "en", "s", 4L),
      (5L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.bigramSurprisalOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // c2: (the,cat)=2 (cat,sat)=1 (cat,ran)=1 (cat,the)=1; c1: the=2 cat=3
    // doc1: [bitlen(2)-bitlen(2)] + [bitlen(3)-bitlen(1)] = 0 + 1
    assert(got(1L).getAs[Long]("cond_bits") == 1L &&
      got(1L).getAs[Long]("n_bigrams") == 2L &&
      got(1L).getAs[Long]("bits_per_tok_centi") == 50L)
    assert(got(2L).getAs[Long]("cond_bits") == 1L)
    // reversed order: (cat,the) is a rare continuation of a common word
    assert(got(3L).getAs[Long]("cond_bits") == 1L &&
      got(3L).getAs[Long]("bits_per_tok_centi") == 100L)
    Seq(4L, 5L).foreach { id =>
      assert(got(id).getAs[Long]("n_bigrams") == 0L &&
        got(id).getAs[Long]("cond_bits") == 0L &&
        got(id).getAs[Long]("bits_per_tok_centi") == 0L)
    }
  }

  test("g13: a settled cycle contributes zero residual, a chain settles in exactly two rounds") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val got = graft.ops.Similarity.pagerankResidualsOf(edges, nodes, 4)
      .collect().map(r => r.getAs[Long]("round") ->
        (r.getAs[Long]("l1_residual"), r.getAs[Long]("max_delta"),
          r.getAs[Long]("n_moved"))).toMap
    // the 1↔2 cycle is a fixed point of the damped update from r0; only
    // node 3 (no in-edges) moves in round 1, only node 4 in round 2
    assert(got(1L) == ((850000L, 850000L, 1L)))
    assert(got(2L) == ((722500L, 722500L, 1L)))
    assert(got(3L) == ((0L, 0L, 0L)) && got(4L) == ((0L, 0L, 0L)))
  }

  test("smp7: 70/embargo/test day cuts land exactly, user overlap counted per split") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, d: Int) = (id, Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay()),
      u, "view", 1.0, "{}")
    val rows = Seq(ev(1, 1L, 0), ev(2, 1L, 50), ev(3, 1L, 80),
      ev(4, 2L, 72), ev(5, 3L, 90), ev(6, 3L, 100))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    val got = graft.ops.Sampling.temporalSplitOf(rows).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    // span 100 → cut at day 70; embargo 70–74; test 75+
    val train = got("train")
    assert(train.getAs[Long]("n_events") == 2L &&
      train.getAs[Long]("first_day") == d0 &&
      train.getAs[Long]("last_day") == d0 + 50 &&
      train.getAs[Long]("n_users") == 1L &&
      train.getAs[Long]("n_users_also_in_train") == 1L)
    val emb = got("embargo")
    assert(emb.getAs[Long]("n_events") == 1L &&
      emb.getAs[Long]("n_users") == 1L &&
      emb.getAs[Long]("n_users_also_in_train") == 0L)
    val test0 = got("test")
    assert(test0.getAs[Long]("n_events") == 3L &&
      test0.getAs[Long]("n_users") == 2L &&
      test0.getAs[Long]("n_users_also_in_train") == 1L)
  }

  test("mm18: flat image reads zero texture and flags blurry, checkerboard and noise read sharp, identity holds") {
    val got = Multimodal.sharpnessQuery(spark, sf).collect()
      .map(r => r.getAs[Long]("img_id") -> r).toMap
    val flat = got(0L)
    assert(flat.getAs[Long]("var_milli2") == 0L &&
      flat.getAs[Long]("blurry") == 1L)
    // smooth ramp: second differences are quantization steps only
    assert(got(1L).getAs[Long]("blurry") == 1L)
    // checkerboard and per-pixel noise are maximal texture
    assert(got(3L).getAs[Long]("blurry") == 0L &&
      got(6L).getAs[Long]("blurry") == 0L)
    got.values.foreach { r =>
      val (n, s, s2) = (r.getAs[Long]("n_interior"), r.getAs[Long]("sum_lap"),
        r.getAs[Long]("sum_lap2"))
      // identity replayed in BigInt — the moments stay exact longs, the
      // numerator does not have to fit int64
      val num = BigInt(n) * BigInt(s2) - BigInt(s) * BigInt(s)
      assert(BigInt(r.getAs[Long]("var_milli2")) ==
        (if (n > 0) num / (BigInt(n) * BigInt(n)) else BigInt(0)))
      assert(r.getAs[Long]("blurry") ==
        (if (n == 0 || num < BigInt(1000000000L) * n * n) 1L else 0L))
    }
  }

  test("tx43: reference-LM bands by whole-bit surprisal — fluent head, reference-rare middle, OOV tail") {
    // reference slice = lexicographically first source ("a"): one doc,
    // 532 tokens -> nbits = bitlen(532) = 10; per-token bits:
    // x (cnt 512) -> 0, y (16) -> 5, m (4) -> 7, OOV -> 11
    val refText = (Seq.fill(512)("x") ++ Seq.fill(16)("y") ++
      Seq.fill(4)("m")).mkString(" ")
    val docs = Seq(
      (1L, refText, "en", "a", refText.length.toLong),
      (2L, "x x y", "en", "b", 5L),   // (0+0+5) div 3 = 1 -> head
      (3L, "m m m", "en", "b", 5L),   // 7 -> middle
      (4L, "q q q", "en", "b", 5L))   // 11 -> tail, all OOV
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.refLmFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("band") == "head" &&
      got(1L).getAs[Long]("oov_tokens") == 0L &&
      got(1L).getAs[Long]("total_bits") == (16L * 5 + 4L * 7))
    assert(got(2L).getAs[String]("band") == "head" &&
      got(2L).getAs[Long]("bits_per_token") == 1L)
    assert(got(3L).getAs[String]("band") == "middle" &&
      got(3L).getAs[Long]("bits_per_token") == 7L)
    assert(got(4L).getAs[String]("band") == "tail" &&
      got(4L).getAs[Long]("oov_tokens") == 3L &&
      got(4L).getAs[Long]("bits_per_token") == 11L)
  }

  test("sim12: zero second half makes half-cos exact (no inversions, equal agreement); zero first half hits the sentinel") {
    val dim = graft.ops.Similarity.Dim
    val half = graft.ops.Similarity.TruncDims
    def vec(firstHalf: Seq[Float], secondHalf: Seq[Float]): Seq[Float] =
      (firstHalf ++ Seq.fill(half - firstHalf.length)(0.0f) ++
        secondHalf ++ Seq.fill(half - secondHalf.length)(0.0f)).take(dim)
    // six vectors whose SECOND half is all zero: cosine over the first
    // 32 dims is bit-identical to full cosine, so per rank
    // full_above == half_above == both_above and inversions = 0
    val vs = (0 until 6).map { i =>
      val f = Seq.tabulate(half)(j =>
        (math.sin(i * 7 + j).toFloat.abs + 0.1f))
      (i.toLong, i.toLong % 2, vec(f, Seq.empty))
    }
    val emb = vs.toDF("vec_id", "label", "embedding")
    val got = graft.ops.Similarity.truncationAuditOf(emb).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("full_above_tau") == r.getAs[Long]("half_above_tau"))
      assert(r.getAs[Long]("both_above_tau") == r.getAs[Long]("full_above_tau"))
      assert(r.getAs[Long]("order_inversions") == 0L)
    }
    graft.ops.Materialize.releaseAll(spark)
    // a vector with a ZERO first half takes the -2.0 sentinel on its
    // edges: it can never count as half-above-tau
    val adv = vs.take(3) :+
      ((9L, 1L, vec(Seq.empty, Seq.tabulate(half)(j => 1.0f + j))))
    val got2 = graft.ops.Similarity.truncationAuditOf(
      adv.toDF("vec_id", "label", "embedding")).collect()
    got2.foreach { r =>
      assert(r.getAs[Long]("half_above_tau") <= r.getAs[Long]("n_edges"))
      assert(r.getAs[Long]("both_above_tau") <=
        r.getAs[Long]("half_above_tau"))
    }
    graft.ops.Materialize.releaseAll(spark)
  }

  test("tx42: heaps growth buckets by doc-id bitlen, first-seen types land once, cums add up") {
    val docs = Seq(
      (1L, "a b a", "en", "A", 5L),    // j=1: 3 tokens, new {a,b}
      (2L, "a c", "en", "A", 3L),      // j=2
      (3L, "b d d", "en", "A", 5L),    // j=2: bucket totals 5 toks, new {c,d}
      (4L, "a", "en", "A", 1L),        // j=3: 1 token, nothing new
      (8L, "e", "en", "A", 1L))        // j=4: 1 token, new {e}
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.heapsGrowthOf(docs).collect()
      .map(r => r.getAs[Long]("j") -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    def row(j: Long) = {
      val r = got(j)
      (r.getAs[Long]("docs"), r.getAs[Long]("tokens"),
        r.getAs[Long]("new_types"), r.getAs[Long]("cum_docs"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("cum_types"))
    }
    assert(row(1L) == ((1L, 3L, 2L, 1L, 3L, 2L)))
    assert(row(2L) == ((2L, 5L, 2L, 3L, 8L, 4L)))
    assert(row(3L) == ((1L, 1L, 0L, 4L, 9L, 4L)))
    assert(row(4L) == ((1L, 1L, 1L, 5L, 10L, 5L)))
  }

  test("dd23: trivial punctuation/spacing variants collapse under the normalized hash, raw hash keeps them apart") {
    val docs = Seq(
      (1L, "hello world", "en", "A", 11L),
      (2L, "hello,  world", "en", "A", 13L),
      (3L, "hello world!", "en", "A", 12L),
      (4L, "goodbye", "en", "A", 7L),
      (5L, "same text", "en", "B", 9L),
      (6L, "same text", "en", "B", 9L),
      // case variants normalize TOGETHER, and distinct words that
      // differ only in a leading capital stay APART ("Hello world" ≢
      // "Jello world" — lowercasing before the class strip keeps the
      // letters instead of deleting them)
      (7L, "Hello World", "en", "C", 11L),
      (8L, "hello world", "en", "C", 11L),
      (9L, "Jello world", "en", "C", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Dedup.normalizedDedupOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("raw_distinct") == 4L &&
      a.getAs[Long]("norm_distinct") == 2L &&
      a.getAs[Long]("trivial_variants") == 2L)
    val b = got("B")
    assert(b.getAs[Long]("n_docs") == 2L &&
      b.getAs[Long]("raw_distinct") == 1L &&
      b.getAs[Long]("trivial_variants") == 0L)
    val cc = got("C")
    assert(cc.getAs[Long]("raw_distinct") == 3L &&
      cc.getAs[Long]("norm_distinct") == 2L &&
      cc.getAs[Long]("trivial_variants") == 1L)
  }

  test("rl2: recall reads 10000 bp on every corruption rule — the FastSS pigeonhole guarantee, measured") {
    val got = graft.ops.Linkage.blockingRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("rule") -> r).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    got.values.foreach { r =>
      assert(r.getAs[Long]("n_found") == r.getAs[Long]("n_truth"))
      assert(r.getAs[Long]("recall_bp") == 10000L)
    }
    // rule 3 is the untouched quarter — its truth pairs are lev 0
    assert(got(3L).getAs[Long]("n_truth") > 0L)
  }

  test("hq2: two-pass selection equals the hand-ranked median for odd and even counts, across bucket boundaries") {
    def li(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1L, 1L, i, 1.0, v, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    // odd: 5 values, middles coincide; values span several 1024-cent
    // buckets so the bucket walk is exercised
    val odd = graft.ops.Sketch.exactMedianOf(
      li(Seq(1.0, 100.0, 250.0, 400.0, 999.0))).collect().head
    assert(odd.getAs[Long]("n") == 5L &&
      odd.getAs[Long]("lo_cents") == 25000L &&
      odd.getAs[Long]("hi_cents") == 25000L &&
      odd.getAs[Double]("median_cents") == 25000.0)
    // even: middles straddle a bucket boundary (10.23 and 10.25 sit in
    // buckets 0 and 1 of the 1024-cent grid)
    val even = graft.ops.Sketch.exactMedianOf(
      li(Seq(1.0, 10.23, 10.25, 999.0))).collect().head
    assert(even.getAs[Long]("lo_cents") == 1023L &&
      even.getAs[Long]("hi_cents") == 1025L &&
      even.getAs[Long]("median_x2_cents") == 2048L &&
      even.getAs[Double]("median_cents") == 1024.0)
    // density spike: 50,001 rows all inside ONE 1024-cent bucket (cents
    // 1..1024 cycled) — the old TakeOrdered path capped the in-bucket
    // offset; the recursive narrowing resolves the rank with a second
    // distributed histogram regardless of bucket population. Median of
    // cents (i % 1024) + 1 over i in 0..50000 with rank 25001 → the
    // 25001st smallest of {49 copies of 1..856-ish}: compute ground
    // truth in-JVM and compare.
    val spikeCents = (0 until 50001).map(i => (i % 1024) + 1)
    val truth = spikeCents.sorted.apply(25000) // rank 25001, 0-indexed
    val spike = graft.ops.Sketch.exactMedianOf(
      li(spikeCents.map(_ / 100.0))).collect().head
    assert(spike.getAs[Long]("n") == 50001L &&
      spike.getAs[Long]("lo_cents") == truth.toLong &&
      spike.getAs[Long]("hi_cents") == truth.toLong)
  }

  test("hq3: panel narrowing equals the hand-ranked ⌈p·N/100⌉ selection for every percent, one pass set for all") {
    def li(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1L, 1L, i, 1.0, v, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    // uniform 1..100 dollars: rank k = p exactly, value = p dollars
    val uni = graft.ops.Sketch.exactQuantilesOf(
      li((1 to 100).map(_.toDouble))).collect()
      .map(r => r.getAs[Long]("pct") -> r).toMap
    graft.ops.Sketch.QuantilePcts.foreach { p =>
      val r = uni(p.toLong)
      assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("k") == p.toLong)
      assert(r.getAs[Long]("value_cents") == p * 100L,
        s"p$p: ${r.getAs[Long]("value_cents")}")
    }
    // skewed multiset across bucket boundaries: truth by JVM sort at
    // the same ⌈p·N/100⌉ rank
    val vals = (Seq.fill(37)(10.23) ++ Seq.fill(11)(10.25) ++
      (1 to 52).map(i => i * 97.31)).map(v => math.round(v * 100) / 100.0)
    val cents = vals.map(v => math.round(v * 100)).sorted
    val skew = graft.ops.Sketch.exactQuantilesOf(li(vals)).collect()
      .map(r => r.getAs[Long]("pct") -> r).toMap
    graft.ops.Sketch.QuantilePcts.foreach { p =>
      val n = vals.length
      val k = (p.toLong * n + 99L) / 100L
      val r = skew(p.toLong)
      assert(r.getAs[Long]("k") == k)
      assert(r.getAs[Long]("value_cents") == cents(k.toInt - 1),
        s"p$p rank $k: got ${r.getAs[Long]("value_cents")}, " +
          s"want ${cents(k.toInt - 1)}")
    }
  }

  test("hq2/hq3 degenerate: empty input emits NULL-valued rows like the oracle's scalar subquery, not a crash") {
    val empty = Seq.empty[(Long, Long, Long, Int, Double, Double, Double,
      Double, String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val med = graft.ops.Sketch.exactMedianOf(empty).collect()
    assert(med.length == 1)
    assert(med.head.getAs[Long]("n") == 0L &&
      med.head.isNullAt(med.head.fieldIndex("lo_cents")) &&
      med.head.isNullAt(med.head.fieldIndex("median_cents")))
    val qs = graft.ops.Sketch.exactQuantilesOf(empty).collect()
    assert(qs.length == graft.ops.Sketch.QuantilePcts.length)
    qs.foreach { r =>
      assert(r.getAs[Long]("n") == 0L &&
        r.isNullAt(r.fieldIndex("value_cents")))
    }
  }

  test("priv3: a group mirroring the global mix scores TVD 0; a concentrated group scores the hand-computed distance") {
    // global mix: bands 1 and 2. Group (A, X) holds 10+10 (exactly the
    // 50/50 global mix after including itself), group (A, Y) holds
    // 20 of band 1 only — its TVD vs global must be hand-computable.
    val qi = (Seq.fill(10)(("A", "X", 1L)) ++ Seq.fill(10)(("A", "X", 2L)) ++
      Seq.fill(10)(("A", "Y", 1L)) ++ Seq.fill(10)(("A", "Y", 2L)) ++
      Seq.fill(20)(("A", "Z", 1L)))
      .toDF("segment", "nation", "band")
    val got = graft.ops.Privacy.tClosenessOf(qi).collect()
      .map(r => r.getAs[String]("nation") -> r).toMap
    // N = 60, C_1 = 40, C_2 = 20
    // X: n_g=20, c_g1=10, c_g2=10 → |10·60−40·20| + |10·60−20·20|
    //    = 200 + 200 = 400; pm = 1000·400 / (2·20·60) = 166 → ok
    assert(got("X").getAs[Long]("tvd_num") == 400L)
    assert(got("X").getAs[Long]("tvd_pm") == 166L)
    assert(got("X").getAs[Long]("t_close_ok") == 1L)
    // Z: n_g=20, c_g1=20, c_g2=0 → |20·60−40·20| + |0−20·20|
    //    = 400 + 400 = 800; pm = 1000·800/(2·20·60) = 333 → violating
    assert(got("Z").getAs[Long]("tvd_num") == 800L)
    assert(got("Z").getAs[Long]("tvd_pm") == 333L)
    assert(got("Z").getAs[Long]("t_close_ok") == 0L)
    // Y mirrors the within-group mix 10/10 like X — same numbers
    assert(got("Y").getAs[Long]("tvd_num") == 400L)
    // sanity: TVD per-mille never exceeds 1000
    got.values.foreach(r => assert(r.getAs[Long]("tvd_pm") <= 1000L))
  }

  test("priv3 boundary: cell counts past long-product exactness stay exact (decimal products), and a tvd_num past bigint raises instead of wrapping") {
    // counts ~4e9: N = 16e9+1, so each product c_gv*N ~ 6.4e19 OVERFLOWS
    // long (max 9.2e18) — long arithmetic would wrap silently; the
    // decimal(38,0) path must reproduce the BigInt-exact answer. Groups
    // nearly mirror the global mix so tvd_num itself stays small.
    val c = 4_000_000_000L
    val cells = Seq(
      ("A", "X", 1L, c), ("A", "X", 2L, c),
      ("A", "Y", 1L, c), ("A", "Y", 2L, c + 1L))
      .toDF("segment", "nation", "band", "c_gv")
    val got = graft.ops.Privacy.tClosenessFromCells(cells).collect()
      .map(r => r.getAs[String]("nation") -> r).toMap
    // BigInt replay of the definition
    val N = BigInt(4) * c + 1
    val (c1, c2) = (BigInt(2) * c, BigInt(2) * c + 1)
    def tvd(g1: BigInt, g2: BigInt): (BigInt, BigInt) = {
      val ng = g1 + g2
      val num = (g1 * N - c1 * ng).abs + (g2 * N - c2 * ng).abs
      (num, (1000 * num) / (2 * ng * N))
    }
    val (xNum, xPm) = tvd(BigInt(c), BigInt(c))
    // the test really is past long-product exactness: each |c_gv*N| term
    // overflows bigint even though their differences (the answer) are small
    assert(BigInt(c) * N > BigInt(Long.MaxValue))
    assert(BigInt(got("X").getAs[Long]("tvd_num")) == xNum)
    assert(BigInt(got("X").getAs[Long]("tvd_pm")) == xPm)
    val (yNum, yPm) = tvd(BigInt(c), BigInt(c) + 1)
    assert(BigInt(got("Y").getAs[Long]("tvd_num")) == yNum)
    assert(BigInt(got("Y").getAs[Long]("tvd_pm")) == yPm)
    // maximally-concentrated groups at this scale push tvd_num itself
    // past bigint: the presentation column must raise loudly
    val over = Seq(("A", "X", 1L, c), ("A", "Y", 2L, c))
      .toDF("segment", "nation", "band", "c_gv")
    val e = intercept[Exception] {
      graft.ops.Privacy.tClosenessFromCells(over).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("tvd_num exceeds bigint")))
  }

  test("priv floorDiv: exact DuckDB // parity on negative numerators where truncating division diverges") {
    val df = Seq(-250000L, -100001L, -100000L, -1L, 0L, 1L, 99999L,
      100000L, 250000L).toDF("v")
      .select(col("v"), graft.ops.Privacy.floorDiv(col("v"), 100000L).as("q"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (v, q) =>
      assert(q == Math.floorDiv(v, 100000L), s"floorDiv($v)") }
    // the divergence case the ADVICE named: -250000/-100001 floor to
    // -3/-2, where truncate-toward-zero gives -2/-1
    assert(got(-250000L) == -3L && got(-100001L) == -2L)
  }

  test("ch1: windows cover every token with the configured overlap; the last chunk may be short; whitespace-only docs yield none") {
    // 130 tokens at W=64/S=48: K = ceil((130-64)/48) = 2 -> chunks at
    // starts 1/49/97 with lengths 64/64/34
    val toks130 = (1 to 130).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, toks130, "en", "a", 1L),
      (2L, "one two three", "en", "a", 1L), // n < W -> exactly 1 chunk
      (3L, "   \t  ", "en", "a", 1L),       // whitespace-only -> none
      (4L, null.asInstanceOf[String], "en", "a", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Chunking.chunkWindowsOf(docs).collect()
    val byDoc = got.groupBy(_.getAs[Long]("doc_id"))
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d1.map(r => (r.getAs[Long]("start_tok"),
      r.getAs[Long]("n_chunk_tokens"))).toSeq ==
      Seq((1L, 64L), (49L, 64L), (97L, 34L)))
    // boundary-spanning coverage: chunk 1 starts inside chunk 0
    assert(d1(1).getAs[String]("chunk_text").startsWith("t49 t50"))
    assert(d1(2).getAs[String]("chunk_text").endsWith("t130"))
    val d2 = byDoc(2L)
    assert(d2.length == 1 &&
      d2.head.getAs[String]("chunk_text") == "one two three" &&
      d2.head.getAs[Long]("n_chunk_tokens") == 3L)
  }

  test("ch2: verbatim-shared chunks count once per doc, whole-doc uniqueness does not mask block sharing") {
    // docs 1 and 2 share one exact 32-token block but differ elsewhere
    // (full-text md5 unique, so dd1-style dedup passes them); doc 3 is
    // all-original
    val block = (1 to 32).map(i => s"b$i").mkString(" ")
    val ones = (1 to 32).map(i => s"x$i").mkString(" ")
    val twos = (1 to 32).map(i => s"y$i").mkString(" ")
    val threes = (1 to 32).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $ones", "en", "a", 1L),   // chunks: block, ones
      (2L, s"$block $twos", "en", "a", 1L),   // chunks: block, twos
      (3L, s"$threes", "en", "a", 1L))        // chunk: threes
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Chunking.chunkBoilerplateOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_chunks") == 2L &&
      got(1L).getAs[Long]("n_shared_chunks") == 1L &&
      got(1L).getAs[Long]("shared_bp") == 5000L)
    assert(got(2L).getAs[Long]("n_shared_chunks") == 1L)
    assert(got(3L).getAs[Long]("n_shared_chunks") == 0L &&
      got(3L).getAs[Long]("shared_bp") == 0L)
    graft.ops.Materialize.releaseAll(spark)
  }

  test("tx44: seen bigrams charge conditional bits, unseen back off to the unigram + penalty, OOV pays the full charge") {
    // ref slice (source "a"): x y x y x y x z → c2(x,y)=3, c2(y,x)=3,
    // c2(x,z)=1, N_ref=7 bigrams → nbits=3; c1(x)=4, c1(y)=3;
    // unigram (w side): c_u(y)=3, c_u(x)=3, c_u(z)=1
    val docs = Seq(
      (1L, "x y x y x y x z", "en", "a", 15L),
      (2L, "x y x y", "en", "b", 7L), // seen: bits 1,0,1 → 2 over 3
      (3L, "z z", "en", "b", 3L),     // backoff: 2+3−bitlen(1)=4
      (4L, "q q", "en", "b", 3L))     // OOV: 2+3+1=6
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.TextStats.backoffLmFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(2L).getAs[Long]("total_bits") == 2L &&
      got(2L).getAs[Long]("n_backoff") == 0L &&
      got(2L).getAs[Long]("n_oov") == 0L &&
      got(2L).getAs[Long]("centi_bits") == 66L &&
      got(2L).getAs[String]("band") == "head")
    assert(got(3L).getAs[Long]("total_bits") == 4L &&
      got(3L).getAs[Long]("n_backoff") == 1L &&
      got(3L).getAs[Long]("n_oov") == 0L)
    assert(got(4L).getAs[Long]("total_bits") == 6L &&
      got(4L).getAs[Long]("n_backoff") == 0L &&
      got(4L).getAs[Long]("n_oov") == 1L)
    // the ref doc scores itself: every bigram seen, zero OOV
    assert(got(1L).getAs[Long]("n_oov") == 0L &&
      got(1L).getAs[Long]("n_backoff") == 0L)
    graft.ops.Materialize.releaseAll(spark)
  }

  test("inc4: exact below k, estimator kicks in above k, merged kth equals the JVM global min-k replay") {
    import java.sql.Timestamp
    def ev(id: Long, u: Long, day: Int) = (id, Timestamp.valueOf(
      f"2024-02-${day + 1}%02d 00:00:00"), u, "view", 1.0, "{}")
    // day0: users 1..100, day1: 51..150, day2: 101..200 → cum 100/150/200
    val rows = ((1 to 100).map(u => ev(u.toLong, u.toLong, 0)) ++
      (51 to 150).map(u => ev(1000L + u, u.toLong, 1)) ++
      (101 to 200).map(u => ev(2000L + u, u.toLong, 2)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Sketch.distinctMaintenanceOf(rows).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(got.map(_.getAs[Long]("cum_users")).toSeq == Seq(100L, 150L, 200L))
    // above k the sketch is saturated at exactly k survivors
    got.foreach(r => assert(r.getAs[Long]("n_sketch") == 64L))
    // merged cumulative kth == global min-k over ALL users seen so far,
    // replayed in plain JVM — the KMV merge law, end to end
    def kthOf(users: Range): Long = users
      .map(u => graft.ops.Sketch.jvmHash60(u.toString, 33)).sorted.apply(63)
    assert(got(0).getAs[Long]("kth_h") == kthOf(1 to 100))
    assert(got(1).getAs[Long]("kth_h") == kthOf(1 to 150))
    assert(got(2).getAs[Long]("kth_h") == kthOf(1 to 200))
    // estimator recomputes from the row's own kth; error within the
    // k=64 KMV band (~13% sigma; 40% is a loose 3-sigma gate)
    got.foreach { r =>
      val est = r.getAs[Double]("est_users")
      assert(est == 63.0 * math.pow(2, 60) / r.getAs[Long]("kth_h"))
      val exact = r.getAs[Long]("cum_users").toDouble
      assert(math.abs(est - exact) / exact < 0.4, s"est $est vs $exact")
    }
  }

  test("dq13: the three lineitem relations account for the same child total; max bounds mean; cpm recomputes") {
    val got = graft.ops.Profile.fanoutProfile(spark, sf).collect()
      .map(r => r.getAs[String]("relation") -> r).toMap
    val liTotal = Seq("orders->lineitem", "part->lineitem",
      "supplier->lineitem").map(got(_).getAs[Long]("n_children"))
    assert(liTotal.distinct.length == 1,
      "all three lineitem FKs must cover the same child rows")
    got.values.foreach { r =>
      val (np, nc) = (r.getAs[Long]("n_parents"), r.getAs[Long]("n_children"))
      assert(r.getAs[Long]("max_fanout") * np >= nc,
        "max fan-out below the mean is impossible")
      assert(r.getAs[Long]("mean_fanout_cpm") == 100000L * nc / np)
    }
  }

  test("priv2: suppression is monotone down the ladder, the dropped-band rung groups by (segment, nation)") {
    val got = graft.ops.Privacy.generalizationLadder(spark, sf).collect()
      .sortBy(_.getAs[Long]("level"))
    assert(got.length == 4)
    // nested bands (1k | 5k | 25k | dropped) only merge groups, so
    // suppressed rows and violating groups can never increase
    got.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi.getAs[Long]("suppressed_rows") >=
        lo.getAs[Long]("suppressed_rows"))
      assert(hi.getAs[Long]("n_groups") >= lo.getAs[Long]("n_groups"))
    }
    // total is the same base at every rung
    assert(got.map(_.getAs[Long]("total_rows")).distinct.length == 1)
    // rung 3 = (segment, nation) support — bounded by 5 segments × 25
    // nations (+ null nation)
    assert(got(3).getAs[Long]("n_groups") <= 130L)
  }

  test("dd24 canonicalUrl: the normalization table, rule by rule") {
    val cases = Seq(
      // scheme dropped, authority lowercased, www. prefix stripped
      ("HTTPS://WWW.Example5.COM/doc/5", "example5.com/doc/5"),
      // default ports stripped; a non-default port is IDENTITY
      ("http://example.com:80/a", "example.com/a"),
      ("https://example.com:443/a", "example.com/a"),
      ("http://example.com:8080/a", "example.com:8080/a"),
      // trailing slashes collapse; the root path is the bare host
      ("http://example.com/a/b///", "example.com/a/b"),
      ("http://example.com/", "example.com"),
      // query params sort bytewise; utm_* tracking params drop;
      // an all-dropped query loses its '?'
      ("http://example.com/p?b=2&a=1", "example.com/p?a=1&b=2"),
      ("http://example.com/p?utm_source=x&a=1", "example.com/p?a=1"),
      ("http://example.com/p?utm_source=x", "example.com/p"),
      // fragment drops
      ("http://example.com/p?a=1#sec", "example.com/p?a=1"),
      // www strips only as the complete leading label
      ("http://wwwx.example.com/p", "wwwx.example.com/p"),
      // scheme-less input flows through the same pipeline
      ("example.com/p?a=1", "example.com/p?a=1"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.ops.Curation.canonicalUrl(col("url")))
      .as[String].collect()
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalUrl($in)") }
  }

  test("lic1 licenseGateOf: precedence, prefix semantics, any-match rules, unknown-host default") {
    val urls = Seq(
      (1L, "http://a.com/doc/12"),   // robots '/doc/1' prefix-hits /doc/12
      (2L, "http://a.com/doc/2"),    // no prefix match → keep
      (3L, "http://deny.com/doc/1"), // deny outranks the robots hit
      (4L, "HTTPS://WWW.A.COM:443/doc/15"), // normalization feeds the gate
      (5L, "http://attr.com/x"),     // attribution keeps, flagged
      (6L, "http://unknown.com/x"),  // no policy row → default allow
      (7L, "http://multi.com/b/z")   // second rule of two matches
    ).toDF("doc_id", "url")
    val policy = Seq(("a.com", "allow"), ("deny.com", "deny"),
      ("attr.com", "attribution"), ("multi.com", "allow"))
      .toDF("host", "policy")
    val robots = Seq(("a.com", "/doc/1"), ("deny.com", "/doc/1"),
      ("multi.com", "/a/"), ("multi.com", "/b/"))
      .toDF("host", "disallow_prefix")
    val got = graft.ops.Curation.licenseGateOf(urls, policy, robots)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(3), r.getLong(4), r.getBoolean(5), r.getString(6))))
      .toMap
    assert(got(1L) == (("allow", 1L, false, "robots_disallow")))
    assert(got(2L) == (("allow", 0L, true, "keep")))
    assert(got(3L) == (("deny", 1L, false, "license_deny")),
      "license deny must outrank the robots hit")
    assert(got(4L) == (("allow", 1L, false, "robots_disallow")),
      "WWW./port/case spellings must normalize into the same rules")
    assert(got(5L) == (("attribution", 0L, true, "keep_attribution")))
    assert(got(6L) == (("allow", 0L, true, "keep")),
      "unknown host defaults allow")
    assert(got(7L) == (("allow", 1L, false, "robots_disallow")),
      "any matching rule of several blocks")
    assert(got.size == 7, "gate is per-document: rule fan-out must not duplicate rows")
  }

  test("dd24 urlCanonicalDedupOf: first-seen survivor per canonical key") {
    val urls = Seq(
      (10L, "http://a.com/x?b=2&a=1"),
      (7L, "HTTPS://WWW.A.COM/x/?a=1&b=2&utm_c=z#f"),
      (9L, "http://a.com:80/x?a=1&b=2"),
      (3L, "http://b.com/y")).toDF("doc_id", "url")
    val got = graft.ops.Curation.urlCanonicalDedupOf(urls).collect()
    assert(got.length == 2)
    val a = got.find(_.getString(0) == "a.com/x?a=1&b=2").get
    assert(a.getLong(1) == 7L, "survivor is min doc_id, not min url")
    assert(a.getLong(2) == 3L && a.getLong(3) == 3L)
    val b = got.find(_.getString(0) == "b.com/y").get
    assert(b.getLong(1) == 3L && b.getLong(2) == 1L && b.getLong(3) == 1L)
  }

  test("smp8 tokenBudgetOf: greedy fill to the source budget, priority order, exact-boundary keep") {
    // prio = n_stop * 1e6 div n_chars (n_chars passed explicitly)
    val docs = Seq(
      // s1: total 10 tokens, budget 5 — only the top-priority doc fits
      (1L, "s1", 3L, "the a of"), // 3 tokens, prio 1_000_000
      (2L, "s1", 4L, "the a x"),  // 3 tokens, prio 500_000 → cum 6 > 5
      (3L, "s1", 10L, "x y z w"), // 4 tokens, prio 0
      // s2: a prio TIE resolves by doc_id; budget 3 of 6
      (10L, "s2", 2L, "a b"),     // prio 500_000, cum 2 ≤ 3
      (11L, "s2", 2L, "a b"),     // same prio, later id → cum 4 > 3
      (12L, "s2", 2L, "c d"),     // prio 0
      // s3: cum == budget keeps (boundary is inclusive)
      (20L, "s3", 4L, "a a a a"), // prio 1_000_000, cum 4 = budget 4
      (21L, "s3", 4L, "x x x x")  // prio 0, cum 8 > 4
    )
    val got = GraftSpark.withPartitions(4)(s => graft.ops.Curation
      .tokenBudgetOf(s.createDataFrame(docs).toDF("doc_id", "source", "n_chars", "text"))
      .collect())
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("s1", 1L), ("s2", 10L), ("s3", 20L)))
    val s1 = got(0)
    assert(s1.getLong(2) == 1000000L && s1.getLong(3) == 3L &&
      s1.getLong(4) == 3L && s1.getLong(5) == 5L)
    val s3 = got(2)
    assert(s3.getLong(4) == 4L && s3.getLong(5) == 4L,
      "a doc landing exactly on the budget is kept")
  }

  test("tx46 spanScrubOf: overlap merge, disjoint spans, zero rows kept, per-mille share") {
    // discover ids on each side of the tx9 split (bucket ≥ 90 = test)
    val buckets = spark.range(0, 200)
      .select(col("id"), pmod(graft.functions.Functions.md5Hash60(
        col("id").cast("string"), 7), lit(100L)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val testId = buckets.find(_._2 >= 90).get._1
    val train = buckets.filter(_._2 < 90).map(_._1).take(3)
    val docs = Seq(
      (testId, "alpha beta gamma delta"),
      // two overlapping matches [2,4]+[3,5] merge to one 4-token span
      (train(0), "x alpha beta gamma delta y z"),
      // two disjoint matches stay two spans, 6 tokens of 7
      (train(1), "alpha beta gamma q alpha beta gamma"),
      (train(2), "u v w"))
    val got = GraftSpark.withPartitions(4)(s => graft.ops.TextStats
        .spanScrubOf(s.createDataFrame(docs).toDF("doc_id", "text")).collect())
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size == 3, "train grain only; zero-contamination rows kept")
    assert(got(train(0)) == ((7L, 1L, 4L, 571L)),
      "overlapping intervals must merge into one maximal span")
    assert(got(train(1)) == ((7L, 2L, 6L, 857L)),
      "disjoint matches stay separate spans; union tokens exact")
    assert(got(train(2)) == ((3L, 0L, 0L, 0L)))
  }

  test("tx45 truncationAuditOf: per-window kept/lost/truncated/seqs accounting") {
    def t(n: Int) = Seq.fill(n)("x").mkString(" ")
    val docs = Seq((1L, t(100)), (2L, t(600)), (3L, t(3000)))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.truncationAuditOf(docs).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(128L, 512L, 2048L, 8192L))
    val by = got.map(r => r.getLong(0) -> r).toMap
    got.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(3) == 3700L)
      assert(r.getLong(5) == r.getLong(3) - r.getLong(4))
      assert(r.getDouble(6) == r.getLong(5).toDouble / 3700.0)
    }
    assert(by(128L).getLong(2) == 2L && by(128L).getLong(4) == 356L &&
      by(128L).getLong(7) == 30L)
    assert(by(512L).getLong(2) == 2L && by(512L).getLong(4) == 1124L &&
      by(512L).getLong(7) == 9L)
    assert(by(2048L).getLong(2) == 1L && by(2048L).getLong(4) == 2748L &&
      by(2048L).getLong(7) == 4L)
    assert(by(8192L).getLong(2) == 0L && by(8192L).getLong(4) == 3700L &&
      by(8192L).getLong(7) == 3L)
  }
}
