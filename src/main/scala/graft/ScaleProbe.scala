package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity probe: replicates the documents corpus N× (each
  * copy's text salted with its copy index so LSH candidates never
  * cross copies — the pair structure grows linearly by construction)
  * and times the most shuffle-intensive pipelines at each N.
  * Near-linear wall-time growth is the measurable form of the "no
  * quadratic blowup, keyed shuffles only" claims the operator
  * scaladocs make. The probe is a table of named [[cases]], each timed
  * by the shared [[Harness.timedRuns]] loop; integer args are factors,
  * the others select cases by name prefix. Run:
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ScaleProbe 1 4 10'
  *   SPARK_GRAFT_RUNS=1 sbt 'runMain graft.ScaleProbe 1 10 40 jacboiler distcc'
  *   SPARK_GRAFT_RUNS=3 sbt 'runMain graft.ScaleProbe 1 storage'
  *
  * The embeddings corpus replicates by a per-copy deterministic ±1
  * SIGN-FLIP diagonal (see [[replicatedEmb]]: within-copy geometry
  * exactly preserved, cross-copy cosines decorrelated toward 0, so
  * the true pair structure is linear in N by construction; the fixed
  * LSH hyperplanes see per-copy bucket patterns, so copies spread
  * across buckets instead of stacking in them). Note the expected
  * shapes differ by design:
  *   - dd9 (SimHash bands): 2^15 values per band — buckets stay tiny,
  *     expect ~linear TIME. The verified PAIR count is superlinear in
  *     this corpus and that is a data property, not candidate blowup:
  *     classifying the factor-10 pairs by copy shows ZERO cross-copy
  *     pairs (salted token hashes make cross-copy signatures
  *     independent; P(Hamming ≤ 3) ≈ 2^-45) — but the templated text
  *     piles pair Hamming distances right at the radius, so each
  *     copy's salt re-rolls the boundary mass (measured 185k–922k
  *     pairs per copy at sf0.1, a 5× per-salt spread).
  *   - sim3 (IVF): sample-capped training + linear assignment + probe
  *     of nprobe/ncells of the corpus — expect ~linear.
  *   - sim4 (kNN graph): the plane count SELF-SIZES as
  *     Planes ∝ log₂(corpus) (Similarity.planesFor), holding expected
  *     per-bucket population ~constant — the r5 curve's ~N² bend at a
  *     fixed 2^8 buckets is the shape this sizing removes; the probe
  *     records the sized curve.
  */
object ScaleProbe {

  def replicated(s: SparkSession, d: String, n: Int): DataFrame = {
    val base = Tables.documents(s, d)
    (0 until n).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        // salt EVERY token with the copy index: copies become textually
        // disjoint (zero shared shingles), so the true near-dup pair
        // structure grows linearly in n — a tail-only salt would leave
        // cross-copy clones at Jaccard ≈ 1 and measure the quadratic
        // clone structure instead of the engine
        regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** One probe case. `prep(n)` builds the case's input at factor `n`
    * outside the timed region and returns the timed action, which
    * yields the row count (or aggregate) it produced. An unscaled case
    * reads the SF dir as it is and runs at factor 1 only. */
  final case class Case(name: String, prep: Int => () => Long,
      scaled: Boolean = true)

  /** Durable seam directory of the `storage_*` cases. */
  val StorageDir: String =
    sys.env.getOrElse("SPARK_GRAFT_STORAGE_DIR", "/tmp/graft_storage_bench")

  private def wipe(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(wipe)
    f.delete()
  }

  /** The case table, in run order. */
  def cases(spark: SparkSession, sfDir: String): Seq[Case] = {
    import graft.ops.{Dedup, Materialize, Similarity, TextStats}
    def on[P](input: Int => P)(action: P => Long): Int => () => Long =
      n => { val p = input(n); () => action(p) }
    def docs(n: Int) = replicated(spark, sfDir, n).localCheckpoint(true)
    def emb(n: Int) = replicatedEmb(spark, sfDir, n).localCheckpoint(true)
    def events(n: Int) = replicatedEvents(spark, sfDir, n).localCheckpoint(true)
    def orders(n: Int) = replicatedOrders(spark, sfDir, n).localCheckpoint(true)
    def first(df: DataFrame, aggs: Column*): Long =
      df.agg(aggs.head, aggs.tail: _*).collect()(0).getLong(0)
    def lshEdges(d: DataFrame) = Dedup.minhashLshPairs(d, "doc_id", "text", 0.1)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    // the cost of the durable seam lifecycle for the LSH family — the
    // durable-parquet-intermediates posture the 100-TB scaladocs claim —
    // against the local checkpoint lifecycle the driver bench runs: the
    // same driver query on the session without, then with, the storage
    // directory set. Both run the same algorithm and the same seams, so
    // each row pair's delta is the durable-posture premium alone; dd7
    // takes the in-memory union-find below its edge threshold, and dd7loop
    // forces the distributed pointer-jumping loop (threshold 0), whose
    // per-round seams are the lifecycle cost at warehouse scale
    def lifecycle(name: String, q: => DataFrame): Seq[Case] =
      Seq("local" -> false, "storage" -> true).map { case (label, durable) =>
        Case(s"storage_${name}_$label", _ => {
          wipe(new java.io.File(StorageDir))
          () => if (durable) Materialize.storingUnder(spark, StorageDir)(q.count())
            else q.count()
        }, scaled = false)
      }
    Seq(
      Case("lsh", on(docs)(d => Dedup.minhashLshPairs(d, "doc_id", "text", 0.1).count())),
      Case("cluster", on(docs)(d => Dedup.labelPropagation(lshEdges(d)).count())),
      Case("pack", on(docs) { d =>
        val toks = d.select(col("doc_id"),
          size(TextStats.words(col("text"))).cast("long").as("n_tokens"))
        graft.ops.PrefixSum.exclusive(toks, "doc_id", "n_tokens").count()
      }),
      Case("simhash", on(docs)(d => Dedup.simhashPairsOf(d).count())),
      // a bare count() lets column pruning DROP the reassembly (the
      // collect_list/array_sort kept_text is the expensive half) — the
      // probe aggregates over kept_text so the full operator runs
      Case("dfprune", on(docs)(d => first(TextStats.dfPruneOf(d),
        count(lit(1)).as("n"), sum(length(col("kept_text"))).as("chars")))),
      // the eval set grows with n here (salted copies shingle-disjoint),
      // so this measures the corpus-side probe stream against a bitmap
      // whose fill also grows — the conservative direction
      Case("bloom", on(docs)(d => first(graft.ops.Sketch.bloomDecontaminateOf(d),
        count(lit(1)).as("n"), sum(col("n_bloom_hits")).as("hits")))),
      // exact Jaccard: salted copies are shingle-disjoint, so the
      // inverted index's Σ df² candidate volume grows linearly in n —
      // the curve that evidences the all-pairs → inverted-index rewrite
      Case("jaccard", on(docs)(d => Dedup.ngramJaccardPairsOf(d).count())),
      Case("ivf", on(emb)(e =>
        Similarity.ivfTopKOf(e, trainCap = Similarity.IvfTrainCap).count())),
      Case("knn", on(emb)(e => Similarity.knnGraphOf(e).count())),
      // dd5: banded sign-LSH near-dup pairs; the derived geometry
      // (bands × per-band planes) self-sizes from the corpus count —
      // logged per factor on the header line so the curve carries its
      // own explanation (per-band buckets grow as 2^planes ∝ n, holding
      // Σ bucket² candidate volume ~linear). The builder's internal
      // count scans the LOCALCHECKPOINTED blocks, not the replication
      // transform — cheap
      Case("neardup", on(emb)(e => Dedup.embeddingNearDupOf(e).count())),
      // j4: anti-join MERGE on replicated orders — both sides of the
      // upsert grow linearly; the join is keyed (no broadcast of the
      // growing side at scale is the claim under test)
      Case("merge", on(orders)(o => graft.merge.Upsert.mergeOrdersOf(o).count())),
      // j6b: bucketed as-of with the key domain held at 150 (the
      // driver query's shape), so per-(key, bucket) groups grow
      // linearly in n — the hot-key direction the bucketed two-phase
      // carry exists to bound; the aggregate consumes the carried
      // payload so column pruning can't drop phase 2
      Case("asof", on(n => graft.ops.AsOf.asofFrames(events(n), orders(n))) {
        case (ev, o) =>
          first(graft.ops.AsOf.asofLeftBucketed(ev, o, "o_orderkey")(
              t => floor(unix_timestamp(t) / 86400L).cast("long")),
            count(lit(1)).as("n"), sum(col("asof_o_orderkey")).as("s"))
      }),
      // dd10: salted copies share zero grams, so both the Σ df²
      // candidate volume on the anchor hash and the true span set grow
      // linearly in n — superlinear time here would mean the anchor df
      // head is quadratic, the failure the df-cap mitigation would fix
      Case("span", on(docs)(d => Dedup.duplicateSpansOf(d).count())),
      // tx18: the first-occurrence window partitions by segment text;
      // salted copies make segments copy-disjoint, so partition count
      // grows ∝ n with bounded partition size — the aggregate consumes
      // kept_text so pruning can't drop the reassembly half
      Case("segdedup", on(docs)(d => first(TextStats.segmentDedupOf(d),
        sum(col("n_kept")).as("k"), sum(length(col("kept_text"))).as("chars")))),
      // dd13: dd10's span table + a per-doc interval merge — the merge
      // window partitions by doc_id (bounded groups), so the curve
      // should track dd10's span curve; the aggregate consumes
      // dup_tokens so the merge half can't be pruned away
      Case("coverage", on(docs)(d => first(Dedup.duplicateCoverageOf(d),
        count(lit(1)).as("n"), sum(col("dup_tokens")).as("d")))),
      // tx22: the (source, shingle) distinct grows ∝ n; after the
      // distinct the per-hash fanout is bounded by the FIXED source
      // count, so candidate rows also grow ∝ n — the pair matrix
      // itself stays sources², constant
      Case("srcoverlap", on(docs)(d => first(TextStats.sourceOverlapOf(d),
        count(lit(1)).as("n"), sum(col("shared")).as("sh")))),
      // g1: kNN build (the knn case's cost) + 5 fixed integer
      // rounds, each a keyed join + keyed agg over node-sized tables —
      // the incremental cost over knn should stay a small constant
      // factor at every scale
      Case("pagerank", on(emb)(e => Similarity.knnPagerankOf(e).count())),
      // g2: kNN build + the compact-forward wedge join. Degree-ordered
      // orientation bounds every out-degree by O(sqrt(m)), so wedge
      // volume tracks edge count; sign-flipped copies keep kNN edges
      // within copies, so Σ triangles is linear by construction — a
      // superlinear time curve here would mean the orientation failed
      // to tame a hub. The aggregate consumes the triangle column so
      // pruning can't drop the wedge join.
      Case("tri", on(emb)(e => first(graft.ops.Graph.knnTrianglesOf(e),
        sum(col("triangles")).as("t")))),
      // w6: ONE shuffle on user_id with the user domain fixed, so
      // per-user sorted lists grow ∝ n — the hot-key direction for the
      // sort_array fold; time should stay ~linear (sort is n log n in
      // the per-user list, lists are replication-bounded)
      Case("funnel", on(events)(ev => first(graft.model.Analytics.funnelOf(ev),
        sum(col("users")).as("u")))),
      // tx25: salted copies are shingle-disjoint, so the
      // first-occurrence aggregation's key space grows ∝ n with
      // per-shingle df unchanged; output rows are exactly the docs —
      // the aggregate consumes n_novel so the join-back can't prune
      Case("novelty", on(docs)(d => first(TextStats.ngramNoveltyOf(d),
        sum(col("n_novel")).as("nv"), count(lit(1)).as("n")))),
      // w7: user domain fixed → per-user event lists grow ∝ n (the
      // hot-key direction for the lead window); the transition matrix
      // stays O(types²) so only the window stage scales
      Case("markov", on(events)(ev => first(
        graft.model.Analytics.markovTransitionsOf(ev),
        sum(col("n")).as("transitions")))),
      // q21a: fresh orderkeys per copy keep each order's supplier set
      // intact, so returned rows, the distinct (order, supplier) table
      // and the semi/anti probe volumes all grow ∝ n with per-orderkey
      // fanout unchanged — superlinear time would mean the <> conjunct
      // degraded the keyed joins
      Case("blame", on(n => replicatedLineitem(spark, sfDir, n).localCheckpoint(true))(
        li => first(graft.model.Pricing.soleBlameOf(li, Tables.supplier(spark, sfDir)),
          sum(col("numwait")).as("w")))),
      // kmv1: the (source, hash) distinct grows ∝ n (copies are
      // shingle-disjoint); the bucket-cutoff prefilter keeps the
      // per-source top-k sort input ~constant, and the pair stage is
      // sources² regardless of n — so the curve should track the
      // distinct alone
      Case("kmv", on(docs)(d => first(graft.ops.Sketch.kmvSetOpsOf(d),
        count(lit(1)).as("n"), sum(col("n_common")).as("c")))),
      // tx30: every stage is a doc-keyed window or (doc, pos) join
      // over per-copy-bounded documents — the merge-application round
      // must stay linear for BPE training to be viable at corpus scale
      Case("bpe", on(docs)(d => first(TextStats.bpeMergeRoundOf(d),
        sum(col("n_occurrences")).as("s")))),
      // sim8: training collects only PqSub × codes × subdim stats per
      // round; encoding + ADC is one projection + broadcast lookups, so
      // the curve should be ~linear in the corpus with a fixed offset
      Case("pq", on(emb)(e => Similarity.pqTopKOf(e).count())),
      // rl1: the FastSS blocking keys inherit the near-unique low
      // digits, so candidates and links must both grow ∝ n (copies
      // shift keys by 11M — two digit positions apart, so a single
      // 'x' substitution can never bridge copies and the true link
      // structure is per-copy by construction). The pre-fix left-half
      // blocking measured 21 s at 1× — this curve guards the rewrite.
      Case("rl", on(n => replicatedCustomer(spark, sfDir, n).localCheckpoint(true))(
        c => graft.ops.Linkage.recordLinkageOf(c).count())),
      // g7: kNN build + ≤6 BFS rounds of frontier join + min-struct
      // agg. Sign-flipped copies keep edges within copies and each
      // copy carries its own ∝ n/97 seed slice, so reached counts grow
      // ∝ n; rounds are diameter-capped, so the curve should track
      // knn's build plus a flat per-round keyed-join cost — the probe
      // consumes dist so the propagation stages can't prune away
      Case("bfs", on(emb)(e => first(graft.ops.Graph.bfsLandmarksOf(e),
        sum(col("reached")).as("r"), sum(col("dist")).as("d")))),
      // g12 landmark centrality (multi-landmark BFS with per-round
      // materialization + early exit) and g13 PageRank residual rounds:
      // each round is a keyed frontier/rank join against the
      // materialized symmetric edge table; the question at 10×/40× is
      // whether rounds × per-round materialization stays ~linear in
      // edges, and where pre-bucketing the edge table would start to pay
      Case("g12", on(emb)(e => graft.ops.Graph.landmarkCentralityOf(e).count())),
      Case("g13", on(emb) { e =>
        val edges = Materialize(Similarity.knnGraphOf(e).select("src", "dst"),
          "probe_g13_edges")
        Similarity.pagerankResidualsOf(
          edges, e.select("vec_id"), Similarity.PrIters).count()
      }),
      // ord2: one PrefixSum pass over the bucket-major key — per-
      // partition windows + O(partitions) driver offsets — so the
      // curve should track the corpus linearly at any bucket skew
      // (salted copies keep n_chars, so bucket POPULATIONS grow ∝ n
      // while the bucket count stays fixed: the exact hot-key shape a
      // per-bucket window would die on). The aggregate consumes
      // schedule_key so pruning can't drop the rank machinery.
      Case("curriculum", on(docs)(d => first(graft.ops.Sampling
        .curriculumOrderOf(d),
        max(col("schedule_key")).as("m"), count(lit(1)).as("c")))),
      // dd4 under a GLOBAL hot shingle: the same unsalted 3-token
      // footer on every doc of every copy gives ONE shingle df = full
      // corpus — the Σdf² detonation the PPJoin prefix filter exists
      // to absorb (the unfiltered index would grow ∝ (n·docs)² on this
      // corpus). The footer is deliberately SHORT: its solo Jaccard
      // contribution 1/(n_a+n_b-1) < 1/10 for every pair, so the true
      // pair structure stays the salted copies' linear one and output
      // size cannot explain a superlinear bend (a 10-token footer
      // measured 409k→39.6M pairs at 1×→10×: the quadratic OUTPUT
      // drowns the signal).
      Case("jacboiler", on(n => replicated(spark, sfDir, n)
          .withColumn("text", concat(col("text"), lit(" all rights reserved")))
          .localCheckpoint(true))(d => Dedup.ngramJaccardPairsOf(d).count())),
      // the DISTRIBUTED pointer-jumping connected-components path,
      // forced past the driver union-find switch (localThreshold=0):
      // per-copy-disjoint LSH pair graphs keep components and diameter
      // per-copy-bounded, so rounds stay O(log d) = constant across
      // factors and the curve should be ~linear in edges — the measured
      // form of the warehouse-scale claim dd7/dd8 ride on.
      Case("distcc", on(docs)(d =>
        Dedup.labelPropagation(lshEdges(d), localThreshold = 0L).count()))
    ) ++
      lifecycle("dd2", Dedup.minhashLshQuery(spark, sfDir)) ++
      lifecycle("dd7", Dedup.dedupClusters(spark, sfDir)) ++
      lifecycle("dd7loop", Dedup.dedupClusters(spark, sfDir, localThreshold = 0L)) ++
      lifecycle("dd9", Dedup.simhashPairs(spark, sfDir))
  }

  /** Runs the cases whose names start with one of `prefixes` (all when
    * empty) at each factor, each [[Harness.timedRuns]] `runs` times,
    * and emits one JSON line per factor (the replicated corpus sizes)
    * and one per case: its run statistics, the rows of its last run and
    * the shuffle-partition layout the seam ratchet left before release. */
  def probe(spark: SparkSession, sfDir: String, factors: Seq[Int],
      prefixes: Seq[String], runs: Int)(emit: String => Unit): Unit = {
    val all = cases(spark, sfDir)
    val unmatched = prefixes.filterNot(p => all.exists(_.name.startsWith(p)))
    require(unmatched.isEmpty,
      s"no probe case matches: ${unmatched.mkString(", ")}")
    val selected =
      all.filter(c => prefixes.isEmpty || prefixes.exists(c.name.startsWith))
    factors.foreach { n =>
      val vecs = Tables.embeddings(spark, sfDir).count() * n
      emit(s"""{"factor":$n,"docs":${Tables.documents(spark, sfDir).count() * n},""" +
        s""""vecs":$vecs,"cust":${Tables.customer(spark, sfDir).count() * n},""" +
        s""""dd5_bands":${graft.ops.Dedup.EmbBands},""" +
        s""""dd5_planes":${graft.ops.Dedup.embBandPlanesFor(vecs)}}""")
      selected.filter(c => c.scaled || n == 1).foreach { c =>
        val t = Harness.timedRuns(spark, runs)(c.prep(n)) { action =>
          (action(), graft.ops.Materialize.partitions(spark))
        }.get
        val (rows, parts) = t.last.get
        emit(s"""{"case":"${c.name}","factor":$n,${t.fields},""" +
          s""""rows":$rows,"parts":$parts}""")
      }
    }
    // the storage_* cases (the unscaled ones) leave their last run's
    // durable tables behind
    if (selected.exists(!_.scaled)) wipe(new java.io.File(StorageDir))
  }

  /** Args: factors (integers, default 1 4 10) and case-name prefixes. */
  def main(args: Array[String]): Unit = {
    val (ints, prefixes) = args.toSeq.partition(_.forall(_.isDigit))
    val factors = if (ints.nonEmpty) ints.map(_.toInt) else Seq(1, 4, 10)
    val spark = Harness.session(Harness.Cpus)
    probe(spark, Harness.SfDir, factors, prefixes, Harness.Runs)(println)
    spark.stop()
  }

  /** `n` copies of `df`, unioned, copy i with each named key column
    * shifted by i × its stride: fresh keys per copy, and foreign keys
    * that share a stride stay inside their copy. Copy 0 is `df`'s own
    * keys. */
  def offsetCopies(df: DataFrame, n: Int, strides: (String, Long)*): DataFrame =
    (0 until n).map { i =>
      strides.foldLeft(df) { case (acc, (c, stride)) =>
        acc.withColumn(c, col(c) + lit(i.toLong * stride))
      }
    }.reduce(_ unionByName _)

  /** Events replicated N× (fresh event_ids; user_id kept, so the
    * as-of key domain stays fixed and per-key density grows with N —
    * the hot-key direction). */
  def replicatedEvents(s: SparkSession, d: String, n: Int): DataFrame =
    offsetCopies(Tables.events(s, d), n, "event_id" -> 10_000_000L)

  /** Customers replicate with RE-DERIVED names ('Customer#%09d' of the
    * shifted key), keeping the 18-char shape rl1's corruption rules and
    * blocking positions assume. The 11M stride makes any two copies'
    * digit strings differ in ≥2 positions, and the corruption alphabet
    * ('x', never a digit) cannot close that gap — so cross-copy
    * lev ≤ 1 links are impossible and the true link set is exactly the
    * per-copy union. */
  def replicatedCustomer(s: SparkSession, d: String, n: Int): DataFrame =
    offsetCopies(Tables.customer(s, d), n, "c_custkey" -> 11_000_000L)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))

  /** Lineitem replicated N× (fresh orderkeys; suppkeys/flags kept, so
    * each copy carries the base corpus's per-order supplier sets and
    * the q21a probe volumes grow linearly on an unchanged per-key
    * fanout). */
  def replicatedLineitem(s: SparkSession, d: String, n: Int): DataFrame =
    offsetCopies(Tables.lineitem(s, d), n, "l_orderkey" -> 10_000_000L)

  /** Orders replicated N× (fresh orderkeys; dates/prices/custkeys
    * kept, so the merge filters and the as-of build side scale
    * linearly on the same domains). */
  def replicatedOrders(s: SparkSession, d: String, n: Int): DataFrame =
    offsetCopies(Tables.orders(s, d), n, "o_orderkey" -> 10_000_000L)

  /** Embeddings replicated N× with each copy's vectors multiplied by a
    * copy-indexed DETERMINISTIC ±1 sign diagonal. Within a copy every
    * dot product is exactly preserved (the signs square to 1), so each
    * copy carries the base corpus's true near-dup structure; ACROSS
    * copies the independent sign patterns decorrelate cosines toward 0
    * (a ±1-weighted sum of the coordinate products), so cross-copy
    * pairs at any material threshold vanish and the TRUE pair
    * structure is linear in N by construction — the property the
    * earlier circular-shift replication only approximated (shifts
    * leave enough cross-copy correlation at cosine ≥ 0.4 to make the
    * pair count superlinear, measuring the data instead of the
    * engine). Copy 0 is the identity, so the base corpus rides
    * unchanged; vec_id 0 (the ANN query vector) stays unique to
    * copy 0. Sign patterns also vary the fixed LSH hyperplane buckets
    * per copy (h·(Dv) = (Dh)·v), so copies spread instead of
    * stacking. */
  def replicatedEmb(s: SparkSession, d: String, n: Int): DataFrame = {
    val base = Tables.embeddings(s, d)
    val dim = graft.ops.Similarity.Dim
    (0 until n).map { i =>
      val flipped =
        if (i == 0) col("embedding")
        else {
          val signs = (0 until dim).map { j =>
            // full avalanche mix (splitmix64 finalizer), NOT a linear
            // walk: a linear (i·a + j·b) pattern makes the RELATIVE
            // sign vector between two copies a threshold function of
            // one offset — copies whose offsets land near 0 (mod 2^k)
            // are near-clones, and the cross-copy pair count explodes
            // superlinearly (observed 611× at 40× with bit-7 of a
            // 55-per-step walk). After mixing, relative patterns are
            // balanced for every copy pair.
            var h = i.toLong * 0x9E3779B97F4A7C15L +
              j.toLong * 0xC2B2AE3D27D4EB4FL
            h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
            if ((h & 1L) == 0L) 1.0f else -1.0f
          }
          zip_with(col("embedding"),
            array(signs.map(lit): _*),
            (x, sgn) => x * sgn)
        }
      base.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        col("label"), flipped.as("embedding"))
    }.reduce(_ unionByName _)
  }
}
