package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the properties that make these plans survive a
  * 100× scale-up, asserted on the optimized physical plans so a
  * regression (lost pushdown, surprise cartesian, dropped broadcast)
  * fails CI rather than surfacing as a slow cluster job.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  val sf = GraftSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Asserts the bounded-grain property of every global (partition-less)
    * Window in `name`'s plan: a Window whose input collapses to a single
    * partition is only scale-safe when that input is POST-AGGREGATE
    * (buckets/deciles/langs/years — a grain bounded by construction),
    * so inside each Window's subtree an Aggregate must appear before
    * any scan. A Window fed raw scan rows would funnel the corpus
    * through one task — the regression this gate exists to catch. */
  private def assertGlobalWindowsPostAggregate(name: String): Unit = {
    val lines = plan(name).linesIterator.toVector
    def depth(s: String): Int = s.indexWhere(c => !" :+-".contains(c))
    val scanRe = "(FileScan|Scan parquet)".r.unanchored
    lines.zipWithIndex.filter(_._1.contains("Window [")).foreach {
      case (wline, wi) =>
        val d = depth(wline)
        val subtree = lines.drop(wi + 1).takeWhile(l =>
          l.trim.isEmpty || depth(l) > d)
        // only GLOBAL windows (single-partition input) are in scope —
        // a keyed window scales with its partition key. A raw table
        // scan flowing into a global window without an aggregate above
        // it is the corpus-grain funnel; a checkpoint input
        // (Scan ExistingRDD) is a deliberate post-aggregate seam — the
        // grain was fixed where the checkpoint was built
        val firstExchange = subtree.indexWhere(_.contains("Exchange"))
        val isGlobal = firstExchange >= 0 &&
          subtree(firstExchange).contains("SinglePartition")
        val firstScan = subtree.indexWhere(l => scanRe.matches(l))
        val scope = if (firstScan < 0) subtree else subtree.take(firstScan)
        assert(!isGlobal || firstScan < 0 ||
          scope.exists(_.contains("Aggregate")),
          s"$name: global window consumes a non-aggregated table scan:\n" +
            (wline +: subtree.take(8)).mkString("\n"))
    }
  }

  test("ch1 chunking: no shuffle besides the output sort — the explode stays map-side in codegen") {
    val p = plan("ch1_chunk_windows")
    // exactly one Exchange: the final ORDER BY's range partitioning;
    // chunk derivation must add no keyed shuffle of the token stream
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("ch2 boilerplate audit: one documents scan; df aggregate and probe both read the chunk checkpoint") {
    val p = plan("ch2_chunk_boilerplate")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("dd4 prefix path: no cartesian, one corpus scan, keyed joins only") {
    val p = plan("dd4_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), "prefix join degraded to cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "prefix join degraded to nested loop")
    // the hashed-shingle stream materializes once; everything else reads
    // the checkpoint (prefix ranking, candidate join, verify sets)
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("tx39 repetition gate: one corpus scan behind the materialized base, keyed stages only") {
    val p = plan("tx39_gopher_repetition")
    assert(!p.contains("CartesianProduct"))
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      "line/2/3/4-gram pipelines must read the materialized base, not re-scan")
  }

  test("sim11 range search: equi-keyed bucket probe, no |Q|x|C| nested loop") {
    val p = plan("sim11_range_search")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "query-corpus match must stay equi-keyed on (table, bucket)")
  }

  test("t6 backfill plan: one orders scan, span expansion off the materialized month table") {
    val p = plan("t6_backfill_plan")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("clean-stage filters push into the parquet scan (P4-P7)") {
    val p = plan("p2_p8_clean_events")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(value,0.5)") ||
      p.contains("GreaterThanOrEqual(value"), "value range filter not pushed")
  }

  test("q1 scan prunes columns and pushes the shipdate predicate") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p.take(2000))
    // projection pruning: the 6 used columns only, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unused column read: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("dimension joins broadcast (a2 geo rollup)") {
    val p = plan("a2_stats_nation_region_decade")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, // customer, nation, region
      "expected 3 broadcast dim joins")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("aggregations are partial+final hash aggregates (map-side combine)") {
    val p = plan("a7_type_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("spatial enrich is a shuffle-free compiled scalar — no join, no hash exchange (j1)") {
    val p = plan("j1_spatial_join")
    assert(!p.contains("Join"), "j1 should be a compiled first-match scalar, not a join")
    assert(!p.contains("Exchange hashpartitioning"),
      "j1 must not shuffle the probe side (border dedup is in the expression)")
    // the only allowed exchange is the final ORDER BY's range partitioning
    assert("Exchange ".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("whole-stage codegen covers the custom expressions (DotProduct path)") {
    val df = graft.ops.Similarity.bruteTopK(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val dpLines = p.linesIterator.filter(_.toLowerCase.contains("dotproduct")).toList
    assert(dpLines.nonEmpty, "DotProduct not in plan")
    // '*(n)' prefix marks a whole-stage-codegen region in the final plan
    assert(dpLines.exists(_.contains("*(")),
      s"DotProduct outside codegen:\n${dpLines.mkString("\n")}\nplan:\n${p.take(1500)}")
  }

  test("q5 five-way join: all three dims broadcast, no cartesian") {
    val p = plan("q5_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("dd4 verification evaluates the codegen'd sorted-merge intersect, not array_intersect") {
    val p = plan("dd4_ngram_jaccard")
    assert(p.contains("sortedintersectsize") || p.contains("SortedIntersectSize"),
      s"two-pointer merge missing from the verify stage:\n${p.take(1500)}")
    assert(!p.contains("array_intersect"),
      "hash-set array_intersect crept back into the hot pair condition")
  }

  test("dd4 candidate join keys on the shingle hash — never an all-pairs nested loop") {
    val p = plan("dd4_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "dd4 degraded to an all-pairs join")
    // the inverted-index self-join must partition on the (lang, h) key —
    // the ~10^5-distinct shingle hash carries the parallelism
    assert(p.contains("hashpartitioning(lang") || p.contains("Join [lang"),
      s"candidate join not keyed on (lang, h):\n${p.take(1500)}")
  }

  test("dd5 candidate join is keyed on (band, bucket), no all-pairs broadcast nested loop") {
    val p = plan("dd5_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "dd5 degraded to an all-pairs broadcast nested loop over the corpus")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("bkt"), "bucket blocking key missing from the plan")
  }

  test("j1b composite spatial enrich is also join-free and shuffle-free") {
    val p = plan("j1b_spatial_composite")
    assert(!p.contains("Join"), "composite world should compile to a scalar too")
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("dd2 candidate generation is keyed — no cartesian or nested-loop pair join") {
    val p = plan("dd2_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dd9 simhash pair join is keyed on (band, value) — no cartesian or nested loop") {
    val p = plan("dd9_simhash_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "dd9 degraded to an all-pairs join over the signatures")
  }

  test("tx20 winnowing is join-free: one keyed (doc, window) aggregation, no global window") {
    val p = plan("tx20_winnowing")
    assert(!p.contains("Join"),
      s"the struct-min rightmost rule needs no join-back:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"),
      "winnowing must aggregate per (doc, window id), not run window functions")
  }

  test("dd10 span anchors join keyed on the anchor hash; island window partitions per (pair, diag)") {
    val p = plan("dd10_duplicate_spans")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "dd10 degraded to an all-pairs join over the anchor stream")
    // keyed on h either way the planner sizes it: broadcast hash at
    // small SF, shuffle on h at scale — never an unkeyed pair join
    assert(p.contains("Join [h#") || p.contains("hashpartitioning(h"),
      s"anchor join not keyed on the gram hash:\n${p.take(1500)}")
    // the gaps-and-islands window must be per (doc_a, doc_b, diag) —
    // a global (unpartitioned) window would funnel all candidates
    // through one task
    assert(p.contains("Window") && p.contains("doc_a"),
      s"island window missing or not pair-partitioned:\n${p.take(1500)}")
  }

  test("dd13 coverage reads the span table ONCE: both unpivot sides scan the materialization") {
    val p = plan("dd13_duplicate_coverage")
    // the dd10 candidate join ran below the Materialize — the coverage
    // plan itself must carry no anchor-gram computation at all (before
    // the fix each union side recomputed the whole span join: 22.3 s
    // vs 9.1 s at the 40× probe)
    assert(p.contains("ExistingRDD"),
      s"span table not materialized:\n${p.take(1200)}")
    assert(!p.toLowerCase.contains("wordngrams"),
      "coverage plan recomputes anchor grams — span materialization lost")
    assert(!p.contains("CartesianProduct"))
  }

  test("tx22 source overlap scans the distinct shingle table once; only the stats cross is unkeyed") {
    val p = plan("tx22_source_overlap")
    assert(p.contains("ExistingRDD"),
      s"(source, shingle) distinct not materialized:\n${p.take(1200)}")
    assert(!p.toLowerCase.contains("wordngrams"),
      "overlap plan recomputes shingles — materialization lost")
    assert(!p.contains("CartesianProduct"))
    // the sources² stats-table cross join is the ONLY nested-loop
    // allowed; the candidate self-join must stay keyed on the hash
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "candidate join degraded to an unkeyed pair join")
  }

  test("dd12 survivors: single struct-max hash aggregation, no window sort") {
    val p = plan("dd12_cluster_survivors")
    assert(!p.contains("Window"),
      "survivor argmax should be an aggregation, not a window rank")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "no partial aggregation on cluster_id")
  }

  test("w3 retention: keyed joins only, partial+final aggregation") {
    val p = plan("w3_retention_cohorts")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("bucketed as-of: equi/null-safe joins only — no nested loop despite the <=> keys (j6b)") {
    val p = plan("j6b_asof_bucketed")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the null-safe carry join must plan as a hash join, not a nested loop")
  }

  test("s3 geojson flatten is a single narrow pass (no shuffle before the output sort)") {
    val p = plan("s3_geojson_flatten")
    assert(!p.contains("Exchange hashpartitioning"),
      "from_json flatten must not shuffle")
    assert(!p.contains("Join"))
  }

  test("as-of join is the one-shuffle union shape — no range/nested-loop join (j6)") {
    val p = plan("j6_asof_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of degraded to a candidate-explosion join")
    // one exchange for the build-side (k,t) dedup agg, one for the
    // as-of window on k — and nothing proportional to probe×build
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "union + window should shuffle once per stage, not per candidate")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the union shape has no join operator at all")
  }

  test("q18 aggregates lineitem before joining; customer dim broadcasts") {
    val p = plan("q18_large_volume")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
    assert(p.contains("BroadcastHashJoin"), "customer dim should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k aggregate runs as partial+final object hash aggregate (a13)") {
    val p = plan("a13_topk_per_group")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "TypedImperativeAggregate should combine map-side (partial) before the shuffle")
    assert(!p.contains("Window"), "a13 must be the aggregation shape, not a window sort")
  }

  test("range join is bucketized equi — no theta/nested-loop join (j7)") {
    val p = plan("j7_range_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join degraded to a candidate-explosion theta join")
    assert(p.contains("bucket"), "time-bucket key missing from the plan")
  }

  test("sessionize: both windows and the rollup share one hash exchange (w2)") {
    val p = plan("w2_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "layered windows + aggregation should reuse the user_id partitioning")
  }

  test("window dedup shuffles once on the partition keys (w1)") {
    val p = plan("w1_window_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "more than one shuffle for a single window")
  }

  test("q4 EXISTS runs as a LEFT SEMI join with the returnflag filter pushed to the scan") {
    val p = plan("q4_priority_semi")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "semi-side filter not pushed to the parquet scan")
    // the probe side carries only the join key, not lineitem's width
    val semiSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("l_orderkey"))
    assert(semiSchema.exists(!_.contains("l_quantity")),
      s"semi side reads more than the key: $semiSchema")
  }

  test("a14 CUBE computes all four grouping sets in one Expand + one shuffle") {
    val p = plan("a14_cube_stats")
    assert(p.contains("Expand"), "cube not expanded — separate scans?")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "cube should shuffle once on the expanded grouping keys")
  }

  test("tx11 tf-idf: no cartesian, df via window over the aggregate (single corpus scan)") {
    val p = plan("tx11_tfidf_topterms")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"))
    // one scan of documents: df comes from a window, not a self-join re-scan
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "tf-idf re-scans the corpus for document frequencies")
  }

  test("tx12 sequence packing has no single-task global window") {
    val p = plan("tx12_sequence_packing")
    // a global-order window compiles to 'Window [...] Sort [...], false'
    // after an Exchange SinglePartition — the shape PrefixSum avoids
    assert(!p.contains("Exchange SinglePartition"),
      s"global window funnel present:\n${p.take(1500)}")
  }

  test("q7 dim joins all broadcast; only the orderkey join shuffles") {
    val p = plan("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "supplier/nation and customer/nation paths must broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q19 disjunctive brackets stay an equi join — no theta/nested-loop") {
    val p = plan("q19_bracket_revenue")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"OR predicate degraded the join:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "no keyed join found")
    // the conjunct common to every bracket (quantity bounds) pushes to
    // the lineitem scan even though the full OR straddles the join
    assert(p.contains("PushedFilters: ["), p.take(1500))
  }

  test("q16a/q22 exclusion subqueries run as LEFT ANTI joins") {
    val p16 = plan("q16a_never_bulk_parts")
    assert(p16.contains("LeftAnti"), p16.take(1200))
    assert(p16.contains("GreaterThanOrEqual(l_quantity,45.0)") ||
      p16.contains("PushedFilters: [IsNotNull(l_quantity)"),
      "bulk-quantity filter not pushed to the probe scan")
    val p22 = plan("q22_dormant_rich")
    assert(p22.contains("LeftAnti"), p22.take(1200))
    assert(!p22.contains("CartesianProduct"),
      "global threshold must ride a broadcast, not a cartesian")
  }

  test("sketch estimates join the tiny cms/top tables by broadcast only") {
    val p = plan("cms1_heavy_hitters")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "each CMS row estimate must ride a broadcast join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("tx14 mixture selection is one slice-keyed window, no global funnel") {
    val p = plan("tx14_mixture_resample")
    assert(!p.contains("Exchange SinglePartition"),
      s"global funnel present:\n${p.take(1500)}")
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size <= 1,
      "selection must shuffle once on the slice key")
  }

  test("q10 aggregates returned revenue below the customer/nation joins") {
    val p = plan("q10_returned_by_customer")
    val aggIdx = p.indexOf("HashAggregate")
    val bcastIdx = p.indexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && bcastIdx >= 0, p.take(1200))
    // physical plans print top-down: the dim join must appear ABOVE
    // (before) the per-customer aggregate that feeds it
    assert(p.lastIndexOf("HashAggregate") > bcastIdx,
      "per-customer aggregate did not stay below the dim joins")
  }

  test("pre-explode spread is gated: a cluster-wide input plans NO round-robin exchange, a narrow one does") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val target = spark.sparkContext.defaultParallelism
    // warehouse shape: the scan already carries ≥ cluster parallelism —
    // a full-corpus round-robin shuffle before the explode is pure cost
    // (the hash repartition below is the fixture's own exchange; the
    // gated spread is specifically a ROUND-ROBIN one)
    val wide = graft.ops.Dedup
      .hashedShingleTable(docs.repartition(2 * target + 8, col("doc_id")),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!wide.contains("RoundRobinPartitioning"),
      s"many-partition input still round-robins pre-explode:\n${wide.take(1200)}")
    // small-SF shape: a narrow scan must still spread across cores
    val narrow = graft.ops.Dedup
      .hashedShingleTable(docs.coalesce(1), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(narrow.contains("RoundRobinPartitioning"),
      s"narrow input lost its pre-explode spread:\n${narrow.take(1200)}")
  }

  test("s3 parses JSON exactly once, in a projection above the sort") {
    // two regressions this pins against: CollapseProject inlining the
    // parse into every output column (schema pruning then splits it
    // into ten different-schema parses codegen CSE cannot merge), and
    // the global sort migrating above the parse (its range-sampling
    // pass would then execute the parse subtree twice)
    val p = plan("s3_geojson_flatten")
    assert("from_json".r.findAllIn(p).size == 1,
      s"expected exactly one from_json in the plan:\n${p.take(1500)}")
    val jsonIdx = p.indexOf("from_json")
    val sortIdx = p.indexOf("Sort ")
    assert(sortIdx >= 0 && jsonIdx >= 0 && jsonIdx < sortIdx,
      "the parse projection must sit above (after) the sort")
  }

  test("q6 is a pure pushed-filter scan-aggregate — no join anywhere") {
    val p = plan("q6_forecast_revenue")
    assert(!p.contains("Join"), "q6 must be join-free")
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"),
      s"shipdate range not pushed to the scan:\n${p.take(1500)}")
    // assert each pushed predicate independently — the optimizer's
    // ordering inside the printed list is not a behavior contract
    assert(p.contains("IsNotNull(l_shipdate)"),
      "shipdate null guard not pushed to the scan")
    assert(p.contains("IsNotNull(l_quantity)"),
      "quantity null guard not pushed to the scan")
  }

  test("q8 market share: every dim hop broadcasts, no nested loop") {
    val p = plan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5,
      "part/supplier+nation/customer/nation/region must all broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q15 global max rides a one-row broadcast — no rank window, no cartesian") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("Window"),
      "top supplier must come from a max-equality broadcast, not a rank")
  }

  test("hq1/p19 aggregate plans: map-side partials, pushed filters, no cartesian") {
    val ph = plan("hq1_histogram_quantiles")
    assert(!ph.contains("CartesianProduct"), ph.take(800))
    assert("HashAggregate".r.findAllIn(ph).size >= 2,
      "no map-side partial aggregation in hq1's histogram build")
    val pp = plan("p19_json_extract")
    assert("HashAggregate".r.findAllIn(pp).size >= 2,
      "no map-side partial aggregation in p19")
    assert(pp.contains("IsNotNull(event_type)"),
      s"event_type filter not pushed:\n${pp.take(1200)}")
  }

  test("w6 funnel: step math reads the materialized 4-row counts, events pipeline runs once") {
    val p = plan("w6_funnel")
    // the depths fold (and its single user_id shuffle) ran below the
    // counts materialization — before the fix the base cross join
    // recomputed the whole pipeline (two user_id exchanges = two
    // events scans at warehouse scale)
    assert(p.contains("ExistingRDD"),
      s"counts table not materialized:\n${p.take(1200)}")
    assert(!"hashpartitioning\\(user_id".r.findAllIn(p).hasNext,
      "user_id exchange above the materialization — depths recomputed")
    assert(!p.contains("Window"),
      "funnel depth must come from the sorted-list fold, not a window")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("g2 triangle joins are all keyed — no cartesian, no nested loop") {
    val p = plan("g2_knn_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("only sim4 sorts the kNN graph: knnGraphOf has no range exchange, sim4_knn_graph keeps one") {
    val emb = Tables.embeddings(spark, sf)
    val unsorted = graft.ops.Similarity.knnGraphOf(emb)
      .queryExecution.executedPlan.toString
    assert(!unsorted.contains("rangepartitioning"),
      s"the shared kNN build must not sort:\n${unsorted.take(2000)}")
    val sorted = plan("sim4_knn_graph")
    assert(sorted.contains("rangepartitioning"),
      s"sim4 must keep its (src, rank) order:\n${sorted.take(2000)}")
  }

  test("a symmetric seam over the lazy undirected kNN list runs the kNN build once") {
    import graft.ops.{Graph, Similarity}
    def executed(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    val und = Graph.undirected(
      Similarity.knnGraphOf(Tables.embeddings(spark, sf)))
    val scans = "Scan parquet".r.findAllIn(executed(und)).size
    val p = executed(Graph.symmetric(und))
    // the reversed arc branch reads the first branch's distinct exchange,
    // so the two-branch union scans the embeddings no more than und does
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(scans > 0 && "Scan parquet".r.findAllIn(p).size == scans,
      p.take(3000))
  }

  test("tx23 scoring broadcasts the materialized model; the occurrence stream is never stored") {
    val p = plan("tx23_surprisal")
    // only the charset³-bounded MODEL materializes (the tx44 refusal:
    // checkpointing the corpus-scale occurrence stream held ~30
    // bytes/char in executor memory and its write+GC dominated the
    // sf10 tier); scoring re-derives the explode from the scan
    assert("ExistingRDD".r.findAllIn(p).size >= 1,
      "scoring must read the materialized model")
    // with measured (small) model stats the scoring join must
    // BROADCAST — the occurrence stream's only exchange is the
    // doc-keyed aggregate, never a corpus-wide shuffle on `tri`
    assert(p.contains("BroadcastHashJoin"),
      s"scoring join must broadcast the measured trigram model:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning(tri"),
      "occurrence stream must not shuffle on trigram")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("hll2 rollup levels re-aggregate ONE materialized register state") {
    val p = plan("hll2_sketch_rollup")
    assert("ExistingRDD".r.findAllIn(p).size >= 3,
      "fine/source/global levels must all read the materialized registers")
    assert(!p.toLowerCase.contains("md5"),
      "register hashing recomputed above the materialization")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("tx16 keep-list and bf1 bitmap probes ride broadcast joins only") {
    val p16 = plan("tx16_df_prune")
    assert(p16.contains("BroadcastHashJoin"),
      "the corpus must never shuffle against the vocabulary keep-list")
    assert(!p16.contains("CartesianProduct"), p16.take(1200))
    val pbf = plan("bf1_bloom_decontam")
    assert("BroadcastHashJoin".r.findAllIn(pbf).size >= 5, // 4 probes + exact set
      "bloom probes must broadcast the bitmap")
    assert(!pbf.contains("CartesianProduct") &&
      !pbf.contains("BroadcastNestedLoopJoin"), pbf.take(1200))
  }

  test("q12a pushes the shipdate year to the lineitem scan; the fact-fact join stays keyed") {
    val p = plan("q12a_priority_classes")
    assert(p.contains("PushedFilters: [") && p.contains("l_shipdate"),
      s"shipdate range not pushed:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "class counts must combine map-side")
  }

  test("q21a compiles to keyed LEFT SEMI + LEFT ANTI probes — no nested loop despite the <> conjunct") {
    val p = plan("q21a_sole_blame")
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join:\n${p.take(1200)}")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("derived dedup stages consume UNSORTED pair sets — one global sort per plan (dd6/dd7/dd8/dd12)") {
    // dd6/dd7/dd8/dd12 build on dd2/dd5's verified pairs, whose
    // query-form final orderBy would be a dead range exchange under a
    // join/aggregate; the *Unsorted seams must keep it out of the plan.
    // Exactly one global Sort survives: the query's own output order.
    // (Window-internal sorts are local — "Sort [...], false" — so the
    // gate counts global sorts only.)
    for (q <- Seq("dd6_neardup_filter", "dd7_dedup_clusters",
        "dd8_semantic_clusters", "dd12_cluster_survivors")) {
      val p = plan(q)
      val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).size
      assert(globalSorts == 1,
        s"$q: expected exactly 1 global sort, found $globalSorts:\n${p.take(1500)}")
    }
  }

  test("smp1 selection is a broadcast-joined codegen filter — no corpus shuffle, no window") {
    val p = plan("smp1_stratified_sample")
    assert(!p.contains("Window"), "threshold sampling must not use a rank window")
    // corpus-side exchanges: only the final output sort's range exchange
    // (the stats tables' own tiny aggregation exchanges are fine — they
    // sit under BroadcastExchange); assert no hash exchange ABOVE the
    // documents scan feeds a join, i.e. the big side never repartitions
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"stratum stats must broadcast:\n${p.take(1200)}")
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).size
    assert(globalSorts == 1, s"one output sort expected:\n${p.take(1200)}")
  }

  test("tx24 top-k is TakeOrderedAndProject — the vocabulary is never globally sorted") {
    val p = plan("tx24_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must compile to TakeOrderedAndProject:\n${p.take(1500)}")
  }

  test("a19 is one partial+final hash aggregate on event_type — no join, no window") {
    val p = plan("a19_trend_regression")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "moment sums must combine map-side")
  }

  test("w7 shuffles the event stream once (user_id window); the matrix window rides the tiny aggregate") {
    val p = plan("w7_markov_transitions")
    // one hash exchange for the user window, one for the (from,to)
    // aggregate, one for the from_type row totals — all keyed; no
    // single-partition exchange except none at all
    assert(!p.contains("SinglePartition"),
      s"no global single-partition stage allowed:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  /** Final AQE plan text only (the Initial Plan section repeats every
    * scan, so substring counts over the raw toString double-count). */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q11a computes the per-part aggregate once — the scalar side reuses the exchange") {
    val p = finalPlan("q11a_important_parts")
    assert(p.contains("ReusedExchange"),
      s"global-total branch must reuse the per-part shuffle:\n${p.take(2000)}")
    assert("lineitem".r.findAllIn(p).size == 1,
      s"exactly one lineitem scan expected:\n${p.take(2000)}")
  }

  test("q2a argmin carries the winner out of the aggregation — no join back, dims broadcast") {
    val p = finalPlan("q2a_min_cost_supplier")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("lineitem".r.findAllIn(p).size == 1,
      s"the correlated min must not rescan lineitem:\n${p.take(2000)}")
  }

  test("q20a's correlated part total is a window over the aggregate — one lineitem scan, pushed shipdate") {
    val p = finalPlan("q20a_excess_suppliers")
    assert("lineitem".r.findAllIn(p).size == 1,
      s"nested aggregate must not rescan lineitem:\n${p.take(2000)}")
    assert(p.contains("Window"), "part totals must ride a window over the agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate predicate not pushed:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("dq1 audits every constraint in one events scan") {
    val p = finalPlan("dq1_constraint_audit")
    assert("events\\.parquet".r.findAllIn(p).size == 1,
      s"constraint suite must be a single pass:\n${p.take(2000)}")
    // Spark 4 plans the single count-distinct WITHOUT an expand: a
    // partial aggregate keyed on event_id dedups while merging the
    // plain sums alongside — strictly better; pin that shape.
    assert(p.contains("HashAggregate(keys=[event_id"),
      s"uniqueness rule should dedup in the same scan's partial agg:\n${p.take(2000)}")
  }

  test("pf1 profiles via column-pruned passes — one single-column scan each, no expand") {
    val p = finalPlan("pf1_column_profile")
    // union of 6 per-column aggregates: 6 scans, each reading exactly
    // ONE parquet column (columnar I/O = the single wide scan), each
    // count-distinct a keyed partial dedup — the (N+1)-way Expand of
    // the one-scan form benched 6x slower at sf0.1
    assert("orders\\.parquet".r.findAllIn(p).size == 6,
      s"expected one pruned pass per column:\n${p.take(2000)}")
    assert(!p.contains("Expand"),
      s"per-column passes must not expand:\n${p.take(2000)}")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(schemas.nonEmpty && schemas.forall { l =>
      val s = l.substring(l.indexOf("ReadSchema"))
      s.count(_ == ',') == 0 // struct<onecol:type>
    }, s"each pass must read exactly one column:\n${schemas.mkString("\n")}")
  }

  test("w10 RFM quartiles come from broadcast percentile thresholds — never an ntile window") {
    val p = finalPlan("w10_rfm_segments")
    assert(!p.contains("Window"),
      s"quartile labels must be threshold comparisons, not ntile:\n${p.take(2000)}")
    assert(p.contains("percentile"), "exact percentile thresholds expected")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "thresholds must broadcast back")
  }

  test("tx29 BPE pair count is map-side-combined with a TakeOrdered top-k; t5 hopping windows expand map-side") {
    val p29 = finalPlan("tx29_bpe_pairs")
    assert(p29.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort the pair vocabulary:\n${p29.take(1500)}")
    assert("HashAggregate".r.findAllIn(p29).size >= 2, "no partial aggregation")
    val p5 = finalPlan("t5_hopping_windows")
    assert(!p5.contains("Join"),
      s"window instances must expand map-side, not join a window dim:\n${p5.take(1500)}")
    assert("HashAggregate".r.findAllIn(p5).size >= 2, "no partial aggregation")
  }

  test("w11 PIT features are one customer-keyed range window — never a fact self-join") {
    val p = finalPlan("w11_pit_features")
    assert(!p.contains("Join"),
      s"trailing features must ride a window, not a self-join:\n${p.take(2000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one keyed exchange expected (custkey window):\n${p.take(2000)}")
    assert("orders\\.parquet".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("kmv1 sketch build: keyed partial dedup, broadcast cutoff, pair stage on the tiny state only") {
    val p = plan("kmv1_set_ops")
    // the (source, hash) distinct must map-side combine (partial+final)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"distinct should be partial+final hash aggregate:\n${p.take(1500)}")
    // the bucket-cutoff table joins back as a broadcast — the hashed
    // stream never repartitions for it
    assert(p.contains("BroadcastHashJoin"),
      s"cutoff join must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the source-pair self-join rides the O(sources·k) sketch table —
    // the one deliberate nested-loop, same smallness class as tx22
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pair stage should be a tiny-table nested loop:\n${p.take(1500)}")
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).size
    assert(globalSorts == 1, s"one output sort expected:\n${p.take(1500)}")
  }

  test("inc1 sides push their date split into the scans; dims broadcast; merge is a re-aggregation") {
    val p = plan("inc1_agg_maintenance")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, // 2 dims × 2 sides
      s"dims must broadcast on both sides:\n${p.take(1500)}")
    assert(p.contains("LessThan(o_orderdate") && p.contains("GreaterThanOrEqual(o_orderdate"),
      s"each side's date filter must reach its parquet scan:\n${p.take(2000)}")
    // three aggregations: two partial-state sides + the merge
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"partial+final on each side and on the merge:\n${p.take(1500)}")
  }

  test("lay1 z-value is a codegen projection; one keyed aggregation; stats ride a 1-row broadcast") {
    val p = plan("lay1_zorder")
    // the 32-term interleave must stay inside whole-stage codegen —
    // the projection lines carry the '*(n)' prefix
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"manifest agg should be partial+final:\n${p.take(1500)}")
    // exactly one hash exchange (the bucket groupBy) + the output sort
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 keyed exchange, got $hashEx:\n${p.take(2000)}")
  }

  test("rl1 candidates come from keyed equi-joins only — blocking, never all-pairs") {
    val p = plan("rl1_record_linkage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"linkage must never compare all pairs:\n${p.take(1500)}")
    // both blocking passes are joins on (nk, bk)
    assert("Join".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("sim6 brute-force truth broadcasts the sample; the audited kNN side stays keyed") {
    val p = finalPlan("sim6_knn_recall")
    // the ONE deliberate brute-force join: sampled queries broadcast
    // against the streamed corpus
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"truth side should broadcast the sample:\n${p.take(2000)}")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      "the audited kNN bucket join must stay keyed")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("lic1 rule dims ride broadcast joins; the corpus never shuffles for the rules") {
    val p = plan("lic1_license_gate")
    // policy and robots are governance-sized dims: both joins must be
    // broadcast (the robots prefix test is the join's residual, never
    // a cartesian), and the only corpus exchange is the doc-keyed
    // any-match aggregate + output sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both rule dims must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("smp3 rejection is a keyed LEFT ANTI; keep-first-k pushes down as WindowGroupLimit") {
    val p = plan("smp3_negative_sampling")
    assert(p.contains("LeftAnti"), p.take(2000))
    // rank<=k prunes per-group input BEFORE the full window sort
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // the window itself is keyed on the (supplier, part) pair
    assert(p.contains("hashpartitioning(l_suppkey"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("u3 unpivot is one Expand over ONE lineitem scan, not four scans") {
    val p = plan("u3_unpivot")
    assert(p.contains("Expand"), p.take(1500))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"melt must not rescan per metric:\n${p.take(2000)}")
  }

  test("a21 autocorrelation windows share one event_type exchange; no SinglePartition") {
    val p = plan("a21_autocorrelation")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    // daily agg shuffle + (type) window exchange + final sort only
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"the two window passes must share the event_type exchange:\n${p.take(2500)}")
  }

  test("dq2 is one pushed-filter scan into partial+final hash aggregation; χ² adds no exchange") {
    val p = plan("dq2_benford_audit")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side combine")
    // priority-key agg exchange + final sort's range exchange only
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(2500))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderkey"), s"unused column read: $readSchema")
  }

  test("w13 lag window keys on user_id — no SinglePartition window, lag+agg share nothing quadratic") {
    val p = plan("w13_gap_histogram")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(p.contains("hashpartitioning(user_id"),
      s"lag window must partition by user:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ord1 epoch shuffle: positions sort per (epoch, shard) partition — the only global sort is the output contract") {
    val p = plan("ord1_epoch_shuffle")
    assert(p.contains("hashpartitioning(epoch") ||
      p.contains("hashpartitioning(shard"),
      s"pos window must key on (epoch, shard):\n${p.take(2000)}")
    // one keyed exchange for the window + the final ORDER BY range
    // exchange; a global-sort permutation would show SinglePartition
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("inc3 rolling refresh: both window passes share one event_type exchange over the dense spine") {
    val p = plan("inc3_rolling_refresh")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("hashpartitioning(event_type"),
      s"windows must key on event_type:\n${p.take(2000)}")
  }

  test("pf3 correlation matrix is ONE scan + one aggregation; the 6 pair rows are a projection") {
    val p = plan("pf3_correlation_matrix")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"matrix must not rescan per pair:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side combine")
    assert(p.contains("Generate") || p.contains("inline"),
      s"pair fan-out should be an inline projection:\n${p.take(2000)}")
    assert(!p.contains("Union"), "per-pair union crept back in")
  }

  test("a29 kendall: corpus collapses to cells before the domain-bounded nested-loop; margins reuse cells") {
    val p = plan("a29_kendall_tau")
    // the only nested-loop is over the AGGREGATED cell table (and the
    // 1-row assembly joins); raw rows never cross-join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the materialized cell table absorbs all four consumer forks
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      s"cells/margins fan-out should not explode scans:\n${p.take(2500)}")
    assert(p.contains("HashAggregate"), "cells aggregation missing")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("dq7 KS: one events scan feeds the bucket CDF; the window runs over the aggregate") {
    val p = plan("dq7_ks_drift")
    // bounds + main pass: at most two scans (the chisq-drift shape)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
    assert(p.contains("Window"), "CDF window missing")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the CDF window's input is the bucket aggregate, not raw events:
    // a raw-row window would dwarf the aggregate count
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("lay2 compaction planner: windows run per day over the aggregated manifest") {
    val p = plan("lay2_compaction_plan")
    assert(p.contains("hashpartitioning(day"),
      s"planning windows must key on day:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("ord2 curriculum: rank comes from the two-phase prefix sum — no single-task global window") {
    val p = plan("ord2_curriculum")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-bucket rank must not globally sort:\n${p.take(2000)}")
    assert(p.contains("rangepartitioning"),
      "PrefixSum range partitioning missing")
    assert(p.contains("BroadcastHashJoin"),
      "bucket-base join should broadcast the O(buckets) side")
  }

  test("sim9 triplet mining broadcasts the anchor sample; both argmaxes ride one aggregation") {
    val p = finalPlan("sim9_triplet_mining")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"anchors should broadcast against the streamed corpus:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "argmin/argmax must be struct extrema, not per-anchor windows")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("ord3 packed batches: token offsets come from the prefix sum; batch stats window keys on (bucket, batch)") {
    val p = plan("ord3_packed_batches")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-bucket packing must not globally sort:\n${p.take(2000)}")
    assert(p.contains("rangepartitioning"),
      "PrefixSum range partitioning missing")
    assert(p.contains("hashpartitioning(bucket"),
      s"batch-stats window must key on (bucket, batch):\n${p.take(2000)}")
  }

  test("sim10 centroid drift: the materialized half-sum table absorbs both join sides — one corpus scan") {
    val p = plan("sim10_centroid_drift")
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      s"half-vs-half join must not replay the explode:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("a31 runs test: rank and sign windows key on event_type; the materialized day series absorbs the forks") {
    val p = plan("a31_runs_test")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(p.contains("hashpartitioning(event_type"),
      s"windows must key on event_type:\n${p.take(2000)}")
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      s"median/sign forks must read the materialized series:\n${p.take(2500)}")
  }

  test("pf4 top values: the rank <= k predicate collapses to a distributed top-k below the window") {
    val p = plan("pf4_top_values")
    // with the unpartitioned rank, Catalyst plans TakeOrderedAndProject
    // (per-partition top-k + merge) below the window — strictly better
    // than WindowGroupLimit; either form bounds task rows to k
    assert(p.contains("TakeOrderedAndProject") ||
      p.contains("WindowGroupLimit"),
      s"rank predicate must cap carried rows at k:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), "value aggregation missing")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("g8 modularity: endpoint label joins stay keyed or broadcast; only 1-row plans nested-loop") {
    val p = plan("g8_label_modularity")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the m / q_num singletons ride 1-row broadcasts; any BNLJ in this
    // plan must be one of those (guarded by the LocalLimit-free shape:
    // a data-scale BNLJ would pair with a non-aggregate child)
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).nonEmpty, "label joins missing")
  }

  test("a36 Mann-Kendall: one events scan behind the materialized daily series, no cartesian") {
    val p = plan("a36_mann_kendall")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // sign pairs, tie spectrum, and day counts all read the checkpoint
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      "daily series must materialize once, not per consumer")
  }

  test("clf3 kappa: one events scan behind the materialized cell table") {
    val p = plan("clf3_cohens_kappa")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      "confusion cells must materialize once for totals and marginals")
  }

  test("tx40 garbled text: one documents scan, class counts projected before the aggregate") {
    val p = plan("tx40_garbled_text")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    // the per-doc rule layer is pure projection — exactly one shuffle
    // (the (source, lang) aggregate)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "per-doc rules must not introduce extra shuffles")
  }

  test("priv2 ladder: rungs read the materialized base, not four scans of customer") {
    val p = plan("priv2_generalization_ladder")
    // customer + nation scan once combined; the 4 rungs re-read the
    // localCheckpoint
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("a37 EWMA: one events scan behind the materialized daily series, bounded lag join stays keyed") {
    val p = plan("a37_ewma_burst")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      "daily series must materialize once for the lag join and the left join")
  }

  test("rc3 three-way merge: one orders scan, both revision sides read the checkpoint, keyed full-outer joins") {
    val p = plan("rc3_threeway_merge")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // base + ours(kept ∪ inserts) + theirs(kept ∪ inserts) = 5 reads
    // of ONE materialized scan, not 5 scans of orders
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("global windows ride post-aggregate grains (the 14 Window.orderBy sites stay bounded)") {
    // every partition-less window in the surface sits on a
    // bounded-by-construction post-aggregate (buckets, deciles, langs,
    // years, days) — pin it so a refactor can't quietly feed one a
    // corpus-grain stream (the single-task funnel)
    Seq("a3b_yearly_delta", "dd19_similarity_histogram",
      "dq11_id_time_alignment", "inc4_distinct_maintenance",
      "lift1_gains_table", "rank1_ranking_metrics",
      "smp6_temperature_mix", "tx19_temperature_mix",
      "tx24_vocab_coverage", "tx33_vocab_growth", "tx42_heaps_growth",
      "w4_moving_avg")
      .foreach(assertGlobalWindowsPostAggregate)
  }

  test("dq3 fk audit: per-relation anti-joins stay keyed or broadcast, scans stay column-pruned") {
    // the measured-best shape (the r13 census A/B — see
    // OPTIMIZATION_r13.md): pruned per-relation scans, never a
    // cartesian; only key columns read
    val p = plan("dq3_fk_audit")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!schemas.contains("l_quantity") && !schemas.contains("o_totalprice"),
      s"non-key columns read: $schemas")
  }

  test("g12 centrality: rounds ride the materialized state, final join keyed, no cartesian") {
    val p = plan("g12_landmark_centrality")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // edges materialize once, the per-round states are checkpoints —
    // only the node universe re-reads embeddings
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("dq12 temporal audit: two scans, one keyed join, one aggregation") {
    val p = plan("dq12_temporal_consistency")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
    // only the join columns + dates read from either table
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!schemas.contains("o_totalprice") && !schemas.contains("l_quantity"),
      s"unused columns read: $schemas")
  }

  test("w22 cadence: user-partitioned lag window, one events scan, no global sort before the rollup") {
    val p = plan("w22_cadence_regularity")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    assert(p.contains("hashpartitioning(user_id"), p.take(2000))
  }

  test("tx41 bigram LM: pair stream materializes once; scoring joins stay keyed") {
    val p = plan("tx41_bigram_surprisal")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // pairs checkpoint feeds counts AND scoring; only the doc-universe
    // left join re-reads documents
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("tx43 reference-LM: model materializes once, scoring join broadcast-or-keyed, no corpus re-scan for the total") {
    val p = plan("tx43_reflm_filter")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only nested-loop is the 1-row Σcnt total riding an identity
    // broadcast (the smp7/g8 exemption) — never a corpus-sided one
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
    // one documents scan for the scoring token stream; the model and
    // its Σcnt total both read the checkpoint (no re-derived model
    // subtree, no third corpus pass for N_ref)
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    // size dictates the join: at test scale the measured vocab-sized
    // model rides a broadcast; past the threshold the same plan keys
    // (PlanSpec pins the small-regime choice, MaterializeSpec pins the
    // measured-stats flip)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      "vocab-sized model should broadcast at test scale: " + p.take(2000))
  }

  test("tx44 backoff LM: one corpus scan for scoring, model and its derivatives read the checkpoint") {
    val p = plan("tx44_backoff_lm")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the scoring pass re-derives the pair stream from ONE corpus scan
    // (the pair stream is deliberately NOT checkpointed — storing
    // O(corpus tokens) rows to save a re-explode is the wrong trade);
    // unigram counts and N_ref derive from the vocab-sized bigram
    // checkpoint; only the 1-row total rides a nested-loop broadcast
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("priv3 t-closeness: one customer scan; the dense grid crosses audit-bounded dims only") {
    val p = plan("priv3_t_closeness")
    // one corpus aggregation; groups/bands/total re-aggregate it
    assert("FileScan parquet".r.findAllIn(p).size <= 2, // customer + nation dim
      p.take(2000))
    // the (groups × bands) cross is the bounded census grid riding a
    // broadcast — assert it did NOT plan as a shuffle cartesian
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("g13 residuals: rounds ride checkpoints, per-round stats are keyed self-joins") {
    val p = plan("g13_pagerank_residuals")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("smp7 temporal split: one events scan behind the materialized base, 1-row bounds broadcast") {
    val p = plan("smp7_temporal_split")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    // the bounds cross join must be a broadcast of ONE row, never a
    // shuffled cartesian
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("pr1 curve: windows stay slice-partitioned — no global single-task sort") {
    val p = plan("pr1_pr_curve")
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(p.contains("hashpartitioning(slice"), p.take(2000))
  }

  test("dd23 normalized dedup: one documents scan, one aggregation") {
    val p = plan("dd23_normalized_dedup")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("skew2 salted join: dim replica join stays shuffled-hash on (key, salt), never broadcast") {
    val p = plan("skew2_salted_join")
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(p.contains("__salt"), "salt must be part of the join key")
    assert(!p.contains("BroadcastHashJoin"),
      "a broadcast would make the salting pointless — hint lost")
  }

  test("rl2 recall audit: link set materializes once; truth and false-link passes read the checkpoint") {
    val p = plan("rl2_blocking_recall")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // customer scanned for rl1's two sides + the truth frame; the
    // links checkpoint feeds both audit passes without replaying rl1
    assert("FileScan parquet".r.findAllIn(p).size <= 1,
      "links must checkpoint — truth/false-link forks must not replay rl1")
  }

  test("mm16 fingerprint: landmark match is an equi-join on the key triple, never a track-pair loop") {
    val p = plan("mm16_audio_fingerprint")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "query-catalog match must stay keyed on (ea, et, dt)")
  }

  test("tx9 decontamination: the 10%-split shingle set meets the train stream keyed, never broadcast") {
    val p = plan("tx9_decontamination")
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-split shingle set / doc aggregate must not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("pipe1 curation audit: canon/contamination join-backs stay keyed — no corpus-derived broadcast") {
    val p = plan("pipe1_curation_audit")
    assert(!p.contains("BroadcastHashJoin"),
      s"canon/shared/test-shingle sides must not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("fleet fan-out-blind broadcast gate: the six audited corpus-grain join-backs stay off the broadcast path") {
    // BroadcastAudit's classifier (the tx9 class): a broadcast side
    // that scans a fact table through an explode with no measured
    // checkpoint between is fan-out-blind — its estimate ignores the
    // explode factor, so a toy-tier broadcast decision survives to
    // tiers where the side is the corpus. These six were flagged by
    // the fleet audit at sf0.01+sf1 and fixed with stats-gated hints;
    // this pins them. (The remaining audit flags are adjudicated
    // bounded aggregates — sketches, centroids, log-bucket tables —
    // and stay out of this gate by name.)
    for (q <- Seq("dd10_duplicate_spans", "tx8_repetition", "tx18_segment_dedup",
        "tx25_ngram_novelty", "j7_range_join", "j10_overlap_join")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val flags = BroadcastAudit.fanoutBlindSides(p)
      assert(flags.isEmpty,
        s"$q broadcasts a fan-out-blind corpus side:\n${flags.map(_._2).mkString("\n")}")
      graft.ops.Materialize.releaseAll(spark)
    }
  }

  test("tx46 span scrub: gram match stays keyed — no cartesian, no broadcast of corpus-derived gram sets") {
    val p = plan("tx46_span_scrub")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the test-gram set is corpus-derived: it must meet the train
    // anchors in a keyed join, never a driver-collected broadcast
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-derived gram set must not broadcast:\n${p.take(2000)}")
    // the interval merge keys its windows on doc_id
    assert(!p.contains("Exchange SinglePartition"),
      s"interval merge must stay per-doc:\n${p.take(2000)}")
  }

  test("smp8 token budget: cumulative fill rides the two-phase prefix sum — no per-source window funnel") {
    val p = plan("smp8_token_budget")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-source running sum must not single-task:\n${p.take(2000)}")
    assert(p.contains("rangepartitioning"),
      "PrefixSum range partitioning missing")
    assert(p.contains("BroadcastHashJoin"),
      "source-base/budget join should broadcast the O(sources) side")
    // the only Window keys on the prefix sum's partition id, never on
    // the few-valued source column (that funnel is the op's anti-shape)
    assert(!p.contains("windowspecdefinition(source"),
      s"running sum must not window-partition by source:\n${p.take(2000)}")
  }

  test("tx45 truncation audit: one corpus scan, no pre-aggregation fan-out of the token stream") {
    val p = plan("tx45_truncation_audit")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(2000))
    // per-window measures are aggregate COLUMNS; the only Generate is
    // the 4-element unpivot of the 1-row aggregate result, sitting
    // ABOVE the aggregate (plans print top-down)
    val gen = "Generate explode".r.findAllIn(p).size
    assert(gen <= 1, s"window fan-out must stay post-aggregation:\n${p.take(2000)}")
    val gi = p.indexOf("Generate explode")
    val ai = p.indexOf("HashAggregate")
    assert(gi >= 0 && ai >= 0 && gi < ai,
      s"the unpivot must consume the aggregate result, not feed it:\n${p.take(2000)}")
  }
}
