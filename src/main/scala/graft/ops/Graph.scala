package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the kNN similarity graph (sim4's edge list) —
  * the structural view of a training corpus: PageRank (g1, in
  * [[Similarity.knnPagerank]]) ranks hub documents; triangle counts and
  * the local clustering coefficient (g2, here) measure how CLIQUE-LIKE
  * each document's neighbourhood is. A high-coefficient node sits in a
  * tight near-duplicate clique (template families — what dd7/dd8
  * cluster); a high-degree low-coefficient node is a genuine hub
  * bridging distinct content. The combination separates "popular
  * because boilerplate" from "popular because central", which degree
  * alone cannot.
  */
object Graph {

  /** The undirected simple graph of a directed (src, dst) edge list:
    * one (u, v) row per linked pair, u < v, self-loops dropped. Every
    * g query that reads the kNN graph as undirected derives it here,
    * and materializes the result (or its [[symmetric]] form) as its
    * one seam over the kNN build. */
  def undirected(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Both arcs, (u, v) and (v, u), of each edge of an [[undirected]]
    * list — distinct because the input is. */
  def symmetric(und: DataFrame): DataFrame =
    und.select(col("u"), col("v"))
      .unionAll(und.select(col("v").as("u"), col("u").as("v")))

  /** Per-node degree (id, deg) of an [[undirected]] list; nodes with
    * no edge are absent. */
  def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** g2 — per-node triangle count + local clustering coefficient over
    * the kNN graph: [[trianglesOf]] materializes the undirected kNN
    * list once, then runs the compact-forward join. */
  def knnTriangles(s: SparkSession, d: String): DataFrame =
    knnTrianglesOf(Tables.embeddings(s, d))

  def knnTrianglesOf(emb: DataFrame): DataFrame =
    trianglesOf(Similarity.knnGraphOf(emb), emb.select(col("vec_id")))

  /** Compact-forward triangle counting (Latapy 2008's degree-ordered
    * orientation, the distributed-join standard): the input edge list
    * (directed, possibly with both arcs) canonicalizes to undirected
    * edges, each edge orients from its lexicographically-smaller
    * (degree, id) endpoint to the larger, and a triangle is counted at
    * its unique minimum vertex as wedge (a→b, a→c) + closing arc b→c.
    *
    * Why the degree ordering matters at scale: with id ordering a hub
    * of degree D generates O(D²) wedges; ordering by (degree, id)
    * bounds every out-degree by O(√m), so the wedge stage is O(m^1.5)
    * worst case and skew-free in practice — each triangle is produced
    * exactly once, no post-hoc distinct. All three joins are keyed
    * (pivot id, then (b,c) pair); nothing is collected to the driver.
    *
    * The clustering coefficient 2T/(d(d−1)) divides two exact integers
    * — one correctly-rounded IEEE division, identical in any engine —
    * and is 0.0 for degree < 2 (no wedge to close). */
  def trianglesOf(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val und = Materialize(undirected(edges), "tri_und")
    val deg = degrees(und)
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val orient = Materialize(
      und
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
          when(uFirst, col("v")).otherwise(col("u")).as("b")),
      "tri_orient")
    val wedges = orient
      .join(orient.select(col("a"), col("b").as("c")), "a")
      .where(col("b") =!= col("c"))
    val tri = wedges
      .join(orient.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("t"))
    nodes
      .join(deg.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .join(perNode.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          lit(2.0d) * col("triangles") / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0d)))
      .orderBy("vec_id")
  }

  /** DuckDB replay of g2: the sim4 edge CTE, the same canonicalize /
    * degree-orient / wedge-close joins, the same exact-integer outputs
    * and single division. */
  def knnTrianglesOracle(): String =
    s"""WITH kg AS (SELECT src, dst FROM (
       |${Similarity.knnGraphOracle()}
       |) g),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM kg WHERE src <> dst),
       |deg AS (SELECT id, count(*) AS d FROM (
       |    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
       |  GROUP BY id),
       |o AS (
       |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |              THEN e.u ELSE e.v END AS a,
       |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |              THEN e.v ELSE e.u END AS b
       |  FROM und e
       |  JOIN deg du ON e.u = du.id
       |  JOIN deg dv ON e.v = dv.id),
       |tri AS (
       |  SELECT w.a, w.b, w.c
       |  FROM (SELECT e1.a, e1.b, e2.b AS c
       |        FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b <> e2.b) w
       |  JOIN o ce ON w.b = ce.a AND w.c = ce.b),
       |pn AS (SELECT id, count(*) AS t FROM (
       |    SELECT a AS id FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY id)
       |SELECT n.vec_id,
       |  CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
       |  CAST(coalesce(pn.t, 0) AS BIGINT) AS triangles,
       |  CASE WHEN coalesce(deg.d, 0) >= 2
       |       THEN 2.0 * coalesce(pn.t, 0) / (deg.d * (deg.d - 1))
       |       ELSE 0.0 END AS clustering
       |FROM (SELECT vec_id FROM embeddings) n
       |LEFT JOIN deg ON n.vec_id = deg.id
       |LEFT JOIN pn ON n.vec_id = pn.id
       |ORDER BY n.vec_id""".stripMargin

  /** g3 — degree assortativity of the kNN graph: the Pearson
    * correlation of (in-degree of source, in-degree of target) over
    * directed kNN edges. Positive = hubs link to hubs (a stratified
    * near-dup template ecosystem); negative = hubs link to leaves (a
    * few boilerplate attractors absorbing the long tail — the scrape-
    * farm signature). Out-degree is the constant k on a kNN graph, so
    * in-degree carries all the structure. Same exact-integer-moment
    * discipline as a19: one edge-keyed join per endpoint, one global
    * aggregate of (n, Σx, Σy, Σxy, Σx², Σy²), the correlation derived
    * by identical IEEE trees both engines; degenerate (zero-variance)
    * graphs emit NULL. */
  def knnAssortativity(s: SparkSession, d: String): DataFrame =
    knnAssortativityOf(Tables.embeddings(s, d))

  def knnAssortativityOf(emb: DataFrame): DataFrame =
    assortativityOfEdges(Materialize(
      Similarity.knnGraphOf(emb).select("src", "dst"),
      "assort_edges"))

  /** The correlation core over an explicit (src, dst) edge list. */
  def assortativityOfEdges(edges: DataFrame): DataFrame = {
    val indeg = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(indeg.toDF("src", "x"), Seq("src"), "left")
      .join(indeg.toDF("dst", "y"), Seq("dst"), "left")
      .select(coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val agg = xy.agg(count(lit(1)).as("n_edges"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n_edges").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    agg.select(col("n_edges"), col("sx"), col("sy"), col("sxy"),
      col("sxx"), col("syy"),
      when(dx > 0.0 && dy > 0.0, num / (sqrt(dx) * sqrt(dy)))
        .as("assortativity"))
  }

  lazy val knnAssortativityOracle: String =
    s"""WITH eg AS (SELECT src, dst FROM (
       |${Similarity.knnGraphOracle()}
       |) kg),
       |ind AS (SELECT dst AS node, count(*) AS deg FROM eg GROUP BY dst),
       |xy AS (SELECT coalesce(ia.deg, 0) AS x, coalesce(ib.deg, 0) AS y
       |       FROM eg
       |       LEFT JOIN ind ia ON eg.src = ia.node
       |       LEFT JOIN ind ib ON eg.dst = ib.node),
       |a AS (SELECT count(*) AS n_edges,
       |             CAST(sum(x) AS BIGINT) AS sx,
       |             CAST(sum(y) AS BIGINT) AS sy,
       |             CAST(sum(x * y) AS BIGINT) AS sxy,
       |             CAST(sum(x * x) AS BIGINT) AS sxx,
       |             CAST(sum(y * y) AS BIGINT) AS syy
       |      FROM xy)
       |SELECT n_edges, sx, sy, sxy, sxx, syy,
       |  CASE WHEN CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
       |        AND CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
       |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
       |       THEN (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
       |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |            / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |               * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
       |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS assortativity
       |FROM a""".stripMargin

  /** g4 — kNN edge reciprocity by rank: for each neighbor rank, the
    * fraction of src→dst edges whose reverse dst→src edge (any rank)
    * also exists. Mutual-kNN edges are the high-precision core every
    * kNN-graph consumer (dd8's semantic clusters, g1's ranking)
    * implicitly leans on — asymmetric edges are how hub vectors
    * attract spurious neighbors; reciprocity BY RANK shows how fast
    * precision decays down the neighbor list and is the evidence for
    * choosing a mutual-only edge filter. One self-join of the
    * materialized edge list on the reversed key (the kNN build, the
    * dominant cost, is checkpointed once as `recip_edges`; the audit
    * adds a keyed join of top-k·n rows) + an O(k)-row aggregate; the
    * rate is one long/long division per rank. */
  def knnReciprocity(s: SparkSession, d: String): DataFrame =
    knnReciprocityOf(Tables.embeddings(s, d))

  def knnReciprocityOf(emb: DataFrame): DataFrame = {
    val edges = Materialize(
      Similarity.knnGraphOf(emb).select("src", "rank", "dst"),
      "recip_edges")
    // (src, dst) is unique in a top-k list, so the reversed side needs
    // no distinct and the left join cannot multiply rows
    val rev = edges.select(col("dst").as("r_src"), col("src").as("r_dst"))
    edges
      .join(rev,
        col("src") === col("r_src") && col("dst") === col("r_dst"), "left")
      .groupBy("rank")
      .agg(count(lit(1)).as("n_edges"),
        count(col("r_src")).as("n_mutual"))
      .withColumn("reciprocity", col("n_mutual") / col("n_edges"))
      .orderBy("rank")
  }

  def knnReciprocityOracle(): String =
    s"""WITH g AS (
       |${Similarity.knnGraphOracle()}
       |)
       |SELECT a.rank, count(*) AS n_edges,
       |       CAST(count(b.src) AS BIGINT) AS n_mutual,
       |       CAST(count(b.src) AS BIGINT) / count(*) AS reciprocity
       |FROM g a LEFT JOIN g b ON a.src = b.dst AND a.dst = b.src
       |GROUP BY a.rank ORDER BY a.rank""".stripMargin

  /** Candidate cap for g5's link list (total-order tiebreak makes the
    * cut deterministic). */
  val LinkPredTopK = 100

  /** g5 — link prediction over the kNN graph: score non-adjacent
    * distance-2 pairs by common-neighbour count and the
    * resource-allocation index Σ_w 1/deg(w) (Zhou et al. 2009 — RA
    * beats raw CN because a shared neighbour that links HALF THE
    * CORPUS is weak evidence, a shared 3-degree neighbour is strong).
    * For semantic dedup this is the expansion audit: high-scoring
    * non-edges are near-dup pairs the kNN cut missed (each vector only
    * keeps k arcs) and candidates dd8's clustering would merge next.
    *
    * Everything is exact integers: RA terms quantize as 10^6 div deg —
    * integer division per term, summed as longs, so partition order
    * can never move the result (the sim7 rule, with no doubles at
    * all). Shape: the [[undirected]] list and its [[symmetric]] arcs,
    * wedge join keyed on the middle vertex, LEFT ANTI against existing edges, one (u,v)
    * aggregation, TakeOrdered cap. */
  def linkPrediction(s: SparkSession, d: String): DataFrame =
    linkPredictionOf(Tables.embeddings(s, d))

  def linkPredictionOf(emb: DataFrame): DataFrame =
    linkScoresOf(Materialize(
      Similarity.knnGraphOf(emb).select("src", "dst"),
      "lp_edges"))

  /** The scoring pipeline over an arbitrary (src, dst) arc list —
    * [[linkPredictionOf]] minus the kNN build (the spec's seam).
    * Self-loops are ignored, as in every graph built by [[undirected]]. */
  def linkScoresOf(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val arcs = symmetric(und)
    val e1 = arcs.select(col("u"), col("v").as("w"))
    val e2 = arcs.select(col("u").as("w"), col("v"))
    e1.join(e2, "w").filter(col("u") < col("v"))
      .join(und, Seq("u", "v"), "left_anti")
      .join(degrees(und).withColumnRenamed("id", "w"), "w")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div deg")).as("ra_e6"))
      .orderBy(desc("cn"), desc("ra_e6"), col("u"), col("v"))
      .limit(LinkPredTopK)
  }

  /** k and round bound for the g6 peel. Five rounds suffice for the
    * fixture corpora at every SF the gate runs (the spec demonstrates
    * multi-round propagation explicitly); at warehouse scale the bound
    * is the standard way to cap iterative cost — degeneracy-ordered
    * peeling converges in O(log n) effective rounds on power-law
    * graphs, and the converged flag is readable from the output
    * (no removals in the last round ⟺ removed_round < rounds ∀removed). */
  val KCoreK = 3
  val KCoreRounds = 5

  /** g6 — bounded-round k-CORE peel of the kNN graph: iteratively
    * remove vertices with alive-degree < k; report each vertex's
    * removal round (NULL = survived all rounds = in the k-core given
    * convergence). The k-core separates documents in dense mutual-
    * similarity regions (template families, boilerplate clusters —
    * what a curation pass prunes hardest) from peripheral content;
    * it is the classic iterative-peel shape (the same loop structure
    * as dd7's pointer jumping, with per-round lineage truncation).
    *
    * Scale: each round is one keyed degree aggregation + two
    * alive-filter semi joins, all on vertex/edge keys; the alive set
    * only shrinks. Rounds materialize via [[Materialize]] so the plan
    * never grows with the iteration count. */
  def kCore(s: SparkSession, d: String): DataFrame =
    kCoreOf(Tables.embeddings(s, d))

  def kCoreOf(emb: DataFrame): DataFrame =
    kCorePeel(Similarity.knnGraphOf(emb), KCoreK, KCoreRounds)

  /** The peel loop over an explicit directed edge list (canonicalized
    * to undirected internally). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sym = symmetric(Materialize(undirected(edges), "kcore_und"))
    val nodes0 = Materialize(
      sym.select(col("u").as("vertex")).distinct(),
      "kcore_nodes")
    var alive = nodes0
    val removedParts = Seq.newBuilder[DataFrame]
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      val aliveEdges = sym
        .join(alive.select(col("vertex").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("vertex").as("v")), Seq("v"), "left_semi")
      val deg = aliveEdges.groupBy(col("u").as("vertex"))
        .agg(count(lit(1)).as("deg"))
      val sub = alive.join(deg, Seq("vertex"), "left")
        .withColumn("deg", coalesce(col("deg"), lit(0L)))
      val rem = Materialize(
        sub.filter(col("deg") < k)
          .select(col("vertex"), lit(r.toLong).as("removed_round")),
        s"kcore_rem_$r")
      removedParts += rem
      // a fixpoint stays fixed: once a round removes nothing, every
      // later round removes nothing — stop paying materialized rounds
      // (the count is an action on the just-checkpointed tiny table).
      // Output is identical to running out the bound.
      converged = rem.count() == 0L
      if (!converged)
        alive = Materialize(
          sub.filter(col("deg") >= k).select("vertex"),
          s"kcore_alive_$r")
      r += 1
    }
    val removed = removedParts.result().reduce(_ unionByName _)
    nodes0.join(removed, Seq("vertex"), "left")
      .select(col("vertex"), col("removed_round"),
        when(col("removed_round").isNull, 1L).otherwise(0L).as("in_core"))
      .orderBy("vertex")
  }

  /** DuckDB replay: the peel unrolled to [[KCoreRounds]] levels — each
    * level one degree CTE over the previous alive set (a vertex absent
    * from the degree table has alive-degree 0 and drops, matching the
    * engine's coalesce-to-0). Every CTE is MATERIALIZED: DuckDB
    * otherwise re-inlines the (expensive) kNN-graph CTE into every
    * level's two references — measured 357 s vs 0.17 s at sf0.01 for
    * identical rows; this is what kept the sf1 oracle from finishing
    * inside the round-8 budget. */
  def kCoreOracle(): String = {
    val k = KCoreK
    val levels = (1 to KCoreRounds).map { r =>
      val prev = if (r == 1) "a0" else s"a${r - 1}"
      s"""d$r AS MATERIALIZED (
         |  SELECT s.u AS vertex, count(*) AS deg
         |  FROM sym s JOIN $prev x ON s.u = x.vertex
         |              JOIN $prev y ON s.v = y.vertex
         |  GROUP BY s.u),
         |a$r AS MATERIALIZED (SELECT a.vertex FROM $prev a JOIN d$r USING (vertex)
         |        WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    val removedCase = (1 to KCoreRounds)
      .map(r => s"WHEN a$r.vertex IS NULL THEN $r").mkString(" ")
    val joins = (1 to KCoreRounds)
      .map(r => s"LEFT JOIN a$r ON n0.vertex = a$r.vertex").mkString("\n")
    s"""WITH g AS MATERIALIZED (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |sym AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |n0 AS MATERIALIZED (SELECT DISTINCT u AS vertex FROM sym),
       |a0 AS MATERIALIZED (SELECT vertex FROM n0),
       |$levels
       |SELECT n0.vertex,
       |       CAST(CASE $removedCase END AS BIGINT) AS removed_round,
       |       CAST(CASE WHEN a${KCoreRounds}.vertex IS NOT NULL
       |            THEN 1 ELSE 0 END AS BIGINT) AS in_core
       |FROM n0
       |$joins
       |ORDER BY n0.vertex""".stripMargin
  }

  def linkPredictionOracle(): String =
    s"""WITH g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT src AS u, dst AS v FROM g
       |        UNION SELECT dst, src FROM g),
       |deg AS (SELECT u AS w, count(*) AS deg FROM und GROUP BY u),
       |p2 AS (SELECT a.u, b.v, a.v AS w
       |       FROM und a JOIN und b ON a.v = b.u WHERE a.u < b.v),
       |cand AS (
       |  SELECT p2.u, p2.v, p2.w FROM p2
       |  LEFT JOIN und e ON e.u = p2.u AND e.v = p2.v
       |  WHERE e.u IS NULL)
       |SELECT u, v, count(*) AS cn,
       |       CAST(sum(1000000 // deg) AS BIGINT) AS ra_e6
       |FROM cand JOIN deg USING (w)
       |GROUP BY u, v
       |ORDER BY cn DESC, ra_e6 DESC, u, v LIMIT $LinkPredTopK""".stripMargin

  /** Every vec_id ≡ 0 (mod this) is a BFS landmark seed. */
  val BfsSeedMod = 97L

  /** Hop cap for g7 — both engines stop expanding at this depth, so
    * nodes farther than the cap from every seed report NULL
    * identically. */
  val BfsMaxHops = 6

  /** g7 — multi-source BFS landmark assignment over the kNN graph:
    * every node gets its hop DISTANCE to the nearest landmark seed
    * (the deterministic vec_id ≡ 0 mod [[BfsSeedMod]] set) and WHICH
    * landmark claimed it (min seed id among seeds at exactly that
    * distance — a total tiebreak, so the partition is unique). This is
    * the landmark/Voronoi decomposition of a corpus graph: hop-0/1
    * nodes are the seeds' near-duplicate halo, high-hop nodes are the
    * corpus regions no landmark represents (where to spend labeling
    * budget), and the seed column IS a coarse clustering with
    * guaranteed seed-per-cluster semantics that dd8's k-means cannot
    * give.
    *
    * Scale shape: textbook frontier BFS as iterated keyed joins — per
    * hop ONE join of the frontier against the symmetrized edge list
    * (shuffles on node id), one anti-join against the settled set, and
    * a min-seed aggregation over the NEW shell only; ≤ [[BfsMaxHops]]
    * rounds, each shell durably materialized (the labelPropagation
    * discipline — frontier-sized checkpoints, never the accumulated
    * state), with an early exit the moment a round settles nothing
    * new. Seed
    * correctness of the propagated tiebreak: a frontier neighbor
    * settled at h−1 carries the min seed over ITS shortest paths, and
    * any seed at distance exactly h from the new node routes through
    * some such neighbor, so the min over candidate carries is exactly
    * the min over that seed set — no global regrouping needed. */
  def bfsLandmarks(s: SparkSession, d: String): DataFrame =
    bfsLandmarksOf(Tables.embeddings(s, d))

  def bfsLandmarksOf(emb: DataFrame): DataFrame =
    bfsOf(Similarity.knnGraphOf(emb), emb.select(col("vec_id")),
      BfsSeedMod, BfsMaxHops)

  /** The BFS loop over an explicit directed edge list (symmetrized
    * internally) and node universe; seeds are id ≡ 0 (mod seedMod). */
  def bfsOf(edges: DataFrame, nodes: DataFrame, seedMod: Long,
      maxHops: Int): DataFrame = {
    val sym = Materialize(symmetric(undirected(edges)), "bfs_sym")
    val state0 = Materialize(
      nodes.filter(col("vec_id") % seedMod === 0L)
        .select(col("vec_id").as("id"), lit(0L).as("dist"),
          col("vec_id").as("seed")),
      "bfs_state0")
    // SHELL iteration: a settled node's (dist, seed) never changes (its
    // dist is strictly below any later hop), so each round only the
    // NEWLY reached shell needs computing — candidates from the
    // previous shell, anti-joined against everything settled, min-seed
    // per new node (all candidates carry dist = hop, so the old
    // min-struct tiebreak reduces to min(seed)). Rounds materialize the
    // shell (frontier-sized), not the whole accumulated state — the
    // full-state groupBy re-shuffled and re-checkpointed the entire
    // corpus state every hop; the shells sum to each reached node once.
    var settled = state0
    var frontier = state0
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val cand = frontier
        .join(sym.select(col("u").as("id"), col("v")), "id")
        .select(col("v").as("id"), col("seed"))
      val fresh = Materialize(
        cand.join(settled.select("id"), Seq("id"), "left_anti")
          .groupBy("id")
          .agg(min(col("seed")).as("seed"))
          .select(col("id"), lit(hop.toLong).as("dist"), col("seed")),
        s"bfs_shell_$hop")
      // an empty shell ⇒ every later frontier is empty — stop. The
      // count is an action on the just-materialized shell (one small
      // count per round instead of two full-state counts).
      done = fresh.count() == 0L
      if (!done) {
        settled = settled.unionByName(fresh)
        frontier = fresh
      }
      hop += 1
    }
    nodes
      .join(settled.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("dist"), col("seed"),
        when(col("dist").isNotNull, 1L).otherwise(0L).as("reached"))
      .orderBy("vec_id")
  }

  /** DuckDB replay of g7: a recursive CTE enumerating (node, walk
    * length, seed) up to the hop cap; min walk length per node is the
    * BFS distance, and the min seed among rows AT that length is
    * exactly the engine's tiebreak (a seed strictly closer would have
    * produced a shorter row and lowered the min). */
  def bfsLandmarksOracle(): String =
    s"""WITH RECURSIVE g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |bfs(id, dist, seed) AS (
       |  SELECT vec_id, CAST(0 AS BIGINT), vec_id FROM embeddings
       |  WHERE vec_id % $BfsSeedMod = 0
       |  UNION
       |  SELECT e.v, b.dist + 1, b.seed
       |  FROM bfs b JOIN sym e ON e.u = b.id
       |  WHERE b.dist < $BfsMaxHops),
       |m AS (SELECT id, min(dist) AS dist FROM bfs GROUP BY id),
       |r AS (
       |  SELECT b.id, b.dist, min(b.seed) AS seed
       |  FROM bfs b JOIN m ON b.id = m.id AND b.dist = m.dist
       |  GROUP BY b.id, b.dist)
       |SELECT emb.vec_id, r.dist, r.seed,
       |       CAST(CASE WHEN r.dist IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS reached
       |FROM embeddings emb LEFT JOIN r ON emb.vec_id = r.id
       |ORDER BY emb.vec_id""".stripMargin

  /** g8 — Newman modularity of the ground-truth label partition over
    * the kNN graph: per label, the internal-edge count, degree mass,
    * and modularity contribution; high Q means the embedding
    * neighborhoods respect the labels (the labels are learnable from
    * geometry), Q ≈ 0 means the kNN structure ignores them — the
    * graph-level complement of sim5's centroid audit and sim6's
    * recall@k.
    *
    * The float trap and its fix: Q = Σ_c [e_c/m − (d_c/2m)²] as a
    * literal double sum would depend on which engine adds the per-label
    * terms in which order. Clearing denominators keeps EVERYTHING
    * integral until one final division per row:
    * term_num_c = 4m·e_c − d_c² (exact long), term_c = term_num_c/4m²
    * (one division), and the GLOBAL Q sums the exact numerators first —
    * Q = Σterm_num_c / 4m² — so no double is ever added to a double.
    * Shape: the edge list joins the (broadcast-size) label map on each
    * endpoint, then one label-keyed aggregation; degrees are an
    * id-keyed aggregation of the symmetrized list; m and ΣQ are
    * one-row broadcasts. */
  def labelModularity(s: SparkSession, d: String): DataFrame =
    labelModularityOf(Tables.embeddings(s, d))

  def labelModularityOf(emb: DataFrame): DataFrame =
    modularityOfEdges(
      Similarity.knnGraphOf(emb).select("src", "dst"),
      emb.select(col("vec_id"), col("label").cast("long").as("lab")))

  /** The modularity computation over an explicit directed edge list
    * (canonicalized internally) and a (vec_id, lab) label map. */
  def modularityOfEdges(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = Materialize(undirected(edges), "mod_und")
    val deg = degrees(und).withColumnRenamed("id", "vec_id")
    val m = und.agg(count(lit(1)).as("m"))
    val perNode = labels
      .join(deg, Seq("vec_id"), "left")
      .withColumn("deg", coalesce(col("deg"), lit(0L)))
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val internal = und
      .join(labels.select(col("vec_id").as("u"), col("lab").as("lu")), "u")
      .join(labels.select(col("vec_id").as("v"), col("lab").as("lv")), "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("lab"))
      .agg(count(lit(1)).as("internal_edges"))
    val per = perNode
      .join(internal, Seq("lab"), "left")
      .withColumn("internal_edges", coalesce(col("internal_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("term_num",
        lit(4L) * col("m") * col("internal_edges")
          - col("degree_sum") * col("degree_sum"))
    val q = per.agg(sum(col("term_num")).as("q_num"))
    per.crossJoin(broadcast(q))
      .select(col("lab").as("label"), col("n_nodes"),
        col("internal_edges"), col("degree_sum"), col("m"),
        col("term_num"),
        (col("term_num").cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double"))
          .as("modularity_term"),
        (col("q_num").cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double"))
          .as("q_total"))
      .orderBy("label")
  }

  def labelModularityOracle(): String =
    s"""WITH g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
       |deg AS (SELECT id AS vec_id, count(*) AS deg FROM (
       |    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
       |  GROUP BY id),
       |mm AS (SELECT count(*) AS m FROM und),
       |pn AS (
       |  SELECT l.lab, count(*) AS n_nodes,
       |         CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS degree_sum
       |  FROM lab l LEFT JOIN deg d ON l.vec_id = d.vec_id
       |  GROUP BY l.lab),
       |ie AS (
       |  SELECT lu.lab, count(*) AS internal_edges
       |  FROM und e
       |  JOIN lab lu ON e.u = lu.vec_id
       |  JOIN lab lv ON e.v = lv.vec_id
       |  WHERE lu.lab = lv.lab
       |  GROUP BY lu.lab),
       |per AS (
       |  SELECT pn.lab, pn.n_nodes, pn.degree_sum,
       |         CAST(coalesce(ie.internal_edges, 0) AS BIGINT)
       |           AS internal_edges,
       |         mm.m,
       |         4 * mm.m * CAST(coalesce(ie.internal_edges, 0) AS BIGINT)
       |           - pn.degree_sum * pn.degree_sum AS term_num
       |  FROM pn LEFT JOIN ie ON pn.lab = ie.lab CROSS JOIN mm),
       |qn AS (SELECT CAST(sum(term_num) AS BIGINT) AS q_num FROM per)
       |SELECT lab AS label, n_nodes, internal_edges, degree_sum,
       |       CAST(m AS BIGINT) AS m, CAST(term_num AS BIGINT) AS term_num,
       |       CAST(term_num AS DOUBLE) / CAST(4 * m * m AS DOUBLE)
       |         AS modularity_term,
       |       CAST(q_num AS DOUBLE) / CAST(4 * m * m AS DOUBLE) AS q_total
       |FROM per CROSS JOIN qn ORDER BY label""".stripMargin

  /** g9 — undirected degree distribution of the kNN graph: how many
    * nodes sit at each degree, including the degree-0 isolates the
    * edge list can't show. The read that separates "uniform manifold"
    * (degrees concentrated near k) from "boilerplate attractor" (a
    * heavy right tail of in-degree hubs — the same pathology g3's
    * assortativity summarizes, here as the full curve). Exact count
    * histogram keyed by degree: two hash aggregations over the edge
    * list plus a broadcast-left join back to the node spine; output
    * is O(max_degree) rows regardless of corpus size, and every
    * statistic is an exact long. */
  def degreeHistogram(s: SparkSession, d: String): DataFrame =
    degreeHistogramOf(Tables.embeddings(s, d))

  /** [[degreeHistogram]] over an explicit embeddings frame. */
  def degreeHistogramOf(emb: DataFrame): DataFrame = {
    val deg = degrees(
      Materialize(undirected(Similarity.knnGraphOf(emb)), "g9_und"))
    val perNode = emb.select(col("vec_id"))
      .join(deg, col("vec_id") === col("id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("degree"))
    val hist = perNode.groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("n_total"),
      sum(col("degree") * col("n_nodes")).as("deg_mass"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        expr("(10000 * n_nodes) div n_total").as("share_bp"),
        col("deg_mass"))
      .orderBy("degree")
  }

  def degreeHistogramOracle(): String =
    s"""WITH g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |deg AS (SELECT id, count(*) AS deg FROM (
       |    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
       |  GROUP BY id),
       |pn AS (
       |  SELECT CAST(coalesce(d.deg, 0) AS BIGINT) AS degree
       |  FROM (SELECT vec_id FROM embeddings) n
       |  LEFT JOIN deg d ON n.vec_id = d.id),
       |h AS (SELECT degree, count(*) AS n_nodes FROM pn GROUP BY 1),
       |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total,
       |             CAST(sum(degree * n_nodes) AS BIGINT) AS deg_mass
       |      FROM h)
       |SELECT degree, n_nodes, (10000 * n_nodes) // n_total AS share_bp,
       |       deg_mass
       |FROM h CROSS JOIN t ORDER BY degree""".stripMargin

  /** g10 — label-MIX matrix over the kNN graph: per unordered label
    * pair, how many undirected kNN edges connect them, with
    * basis-point shares — the per-pair breakdown of the mixing g8's
    * modularity collapses to one scalar (WHICH labels are entangled
    * in embedding space, the confusion structure a probe classifier
    * will inherit; sim5's centroid-pair cosine sees the centers,
    * this sees the boundary traffic). Off-diagonal mass concentrated
    * on one pair = a label-merge candidate; uniform off-diagonal = a
    * weak embedding.
    *
    * Shape: the kNN edge list canonicalized to undirected (the g8
    * rule), two keyed label joins, one O(labels²) aggregation + a
    * 1-row broadcast. Exact integers; within flag per row. */
  def knnLabelMix(s: SparkSession, d: String): DataFrame =
    knnLabelMixOf(Tables.embeddings(s, d))

  /** [[knnLabelMix]] over an explicit embeddings frame. */
  def knnLabelMixOf(emb: DataFrame): DataFrame = {
    val und = undirected(Similarity.knnGraphOf(emb))
    val labels = emb.select(col("vec_id"),
      col("label").cast("long").as("lab"))
    // O(labels²) matrix feeds both the total and the output — one
    // materialization or the share denominator replays the kNN build
    val mix = Materialize(und
      .join(labels.select(col("vec_id").as("u"), col("lab").as("lu")), "u")
      .join(labels.select(col("vec_id").as("v"), col("lab").as("lv")), "v")
      .groupBy(least(col("lu"), col("lv")).as("label_a"),
        greatest(col("lu"), col("lv")).as("label_b"))
      .agg(count(lit(1)).as("n_edges")),
      "label_mix")
    val tot = mix.agg(sum(col("n_edges")).as("t_edges"))
    mix.crossJoin(broadcast(tot))
      .select(col("label_a"), col("label_b"), col("n_edges"),
        when(col("label_a") === col("label_b"), 1L).otherwise(0L)
          .as("within"),
        expr("(10000 * n_edges) div t_edges").as("share_bp"))
      .orderBy("label_a", "label_b")
  }

  def knnLabelMixOracle(): String =
    s"""WITH g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
       |mix AS (
       |  SELECT least(lu.lab, lv.lab) AS label_a,
       |         greatest(lu.lab, lv.lab) AS label_b,
       |         count(*) AS n_edges
       |  FROM und e
       |  JOIN lab lu ON e.u = lu.vec_id
       |  JOIN lab lv ON e.v = lv.vec_id
       |  GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_edges) AS BIGINT) AS t_edges FROM mix)
       |SELECT label_a, label_b, n_edges,
       |  CASE WHEN label_a = label_b THEN 1 ELSE 0 END AS within,
       |  (10000 * n_edges) // t_edges AS share_bp
       |FROM mix CROSS JOIN t ORDER BY label_a, label_b""".stripMargin

  /** Seed slice for [[labelSpread]]: vec_id ≡ 0 (mod 13) keeps its
    * label (~8% of the corpus); everyone else starts unlabeled. */
  val SpreadSeedMod = 13L

  /** Fixed majority-vote rounds for [[labelSpread]] — unrolled in the
    * oracle, so the count is a compile-time constant. */
  val SpreadRounds = 2

  /** g11 — semi-supervised LABEL SPREAD over the kNN graph: seeds keep
    * their label, every unlabeled node adopts the MAJORITY label of
    * its already-labeled neighbors (ties → smaller label), for
    * [[SpreadRounds]] synchronous rounds — nodes labeled in round 1
    * vote in round 2. The inference the g8/g10 diagnostics sit beside:
    * THOSE measure how separable the labels are; this one actually
    * propagates them, the cheap label-densification step of a
    * weakly-supervised curation pipeline. Output keeps the true label
    * so the artifact doubles as an accuracy readout on the non-seed
    * slice.
    *
    * Shape: the kNN build materializes once, as its symmetric
    * undirected arc list; each round is one dst-keyed join (neighbor
    * labels) + one (node, label) aggregate + one node-keyed window
    * pick + a left join back — all keyed on vec_id-sized keys, rounds
    * materialized like [[graft.ops.Dedup.labelPropagation]] so
    * lineage stays bounded. */
  def labelSpread(s: SparkSession, d: String): DataFrame =
    labelSpreadOf(Tables.embeddings(s, d))

  def labelSpreadOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = Materialize(
      symmetric(undirected(Similarity.knnGraphOf(emb)))
        .select(col("u").as("src"), col("v").as("dst")),
      "spread_sym")
    var lab = Materialize(
      emb.select(col("vec_id"), col("label"))
        .withColumn("cur",
          when(col("vec_id") % SpreadSeedMod === 0, col("label")))
        .withColumn("decided_round",
          when(col("vec_id") % SpreadSeedMod === 0, lit(0L))),
      "spread_l0")
    (1 to SpreadRounds).foreach { r =>
      // votes ride the previous round's decision SHELL, not the full
      // label table: a node still undecided entering round r can have
      // no neighbor decided before r−1 (any labeled neighbor at r−1
      // would have decided it then), so for every node the pick can
      // still change, the vote set — and the plurality tiebreak — is
      // identical when restricted to decided_round = r−1; for already-
      // decided nodes the pick is discarded by the coalesce either
      // way. The join's labeled side shrinks from corpus-sized to
      // shell-sized.
      val votes = sym
        .join(lab.where(col("decided_round") === (r - 1).toLong)
          .select(col("vec_id").as("dst"), col("cur").as("nl")), "dst")
        .where(col("nl").isNotNull)
        .groupBy(col("src").as("vec_id"), col("nl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("c").desc, col("nl"))
      val pick = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nl"))
      lab = Materialize(
        lab.join(pick, Seq("vec_id"), "left")
          .select(col("vec_id"), col("label"),
            coalesce(col("cur"), col("nl")).as("cur"),
            coalesce(col("decided_round"),
              when(col("nl").isNotNull, lit(r.toLong))).as("decided_round")),
        s"spread_l$r")
    }
    lab
      .select(col("vec_id"), col("label"),
        (col("vec_id") % SpreadSeedMod === 0).as("is_seed"),
        col("cur").as("inferred_label"), col("decided_round"))
      .orderBy("vec_id")
  }

  /** DuckDB replay of g11: the sim4 edge CTE symmetrized, the same two
    * unrolled majority-vote rounds with the same (count desc, label
    * asc) tiebreak. */
  lazy val labelSpreadOracle: String = {
    def round(r: Int): String =
      s"""v$r AS (SELECT s.src AS vec_id, l.cur AS nl, count(*) AS c
         |  FROM sym s JOIN l${r - 1} l ON s.dst = l.vec_id
         |  WHERE l.cur IS NOT NULL GROUP BY 1, 2),
         |p$r AS (SELECT vec_id, nl FROM (SELECT vec_id, nl,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nl) AS rn
         |  FROM v$r) WHERE rn = 1),
         |l$r AS (SELECT l.vec_id, l.label, coalesce(l.cur, p.nl) AS cur,
         |    coalesce(l.dr, CASE WHEN p.nl IS NOT NULL THEN $r END) AS dr
         |  FROM l${r - 1} l LEFT JOIN p$r p ON l.vec_id = p.vec_id)""".stripMargin
    s"""WITH eg AS (SELECT src, dst FROM (
       |${Similarity.knnGraphOracle()}
       |) kg),
       |sym AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM eg UNION ALL SELECT dst, src FROM eg)
       |  WHERE src <> dst),
       |l0 AS (SELECT vec_id, label,
       |    CASE WHEN vec_id % $SpreadSeedMod = 0 THEN label END AS cur,
       |    CASE WHEN vec_id % $SpreadSeedMod = 0 THEN 0 END AS dr
       |  FROM embeddings),
       |${(1 to SpreadRounds).map(round).mkString(",\n")}
       |SELECT vec_id, label, (vec_id % $SpreadSeedMod = 0) AS is_seed,
       |  cur AS inferred_label, CAST(dr AS BIGINT) AS decided_round
       |FROM l$SpreadRounds ORDER BY vec_id""".stripMargin
  }

  /** Fixed landmark count for [[landmarkCentrality]] — a CONSTANT, so
    * the multi-source BFS state stays O(L·nodes) at any graph size
    * (seeding by a modulus alone would grow the landmark set, and the
    * state, linearly with the corpus). */
  val CentralityLandmarks = 4

  /** g12 — landmark HARMONIC centrality over the kNN graph: per node,
    * Σ 1/d(node, ℓ) over a fixed panel of [[CentralityLandmarks]]
    * landmarks (the smallest seed-eligible ids), the standard
    * landmark approximation of closeness/harmonic centrality —
    * core-periphery triage for embedding corpora (periphery = the
    * candidate outliers sim7's margins flag from a different angle).
    * Unlike g7 (which keeps only the NEAREST seed), the BFS state
    * here is keyed by (node, landmark) so every landmark's distance
    * survives; rounds materialize and early-exit exactly like
    * g7/labelPropagation. Determinism: 1/d quantizes to the exact
    * long 10⁶ div d (all-positive integer division, identical both
    * engines), so the centrality is an exact-integer micro-unit sum —
    * no float addition ordering anywhere. Unreached landmarks
    * contribute 0; the landmark itself (d = 0) contributes a defined
    * 2·10⁶ cap (closer than any neighbor, finite). */
  def landmarkCentrality(s: SparkSession, d: String): DataFrame =
    landmarkCentralityOf(Tables.embeddings(s, d))

  def landmarkCentralityOf(emb: DataFrame): DataFrame =
    landmarkCentralityOfEdges(Similarity.knnGraphOf(emb),
      emb.select(col("vec_id")))

  /** The multi-landmark BFS over an explicit edge list: state rows are
    * (id, seed, dist), minimized per pair each round. */
  def landmarkCentralityOfEdges(edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    val sym = Materialize(symmetric(undirected(edges)), "g12_sym")
    val seeds = nodes.filter(col("vec_id") % BfsSeedMod === 0L)
      .orderBy("vec_id").limit(CentralityLandmarks)
    val state0 = Materialize(
      seeds.select(col("vec_id").as("id"), col("vec_id").as("seed"),
        lit(0L).as("dist")),
      "g12_state0")
    // SHELL iteration (the g7 argument per (id, seed) pair): a pair
    // settles at the first hop it appears — min(dist) over the old
    // full-state union IS that first hop — so each round computes only
    // the new pairs (distinct candidates anti-joined against settled)
    // and materializes the shell, never the whole accumulated state.
    var settled = state0
    var frontier = state0
    var hop = 1
    var done = false
    while (hop <= BfsMaxHops && !done) {
      val cand = frontier
        .join(sym.select(col("u").as("id"), col("v")), "id")
        .select(col("v").as("id"), col("seed"))
      val fresh = Materialize(
        cand.distinct()
          .join(settled.select("id", "seed"), Seq("id", "seed"),
            "left_anti")
          .select(col("id"), col("seed"), lit(hop.toLong).as("dist")),
        s"g12_shell_$hop")
      done = fresh.count() == 0L
      if (!done) {
        settled = settled.unionByName(fresh)
        frontier = fresh
      }
      hop += 1
    }
    val perNode = settled
      .groupBy("id")
      .agg(count(lit(1)).as("n_reached"),
        min(col("dist")).as("min_dist"),
        sum(when(col("dist") === 0L, lit(2000000L))
          .otherwise(expr("1000000 div dist"))).as("harmonic_micro"))
    nodes
      .join(perNode.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        col("min_dist"),
        coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro"))
      .orderBy("vec_id")
  }

  /** DuckDB replay of g12: the g7 recursive-CTE walk enumeration kept
    * PER SEED (min walk length per (node, seed) is that landmark's
    * BFS distance), the same micro-unit quantization and d=0 cap. */
  def landmarkCentralityOracle(): String =
    s"""WITH RECURSIVE g AS (
       |${Similarity.knnGraphOracle()}
       |),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM g WHERE src <> dst),
       |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |seeds AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $BfsSeedMod = 0
       |  ORDER BY vec_id LIMIT $CentralityLandmarks),
       |bfs(id, seed, dist) AS (
       |  SELECT vec_id, vec_id, CAST(0 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT e.v, b.seed, b.dist + 1
       |  FROM bfs b JOIN sym e ON e.u = b.id
       |  WHERE b.dist < $BfsMaxHops),
       |m AS (SELECT id, seed, min(dist) AS dist FROM bfs GROUP BY 1, 2),
       |pn AS (
       |  SELECT id, count(*) AS n_reached, min(dist) AS min_dist,
       |         CAST(sum(CASE WHEN dist = 0 THEN 2000000
       |                       ELSE 1000000 // dist END) AS BIGINT)
       |           AS harmonic_micro
       |  FROM m GROUP BY 1)
       |SELECT emb.vec_id,
       |       CAST(coalesce(pn.n_reached, 0) AS BIGINT) AS n_reached,
       |       pn.min_dist,
       |       CAST(coalesce(pn.harmonic_micro, 0) AS BIGINT)
       |         AS harmonic_micro
       |FROM embeddings emb LEFT JOIN pn ON emb.vec_id = pn.id
       |ORDER BY emb.vec_id""".stripMargin
}
