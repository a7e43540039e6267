package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.md5Hash60

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteTopK]] — exact cosine top-k: one broadcast of the query
  *     vector, a codegen'd fold per row, a single top-k. Linear scan;
  *     the correctness baseline.
  *   - [[lshTopK]] — sign-random-projection LSH: vectors hash to a
  *     small bucket id by the signs of dot products against fixed
  *     pseudo-random ±1 hyperplanes (md5-seeded, so both engines build
  *     identical planes). Probing only the query's bucket scans ~1/2^P
  *     of the corpus — the 100 TB path, trading recall for a bounded
  *     candidate set. Bucketing is a narrow map; at cluster scale the
  *     table would be written bucketed-by(bucket) so probes touch one
  *     partition.
  */
object Similarity {

  /** Left-to-right dot product over double arrays — a codegen'd custom
    * Catalyst expression (graft.expressions.DotProduct); same strict
    * fold order as DuckDB's list_dot_product for oracle parity. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot(a, b)

  /** Cosine of `a` and `b` from their squared norms: one IEEE tree,
    * dot / (√aNorm · √bNorm), the shape every oracle replays. */
  def cosine(a: Column, aNorm: Column, b: Column, bNorm: Column): Column =
    dot(a, b) / (sqrt(aNorm) * sqrt(bNorm))

  val Dim = 64
  /** Default plane count for the QUERY-probe path (sim2's lshTopK):
    * 256 buckets, probes widened via Hamming-1 multi-probe. The
    * corpus-blocking paths (sim4/dd5/dd8) do NOT use this constant —
    * they derive their plane counts from the corpus size
    * ([[planesFor]]), because a fixed bucket count means per-bucket
    * population ~N/2^P and a pair stream bending toward N² at scale. */
  val Planes = 8

  /** Integer ceil(log2(m)) — 64 - nlz(m-1), zero for m ≤ 1; the same
    * `length(bin(m-1))` arithmetic the DuckDB oracles replay, so both
    * engines derive identical geometry from identical corpus counts
    * (no floating log2 anywhere). */
  def ceilLog2(m: Long): Int =
    if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)

  /** sim4's self-sizing rule — Planes ∝ log₂(corpus): enough planes
    * that expected bucket occupancy stays ≤ [[PlanesTargetDocs]], so
    * the (P+1)·Σ bucket² pair stream grows ~linearly in N instead of
    * N²/2^P. Clamped to [[MinPlanes]] (recall floor at tiny corpora —
    * a bucket needs k+1 members to fill a top-k) and [[MaxPlanes]]
    * (the unrolled oracle/bucket-int width). Callers may override with
    * an explicit plane count; the driver query derives. */
  def planesFor(n: Long): Int =
    math.min(MaxPlanes, math.max(MinPlanes,
      ceilLog2((n + PlanesTargetDocs - 1) / PlanesTargetDocs)))
  val PlanesTargetDocs = 2L
  val MinPlanes = 8
  val MaxPlanes = 24

  /** Deterministic ±1 hyperplane components from the shared md5 hash
    * primitive: sign = parity of md5("p:i" style key). Pure Scala, and
    * embedded as literal arrays into both the Spark plan and the SQL
    * oracle. */
  def planeSigns(p: Int): Seq[Int] = (0 until Dim).map { i =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$i".getBytes("UTF-8"))
    if ((hex.last & 1) == 1) 1 else -1
  }

  /** LSH bucket id: `planes` sign bits of plane dot products. */
  def bucketCol(v: Column, planes: Int = Planes): Column =
    (0 until planes).map { p =>
      val signs = array(planeSigns(p).map(x => lit(x.toDouble)): _*)
      when(dot(v, signs) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Plane-index STRIDE for the banded family: band t's planes live at
    * t*stride .. t*stride+planesPerBand-1 with a FIXED stride of
    * [[MaxEmbBandPlanes]], independent of the derived planesPerBand —
    * so each band's sign literals are static and the oracle can gate a
    * statically-unrolled plane list on a SQL-computed plane count. */
  val MaxEmbBandPlanes = 16

  /** Bucket id for band table `t` of a banded (multi-table) sign-LSH
    * family: `planesPerBand` sign bits over planes
    * t*[[MaxEmbBandPlanes]] .. t*[[MaxEmbBandPlanes]]+planesPerBand-1.
    * Multiple short tables trade bucket selectivity for recall the way
    * MinHash bands do — a near pair only needs to collide in ONE
    * table. */
  def bandBucketCol(v: Column, t: Int, planesPerBand: Int): Column = {
    require(planesPerBand <= MaxEmbBandPlanes,
      s"planesPerBand $planesPerBand exceeds the $MaxEmbBandPlanes stride")
    (0 until planesPerBand).map { j =>
      val signs = array(
        planeSigns(t * MaxEmbBandPlanes + j).map(x => lit(x.toDouble)): _*)
      when(dot(v, signs) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** SQL rendering of [[bandBucketCol]] over a DOUBLE[] column `v` for
    * the DuckDB oracle, gated on a dynamic plane count when
    * `ppbExpr` is a SQL expression (e.g. `p.ppb` from a params CTE):
    * all [[MaxEmbBandPlanes]] terms unroll statically, each
    * contributing only while its index is under the computed count —
    * the oracle derives the same geometry from the same corpus count
    * the Spark side derives from. */
  def bandBucketSql(t: Int, ppbExpr: String): String =
    (0 until MaxEmbBandPlanes).map { j =>
      val lits = planeSigns(t * MaxEmbBandPlanes + j)
        .map(x => s"$x.0").mkString("[", ",", "]")
      s"CASE WHEN $j < $ppbExpr AND list_dot_product(v, $lits) > 0 THEN ${1 << j} ELSE 0 END"
    }.mkString(" + ")

  private def embDouble(s: SparkSession, d: String): DataFrame =
    embDoubleOf(Tables.embeddings(s, d))

  /** DataFrame-first variant (ScaleProbe feeds replicated corpora). */
  private[graft] def embDoubleOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", dot(col("v"), col("v")))

  val QueryVecId = 0L
  val K = 10

  /** Exact brute-force cosine top-k against the query vector. */
  def bruteTopK(s: SparkSession, d: String): DataFrame = {
    val e = embDouble(s, d)
    val q = e.filter(col("vec_id") === QueryVecId)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    e.filter(col("vec_id") =!= QueryVecId)
      .join(broadcast(q))
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("qv"), col("qnorm")))
      .select(col("vec_id"), col("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(K)
  }

  /** LSH-bucketed top-k with Hamming-1 MULTI-PROBE: scan the query's
    * bucket plus its [[Planes]] single-bit neighbors — with 2^P buckets
    * a single-bucket probe scans too thin a slice for good recall, and
    * the nearest misses overwhelmingly land one flipped hyperplane
    * away. Probe set is (P+1)/2^P of the corpus. The build side is the
    * single query row, so the Hamming predicate rides the broadcast.
    *
    * Recall caveat, measured in OpsSpec: on this fixture's near-random
    * embeddings the true top-k sit at ~70° where per-plane collision
    * odds are barely over 1/2, so sign-LSH recall is low at any plane
    * count — that is the family's information-theoretic limit on
    * unclustered data, not a plan defect. Real embedding corpora put
    * near-dups at cos ≥ 0.8 (≤ 37°) where the same family performs;
    * for this data shape [[ivfTopK]] is the strong ANN path. */
  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val e = embDouble(s, d).withColumn("bucket", bucketCol(col("v")))
    val q = e.filter(col("vec_id") === QueryVecId)
      .select(col("v").as("qv"), col("norm").as("qnorm"),
        col("bucket").as("qbucket"))
    e.filter(col("vec_id") =!= QueryVecId)
      .join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1)
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("qv"), col("qnorm")))
      .select(col("vec_id"), col("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(K)
  }

  /** Query-set selector for [[rangeSearch]]: vec_id ≡ 0 (mod 97) — a
    * deterministic ~1% slice, the retrieval direction's stand-in for an
    * external query table. */
  val RangeQueryMod = 97L

  /** Cosine floor for [[rangeSearch]], shared with dd5's near-dup cut. */
  val RangeTau = 0.4

  /** sim11 — RANGE (ε-ball) retrieval audit for a query SET: per
    * query, how many corpus vectors its banded-LSH probe surfaced, how
    * many of those clear cosine ≥ [[RangeTau]], and the best candidate
    * (cos-desc, vec_id-asc deterministic tiebreak) — the
    * all-qualifying-matches complement of sim1/sim2's top-k, shipped
    * as a per-query summary so the artifact also READS as the recall/
    * cost audit a retrieval owner tunes the band geometry with.
    * Blocking is the dd5 banded sign-LSH family (EmbBands tables,
    * per-band plane count self-sized from the corpus count): queries
    * and corpus land in the same buckets, the join is equi-keyed on
    * (table, bucket) — query-side work is Σ bucket_q·bucket_c, never
    * |Q|·|C| — and only candidates pay the exact cosine. Recall < 1 by
    * construction; the oracle mirrors the identical blocking, pinning
    * the full pipeline including the geometry derivation. Queries
    * whose probe finds nothing stay in the output with zero counts
    * (left join against the query slice). At warehouse scale the
    * corpus side is a PRE-BUILT banded index (lay-family bucket
    * layout) and queries stream against it — the shape this operator
    * rehearses. */
  def rangeSearch(s: SparkSession, d: String): DataFrame =
    rangeSearchOf(Tables.embeddings(s, d))

  def rangeSearchOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ppb = Dedup.embBandPlanesFor(emb.count())
    val e = Materialize(embDoubleOf(emb).select("vec_id", "v", "norm"),
      "range_emb")
    val bandStructs = array((0 until Dedup.EmbBands).map { t =>
      struct(lit(t).as("t"), bandBucketCol(col("v"), t, ppb).as("bkt"))
    }: _*)
    val banded = e.select(col("vec_id"), explode(bandStructs).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    val cand = banded.filter(col("vec_id") % RangeQueryMod === 0)
      .select(col("t"), col("bkt"), col("vec_id").as("query_id"))
      .join(banded.filter(col("vec_id") % RangeQueryMod =!= 0)
        .select(col("t"), col("bkt"), col("vec_id")),
        Seq("t", "bkt"))
      .select("query_id", "vec_id").distinct()
    // scored candidates feed BOTH the per-query counts and the best-row
    // pick — materialized once (the a29/dq7 fork rule); the vector
    // table's MEASURED materialized stats keep its joins keyed at
    // corpus scale without hints (the dd2/dd4 sf1-tier lesson, fixed
    // at the Materialize seam)
    val scored = Materialize(
      cand
        .join(e.toDF("query_id", "qv", "qnorm"), "query_id")
        .join(e.toDF("vec_id", "cv", "cnorm"), "vec_id")
        .withColumn("cos",
          cosine(col("qv"), col("qnorm"), col("cv"), col("cnorm")))
        .select("query_id", "vec_id", "cos"),
      "range_scored")
    val stats = scored.groupBy("query_id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("cos") >= RangeTau, 1L).otherwise(0L)).as("n_matches"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("best_vec_id"),
        col("cos").as("best_cos"))
    e.filter(col("vec_id") % RangeQueryMod === 0)
      .select(col("vec_id").as("query_id"))
      .join(stats, Seq("query_id"), "left")
      .join(best, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_matches"))
      .orderBy("query_id")
  }

  /** DuckDB replay of sim11: identical banding (same plane-count
    * derivation from count(*)), identical query split, left-to-right
    * list_dot_product folds, identical best-row tiebreak. */
  lazy val rangeSearchOracle: String = {
    val bandSelects = (0 until Dedup.EmbBands).map { t =>
      s"SELECT vec_id, $t AS t, ${bandBucketSql(t, "p.planes")} AS bkt FROM n, p"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS ${planesForSql("embeddings", Dedup.EmbBandTargetDocs,
              Dedup.EmbBandPlanes, MaxEmbBandPlanes)},
       |n AS (SELECT vec_id, v, list_dot_product(v, v) AS norm FROM e),
       |banded AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM banded q JOIN banded c ON q.t = c.t AND q.bkt = c.bkt
       |  WHERE q.vec_id % $RangeQueryMod = 0 AND c.vec_id % $RangeQueryMod <> 0),
       |scored AS (SELECT cd.query_id, cd.vec_id,
       |    list_dot_product(a.v, b.v) / (sqrt(a.norm) * sqrt(b.norm)) AS cos
       |  FROM cand cd
       |  JOIN n a ON a.vec_id = cd.query_id
       |  JOIN n b ON b.vec_id = cd.vec_id),
       |stats AS (SELECT query_id, count(*) AS n_candidates,
       |    CAST(sum(CASE WHEN cos >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_matches
       |  FROM scored GROUP BY query_id),
       |best AS (SELECT query_id, vec_id AS best_vec_id, cos AS best_cos
       |  FROM (SELECT query_id, vec_id, cos, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT q.vec_id AS query_id,
       |  coalesce(s.n_candidates, 0) AS n_candidates,
       |  coalesce(s.n_matches, 0) AS n_matches,
       |  b.best_vec_id, b.best_cos
       |FROM e q
       |LEFT JOIN stats s ON q.vec_id = s.query_id
       |LEFT JOIN best b ON q.vec_id = b.query_id
       |WHERE q.vec_id % $RangeQueryMod = 0
       |ORDER BY query_id""".stripMargin
  }

  val KnnK = 3

  /** [[knnGraph]]'s bucket probe radius, fixed at Hamming 1. Radius 0
    * (home bucket only) was measured against the exact all-pairs top-k
    * graph at sf0.1 (NOTES.md, "sim4 probe-radius dial"): edge recall
    * 0.022 vs 0.133 at radius 1 for about the same wall time (0.64 vs
    * 0.61 s), and 0.006 vs 0.061 at the self-sized 10 planes — a bucket
    * holding fewer than k+1 vectors cannot fill its rows' top-k, and
    * the nearest misses overwhelmingly land one flipped hyperplane
    * away. Radius 1 multiplies the src side (and the whole pair/window
    * stream) by P+1. */
  val KnnProbeRadius = 1

  /** KNN-graph construction: top-k nearest neighbors for EVERY vector,
    * blocked by the sign-LSH bucket with the Hamming-1 multi-probe of
    * [[KnnProbeRadius]]: the src side explodes to its home bucket plus
    * the P one-bit neighbors ((P+1)× the pair stream).
    * The join stays EQUI-keyed on the probed bucket (an
    * OR-of-XORs predicate would degrade it to a nested loop); dst stays
    * at its home bucket, and each pair is found exactly once (the probe
    * masks are distinct). The quadratic term is (P+1)·sum-of-squared-
    * bucket-sizes, never corpus² — and P SELF-SIZES via
    * [[planesFor]] (Planes ∝ log₂ corpus) so per-bucket population
    * stays ~[[PlanesTargetDocs]] as the corpus grows; the oracle
    * derives the identical count from the same integer arithmetic over
    * count(*). Rank via one window over the pair stream; deterministic
    * tiebreaks. This is the candidate graph semantic-dedup/clustering
    * pipelines consume. sim4 returns it sorted by (src, rank). */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphOf(Tables.embeddings(s, d)).orderBy("src", "rank")

  /** The kNN graph (src, rank, dst, cos), unsorted: every consumer
    * joins, aggregates or checkpoints it, so a global sort would only
    * add a sampling job and a range exchange. */
  def knnGraphOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.sparkSession
    // one count action sizes the geometry. It is not metadata-only:
    // on a parquet-backed frame it runs two AQE jobs, a scan that
    // reads every record and the final aggregate, so building the graph
    // is eager to that extent.
    val planes = planesFor(emb.count())
    val e = embDoubleOf(emb).withColumn("bucket", bucketCol(col("v"), planes))
    val masks = lit(0) +: (0 until planes).map(p => lit(1 << p))
    val a = e.select(col("vec_id").as("src"), col("v").as("av"),
      col("norm").as("anorm"), col("bucket").as("home"))
      .withColumn("probe", explode(array(masks: _*)))
      .withColumn("bucket", col("probe").bitwiseXOR(col("home")))
      .drop("probe", "home")
      .repartition(Materialize.partitions(s), col("bucket"))
    val b = e.select(col("vec_id").as("dst"), col("v").as("bv"),
      col("norm").as("bnorm"), col("bucket"))
    val w = Window.partitionBy("src").orderBy(desc("cos"), col("dst"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos",
        cosine(col("av"), col("anorm"), col("bv"), col("bnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("src"), col("rank"), col("dst"), col("cos"))
  }

  val IvfCells = 10
  val IvfProbes = 2
  val IvfIters = 3
  /** Training-sample cap: k-means cell geometry converges from a few
    * hundred vectors at k=10, so IVF trains on a deterministic
    * ~512-vector sample — the production posture — and only the final
    * assignment pass touches the full corpus. */
  val IvfTrainCap = 512L
  /** Seed for the md5-based sample stride — the md5 primitive (not
    * murmur) so the DuckDB oracle replays the exact sample. */
  val IvfSampleSeed = 7
  /** Training quantization scale (a power of two, so v*Q is EXACT float
    * math in both engines). Centroid sums stay exact-in-double up to
    * ~60k vectors per cell at Dim 64 — the sample cap keeps every
    * training cell far below that. */
  val IvfQuant = 256.0

  /** A trained centroid: exact integer component sums plus the member
    * count — kept as a rational (s, n) instead of a divided-out mean so
    * every cross-engine arithmetic step is one IEEE op over exactly
    * representable operands. */
  case class Centroid(cid: Int, s: Array[Long], n: Long) {
    /** |s|² as an exact long (bounded well under 2^53 at test SFs). */
    def s2: Double = { var t = 0L; var i = 0
      while (i < s.length) { t += s(i) * s(i); i += 1 }; t.toDouble }
  }

  private def quantizeCol(vd: Column): Column =
    transform(vd, x => floor(x * lit(IvfQuant)).cast("long"))

  /** L2² distance (up to the constant |v|² offset — monotone) from a
    * quantized vector to a rational centroid, written as the EXACT
    * expression shape the oracle uses: a2 - 2.0*B/n + C/(n*n), every
    * operand an exactly representable integer, every division a single
    * IEEE op — bit-identical across engines, so argmin ties break the
    * same way everywhere. */
  private def distToCentroid(a2: Column, qvd: Column, c: Centroid): Column = {
    val sd = array(c.s.toIndexedSeq.map(x => lit(x.toDouble)): _*)
    a2 - lit(2.0) * dot(qvd, sd) / lit(c.n.toDouble) +
      lit(c.s2) / lit((c.n * c.n).toDouble)
  }

  /** Cell assignment column for the operand columns (a2, qvd): argmin
    * over the centroid set with (dist, cid) lexicographic tiebreak via
    * least() over structs. */
  private def cellCol(a2: Column, qvd: Column,
      cents: Seq[Centroid]): Column = {
    val structs = cents.map(c =>
      struct(distToCentroid(a2, qvd, c).as("d"), lit(c.cid).as("cid")))
    (if (structs.size == 1) structs.head else least(structs: _*))
      .getField("cid")
  }

  /** Exact-integer Lloyd's k-means, one codebook per subspace: `qt`
    * holds one row per (vector, subspace) — columns sub, qv (that
    * subspace's quantized components), qvd and a2 — and `seeds(m)`
    * seeds subspace m (IVF trains one subspace of [[Dim]], PQ
    * [[PqSub]] of [[PqSubDim]]). Each of the `iters` rounds assigns
    * every row against its own subspace's codebook and re-derives the
    * centroids as exact integer component sums plus counts in ONE
    * aggregate keyed (sub, cell, pos) and one collect. The only
    * driver-side data is that stats table (the standard distributed
    * k-means shape — broadcast centroids out, aggregate sums back). A
    * cell no row lands in drops out. */
  private def lloyd(qt: DataFrame, seeds: IndexedSeq[Seq[Centroid]],
      iters: Int): IndexedSeq[Seq[Centroid]] =
    (1 to iters).foldLeft(seeds) { (books, _) =>
      // exactly one branch matches per row; coalesce picks it
      val cell = coalesce(books.indices.map(m => when(col("sub") === m,
        cellCol(col("a2"), col("qvd"), books(m)))): _*)
      val stats = qt.withColumn("cell", cell)
        .select(col("sub"), col("cell"),
          posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy("sub", "cell", "pos")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      books.indices.map { m =>
        stats(m).groupBy(_.getInt(1)).map {
          case (cell, rows) =>
            Centroid(cell, rows.sortBy(_.getInt(2)).map(_.getLong(3)),
              rows.head.getLong(4))
        }.toSeq.sortBy(_.cid)
      }
    }

  /** Cell assignment for a quantized-vector frame (columns qvd, a2)
    * against a trained centroid set — the probe-side building block. */
  def assignCells(qt: DataFrame, cents: Seq[Centroid]): DataFrame =
    qt.withColumn("cell", cellCol(col("a2"), col("qvd"), cents))

  /** IVF's SAMPLE-trained centroids over a quantized frame (vec_id, qv,
    * qvd, a2). Training on the full corpus would keep every centroid
    * component sum an exact long only up to ~60k vectors/cell at Dim 64
    * / Q 256 (|s| ≤ 256·n, s² must stay ≤ 2^53); a deterministic sample
    * of at most [[IvfTrainCap]] vectors bounds every sum at any corpus
    * size — which is what production IVF does anyway (k-means on the
    * corpus is wasteful; cell geometry converges from a sample).
    *
    * Sampling is a stable HASH stride (md5Hash60(vec_id) % stride == 0),
    * not random(): reproducible across runs, retries, and
    * partitionings, and — unlike a raw id modulus — uniform for ANY id
    * distribution (sparse surrogate ids that are all multiples of the
    * stride would select the whole corpus and silently re-break the
    * exactness envelope). The hash is the shared md5 primitive so the
    * DuckDB oracle replays the exact sample ([[IvfSampleSeed]]). The
    * stride lands the sample size ~[[IvfTrainCap]] in expectation; a
    * deterministic orderBy(vec_id).limit over the already-small sample
    * makes the cap HARD. Seeds are the sample's first [[IvfCells]]
    * vectors by id, cid in id order. The sample frame is materialized
    * once — seeds plus [[IvfIters]] training rounds read it as a scan,
    * not a re-sort. Assignment of the FULL corpus against the sampled
    * centroids stays the same exact expression ([[assignCells]]). */
  def trainedCentroidsSampled(qt: DataFrame): Seq[Centroid] = {
    val n = qt.count()
    val stride = math.max(1L, (n + IvfTrainCap - 1) / IvfTrainCap)
    val train = Materialize(
      qt.filter(md5Hash60(col("vec_id").cast("string"), IvfSampleSeed)
          % lit(stride) === 0)
        .orderBy(col("vec_id")).limit(IvfTrainCap.toInt),
      "ivf_train")
    val seeds = train
      .orderBy(col("vec_id")).limit(IvfCells)
      .select(col("qv")).collect()
      .zipWithIndex
      .map { case (r, i) =>
        Centroid(i, r.getAs[collection.Seq[Long]](0).toArray, 1L) }
      .toSeq
    lloyd(train.withColumn("sub", lit(0)), IndexedSeq(seeds), IvfIters).head
  }

  /** IVF top-k with TRAINED centroids: deterministic Lloyd's k-means
    * ([[IvfIters]] rounds over the [[trainedCentroidsSampled]] sample,
    * seeded from its first [[IvfCells]] vectors) over vectors quantized
    * to integers, so centroid sums are exact and the DuckDB oracle
    * replays the whole training loop bit-for-bit as unrolled CTEs. The
    * query probes its `nprobe` nearest of the [[IvfCells]] trained cells
    * in centroid-distance order (multi-probe) — the recall/cost dial:
    * nprobe = IvfCells degenerates to exact brute force (OpsSpec pins
    * that equivalence), a smaller nprobe scans a smaller corpus
    * fraction. Only probed cells are scanned — the inverted-file ANN
    * layout. At warehouse scale the table is written
    * partitioned/bucketed by `cell`, so a probe touches
    * nprobe/IvfCells of the data; training is a handful of
    * broadcast-out/aggregate-back rounds, the MLlib k-means shape. */
  def ivfTopK(s: SparkSession, d: String,
      nprobe: Int = IvfProbes): DataFrame =
    ivfTopKOf(Tables.embeddings(s, d), nprobe)

  def ivfTopKOf(emb: DataFrame, nprobe: Int = IvfProbes): DataFrame = {
    val e = embDoubleOf(emb)
    val qt = Materialize(
      e.select(col("vec_id"), quantizeCol(col("v")).as("qv"))
        .withColumn("qvd", col("qv").cast("array<double>"))
        .withColumn("a2", dot(col("qvd"), col("qvd"))),
      "ivf_quantized")
    val cents = trainedCentroidsSampled(qt)
    val withCell = e.join(
      assignCells(qt, cents).select("vec_id", "cell"), "vec_id")
    val q = e.filter(col("vec_id") === QueryVecId)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    // the query's nprobe nearest TRAINED cells, by the same exact dist
    val qCells = qt.filter(col("vec_id") === QueryVecId)
      .select(explode(array(cents.map(c =>
        struct(distToCentroid(col("a2"), col("qvd"), c).as("qd"),
          lit(c.cid).as("cid"))): _*)).as("dc"))
      .select(col("dc.qd").as("qd"), col("dc.cid").as("cid"))
      .orderBy(col("qd"), col("cid"))
      .limit(nprobe)
      .select("cid")
    withCell
      .join(broadcast(qCells), col("cell") === col("cid"))
      .filter(col("vec_id") =!= QueryVecId)
      .join(broadcast(q))
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("qv"), col("qnorm")))
      .select(col("vec_id"), col("cell"), col("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(K)
  }

  // ---- oracles ----

  private def signsLiteral(p: Int): String =
    planeSigns(p).map(x => s"$x.0").mkString("[", ",", "]")

  val bruteTopKOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |q AS (SELECT v AS qv, norm AS qnorm FROM e WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id,
       |  list_dot_product(e.v, q.qv) / (sqrt(e.norm) * sqrt(q.qnorm)) AS cos
       |FROM e, q WHERE e.vec_id <> $QueryVecId
       |ORDER BY cos DESC, e.vec_id LIMIT $K""".stripMargin

  /** SQL CTE computing [[planesFor]] over `count(*) FROM table` — the
    * identical clamp(ceil-log2) integer path (bin-string bitlen, no
    * floating log2), so the oracle re-derives the Spark side's
    * geometry from the same corpus count. */
  def planesForSql(table: String, target: Long, lo: Int, hi: Int): String =
    s"""(SELECT greatest($lo, least($hi,
       |    CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)) AS planes
       |  FROM (SELECT (count(*) + ${target - 1}) // $target AS m
       |        FROM $table) t)""".stripMargin

  def knnGraphOracle(): String = {
    // all MaxPlanes terms unroll statically; each contributes only
    // while its index is under the params-CTE plane count — the SQL
    // form of the driver-side planesFor(count) derivation
    val bucketExpr = (0 until MaxPlanes).map { p =>
      s"CASE WHEN $p < p.planes AND list_dot_product(v, ${signsLiteral(p)}) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |p AS ${planesForSql("embeddings", PlanesTargetDocs, MinPlanes, MaxPlanes)},
       |b AS (SELECT vec_id, v, norm, $bucketExpr AS bucket FROM e, p),
       |pairs AS (
       |  SELECT a.vec_id AS src, x.vec_id AS dst,
       |    list_dot_product(a.v, x.v) / (sqrt(a.norm) * sqrt(x.norm)) AS cos
       |  FROM b a JOIN b x
       |    ON bit_count(xor(a.bucket, x.bucket)) <= $KnnProbeRadius AND a.vec_id <> x.vec_id),
       |ranked AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
       |  FROM pairs)
       |SELECT src, rank, dst, cos FROM ranked WHERE rank <= $KnnK
       |ORDER BY src, rank""".stripMargin
  }

  /** SQL of [[distToCentroid]]: row `v` (qvd, a2) against centroid `c`
    * (sd, n). */
  private def distSql(v: String, c: String): String =
    s"$v.a2 - 2.0 * list_dot_product($v.qvd, $c.sd) / $c.n + " +
      s"list_dot_product($c.sd, $c.sd) / ($c.n * $c.n)"

  /** Oracle assignment CTE: every row of `src` to its nearest centroid
    * of `centsCte`, in [[cellCol]]'s (dist, cid) order. */
  private def assignSql(name: String, centsCte: String, src: String): String =
    s"""$name AS (
       |  SELECT v.vec_id, v.qv, v.qvd, v.a2, c.cid AS cell
       |  FROM $src v CROSS JOIN $centsCte c
       |  QUALIFY row_number() OVER (PARTITION BY v.vec_id
       |    ORDER BY ${distSql("v", "c")}, c.cid) = 1)""".stripMargin

  /** Oracle re-centering CTE: exact integer component sums plus counts
    * per cell over `width`-component vectors, one [[lloyd]] round. */
  private def recenterSql(name: String, assignCte: String, width: Int): String =
    s"""$name AS (
       |  SELECT p.cell AS cid, list(p.s ORDER BY p.pos)::DOUBLE[] AS sd, cn.n AS n
       |  FROM (
       |    SELECT cell, ix.pos, sum(qv[ix.pos]) AS s
       |    FROM $assignCte, (SELECT unnest(generate_series(1, $width)) AS pos) ix
       |    GROUP BY cell, ix.pos) p
       |  JOIN (SELECT cell, count(*) AS n FROM $assignCte GROUP BY cell) cn
       |    USING (cell)
       |  GROUP BY p.cell, cn.n)""".stripMargin

  /** The full training loop unrolled as CTEs: same quantization, same
    * md5-stride sample ([[trainedCentroidsSampled]]), same exact
    * rational-centroid distance expression, same (dist, cid) tiebreak —
    * DuckDB re-trains the identical centroids, then replays assignment
    * of the full corpus, probe selection, and scoring. */
  lazy val ivfOracle: String = {
    val rounds = (1 to IvfIters).map { i =>
      assignSql(s"a$i", s"c${i - 1}", "tr") + ",\n" +
        recenterSql(s"c$i", s"a$i", Dim)
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |q0 AS (SELECT vec_id,
       |    list_transform(v, x -> CAST(floor(x * $IvfQuant) AS BIGINT)) AS qv
       |  FROM e),
       |qd AS (SELECT vec_id, qv, qv::DOUBLE[] AS qvd,
       |    list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS a2 FROM q0),
       |tr AS (SELECT qd.* FROM qd
       |  WHERE ('0x' || substr(md5('$IvfSampleSeed' || ':' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % greatest(1, ((SELECT count(*) FROM qd) + $IvfTrainCap - 1) // $IvfTrainCap) = 0
       |  ORDER BY vec_id LIMIT $IvfTrainCap),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
       |    qvd AS sd, CAST(1 AS BIGINT) AS n
       |  FROM (SELECT vec_id, qvd FROM tr ORDER BY vec_id LIMIT $IvfCells)),
       |$rounds,
       |${assignSql("afin", s"c$IvfIters", "qd")},
       |q AS (SELECT v AS qv, norm AS qnorm FROM e WHERE vec_id = $QueryVecId),
       |qq AS (SELECT qvd, a2 FROM qd WHERE vec_id = $QueryVecId),
       |qcells AS (
       |  SELECT c.cid FROM c$IvfIters c CROSS JOIN qq v
       |  ORDER BY ${distSql("v", "c")}, c.cid
       |  LIMIT $IvfProbes)
       |SELECT e.vec_id, a.cell,
       |  list_dot_product(e.v, q.qv) / (sqrt(e.norm) * sqrt(q.qnorm)) AS cos
       |FROM e
       |JOIN afin a ON e.vec_id = a.vec_id
       |JOIN qcells ON a.cell = qcells.cid, q
       |WHERE e.vec_id <> $QueryVecId
       |ORDER BY cos DESC, e.vec_id LIMIT $K""".stripMargin
  }

  val lshTopKOracle: String = {
    val bucketExpr = (0 until Planes).map { p =>
      s"CASE WHEN list_dot_product(v, ${signsLiteral(p)}) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, norm, $bucketExpr AS bucket FROM e),
       |q AS (SELECT v AS qv, norm AS qnorm, bucket AS qbucket FROM b WHERE vec_id = $QueryVecId)
       |SELECT b.vec_id,
       |  list_dot_product(b.v, q.qv) / (sqrt(b.norm) * sqrt(q.qnorm)) AS cos
       |FROM b, q
       |WHERE b.vec_id <> $QueryVecId AND bit_count(xor(b.bucket, q.qbucket)) <= 1
       |ORDER BY cos DESC, b.vec_id LIMIT $K""".stripMargin
  }

  /** Fixed-point scale and iteration count for [[knnPagerank]]: ranks
    * live in integer millionths, five damped power-iteration rounds. */
  val PrScale = 1000000L
  val PrIters = 5

  /** g1 — PageRank centrality over the kNN similarity graph, in
    * INTEGER fixed-point: rank(v) ← 0.15 + 0.85·Σ_{u→v} rank(u)/deg(u)
    * with every step floor integer arithmetic (per-edge contribution
    * `rank div deg`, damping as `(85·m) div 100` on millionth-scaled
    * ranks). Centrality over the similarity graph is the curation view
    * of "template/hub documents": a vector many others count among
    * their nearest neighbors collects rank — exactly the boilerplate
    * cluster centers dd5/dd8 find by threshold, but RANKED.
    *
    * Integer fixed-point is what makes this oracle-checkable at all:
    * float PageRank sums in data order and no two engines agree on the
    * last ulp; floor-integer steps are bit-identical everywhere, at
    * ~1e-6 rank precision nobody misses. Dangling mass (vectors with
    * no out-edges — impossible here, kNN gives every node k edges) and
    * the leaked remainder of each floor division are NOT redistributed:
    * totals drift a few millionths per round, ranks stay comparable.
    *
    * Shape: the unsorted kNN edge list materializes once as `pr_edges`
    * (the degree join reads it twice); each round is one
    * keyed join rank⋈edges + one (dst)-keyed aggregation + a left join
    * back to the node set — all shuffles on vec_id-sized keys, driver
    * holds nothing. Rounds materialize like [[Dedup.labelPropagation]]
    * so lineage stays bounded at any iteration count. */
  def knnPagerank(s: SparkSession, d: String): DataFrame =
    knnPagerankOf(graft.Tables.embeddings(s, d))

  def knnPagerankOf(emb: DataFrame, iters: Int = PrIters): DataFrame =
    pagerankOf(
      Materialize(knnGraphOf(emb).select("src", "dst"), "pr_edges"),
      emb.select("vec_id"), iters)

  /** The damped floor-integer power iteration over an explicit edge
    * list — [[knnPagerankOf]] minus the graph build, directly
    * spec-testable against hand-computed integer ranks. */
  def pagerankOf(edges: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val ed = degreeEdges(edges, "pr_edges_deg")
    // the node universe is read by every round's left join — one scan,
    // not one per round
    val nd = Materialize(nodes, "pr_nodes")
    var ranks = nd.withColumn("r", lit(PrScale))
    for (i <- 0 until iters)
      ranks = pagerankRound(ed, nd, ranks, s"pr_round_$i")
    ranks.select(col("vec_id"), col("r").as("pagerank")).orderBy("vec_id")
  }

  /** The round-invariant degree-annotated edge list (src, dst, d),
    * materialized ONCE so every round's contribution join reads a
    * checkpoint (already src-partitioned from the degree aggregate —
    * the join reuses that layout) instead of re-running the degree
    * groupBy + join per round. */
  private def degreeEdges(edges: DataFrame, name: String): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    Materialize(edges.join(deg, "src"), name)
  }

  /** One damped floor-integer round shared by g1 and g13: ranks
    * (vec_id, r) → the next round's ranks over node set `nd`,
    * materialized as `name` so lineage stays bounded. */
  private def pagerankRound(ed: DataFrame, nd: DataFrame, ranks: DataFrame,
      name: String): DataFrame = {
    val contrib = ed
      .join(ranks.withColumnRenamed("vec_id", "src"), "src")
      .select(col("dst"), expr("r div d").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("m"))
    Materialize(
      nd
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(PrScale * 15 / 100) +
            expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r")),
      name)
  }

  /** DuckDB replay of g1: the sim4 edge CTE, the same floor-integer
    * rounds unrolled (sums pass through HUGEINT and cast back — the
    * values are bounded by 85 × total mass ≈ 2e11, well inside
    * BIGINT). */
  /** The shared WITH-body of the g1/g13 oracles: edge CTE, degrees,
    * node universe, and the unrolled floor-integer rounds r0..rN. */
  private def prRoundsCte(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""r$t AS (
         |  SELECT n.vec_id,
         |    ${PrScale * 15 / 100} +
         |      CAST((85 * coalesce(s$t.m, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT eg.dst, sum(r${t - 1}.r // deg.d) AS m
         |    FROM eg JOIN deg USING (src)
         |    JOIN r${t - 1} ON eg.src = r${t - 1}.vec_id
         |    GROUP BY eg.dst) s$t ON n.vec_id = s$t.dst)""".stripMargin
    }.mkString(",\n")
    s"""eg AS (SELECT src, dst FROM (
       |${knnGraphOracle()}
       |) kg),
       |deg AS (SELECT src, count(*) AS d FROM eg GROUP BY src),
       |nodes AS (SELECT vec_id FROM embeddings),
       |r0 AS (SELECT vec_id, CAST($PrScale AS BIGINT) AS r FROM nodes),
       |$rounds""".stripMargin
  }

  def knnPagerankOracle(iters: Int = PrIters): String =
    s"""WITH ${prRoundsCte(iters)}
       |SELECT vec_id, r AS pagerank FROM r$iters ORDER BY vec_id""".stripMargin

  /** Movement threshold for [[pagerankResiduals]]' n_moved column:
    * 1000 millionths = 1e-3 of the unit rank. */
  val PrMoveEps = 1000L

  /** g13 — PageRank CONVERGENCE audit: per power-iteration round, the
    * exact L1 residual Σ|r_t − r_{t−1}|, the max per-node movement,
    * and how many nodes moved more than [[PrMoveEps]] millionths.
    * This is the operational readout g1 hides: it tells you the
    * iteration count the corpus actually needs (the judge of
    * "PrIters = 5" as a config), and a residual that plateaus high
    * flags oscillating structure (bipartite-ish duplicate rings)
    * before anyone trusts the ranks. All integer fixed-point like g1
    * itself, so every residual is exact cross-engine. Shape: the same
    * materialized rounds g1 already pays, plus one keyed self-join +
    * O(1)-row aggregate per round — output is `iters` rows. */
  def pagerankResiduals(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val edges = Materialize(knnGraphOf(emb).select("src", "dst"),
      "g13_edges")
    pagerankResidualsOf(edges, emb.select("vec_id"), PrIters)
  }

  /** [[pagerankResiduals]] over an explicit edge list. */
  def pagerankResidualsOf(edges: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val ed = degreeEdges(edges, "g13_edges_deg")
    // node universe: one scan for all rounds (round 0 IS the node set
    // plus a literal, so its checkpoint serves as both)
    var ranks = Materialize(nodes.withColumn("r", lit(PrScale)),
      "g13_round_0")
    val nd = ranks.select("vec_id")
    val stats = (1 to iters).map { i =>
      val next = pagerankRound(ed, nd, ranks, s"g13_round_$i")
      val st = next
        .join(ranks.select(col("vec_id"), col("r").as("rp")), "vec_id")
        .agg(sum(abs(col("r") - col("rp"))).as("l1_residual"),
          max(abs(col("r") - col("rp"))).as("max_delta"),
          sum(when(abs(col("r") - col("rp")) > PrMoveEps, 1L)
            .otherwise(0L)).as("n_moved"))
        .select(lit(i.toLong).as("round"), col("l1_residual"),
          col("max_delta"), col("n_moved"))
      ranks = next
      st
    }
    stats.reduce(_ unionAll _).orderBy("round")
  }

  def pagerankResidualsOracle(iters: Int = PrIters): String = {
    val rows = (1 to iters).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS round,
         |  CAST(sum(abs(a.r - b.r)) AS BIGINT) AS l1_residual,
         |  CAST(max(abs(a.r - b.r)) AS BIGINT) AS max_delta,
         |  CAST(sum(CASE WHEN abs(a.r - b.r) > $PrMoveEps THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_moved
         |FROM r$t a JOIN r${t - 1} b USING (vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${prRoundsCte(iters)}
       |SELECT * FROM (
       |$rows
       |) ORDER BY round""".stripMargin
  }

  /** Quantization scale for [[labelCentroids]]: components become
    * round(v·10⁶) integers, so centroid SUMS are exact (a raw double
    * sum would be partition-order-dependent — the one thing a
    * hash-matched aggregate can never be). */
  val CentroidScale = 1000000L

  /** sim5 — label-centroid separation audit (the domain-drift /
    * cluster-separation readout a curation pipeline checks before
    * trusting label-stratified sampling): per label, the centroid of
    * its embeddings with components quantized to exact integers; per
    * label pair, the cosine between centroids. The scale factor
    * cancels in the cosine, so quantization costs ~1e-6 relative
    * error while buying bit-exact cross-engine aggregation.
    *
    * Shape: one posexplode to (label, dim, q) — 64 rows per vector —
    * then a hash aggregate on (label, dim) with map-side partials, a
    * gather to O(labels) centroid rows, and an O(labels²) self-join.
    * Everything after the first aggregate is constant-sized; the
    * explode stage is the linear scan that dominates, exactly as it
    * should at 100 TB. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    labelCentroidsOf(Tables.embeddings(s, d))

  /** [[labelCentroids]] over an explicit embeddings frame. */
  /** Shared per-label centroid table (label, n_vecs, cv): exact
    * integer component sums (the [[CentroidScale]] quantization makes
    * the sums partition-order-independent) rendered as a double array
    * — cosine against it needs no division by n (scale-invariant). */
  private def centroidTable(emb: DataFrame): DataFrame = {
    val q = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        round(col("v").cast("double") * lit(CentroidScale.toDouble))
          .cast("long").as("q"))
    q.groupBy("label", "dim")
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(max(col("n")).as("n_vecs"),
        transform(sort_array(collect_list(struct(col("dim"), col("sq")))),
          e => e.getField("sq").cast("double")).as("cv"))
  }

  def labelCentroidsOf(emb: DataFrame): DataFrame = {
    val cent = centroidTable(emb)
    val a = cent.toDF("label_a", "n_a", "cva")
    val b = cent.toDF("label_b", "n_b", "cvb")
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (dot(col("cva"), col("cvb")) /
          (sqrt(dot(col("cva"), col("cva"))) *
            sqrt(dot(col("cvb"), col("cvb"))))).as("cos_centroid"))
      .orderBy("label_a", "label_b")
  }

  /** Shared SQL fragment mirroring [[centroidTable]]: CTEs q/s/c with
    * c = (label, n_vecs, cv). */
  private lazy val centroidCtes: String =
    s"""q AS (
       |  SELECT label, i AS dim,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $CentroidScale)
       |              AS BIGINT) AS q
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |s AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq,
       |             count(*) AS n
       |      FROM q GROUP BY label, dim),
       |c AS (SELECT label, max(n) AS n_vecs,
       |             list(CAST(sq AS DOUBLE) ORDER BY dim) AS cv
       |      FROM s GROUP BY label)""".stripMargin

  lazy val labelCentroidsOracle: String =
    s"""WITH $centroidCtes
       |SELECT a.label AS label_a, b.label AS label_b,
       |       a.n_vecs AS n_a, b.n_vecs AS n_b,
       |       list_dot_product(a.cv, b.cv) /
       |         (sqrt(list_dot_product(a.cv, a.cv)) *
       |          sqrt(list_dot_product(b.cv, b.cv))) AS cos_centroid
       |FROM c a JOIN c b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin

  /** Seed + stride for [[knnRecallAudit]]'s deterministic query sample
    * (~1/16 of the corpus via the md5 primitive, oracle-replayable). */
  val RecallSampleSeed = 41
  val RecallSampleStride = 16L

  /** sim6 — ANN recall@k audit, the similarity-path sibling of dd17:
    * exact brute-force top-[[KnnK]] for a SAMPLED query set vs the
    * sim4 kNN graph's bucketed approximation, reported as the
    * distribution of per-query matched counts (0..k) with shares.
    * This is the standard ANN benchmark harness made into an operator:
    * exact ground truth is only affordable on a sample — truth cost is
    * O(sample × corpus) BY DESIGN (the one deliberate brute-force
    * join in the library; the sampled side broadcasts, the corpus
    * side streams, so it is still one scan + a keyed window). The
    * approximate side reuses [[knnGraphOf]] unchanged — the audit
    * measures the production operator, not a reimplementation. Both
    * sides rank by (cos DESC, dst), so ties resolve identically and
    * recall is well-defined. The closing share division is long/long;
    * the ≤k+1-row total rides a window over the tiny aggregate. */
  def knnRecallAudit(s: SparkSession, d: String): DataFrame =
    knnRecallAuditOf(Tables.embeddings(s, d))

  def knnRecallAuditOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embDoubleOf(emb)
    val samp = e
      .filter(pmod(md5Hash60(col("vec_id").cast("string"), RecallSampleSeed),
        lit(RecallSampleStride)) === 0)
      .select(col("vec_id").as("src"), col("v").as("sv"),
        col("norm").as("snorm"))
    val w = Window.partitionBy("src").orderBy(desc("cos"), col("dst"))
    val truth = e
      .select(col("vec_id").as("dst"), col("v"), col("norm"))
      .join(broadcast(samp), col("dst") =!= col("src"))
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("sv"), col("snorm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select("src", "dst")
    val approx = knnGraphOf(emb)
      .select(col("src"), col("dst"), lit(1L).as("hit"))
    val perQuery = truth
      .join(approx, Seq("src", "dst"), "left")
      .groupBy("src")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
    perQuery
      .groupBy("n_matched")
      .agg(count(lit(1)).as("n_queries"))
      .withColumn("share",
        col("n_queries") / sum(col("n_queries")).over(Window.partitionBy()))
      .orderBy("n_matched")
  }

  def knnRecallAuditOracle(): String =
    s"""WITH g AS (
       |${knnGraphOracle()}
       |),
       |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |samp AS (SELECT vec_id, v, norm FROM e2
       |  WHERE ('0x' || substr(md5('$RecallSampleSeed' || ':' ||
       |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % $RecallSampleStride = 0),
       |truth AS (
       |  SELECT src, dst FROM (
       |    SELECT s.vec_id AS src, e2.vec_id AS dst,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY list_dot_product(e2.v, s.v) /
       |          (sqrt(e2.norm) * sqrt(s.norm)) DESC, e2.vec_id) AS rk
       |    FROM samp s JOIN e2 ON e2.vec_id <> s.vec_id) t
       |  WHERE rk <= $KnnK),
       |m AS (SELECT t.src, CAST(count(g.dst) AS BIGINT) AS n_matched
       |      FROM truth t LEFT JOIN g ON t.src = g.src AND t.dst = g.dst
       |      GROUP BY t.src)
       |SELECT n_matched, count(*) AS n_queries,
       |       count(*) / CAST(sum(count(*)) OVER () AS BIGINT) AS share
       |FROM m GROUP BY n_matched ORDER BY n_matched""".stripMargin

  /** sim7 — cluster-assignment margin audit (the per-POINT face of
    * sim5's centroid-pair view): for every vector, cosine to its own
    * label's centroid minus the best cosine to any OTHER centroid —
    * positive = the label holds for this point, negative = the point
    * sits closer to another label's center (a candidate label error or
    * domain-drift victim). Per label: vector count, misassigned count,
    * and the exact integer sum of e-6-quantized margins. This is the
    * simplified-silhouette screen run before trusting label-stratified
    * operations (tx5 splits, smp1 balancing, sim5's own centroids).
    *
    * Determinism: centroids are [[CentroidScale]]-quantized EXACT
    * integer sums (cosine is scale-invariant, so no division by n ever
    * happens); per-point cosines are identical IEEE trees both
    * engines; each margin quantizes to a long BEFORE the per-label sum
    * so the rollup is exact-integer (a raw double sum would be
    * partition-order-dependent). Cost: one centroid aggregation +
    * an L-row broadcast fanout per point + two keyed aggregates —
    * linear in corpus × labels, no shuffle of the vectors themselves
    * beyond the final per-label rollup. */
  def clusterMargins(s: SparkSession, d: String): DataFrame =
    clusterMarginsOf(Tables.embeddings(s, d))

  def clusterMarginsOf(emb: DataFrame): DataFrame = {
    val cent = centroidTable(emb)
      .select(col("label").as("c_label"), col("cv"))
    val e = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val x = e.join(broadcast(cent))
      .withColumn("cos",
        dot(col("v"), col("cv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("cv"), col("cv")))))
    x.groupBy("vec_id", "label")
      .agg(
        max(when(col("c_label") === col("label"), col("cos"))).as("cos_own"),
        max(when(col("c_label") =!= col("label"), col("cos"))).as("cos_other"))
      .withColumn("margin_e6",
        round((col("cos_own") - col("cos_other")) * lit(CentroidScale.toDouble))
          .cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("margin_e6") < 0, 1L).otherwise(0L)).as("n_misassigned"),
        sum(col("margin_e6")).as("sum_margin_e6"))
      .orderBy("label")
  }

  lazy val clusterMarginsOracle: String =
    s"""WITH $centroidCtes,
       |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (SELECT e.vec_id, e.label AS own_label, c.label AS c_label,
       |        list_dot_product(e.v, c.cv) /
       |          (sqrt(list_dot_product(e.v, e.v)) *
       |           sqrt(list_dot_product(c.cv, c.cv))) AS cos
       |      FROM e, c),
       |m AS (SELECT vec_id, own_label,
       |        max(CASE WHEN c_label = own_label THEN cos END) AS cos_own,
       |        max(CASE WHEN c_label <> own_label THEN cos END) AS cos_other
       |      FROM x GROUP BY 1, 2),
       |p AS (SELECT own_label AS label,
       |        CAST(round((cos_own - cos_other) * $CentroidScale) AS BIGINT)
       |          AS margin_e6
       |      FROM m)
       |SELECT label, count(*) AS n_vecs,
       |       CAST(sum(CASE WHEN margin_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_misassigned,
       |       CAST(sum(margin_e6) AS BIGINT) AS sum_margin_e6
       |FROM p GROUP BY label ORDER BY label""".stripMargin

  // ----- sim8: product quantization + asymmetric distance (ADC) -----

  /** PQ geometry: [[Dim]] splits into [[PqSub]] subspaces of
    * [[PqSubDim]] dims; each trains its own [[PqCodes]]-entry codebook
    * ([[PqIters]] Lloyd rounds of IVF's exact-integer trainer).
    * A vector compresses to PqSub codes — log2(PqCodes)·PqSub bits —
    * and search scores candidates from codebook lookups instead of
    * touching the raw vectors: the FAISS IVF-PQ memory model, the only
    * way 100 TB of float embeddings fits a serving tier. */
  val PqSub = 4
  val PqSubDim: Int = Dim / PqSub
  val PqCodes = 8
  val PqIters = 2

  /** sim8 — PQ-encode the corpus and rank the query's neighbours by
    * asymmetric distance: adc(v) = Σ_m dist(query_m, codebook_m[
    * code_m(v)]), each term the same exact rational-centroid expression
    * IVF uses, summed in fixed subspace order so both engines add the
    * same doubles in the same order. The true cosine rides along as
    * the audit column (the spec quantifies ADC's ranking agreement).
    * Scale shape: one seed collect, then [[PqIters]] broadcast-out/
    * aggregate-back rounds that train every subspace at once over one
    * row-per-subspace seam; encoding is one codegen projection per
    * vector; the ADC score touches only
    * the PqSub code columns + the broadcast codebooks — candidate
    * scoring never reads the raw vectors. */
  def pqTopK(s: SparkSession, d: String): DataFrame =
    pqTopKOf(Tables.embeddings(s, d))

  def pqTopKOf(emb: DataFrame): DataFrame = {
    val e = embDoubleOf(emb)
    val qtFull = Materialize(
      e.select(col("vec_id"), quantizeCol(col("v")).as("qv")),
      "pq_quantized")
    def subCols(m: Int): (Column, Column) = {
      val qvd = slice(col("qv"), m * PqSubDim + 1, PqSubDim)
        .cast("array<double>")
      (qvd, dot(qvd, qvd))
    }
    // seeds = the first PqCodes vectors by id (cid = vec_id), one
    // collect sliced per subspace
    val seeds = qtFull.filter(col("vec_id") < PqCodes)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0).toInt, r.getAs[collection.Seq[Long]](1).toArray))
      .sortBy(_._1).toSeq
    // every subspace trains from one seam, a row per (vector, subspace),
    // so each round reads the slices and their norms: exploding the
    // subspaces inside the round recomputes them per centroid and ran
    // sim8 at 2.8 s p50 against 1.3 s (sf0.1, 4 cores)
    val perSub = (0 until PqSub).map(m => struct(lit(m).as("sub"),
      slice(col("qv"), m * PqSubDim + 1, PqSubDim).as("qv")))
    val subs = Materialize(
      qtFull.select(explode(array(perSub: _*)).as("x"))
        .select(col("x.sub").as("sub"), col("x.qv").as("qv"))
        .withColumn("qvd", col("qv").cast("array<double>"))
        .withColumn("a2", dot(col("qvd"), col("qvd"))),
      "pq_subs")
    val codebooks = lloyd(subs, (0 until PqSub).map { m =>
      seeds.map { case (cid, qv) =>
        Centroid(cid, qv.slice(m * PqSubDim, (m + 1) * PqSubDim), 1L) }
    }, PqIters)
    // encode: PqSub code columns out of one projection over qv
    val coded = (0 until PqSub).foldLeft(qtFull) { (df, m) =>
      val (qvd, a2) = subCols(m)
      df.withColumn(s"code$m", cellCol(a2, qvd, codebooks(m)))
    }.select(col("vec_id") +: (0 until PqSub).map(m => col(s"code$m")): _*)
    // the query row's per-subspace operands, broadcast once
    val q = (0 until PqSub).foldLeft(
      qtFull.filter(col("vec_id") === QueryVecId)) { (df, m) =>
      val (qvd, a2) = subCols(m)
      df.withColumn(s"qqvd$m", qvd).withColumn(s"qa2$m", a2)
    }.select((0 until PqSub).flatMap(m =>
      Seq(col(s"qqvd$m"), col(s"qa2$m"))): _*)
    // adc = fixed-order sum over subspaces of the code's table entry
    val adc = (0 until PqSub).map { m =>
      // exactly one branch matches per row; coalesce picks it
      coalesce(codebooks(m).map(c =>
        when(col(s"code$m") === c.cid,
          distToCentroid(col(s"qa2$m"), col(s"qqvd$m"), c))): _*)
    }.reduce(_ + _)
    val truth = e.select(col("vec_id"), col("v"), col("norm"))
    val qv = e.filter(col("vec_id") === QueryVecId)
      .select(col("v").as("tqv"), col("norm").as("tqnorm"))
    coded
      .filter(col("vec_id") =!= QueryVecId)
      .join(broadcast(q))
      .withColumn("adc", adc)
      .join(truth, "vec_id")
      .join(broadcast(qv))
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("tqv"), col("tqnorm")))
      .select(col("vec_id") +:
        (0 until PqSub).map(m => col(s"code$m").cast("int")) :+
        col("adc") :+ col("cos"): _*)
      .orderBy(col("adc"), col("vec_id"))
      .limit(K)
  }

  /** DuckDB replay of sim8: per-subspace training unrolled as CTEs
    * (same seeds, same exact distance, same (dist, cid) tiebreak),
    * encoding via QUALIFY argmin, the same fixed-order ADC sum, true
    * cosine audit, same output order. */
  val pqTopKOracle: String = {
    def sub(m: Int) =
      s"""s$m AS (SELECT vec_id, qv[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS qv,
         |    qv[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]::DOUBLE[] AS qvd,
         |    list_dot_product(qv[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]::DOUBLE[],
         |      qv[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]::DOUBLE[]) AS a2
         |  FROM q0)""".stripMargin
    def c0(m: Int) =
      s"""c${m}_0 AS (SELECT CAST(vec_id AS INT) AS cid, qvd AS sd,
         |    CAST(1 AS BIGINT) AS n
         |  FROM s$m WHERE vec_id < $PqCodes)""".stripMargin
    val training = (0 until PqSub).map { m =>
      val rounds = (1 to PqIters).map { i =>
        assignSql(s"a${m}_$i", s"c${m}_${i - 1}", s"s$m") + ",\n" +
          recenterSql(s"c${m}_$i", s"a${m}_$i", PqSubDim)
      }.mkString(",\n")
      s"${sub(m)},\n${c0(m)},\n$rounds,\n" +
        assignSql(s"enc$m", s"c${m}_$PqIters", s"s$m")
    }.mkString(",\n")
    val qsubs = (0 until PqSub).map(m =>
      s"qq$m AS (SELECT qvd, a2 FROM s$m WHERE vec_id = $QueryVecId)")
      .mkString(",\n")
    val adcTerms = (0 until PqSub).map { m =>
      s"""(SELECT ${distSql(s"qq$m", "c")} FROM c${m}_$PqIters c, qq$m
         |   WHERE c.cid = enc$m.cell)""".stripMargin
    }.mkString(" + ")
    val encJoins = (1 until PqSub)
      .map(m => s"JOIN enc$m ON enc$m.vec_id = enc0.vec_id").mkString("\n")
    val codeCols = (0 until PqSub)
      .map(m => s"CAST(enc$m.cell AS INT) AS code$m").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |q0 AS (SELECT vec_id,
       |    list_transform(v, x -> CAST(floor(x * $IvfQuant) AS BIGINT)) AS qv
       |  FROM e),
       |$training,
       |$qsubs,
       |tq AS (SELECT v AS tqv, norm AS tqnorm FROM e WHERE vec_id = $QueryVecId)
       |SELECT enc0.vec_id, $codeCols,
       |  $adcTerms AS adc,
       |  list_dot_product(e.v, tq.tqv) / (sqrt(e.norm) * sqrt(tq.tqnorm)) AS cos
       |FROM enc0
       |$encJoins
       |JOIN e ON e.vec_id = enc0.vec_id, tq
       |WHERE enc0.vec_id <> $QueryVecId
       |ORDER BY adc, enc0.vec_id LIMIT $K""".stripMargin
  }

  /** Seed + stride for [[tripletMining]]'s deterministic anchor sample
    * (distinct from sim6's so the two audits don't share anchors). */
  val TripletSampleSeed = 43
  val TripletSampleStride = 16L

  /** sim9 — hard TRIPLET mining for metric learning: for each sampled
    * anchor, the HARDEST positive (same-label vector with the LOWEST
    * cosine — the pair the embedding must pull together) and the
    * HARDEST negative (different-label vector with the HIGHEST cosine
    * — the pair it must push apart), plus the margin and its violation
    * flag. This is the batch-construction step of triplet/contrastive
    * training (FaceNet-style semi-hard mining done corpus-side):
    * [[graft.ops.Sampling.negativeSampling]] draws RANDOM relational
    * negatives; this mines the hardest ones in embedding space, which
    * is what actually moves a metric model late in training.
    *
    * Scale shape: anchors are a deterministic md5 sample (~1/16) that
    * BROADCASTS; the corpus streams through one scan against it (the
    * sim6 sampled-brute-force discipline — exact truth is affordable
    * on a sample, and the one cross join is the deliberate one). Both
    * argmaxes ride ONE hash aggregation as lexicographic struct
    * extrema over (cos, dst) — no per-anchor window, no sort. Cosines
    * are the fixed sim1 IEEE tree; ties break on dst in both engines
    * (struct order = ORDER BY cos, dst). */
  def tripletMining(s: SparkSession, d: String): DataFrame =
    tripletMiningOf(Tables.embeddings(s, d))

  /** [[tripletMining]] over an explicit embeddings frame. */
  def tripletMiningOf(emb: DataFrame): DataFrame = {
    val e = embDoubleOf(emb)
    val anchors = e
      .filter(pmod(md5Hash60(col("vec_id").cast("string"), TripletSampleSeed),
        lit(TripletSampleStride)) === 0)
      .select(col("vec_id").as("src"), col("label").as("src_label"),
        col("v").as("sv"), col("norm").as("snorm"))
    val scoredPairs = e
      .select(col("vec_id").as("dst"), col("label").as("dst_label"),
        col("v"), col("norm"))
      .join(broadcast(anchors), col("dst") =!= col("src"))
      .withColumn("cos",
        cosine(col("v"), col("norm"), col("sv"), col("snorm")))
    val mined = scoredPairs
      .groupBy("src", "src_label")
      .agg(
        min(when(col("dst_label") === col("src_label"),
          struct(col("cos"), col("dst")))).as("pos"),
        max(when(col("dst_label") =!= col("src_label"),
          struct(col("cos"), col("dst")))).as("neg"))
    mined.select(col("src"), col("src_label"),
        col("pos.dst").as("pos_id"), col("pos.cos").as("pos_cos"),
        col("neg.dst").as("neg_id"), col("neg.cos").as("neg_cos"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .withColumn("violation",
        when(col("pos_cos").isNotNull && col("neg_cos").isNotNull,
          when(col("neg_cos") > col("pos_cos"), 1L).otherwise(0L)))
      .orderBy("src")
  }

  /** sim10 — embedding-space CENTROID drift between two ingestion
    * halves (vec_id parity — the deterministic batch-A/batch-B split
    * a refreshed corpus gives for free): per label, the cosine
    * between the two halves' centroids plus both support counts.
    * This closes the drift-audit family's last axis: rc2 watches
    * column statistics, dq5 categorical mixes, dq7 continuous
    * distributions — this watches the REPRESENTATION itself (an
    * embedding-model upgrade or upstream domain shift moves label
    * centroids long before accuracy metrics catch it).
    *
    * Determinism: the sim5 discipline — centroids stay
    * [[CentroidScale]]-quantized exact integer component SUMS (cosine
    * is scale-invariant, so the mean's division never happens), the
    * cosine is the one fixed IEEE tree. The per-(label, half) sum
    * table is materialized once (O(labels·2·Dim) rows) so the
    * half-vs-half join doesn't replay the corpus explode (the a29/dq7
    * fork rule). Labels with a missing half (all vectors on one
    * parity) emit NULL cosine. */
  def centroidDrift(s: SparkSession, d: String): DataFrame =
    centroidDriftOf(Tables.embeddings(s, d))

  /** [[centroidDrift]] over an explicit embeddings frame. */
  def centroidDriftOf(emb: DataFrame): DataFrame = {
    val cent = Materialize(
      emb
        .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("half"), col("dim"),
          round(col("v").cast("double") * lit(CentroidScale.toDouble))
            .cast("long").as("q"))
        .groupBy("label", "half", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .groupBy("label", "half")
        .agg(max(col("n")).as("n_vecs"),
          transform(sort_array(collect_list(struct(col("dim"), col("sq")))),
            e => e.getField("sq").cast("double")).as("cv")),
      "centroid_halves")
    val a = cent.filter(col("half") === 0L)
      .select(col("label"), col("n_vecs").as("n_a"), col("cv").as("cva"))
    val b = cent.filter(col("half") === 1L)
      .select(col("label"), col("n_vecs").as("n_b"), col("cv").as("cvb"))
    a.join(b, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("cva").isNotNull && col("cvb").isNotNull,
          dot(col("cva"), col("cvb")) /
            (sqrt(dot(col("cva"), col("cva"))) *
              sqrt(dot(col("cvb"), col("cvb"))))).as("cos_drift"))
      .orderBy("label")
  }

  lazy val centroidDriftOracle: String =
    s"""WITH q AS (
       |  SELECT label, vec_id % 2 AS half, i AS dim,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $CentroidScale)
       |              AS BIGINT) AS q
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |s AS (SELECT label, half, dim, CAST(sum(q) AS BIGINT) AS sq,
       |             count(*) AS n
       |      FROM q GROUP BY label, half, dim),
       |c AS (SELECT label, half, max(n) AS n_vecs,
       |             list(CAST(sq AS DOUBLE) ORDER BY dim) AS cv
       |      FROM s GROUP BY label, half),
       |a AS (SELECT label, n_vecs AS n_a, cv AS cva FROM c WHERE half = 0),
       |b AS (SELECT label, n_vecs AS n_b, cv AS cvb FROM c WHERE half = 1)
       |SELECT coalesce(a.label, b.label) AS label,
       |  CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
       |  CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
       |  CASE WHEN cva IS NOT NULL AND cvb IS NOT NULL THEN
       |    list_dot_product(cva, cvb) /
       |      (sqrt(list_dot_product(cva, cva))
       |       * sqrt(list_dot_product(cvb, cvb))) END AS cos_drift
       |FROM a FULL OUTER JOIN b ON a.label = b.label
       |ORDER BY label""".stripMargin

  val tripletMiningOracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm
       |  FROM embeddings),
       |a AS (SELECT vec_id AS src, label AS src_label, v AS sv,
       |             norm AS snorm
       |  FROM e
       |  WHERE ('0x' || substr(md5('$TripletSampleSeed' || ':' ||
       |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
       |    % $TripletSampleStride = 0),
       |sc AS (
       |  SELECT a.src, a.src_label, e.vec_id AS dst, e.label AS dst_label,
       |    list_dot_product(e.v, a.sv) / (sqrt(e.norm) * sqrt(a.snorm))
       |      AS cos
       |  FROM a JOIN e ON e.vec_id <> a.src),
       |pos AS (
       |  SELECT src, dst AS pos_id, cos AS pos_cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos ASC, dst ASC) AS rk
       |    FROM sc WHERE dst_label = src_label) t WHERE rk = 1),
       |neg AS (
       |  SELECT src, dst AS neg_id, cos AS neg_cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst DESC) AS rk
       |    FROM sc WHERE dst_label <> src_label) t WHERE rk = 1)
       |SELECT a.src, a.src_label, pos_id, pos_cos, neg_id, neg_cos,
       |  pos_cos - neg_cos AS margin,
       |  CASE WHEN pos_cos IS NOT NULL AND neg_cos IS NOT NULL
       |       THEN CASE WHEN neg_cos > pos_cos THEN 1 ELSE 0 END END
       |    AS violation
       |FROM a LEFT JOIN pos ON pos.src = a.src
       |       LEFT JOIN neg ON neg.src = a.src
       |ORDER BY a.src""".stripMargin

  /** Truncated dimensionality for [[truncationAudit]]: audit the first
    * half of the embedding (the matryoshka "prefix" a pipeline would
    * ship to halve its ANN index). */
  val TruncDims = Dim / 2

  /** sim12 — MATRYOSHKA truncation audit: how faithful is cosine over
    * the first [[TruncDims]] dimensions to full-width cosine, measured
    * ON the kNN graph (the edges an index actually serves)? Per rank:
    * edge count, τ-threshold agreement (full / half / both ≥
    * [[RangeTau]] — exact integer counts), and ORDER INVERSIONS (the
    * half-width score rising where the full-width rank falls — the
    * statistic that predicts re-ranking cost after truncation). The
    * audit a team runs before switching the index to truncated
    * vectors: high both/full agreement + few inversions ⟹ truncate and
    * re-rank cheaply; otherwise keep full width.
    *
    * Scale: the kNN graph materializes once (honest stats), the halved
    * vector table joins keyed under the stats-gated hint, the rank-lag
    * window is per-src (k rows each), and the output is ≤ k rows. Zero
    * half-norms (possible for adversarial prefixes) score a −2.0
    * sentinel instead of NaN — deterministic in both engines. */
  def truncationAudit(s: SparkSession, d: String): DataFrame =
    truncationAuditOf(Tables.embeddings(s, d))

  def truncationAuditOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = Materialize(knnGraphOf(emb),
      "sim12_edges")
    val h = Materialize.hashJoinIfFits(
      embDoubleOf(emb)
        .withColumn("vh", slice(col("v"), 1, TruncDims))
        .select(col("vec_id"), col("vh"),
          dot(col("vh"), col("vh")).as("hnorm")))
    val scored = edges
      .join(h.toDF("src", "sv", "snorm"), "src")
      .join(h.toDF("dst", "dv", "dnorm"), "dst")
      .withColumn("cos_half",
        when(col("snorm") > 0 && col("dnorm") > 0,
          dot(col("sv"), col("dv")) /
            (sqrt(col("snorm")) * sqrt(col("dnorm"))))
          .otherwise(lit(-2.0)))
    val w = Window.partitionBy("src").orderBy("rank")
    scored
      .withColumn("prev_half", lag(col("cos_half"), 1).over(w))
      .groupBy("rank")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(when(col("cos") >= RangeTau, 1L).otherwise(0L))
          .as("full_above_tau"),
        sum(when(col("cos_half") >= RangeTau, 1L).otherwise(0L))
          .as("half_above_tau"),
        sum(when(col("cos") >= RangeTau && col("cos_half") >= RangeTau, 1L)
          .otherwise(0L)).as("both_above_tau"),
        sum(when(col("prev_half").isNotNull &&
            col("cos_half") > col("prev_half"), 1L)
          .otherwise(0L)).as("order_inversions"))
      .orderBy("rank")
  }

  /** DuckDB replay of sim12: the shared kNN-graph CTE (MATERIALIZED —
    * the g6 lesson), list slicing for the prefix, the same sentinel
    * and lag window. */
  def truncationAuditOracle(): String =
    s"""WITH g AS MATERIALIZED (
       |${knnGraphOracle()}
       |),
       |h AS MATERIALIZED (
       |  SELECT vec_id, (embedding::DOUBLE[])[1:$TruncDims] AS vh,
       |    list_dot_product((embedding::DOUBLE[])[1:$TruncDims],
       |                     (embedding::DOUBLE[])[1:$TruncDims]) AS hnorm
       |  FROM embeddings),
       |sc AS (
       |  SELECT g.src, g.rank, g.cos,
       |    CASE WHEN a.hnorm > 0 AND b.hnorm > 0
       |         THEN list_dot_product(a.vh, b.vh)
       |              / (sqrt(a.hnorm) * sqrt(b.hnorm))
       |         ELSE -2.0 END AS cos_half
       |  FROM g JOIN h a ON a.vec_id = g.src
       |         JOIN h b ON b.vec_id = g.dst),
       |wp AS (
       |  SELECT rank, cos, cos_half,
       |    lag(cos_half) OVER (PARTITION BY src ORDER BY rank) AS prev_half
       |  FROM sc)
       |SELECT rank, count(*) AS n_edges,
       |  CAST(sum(CASE WHEN cos >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS full_above_tau,
       |  CAST(sum(CASE WHEN cos_half >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS half_above_tau,
       |  CAST(sum(CASE WHEN cos >= $RangeTau AND cos_half >= $RangeTau
       |           THEN 1 ELSE 0 END) AS BIGINT) AS both_above_tau,
       |  CAST(sum(CASE WHEN prev_half IS NOT NULL AND cos_half > prev_half
       |           THEN 1 ELSE 0 END) AS BIGINT) AS order_inversions
       |FROM wp GROUP BY rank ORDER BY rank""".stripMargin
}
