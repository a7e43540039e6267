package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.{cents, epochDay, md5Hash60}
import graft.ops.TextStats.shingles

/** Deterministic HyperLogLog distinct-count sketch — the mergeable
  * approx-distinct primitive a 100-TB pipeline uses where exact
  * count-distinct would shuffle the full value set (distinct URLs,
  * shingles, n-grams per slice). Register state is m = 2^p integers
  * per group: constant, mergeable by register-wise max across
  * partitions, days, or corpora — the property OpsSpec pins.
  *
  * Everything is engineered for cross-engine determinism (the same
  * rules as the rest of the repo — see Functions scaladoc):
  *
  *   - the hashed value is the shared 60-bit md5 primitive, so DuckDB
  *     replays register and rho assignment bit-for-bit;
  *   - rho (leading-zero rank) is derived from `length(bin(x))` — an
  *     integer path in both engines, no log2 anywhere;
  *   - the harmonic sum is kept as an EXACT scaled integer:
  *     Σ 2^(W+1-rho_j) over all m registers (empty register → 2^(W+1))
  *     fits a long at m·2^52 ≤ 2^61, so summation order cannot change
  *     it — the one double division (alpha·m²·2^(W+1) / S) happens at
  *     the very end over identical operands.
  *
  * The raw estimator is emitted without the small-range linear-counting
  * correction (that branch needs ln(), whose last-ulp behavior differs
  * by libm); `v_empty` rides along so a caller — or the spec — can
  * apply any correction policy downstream. Cites the estimator of
  * Flajolet et al. (HyperLogLog, AofA 2007) as popularized in public
  * warehouse engines.
  */
object Sketch {

  /** 2^9 = 512 registers: ±~4.6% standard error — sketch state is half
    * a KB per group regardless of cardinality. */
  val HllP = 9
  val HllM: Int = 1 << HllP
  val HllHashBits = 60
  /** Value-part width W: hash bits left after the register index. */
  val HllValueBits: Int = HllHashBits - HllP // 51
  val HllSeed = 21
  /** Bias correction for m ≥ 128 (the standard constant). */
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / HllM)
  /** The whole numerator alpha·m²·2^(W+1) folded into ONE double
    * literal, embedded in both engines via round-tripping toString —
    * the final estimate is a single division by the exact integer S. */
  val HllNumerator: Double = HllAlpha * HllM * HllM * math.pow(2, HllValueBits + 1)

  /** Per-(group, register) max-rho state over exploded shingles — THE
    * sketch: constant-size per group, mergeable across any partition of
    * the input by register-wise max (spec-pinned). */
  def shingleRegisters(docs: DataFrame): DataFrame =
    registersOf(
      docs.select(col("lang"), explode(shingles(col("text"), 3)).as("sh")))

  /** Register state from a (lang, sh) stream. The sketch is
    * duplicate-insensitive (register max), so callers that already hold
    * a DISTINCT shingle table feed it directly and pay md5 once per
    * distinct shingle instead of once per occurrence. */
  private def registersOf(sh: DataFrame, keys: Seq[String] = Seq("lang")): DataFrame =
    sh
      .withColumn("h", md5Hash60(col("sh"), HllSeed))
      .withColumn("reg", col("h").bitwiseAND(lit((HllM - 1).toLong)))
      .withColumn("rem", shiftright(col("h"), HllP))
      // rho = W + 1 - bitlen(rem); bitlen via bin() string length with
      // the zero case pinned explicitly (bin(0) = "0" has length 1)
      .withColumn("rho",
        when(col("rem") === 0, lit(HllValueBits + 1))
          .otherwise(lit(HllValueBits + 1) - length(bin(col("rem")))))
      .groupBy((keys :+ "reg").map(col): _*).agg(max(col("rho")).as("mx"))

  /** Estimate from register state: exact scaled harmonic sum, one final
    * division (see class doc). */
  def estimateFromRegisters(regs: DataFrame, keys: Seq[String] = Seq("lang")): DataFrame =
    regs.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_regs"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllValueBits + 1} - mx)"))
        .as("s_present"))
      .withColumn("v_empty", lit(HllM.toLong) - col("n_regs"))
      .withColumn("s_scaled",
        col("s_present") +
          col("v_empty") * lit(1L << (HllValueBits + 1)))
      .withColumn("est_raw", lit(HllNumerator) / col("s_scaled"))
      .select((keys.map(col) ++ Seq(col("v_empty"), col("s_scaled"), col("est_raw"))): _*)

  /** hll1 — per-language distinct 3-gram shingle estimate beside the
    * exact count (the validation pairing; production keeps only the
    * sketch side). Register aggregation is one narrow shuffle of at
    * most m rows per group after map-side partial max.
    *
    * Both sides read ONE distinct (lang, shingle) table: the sketch is
    * duplicate-insensitive and the exact side is count-over-distinct, so
    * the corpus is exploded once, the distinct's exchange is computed
    * once and reused by the two downstream aggregations, and md5 runs
    * per DISTINCT shingle, not per occurrence. */
  /** hll2 — sketch ROLLUP: registers build ONCE at the finest grain
    * (source, lang); every coarser level — per source, then global —
    * is a register-wise max MERGE of that state, never a rescan of the
    * data. This is the datacube-of-distincts pattern mergeable sketches
    * exist for: at 100 TB the corpus is read once, and any rollup cell
    * costs one aggregation over m-register states (the merge law the
    * spec pins as exact max-idempotence). Estimates use the same
    * scaled-harmonic integer path as hll1, one final division each.
    * Rolled-up dimensions print 'ALL' (never null, so the compare's
    * column sort stays total). */
  def hllRollup(s: SparkSession, d: String): DataFrame =
    hllRollupOf(Tables.documents(s, d))

  def hllRollupOf(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("source"), col("lang"),
        explode(shingles(col("text"), 3)).as("sh"))
      .distinct()
    val fineKeys = Seq("source", "lang")
    val regs = Materialize(
      registersOf(sh, fineKeys), "hll2_regs")
    val fine = estimateFromRegisters(regs, fineKeys)
      .withColumn("level", lit(2))
    val bySource = estimateFromRegisters(
      regs.groupBy("source", "reg").agg(max(col("mx")).as("mx")),
      Seq("source"))
      .withColumn("lang", lit("ALL")).withColumn("level", lit(1))
    val global = estimateFromRegisters(
      regs.groupBy("reg").agg(max(col("mx")).as("mx")).withColumn("g", lit(1)),
      Seq("g"))
      .drop("g")
      .withColumn("source", lit("ALL")).withColumn("lang", lit("ALL"))
      .withColumn("level", lit(0))
    val cols = Seq("level", "source", "lang", "v_empty", "s_scaled", "est_raw")
    fine.select(cols.map(col): _*)
      .unionByName(bySource.select(cols.map(col): _*))
      .unionByName(global.select(cols.map(col): _*))
      .orderBy("level", "source", "lang")
  }

  /** DuckDB replay of hll2: hll1's shingle/hash/rho path at the
    * (source, lang) grain, then the SAME register states re-grouped by
    * max at each rollup level. */
  val hllRollupOracle: String = {
    val w = HllValueBits + 1
    def est(sel: String, from: String, grp: String) =
      s"""SELECT $sel, count(*) AS n_regs,
         |    CAST(sum(CAST(1 AS BIGINT) << ($w - mx)) AS BIGINT) AS s_present
         |  FROM $from $grp""".stripMargin
    s"""WITH w AS (
       |  SELECT source, lang, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT source, lang, unnest(CASE WHEN len(ws) >= 3 THEN list_transform(
       |      generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS sh
       |  FROM w),
       |h AS (
       |  SELECT source, lang, sh,
       |    ('0x' || substr(md5('$HllSeed' || ':' || sh), 1, 15))::BIGINT AS h
       |  FROM sh),
       |r AS (
       |  SELECT source, lang, h & ${HllM - 1} AS reg, h >> $HllP AS rem FROM h),
       |rho AS (
       |  SELECT source, lang, reg,
       |    CASE WHEN rem = 0 THEN $w ELSE $w - length(bin(rem)) END AS rho
       |  FROM r),
       |regs AS (
       |  SELECT source, lang, reg, max(rho) AS mx
       |  FROM rho GROUP BY source, lang, reg),
       |fine AS (
       |  ${est("2 AS level, source, lang", "regs", "GROUP BY source, lang")}),
       |srcregs AS (
       |  SELECT source, reg, max(mx) AS mx FROM regs GROUP BY source, reg),
       |bysrc AS (
       |  ${est("1 AS level, source, 'ALL' AS lang", "srcregs", "GROUP BY source")}),
       |gregs AS (SELECT reg, max(mx) AS mx FROM regs GROUP BY reg),
       |gall AS (
       |  ${est("0 AS level, 'ALL' AS source, 'ALL' AS lang", "gregs", "")}),
       |u AS (
       |  SELECT * FROM fine UNION ALL SELECT * FROM bysrc
       |  UNION ALL SELECT * FROM gall)
       |SELECT level, source, lang,
       |  CAST($HllM - n_regs AS BIGINT) AS v_empty,
       |  CAST(s_present + ($HllM - n_regs) * (CAST(1 AS BIGINT) << $w)
       |       AS BIGINT) AS s_scaled,
       |  $HllNumerator / (s_present +
       |    ($HllM - n_regs) * (CAST(1 AS BIGINT) << $w)) AS est_raw
       |FROM u ORDER BY level, source, lang""".stripMargin
  }

  def hllLangDistinct(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sh = docs
      .select(col("lang"), explode(shingles(col("text"), 3)).as("sh"))
      .distinct()
    val sketch = estimateFromRegisters(registersOf(sh))
    val exact = sh.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    exact.join(sketch, "lang")
      .select("lang", "n_exact", "v_empty", "s_scaled", "est_raw")
      .orderBy("lang")
  }

  // ---- Count-Min sketch ----

  /** Count-Min: d independent hash rows × w counters. Estimates are
    * pure integers (min over d counters), so cross-engine parity is
    * trivial; cells are ADDITIVE, so sketches merge by cell-wise sum
    * across partitions/days (spec-pinned) — the mergeable
    * heavy-hitter/frequency primitive complementing [[HllP]]'s
    * distinct-count sketch. w = 512, d = 4: ε ≈ e/w ≈ 0.5% of the
    * stream length at 2^-4 failure odds, in 2 KB of state per slice.
    * Cites Cormode & Muthukrishnan, "An Improved Data Stream Summary:
    * The Count-Min Sketch and its Applications" (J. Algorithms 2005). */
  val CmsD = 4
  val CmsW = 512
  val CmsSeedBase = 31

  /** The (row, bucket, cell count) sketch table over the corpus token
    * stream: one explode + one grouped count — ≤ d·w rows out. */
  def cmsTable(docs: DataFrame): DataFrame = {
    val tok = docs.select(explode(TextStats.words(col("text"))).as("w"))
    val rows = array((0 until CmsD).map { j =>
      struct(lit(j).as("j"),
        md5Hash60(col("w"), CmsSeedBase + j)
          .bitwiseAND(lit((CmsW - 1).toLong)).as("bucket"))
    }: _*)
    tok.select(explode(rows).as("rb"))
      .select(col("rb.j").as("j"), col("rb.bucket").as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cell"))
  }

  /** cms1 — top heavy-hitter tokens by exact count, each with its CMS
    * estimate riding along (the validation pairing: CMS never
    * underestimates, and at this skew the top tokens' estimates are
    * near-exact). The sketch is tiny (≤ d·w rows), so every estimate
    * join broadcasts. */
  def cmsHeavyHitters(s: SparkSession, d: String, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val cms = cmsTable(docs)
    val tok = docs.select(explode(TextStats.words(col("text"))).as("w"))
    val top = tok.groupBy("w").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), col("w")).limit(topK)
    val withBuckets = (0 until CmsD).foldLeft(top) { (df, j) =>
      df.withColumn(s"b$j",
        md5Hash60(col("w"), CmsSeedBase + j)
          .bitwiseAND(lit((CmsW - 1).toLong)))
    }
    val joined = (0 until CmsD).foldLeft(withBuckets) { (df, j) =>
      df.join(broadcast(cms.filter(col("j") === j)
          .select(col("bucket").as(s"b$j"), col("cell").as(s"c$j"))),
        Seq(s"b$j"))
    }
    joined
      .withColumn("est_cms", least((0 until CmsD).map(j => col(s"c$j")): _*))
      .select(col("w").as("token"), col("n_exact"), col("est_cms"))
      .orderBy(desc("n_exact"), col("token"))
  }

  /** DuckDB replay: same md5-60 bucket hashes, same grouped cell
    * counts, same min-over-rows integer estimate. */
  val cmsHeavyHittersOracle: String = {
    def bucketExpr(j: Int) =
      s"('0x' || substr(md5('${CmsSeedBase + j}' || ':' || w), 1, 15))::BIGINT & ${CmsW - 1}"
    val unioned = (0 until CmsD).map(j =>
      s"SELECT $j AS j, ${bucketExpr(j)} AS bucket FROM tok")
      .mkString("\n    UNION ALL ")
    val cellJoins = (0 until CmsD).map(j =>
      s"JOIN cms c$j ON c$j.j = $j AND c$j.bucket = ${bucketExpr(j)}")
      .mkString("\n")
    val leastExpr = (0 until CmsD).map(j => s"c$j.cell").mkString("least(", ", ", ")")
    s"""WITH tok AS (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |cms AS (
       |  SELECT j, bucket, count(*) AS cell FROM (
       |    $unioned)
       |  GROUP BY j, bucket),
       |top AS (
       |  SELECT w, count(*) AS n_exact FROM tok GROUP BY w
       |  ORDER BY n_exact DESC, w LIMIT 20)
       |SELECT top.w AS token, top.n_exact, $leastExpr AS est_cms
       |FROM top
       |$cellJoins
       |ORDER BY top.n_exact DESC, top.w""".stripMargin
  }

  // ---- Bloom filter ----

  /** Bloom-filter membership sketch — the third sketch beside HLL
    * (distinct counts) and CMS (frequencies): constant-size SET
    * MEMBERSHIP, here in its flagship pipeline role of benchmark
    * decontamination at scale. tx9/tx15 join the corpus against the
    * exact eval-shingle table; at 100 TB the bloom replaces that table
    * with a [[BloomBits]]-bit bitmap (1 KB here) that broadcasts for
    * free, at the cost of a bounded false-positive rate — errors are
    * ONE-SIDED (never misses a true member), so a bloom pre-filter
    * plus an exact recheck of the (tiny) flagged set is lossless.
    *
    * Determinism: bit positions come from the shared md5-60 hash, the
    * bitmap is [[BloomWords]] 32-bit words stored in longs (shift ≤ 31
    * keeps every mask positive — no sign-bit divergence anywhere), and
    * words merge by bitwise OR — mergeable across partitions/corpora
    * like the other two sketches (spec-pinned). Cites Bloom,
    * "Space/Time Trade-offs in Hash Coding with Allowable Errors"
    * (CACM 1970). */
  val BloomAddrBits = 13
  val BloomBits: Int = 1 << BloomAddrBits // 8192
  val BloomWordShift = 5 // 32-bit words
  val BloomWords: Int = BloomBits >> BloomWordShift // 256
  val BloomK = 4
  val BloomSeedBase = 53

  /** Plain-JVM replay of [[graft.functions.Functions.md5Hash60]] —
    * identical bytes (`"seed:value"` UTF-8), identical 15-hex-digit
    * prefix parse — for state code that runs outside Catalyst (the
    * streaming bloom dedup's per-shard bitmap). Parity with the column
    * expression is pinned in StreamingSpec. */
  def jvmHash60(v: String, seed: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$v".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** The bitmap as a (slot, word) table built from the DISTINCT eval
    * shingle set: ≤ [[BloomWords]] rows regardless of input size. */
  def bloomTable(evalShingles: DataFrame): DataFrame = {
    val bits = array((0 until BloomK).map { j =>
      md5Hash60(col("sh"), BloomSeedBase + j)
        .bitwiseAND(lit((BloomBits - 1).toLong))
    }: _*)
    evalShingles.select(explode(bits).as("bit"))
      .select(shiftright(col("bit"), BloomWordShift).as("slot"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit & 31 AS INT))").as("mask"))
      .groupBy("slot").agg(expr("bit_or(mask)").as("word"))
  }

  /** bf1 — bloom-filtered decontamination over the tx15 eval split
    * (doc_id % stride = 0): per doc, distinct-shingle count, bloom-hit
    * count, and the exact-hit count riding along — the validation
    * pairing exposing the (one-sided) false positives. The corpus
    * stream is exploded ONCE; each shingle probes the broadcast bitmap
    * [[BloomK]] times (4 broadcast joins against a ≤256-row table) and
    * the exact shingle set once. Production keeps only the bloom side +
    * an exact recheck of flagged docs. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame =
    bloomDecontaminateOf(Tables.documents(s, d))

  def bloomDecontaminateOf(docs: DataFrame): DataFrame = {
    import graft.ops.TextStats.ContamStride
    // materialized ONCE: three consumers (bitmap build, exact broadcast
    // set, probe stream) would otherwise each re-run the corpus scan +
    // shingle explode — the dd-family's shingle-table discipline
    val sh = Materialize(
      docs.select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh")),
      "bloom_shingles")
    val evalSh = sh.filter(col("doc_id") % ContamStride === 0)
      .select("sh").distinct()
    val bloom = bloomTable(evalSh)
    val probed0 = (0 until BloomK).foldLeft(
      sh.select(col("doc_id"), col("sh"))) { (df, j) =>
      df.withColumn(s"bit$j",
        md5Hash60(col("sh"), BloomSeedBase + j)
          .bitwiseAND(lit((BloomBits - 1).toLong)))
        .withColumn(s"s$j", shiftright(col(s"bit$j"), BloomWordShift))
        .withColumn(s"m$j",
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(bit$j & 31 AS INT))"))
    }
    val probed = (0 until BloomK).foldLeft(probed0) { (df, j) =>
      df.join(broadcast(bloom.select(col("slot").as(s"s$j"),
        col("word").as(s"w$j"))), Seq(s"s$j"), "left")
    }
    val hit = (0 until BloomK)
      .map(j => coalesce(col(s"w$j"), lit(0L))
        .bitwiseAND(col(s"m$j")) =!= 0L)
      .reduce(_ && _)
    probed
      .join(broadcast(evalSh.withColumn("m", lit(1L))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(hit, 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(coalesce(col("m"), lit(0L))).as("n_exact_hits"))
      .withColumn("bloom_contaminated", col("n_bloom_hits") > 0)
      .withColumn("exact_contaminated", col("n_exact_hits") > 0)
      .orderBy("doc_id")
  }

  /** DuckDB replay of bf1: same distinct shingles, same md5-60 bit
    * positions, same 32-bit-word bitmap via bit_or, same 4-probe AND. */
  val bloomDecontaminateOracle: String = {
    def bitExpr(j: Int, src: String) =
      s"('0x' || substr(md5('${BloomSeedBase + j}' || ':' || $src), 1, 15))::BIGINT & ${BloomBits - 1}"
    val bitsUnion = (0 until BloomK).map(j =>
      s"SELECT ${bitExpr(j, "sh")} AS bit FROM ev")
      .mkString("\n    UNION ALL ")
    val probeJoins = (0 until BloomK).map(j =>
      s"LEFT JOIN bloom b$j ON b$j.slot = (${bitExpr(j, "u.sh")}) >> $BloomWordShift")
      .mkString("\n")
    val hitExpr = (0 until BloomK).map(j =>
      s"(coalesce(b$j.word, 0) & (CAST(1 AS BIGINT) << CAST((${bitExpr(j, "u.sh")}) & 31 AS INT))) <> 0")
      .mkString("(", " AND ", ")")
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |sdoc AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [] END AS sh FROM w),
       |u AS (SELECT doc_id, unnest(sh) AS sh FROM sdoc),
       |ev AS (SELECT DISTINCT sh FROM u
       |       WHERE doc_id % ${graft.ops.TextStats.ContamStride} = 0),
       |bloom AS (
       |  SELECT bit >> $BloomWordShift AS slot,
       |         bit_or(CAST(1 AS BIGINT) << CAST(bit & 31 AS INT)) AS word
       |  FROM ($bitsUnion)
       |  GROUP BY 1)
       |SELECT u.doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN $hitExpr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bloom_hits,
       |  CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_hits,
       |  CAST(sum(CASE WHEN $hitExpr THEN 1 ELSE 0 END) AS BIGINT) > 0
       |    AS bloom_contaminated,
       |  CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) > 0
       |    AS exact_contaminated
       |FROM u
       |$probeJoins
       |LEFT JOIN ev e ON u.sh = e.sh
       |GROUP BY u.doc_id
       |ORDER BY u.doc_id""".stripMargin
  }

  // ---- Histogram quantile sketch ----

  /** Power-of-two histogram quantile sketch — the fourth mergeable
    * sketch beside HLL (distinct), CMS (frequency) and Bloom
    * (membership): approximate QUANTILES in bounded state. Exact
    * percentiles (a11) need a full sort per group; the histogram needs
    * one grouped count over `value >> [[HistShift]]` — state is the
    * occupied-bucket set (bounded by the value range, not the row
    * count), cells merge by SUM across partitions/days, and a quantile
    * estimate is the lower bound of the first bucket whose cumulative
    * count crosses the target rank. Everything is integer math
    * (cross-multiplied rank thresholds, shifts for bucket bounds), so
    * both engines agree on every boundary; the estimate's error is
    * bounded by one bucket width by construction — the envelope OpsSpec
    * pins against the exact rank-based percentile that rides along.
    * Cites the equi-width histogram estimator long standard in public
    * engines (e.g. Greenwald–Khanna alternatives when order-dependence
    * must be avoided for replayability). */
  val HistShift = 16 // 65536-cent (~$655) buckets over order totals

  /** The (priority, bucket, cnt) histogram table — THE sketch:
    * mergeable by cell-wise sum (spec-pinned). */
  def histTable(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("p_cents"))
      .withColumn("bucket", shiftright(col("p_cents"), HistShift))
      .groupBy("priority", "bucket").agg(count(lit(1)).as("cnt"))

  /** hq1 — per-priority p50/p90 from the histogram, with the exact
    * rank-based percentile beside it (validation pairing; production
    * keeps the sketch side). Type-1 quantile: smallest value whose
    * rank ≥ ⌈q·n⌉, expressed as the integer cross-multiplication
    * rank·den ≥ n·num — no doubles anywhere. */
  def histQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val wCum = Window.partitionBy("priority").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("priority")
    val cum = histTable(o)
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val est = cum.groupBy("priority").agg(
      max(col("n")).as("n"),
      min(when(col("cum") * 2 >= col("n"), col("bucket"))).as("b50"),
      min(when(col("cum") * 10 >= col("n") * 9, col("bucket"))).as("b90"))
      .select(col("priority"), col("n"),
        shiftleft(col("b50"), HistShift).as("est_p50_cents"),
        shiftleft(col("b90"), HistShift).as("est_p90_cents"))
    val wRank = Window.partitionBy("priority").orderBy("p_cents")
    val exact = o
      .select(col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("p_cents"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("nn", count(lit(1)).over(wAll))
      .groupBy("priority").agg(
        min(when(col("rn") * 2 >= col("nn"), col("p_cents")))
          .as("exact_p50_cents"),
        min(when(col("rn") * 10 >= col("nn") * 9, col("p_cents")))
          .as("exact_p90_cents"))
    est.join(exact, "priority")
      .select("priority", "n", "est_p50_cents", "exact_p50_cents",
        "est_p90_cents", "exact_p90_cents")
      .orderBy("priority")
  }

  /** DuckDB replay of hq1: same buckets, same cumulative walk, same
    * cross-multiplied rank thresholds. */
  val histQuantilesOracle: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS priority,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS p_cents
       |  FROM orders),
       |h AS (
       |  SELECT priority, p_cents >> $HistShift AS bucket, count(*) AS cnt
       |  FROM o GROUP BY 1, 2),
       |c AS (
       |  SELECT priority, bucket,
       |         sum(cnt) OVER (PARTITION BY priority ORDER BY bucket
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(cnt) OVER (PARTITION BY priority) AS n
       |  FROM h),
       |est AS (
       |  SELECT priority, CAST(max(n) AS BIGINT) AS n,
       |         CAST(min(CASE WHEN cum * 2 >= n THEN bucket END)
       |              << $HistShift AS BIGINT) AS est_p50_cents,
       |         CAST(min(CASE WHEN cum * 10 >= n * 9 THEN bucket END)
       |              << $HistShift AS BIGINT) AS est_p90_cents
       |  FROM c GROUP BY 1),
       |r AS (
       |  SELECT priority, p_cents,
       |         row_number() OVER (PARTITION BY priority ORDER BY p_cents) AS rn,
       |         count(*) OVER (PARTITION BY priority) AS nn
       |  FROM o),
       |ex AS (
       |  SELECT priority,
       |         CAST(min(CASE WHEN rn * 2 >= nn THEN p_cents END) AS BIGINT)
       |           AS exact_p50_cents,
       |         CAST(min(CASE WHEN rn * 10 >= nn * 9 THEN p_cents END) AS BIGINT)
       |           AS exact_p90_cents
       |  FROM r GROUP BY 1)
       |SELECT est.priority, est.n, est.est_p50_cents, ex.exact_p50_cents,
       |       est.est_p90_cents, ex.exact_p90_cents
       |FROM est JOIN ex USING (priority)
       |ORDER BY est.priority""".stripMargin

  /** DuckDB replay of hll1: same shingles, same md5-60 hash, same
    * register/rho integer path, same exact scaled harmonic sum, same
    * single final division. */
  val hllLangDistinctOracle: String = {
    val w = HllValueBits + 1
    s"""WITH w AS (
       |  SELECT lang, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       |sh AS (
       |  SELECT lang, unnest(CASE WHEN len(ws) >= 3 THEN list_transform(
       |      generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS sh
       |  FROM w),
       |h AS (
       |  SELECT lang, sh,
       |    ('0x' || substr(md5('$HllSeed' || ':' || sh), 1, 15))::BIGINT AS h
       |  FROM sh),
       |r AS (
       |  SELECT lang, h & ${HllM - 1} AS reg, h >> $HllP AS rem FROM h),
       |rho AS (
       |  SELECT lang, reg,
       |    CASE WHEN rem = 0 THEN $w ELSE $w - length(bin(rem)) END AS rho
       |  FROM r),
       |regs AS (
       |  SELECT lang, reg, max(rho) AS mx FROM rho GROUP BY lang, reg),
       |sk AS (
       |  SELECT lang, count(*) AS n_regs,
       |    CAST(sum(CAST(1 AS BIGINT) << ($w - mx)) AS BIGINT) AS s_present
       |  FROM regs GROUP BY lang),
       |ex AS (
       |  SELECT lang, count(DISTINCT sh) AS n_exact FROM sh GROUP BY lang)
       |SELECT ex.lang, ex.n_exact,
       |  $HllM - sk.n_regs AS v_empty,
       |  sk.s_present + ($HllM - sk.n_regs) * (CAST(1 AS BIGINT) << $w)
       |    AS s_scaled,
       |  $HllNumerator / (sk.s_present +
       |    ($HllM - sk.n_regs) * (CAST(1 AS BIGINT) << $w)) AS est_raw
       |FROM ex JOIN sk USING (lang)
       |ORDER BY ex.lang""".stripMargin
  }

  // ----- KMV (k-minimum-values / theta-style) set-operation sketch -----

  /** Sketch size: the k smallest distinct 60-bit hashes per source.
    * Standard error ~ 1/sqrt(k-2) ≈ 13%; state is k longs per group. */
  val KmvK = 64
  val KmvSeed = 33
  /** Coarse prefilter granularity: hashes bucket by their top
    * [[KmvBucketBits]] bits, a per-source cutoff bucket is derived from
    * the tiny (source × 2^bits) count table, and only hashes at or
    * below the cutoff reach the per-source top-k sort — an expected
    * 2^bits-fold reduction of the sorted stream. The dial for bigger
    * corpora is this constant, not the algorithm. */
  val KmvBucketBits = 12
  /** (k−1)·2^60 folded into ONE double literal embedded in both
    * engines via toString round-trip (the [[HllNumerator]] rule). */
  val KmvNumerator: Double = (KmvK - 1).toDouble * math.pow(2, 60)

  /** kmv1 — cross-source distinct set operations from k-minimum-values
    * sketches. HLL ([[hll1]]/[[hll2]]) merges to UNIONS only; the KMV
    * sketch also estimates INTERSECTIONS — "how many distinct shingles
    * do two crawl sources share" is the contamination/provenance
    * question a curation pipeline asks before mixing them, and at
    * 100 TB the exact answer is a full cross-source distinct join.
    *
    * Shape: one explode to (source, hash), ONE keyed distinct
    * (map-side partial dedup; md5 runs per occurrence — cheap codegen
    * CPU against saving a second shuffle of the distinct set), then the
    * bucket-cutoff prefilter (declarative: tiny windowed count table
    * broadcast back, no driver action) ahead of the per-source top-k
    * window. Source-level state is O(sources·k) longs — the pair stage
    * (bounded sources², array ops per row) rides a broadcast self-join
    * of that tiny table, the documented tx22 smallness class.
    *
    * Estimator (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007):
    * with U = merged top-k of the pair's union, |A∪B| ≈ (k−1)·2^60 /
    * max(U) and |A∩B| ≈ |A∪B| · ρ/k where ρ counts members of U
    * present in BOTH sketches. When the merged set holds fewer than k
    * values the sketch IS the exact distinct set and both estimates
    * are exact (spec-pinned). All integer state rides exact longs;
    * the only doubles are the two final IEEE divisions, operand order
    * mirrored in the oracle. */
  def kmvSetOps(s: SparkSession, d: String): DataFrame =
    kmvSetOpsOf(Tables.documents(s, d))

  def kmvSetOpsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = Materialize(
      docs.select(col("source"), explode(shingles(col("text"), 3)).as("sh"))
        .select(col("source"), md5Hash60(col("sh"), KmvSeed).as("h"))
        .distinct()
        .withColumn("bkt", shiftright(col("h"), HllHashBits - KmvBucketBits)),
      "kmv_hashes")
    // per-source cutoff bucket: smallest prefix of buckets holding ≥ k
    // hashes. The count table is O(sources · 2^bits) rows; the window
    // rides it, and the cutoff broadcasts back — never a driver action.
    val cut = hashed.groupBy("source", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.partitionBy("source").orderBy("bkt")))
      .filter(col("cum") >= KmvK)
      .groupBy("source").agg(min("bkt").as("cutoff"))
    // a source with < k hashes total has no cutoff row → keep all
    val survivors = hashed.join(broadcast(cut), Seq("source"), "left")
      .filter(col("cutoff").isNull || col("bkt") <= col("cutoff"))
    val rn = row_number()
      .over(Window.partitionBy("source").orderBy("h"))
    val sk = survivors.withColumn("rn", rn).filter(col("rn") <= KmvK)
      .groupBy("source").agg(sort_array(collect_list(col("h"))).as("vals"))
    val pairs = sk.select(col("source").as("source_a"), col("vals").as("va"))
      .join(sk.select(col("source").as("source_b"), col("vals").as("vb")),
        col("source_a") < col("source_b"))
    pairs
      .withColumn("merged", array_sort(array_distinct(concat(col("va"), col("vb")))))
      .withColumn("m", least(lit(KmvK), size(col("merged"))).cast("long"))
      .withColumn("topk", slice(col("merged"), 1, KmvK))
      .withColumn("kth", element_at(col("topk"), col("m").cast("int")))
      .withColumn("rho", size(filter(col("topk"),
        x => array_contains(col("va"), x) && array_contains(col("vb"), x)))
        .cast("long"))
      .withColumn("est_union",
        when(size(col("merged")) >= KmvK,
          lit(KmvNumerator) / col("kth").cast("double"))
          .otherwise(size(col("merged")).cast("double")))
      .withColumn("est_jaccard",
        col("rho").cast("double") / col("m").cast("double"))
      .withColumn("est_intersect",
        (col("est_union") * col("rho").cast("double")) / col("m").cast("double"))
      .select(col("source_a"), col("source_b"),
        size(col("va")).cast("long").as("n_a"),
        size(col("vb")).cast("long").as("n_b"),
        col("m").as("n_union_topk"), col("kth"), col("rho").as("n_common"),
        col("est_union"), col("est_jaccard"), col("est_intersect"))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB replay of kmv1, fully relational: distinct (source, hash),
    * rank per source, top-k; pair union via two equi-joins (UNION
    * dedups), re-rank for the merged top-k; ρ via double membership
    * join. Estimate expressions mirror the Spark operand order. */
  val kmvSetOpsOracle: String = {
    val k = KmvK
    s"""WITH w AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |shl AS (
       |  SELECT source, unnest(CASE WHEN len(ws) >= 3 THEN list_transform(
       |      generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS sh
       |  FROM w),
       |h AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5('$KmvSeed' || ':' || sh), 1, 15))::BIGINT AS h
       |  FROM shl),
       |rnk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM h),
       |tk AS (SELECT source, h FROM rnk WHERE rn <= $k),
       |n AS (SELECT source, count(*) AS n FROM tk GROUP BY source),
       |p AS (SELECT a.source AS sa, a.n AS n_a, b.source AS sb, b.n AS n_b
       |      FROM n a JOIN n b ON a.source < b.source),
       |mg AS (
       |  SELECT p.sa, p.sb, t.h FROM p JOIN tk t ON t.source = p.sa
       |  UNION
       |  SELECT p.sa, p.sb, t.h FROM p JOIN tk t ON t.source = p.sb),
       |mr AS (
       |  SELECT sa, sb, h,
       |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY sa, sb) AS n_union
       |  FROM mg),
       |mtk AS (SELECT * FROM mr WHERE rn <= $k),
       |st AS (
       |  SELECT sa, sb, max(rn) AS m, max(h) AS kth, max(n_union) AS n_union
       |  FROM mtk GROUP BY sa, sb),
       |rho AS (
       |  SELECT mtk.sa, mtk.sb, count(*) AS rho
       |  FROM mtk
       |  JOIN tk ta ON ta.source = mtk.sa AND ta.h = mtk.h
       |  JOIN tk tb ON tb.source = mtk.sb AND tb.h = mtk.h
       |  GROUP BY mtk.sa, mtk.sb)
       |SELECT p.sa AS source_a, p.sb AS source_b,
       |  CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
       |  CAST(st.m AS BIGINT) AS n_union_topk, st.kth,
       |  CAST(coalesce(rho.rho, 0) AS BIGINT) AS n_common,
       |  CASE WHEN st.n_union >= $k THEN $KmvNumerator / CAST(st.kth AS DOUBLE)
       |       ELSE CAST(st.n_union AS DOUBLE) END AS est_union,
       |  CAST(coalesce(rho.rho, 0) AS DOUBLE) / CAST(st.m AS DOUBLE)
       |    AS est_jaccard,
       |  (CASE WHEN st.n_union >= $k THEN $KmvNumerator / CAST(st.kth AS DOUBLE)
       |        ELSE CAST(st.n_union AS DOUBLE) END
       |    * CAST(coalesce(rho.rho, 0) AS DOUBLE)) / CAST(st.m AS DOUBLE)
       |    AS est_intersect
       |FROM p JOIN st ON st.sa = p.sa AND st.sb = p.sb
       |LEFT JOIN rho ON rho.sa = p.sa AND rho.sb = p.sb
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** inc4 — INCREMENTAL distinct-count maintenance, the inc-family ∘
    * sketch-family fusion: "distinct users to date, per day",
    * maintained BOTH ways a warehouse actually does it — exactly via
    * the first-seen trick (cumulative distinct ≡ running sum of
    * first-appearance counts: one user-keyed min, one day-keyed
    * count, one O(days) running sum — never a per-day re-distinct of
    * the growing prefix), and approximately by KMV min-k MERGE of
    * per-day sketches (min-k(A∪B) = min-k(min-k(A) ∪ min-k(B)) — the
    * merge law that makes yesterday's cumulative sketch + today's
    * daily sketch the new state; here every day's cumulative set is
    * materialized via a bounded day≤day join over the O(days·k)
    * daily AGGREGATE, never the raw stream). KMV chosen over HLL
    * deliberately: below k elements the merged set is COMPLETE and
    * the estimate is exact (raw HLL without small-range correction
    * reads ~m/n× off at small n, and the correction's ln() can never
    * hash-match cross-engine); above k it is (k−1)·2⁶⁰/h_k — one
    * division. The rounded per-mille error column is the audit that
    * says whether the sketch path can serve a given dashboard. */
  def distinctMaintenance(s: SparkSession, d: String): DataFrame =
    distinctMaintenanceOf(Tables.events(s, d))

  /** [[distinctMaintenance]] over an explicit events frame. */
  def distinctMaintenanceOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Materialize(
      events
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(
          epochDay(col("ts")).as("day"),
          col("user_id").cast("string").as("uid"))
        .distinct()
        .withColumn("h", md5Hash60(col("uid"), KmvSeed))
        .withColumn("bkt",
          shiftright(col("h"), HllHashBits - KmvBucketBits)),
      "inc4_base")
    val days = base.select("day").distinct()
    val firstSeen = base.groupBy("uid").agg(min(col("day")).as("fday"))
    val newPerDay = firstSeen.groupBy(col("fday").as("day"))
      .agg(count(lit(1)).as("nu"))
    val exact = days
      .join(newPerDay, Seq("day"), "left")
      .withColumn("cum_users",
        sum(coalesce(col("nu"), lit(0L)))
          .over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("day", "cum_users")
    // per-day min-k via the kmv bucket-cutoff discipline (a hot day's
    // rank window sees only its cutoff-surviving prefix, never the
    // whole day)
    val cut = base.groupBy("day", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.partitionBy("day").orderBy("bkt")))
      .filter(col("cum") >= KmvK)
      .groupBy("day").agg(min("bkt").as("cutoff"))
    val daily = base.join(broadcast(cut), Seq("day"), "left")
      .filter(col("cutoff").isNull || col("bkt") <= col("cutoff"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("day").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .select("day", "h")
    val cum = days.select(col("day").as("d0"))
      .join(daily, col("day") <= col("d0"))
      .select(col("d0"), col("h")).distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy("d0").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .groupBy(col("d0").as("day"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_h"))
    exact.join(cum, Seq("day"))
      .withColumn("est_users",
        when(col("n_sketch") < KmvK, col("n_sketch").cast("double"))
          .otherwise(lit(KmvNumerator) / col("kth_h").cast("double")))
      .select(col("day"), col("cum_users"), col("n_sketch"), col("kth_h"),
        col("est_users"),
        round(lit(1000.0d) * (col("est_users") - col("cum_users")) /
          col("cum_users")).cast("long").as("err_pm"))
      .orderBy("day")
  }

  val distinctMaintenanceOracle: String =
    s"""WITH b AS (
       |  SELECT DISTINCT
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |      AS BIGINT) AS day,
       |    CAST(user_id AS VARCHAR) AS uid
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |days AS (SELECT DISTINCT day FROM b),
       |fs AS (SELECT uid, min(day) AS fday FROM b GROUP BY 1),
       |np AS (SELECT fday AS day, count(*) AS nu FROM fs GROUP BY 1),
       |ex AS (
       |  SELECT d.day,
       |    CAST(sum(coalesce(np.nu, 0)) OVER (ORDER BY d.day) AS BIGINT)
       |      AS cum_users
       |  FROM days d LEFT JOIN np ON d.day = np.day),
       |h AS (
       |  SELECT day,
       |    ('0x' || substr(md5('$KmvSeed' || ':' || uid), 1, 15))::BIGINT AS h
       |  FROM b),
       |daily AS (
       |  SELECT day, h FROM (
       |    SELECT day, h,
       |      row_number() OVER (PARTITION BY day ORDER BY h) AS rn
       |    FROM h) WHERE rn <= $KmvK),
       |cum AS (
       |  SELECT d0, count(*) AS n_sketch, max(h) AS kth_h FROM (
       |    SELECT d0, h, row_number() OVER (PARTITION BY d0 ORDER BY h)
       |      AS rn
       |    FROM (SELECT DISTINCT d.day AS d0, dl.h
       |          FROM days d JOIN daily dl ON dl.day <= d.day))
       |  WHERE rn <= $KmvK GROUP BY d0),
       |est AS (
       |  SELECT ex.day, ex.cum_users,
       |    CAST(cum.n_sketch AS BIGINT) AS n_sketch,
       |    CAST(cum.kth_h AS BIGINT) AS kth_h,
       |    CASE WHEN cum.n_sketch < $KmvK
       |         THEN CAST(cum.n_sketch AS DOUBLE)
       |         ELSE $KmvNumerator / CAST(cum.kth_h AS DOUBLE) END
       |      AS est_users
       |  FROM ex JOIN cum ON ex.day = cum.d0)
       |SELECT day, cum_users, n_sketch, kth_h, est_users,
       |  CAST(round(1000 * (est_users - cum_users) / cum_users) AS BIGINT)
       |    AS err_pm
       |FROM est ORDER BY day""".stripMargin

  /** Bucket width (as a right-shift) for [[exactMedian]]'s first
    * pass — 1024-cent buckets keep the driver's histogram O(price
    * domain / 1024). */
  val MedianShift = 10

  /** hq2 — EXACT global median without a global sort, the two-pass
    * selection that replaces the single-task window nobody can run on
    * an ungrouped 100-TB column (hq1's windows are per-GROUP and
    * bounded; this is the global-scalar case). Pass 1: one hash
    * aggregation to 1024-cent bucket counts — the driver holds only
    * the O(domain/1024) histogram (the PrefixSum O(partitions)
    * precedent, contract-checked), locates the rank-⌈N/2⌉ and
    * rank-⌈(N+1)/2⌉ buckets by cumulative sum. Pass 2+: RECURSIVE
    * HISTOGRAM NARROWING — re-scan with a PUSHED-DOWN range predicate
    * covering just the located bucket and hash-aggregate it into ≤1024
    * sub-buckets (shift drops 10 bits per level), walking the rank
    * down until the bucket width is one cent, where bucket == value.
    * Each level is one fully distributed aggregation; the driver only
    * ever holds a ≤1024-row histogram, so an arbitrarily spiked
    * distribution (every row in one 1024-cent bucket) costs one extra
    * linear pass instead of a single-task sort — never a
    * TakeOrderedAndProject, never a row limit. Even-N median is
    * the exact long sum of the two middle values plus ONE division by
    * 2.0 (the a27 middle-pair discipline). Oracle: the brute
    * rank-window selection — the hash match proves two-pass selection
    * ≡ global sort. */
  def exactMedian(s: SparkSession, d: String): DataFrame =
    exactMedianOf(Tables.lineitem(s, d))

  /** Shared pass 1 of the exact-selection family (hq2 median, hq3
    * quantile panel): non-null cents projection, MedianShift bucket
    * histogram (the driver holds only the O(domain/1024) histogram),
    * and the total count. */
  private def centsHistogram(lineitem: DataFrame)
      : (DataFrame, Array[org.apache.spark.sql.Row], Long) = {
    val c = lineitem
      .filter(col("l_extendedprice").isNotNull)
      .select(cents(col("l_extendedprice")).as("cents"))
    val hist = c
      .withColumn("bucket", shiftright(col("cents"), MedianShift))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")
      .collect()
    require(hist.length <= 100000,
      s"selection histogram ${hist.length} buckets — widen MedianShift")
    (c, hist, hist.map(_.getAs[Long]("cnt")).sum)
  }

  /** Shared RECURSIVE HISTOGRAM NARROWING over a PANEL of 1-based
    * ranks: locate each rank's bucket by cumulative walk, then at each
    * level re-histogram ALL still-active buckets in ONE distributed
    * hash aggregation (range predicate = OR of the bucket ranges,
    * sub-buckets keyed by parent bucket) at a 10-bit-finer shift until
    * the bucket width is one cent, where bucket == value. k ranks cost
    * the passes of one; the driver holds ≤1024 rows per active bucket
    * per level regardless of how many ROWS a bucket holds, so a fully
    * spiked distribution costs ⌈MedianShift/10⌉ extra linear passes —
    * never a single-task sort, never a row-count ceiling. */
  private def narrowRanks(c: DataFrame,
      hist: Array[org.apache.spark.sql.Row], n: Long,
      ranks: Seq[Long]): Map[Long, Long] = {
    def bucketOfRank(k: Long): (Long, Long) = {
      var cum = 0L
      hist.foreach { r =>
        val b = r.getAs[Long]("bucket"); val ct = r.getAs[Long]("cnt")
        if (cum < k && k <= cum + ct) return (b, k - cum)
        cum += ct
      }
      sys.error(s"rank $k out of range n=$n")
    }
    // (rank, current bucket, offset within bucket)
    var targets: Seq[(Long, Long, Long)] = ranks.distinct.map { k =>
      val (b, off) = bucketOfRank(k); (k, b, off)
    }
    var shift = MedianShift
    while (shift > 0) {
      val sub = math.max(0, shift - 10)
      val buckets = targets.map(_._2).distinct
      val cond = buckets.map { b =>
        val lo = b << shift; val hi = (b + 1) << shift
        col("cents") >= lo && col("cents") < hi
      }.reduce(_ || _)
      val rows = c.filter(cond)
        .withColumn("pb", shiftright(col("cents"), shift))
        .withColumn("sb", shiftright(col("cents"), sub))
        .groupBy("pb", "sb").agg(count(lit(1)).as("cnt"))
        .orderBy("pb", "sb")
        .collect()
      val byParent = rows.groupBy(_.getAs[Long]("pb"))
      targets = targets.map { case (k, b, off0) =>
        var cum = 0L; var found: Option[(Long, Long)] = None
        byParent.getOrElse(b, Array.empty).foreach { r =>
          if (found.isEmpty) {
            val sb = r.getAs[Long]("sb"); val ct = r.getAs[Long]("cnt")
            if (cum < off0 && off0 <= cum + ct) found = Some((sb, off0 - cum))
            else cum += ct
          }
        }
        val (nb, noff) = found.getOrElse(
          sys.error(s"rank offset $off0 not found inside bucket $b (n=$n)"))
        (k, nb, noff)
      }
      shift = sub
    }
    targets.map { case (k, v, _) => k -> v }.toMap
  }

  /** [[exactMedian]] over an explicit lineitem frame. Empty (or
    * all-null) input emits ONE row with NULL values — exactly the
    * oracle's scalar-subquery degenerate, not a crash. */
  def exactMedianOf(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val (c, hist, n) = centsHistogram(lineitem)
    val k1 = (n + 1) / 2
    val k2 = (n + 2) / 2
    if (n == 0)
      return Seq((n, k1, k2, Option.empty[Long], Option.empty[Long],
        Option.empty[Long], Option.empty[Double]))
        .toDF("n", "k1", "k2", "lo_cents", "hi_cents", "median_x2_cents",
          "median_cents")
    val vs = narrowRanks(c, hist, n, Seq(k1, k2))
    val (v1, v2) = (vs(k1), vs(k2))
    Seq((n, k1, k2, v1, v2, v1 + v2, (v1 + v2) / 2.0d))
      .toDF("n", "k1", "k2", "lo_cents", "hi_cents", "median_x2_cents",
        "median_cents")
  }

  /** Quantile percents for [[exactQuantiles]] — a deployment-shaped
    * panel (tail behavior both sides plus the quartiles). */
  val QuantilePcts: Seq[Int] = Seq(10, 25, 50, 75, 90, 99)

  /** hq3 — EXACT multi-quantile selection, [[exactMedian]]'s recursive
    * histogram narrowing generalized to a PANEL of ranks resolved
    * TOGETHER: all quantiles share pass 1's bucket histogram, and each
    * narrowing level is ONE distributed hash aggregation whose range
    * predicate is the OR of every still-active bucket (grouped by
    * parent bucket so each rank walks its own sub-histogram) — k
    * quantiles cost the same number of passes as one, not k×. The
    * driver holds ≤1024 rows per active bucket per level (≤6k rows
    * total here), never a sort, never a row-count ceiling; rank
    * definition is ⌈p·N/100⌉ (1-based, the SQL row_number convention),
    * replayed verbatim by the oracle's rank-window selection — the
    * hash match proves panel narrowing ≡ global sort at every p. */
  def exactQuantiles(s: SparkSession, d: String): DataFrame =
    exactQuantilesOf(Tables.lineitem(s, d))

  /** [[exactQuantiles]] over an explicit lineitem frame. */
  def exactQuantilesOf(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val (c, hist, n) = centsHistogram(lineitem)
    // rank = ⌈p·N/100⌉ (1-based, the SQL row_number convention), ≥ 1
    // for n ≥ 1; on EMPTY input every rank is 0 and value_cents is
    // NULL — the oracle's scalar-subquery degenerate, not a crash
    val ranks = QuantilePcts.map(p => (p, (p.toLong * n + 99L) / 100L))
    if (n == 0)
      return ranks
        .map { case (p, k) => (p.toLong, n, k, Option.empty[Long]) }
        .toDF("pct", "n", "k", "value_cents")
        .orderBy("pct")
    val vs = narrowRanks(c, hist, n, ranks.map(_._2))
    ranks.map { case (p, k) => (p.toLong, n, k, vs(k)) }
      .toDF("pct", "n", "k", "value_cents")
      .orderBy("pct")
  }

  val exactQuantilesOracle: String =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
      |n AS (SELECT count(*) AS n FROM c),
      |p AS (SELECT unnest([10, 25, 50, 75, 90, 99]) AS pct),
      |pick AS (
      |  SELECT p.pct, n.n, (p.pct * n.n + 99) // 100 AS k FROM p, n)
      |SELECT CAST(pick.pct AS BIGINT) AS pct, CAST(pick.n AS BIGINT) AS n,
      |       CAST(pick.k AS BIGINT) AS k,
      |       (SELECT cents FROM r WHERE rn = pick.k) AS value_cents
      |FROM pick ORDER BY pct""".stripMargin

  val exactMedianOracle: String =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
      |n AS (SELECT count(*) AS n FROM c),
      |pick AS (
      |  SELECT n.n, (n.n + 1) // 2 AS k1, (n.n + 2) // 2 AS k2,
      |    (SELECT cents FROM r WHERE rn = (n.n + 1) // 2) AS lo_cents,
      |    (SELECT cents FROM r WHERE rn = (n.n + 2) // 2) AS hi_cents
      |  FROM n)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k1 AS BIGINT) AS k1,
      |       CAST(k2 AS BIGINT) AS k2,
      |       lo_cents, hi_cents,
      |       lo_cents + hi_cents AS median_x2_cents,
      |       CAST(lo_cents + hi_cents AS DOUBLE) / 2 AS median_cents
      |FROM pick""".stripMargin
}
