package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (whole-stage codegen, no UDFs, no shuffle except
  * the final fingerprint grouping) — at 100 TB these run at scan speed.
  */
object TextStats {

  /** Whitespace tokenization, trim-guarded. The class is EXPLICIT and
    * matches RE2's `\s` exactly ([\t\n\f\r ]): Java's `\s` also eats
    * U+000B vertical tab, which RE2-based engines (the DuckDB oracle)
    * do not — with a bare `\s+` every word-based query's hash gate
    * would be one vertical-tab away from a cross-engine mismatch. */
  def words(text: Column): Column = split(trim(text), "[ \\t\\n\\f\\r]+")

  /** Distinct word n-gram shingles via the imperative
    * [[graft.expressions.WordNGrams]] expression (the composable
    * higher-order form is interpreted per element and ~100× slower);
    * empty for docs shorter than n words — mirrored in the oracle. */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.WordNGrams.ngrams(text, n)

  /** Language-marker word sets for the n-gram-heuristic language ID.
    * Ordered: ties resolve to the earliest entry (deterministic). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "sqlish" -> Seq("table", "query", "join", "scan", "filter"),
    "mlish" -> Seq("vector", "embedding", "model", "spark"),
    "opsish" -> Seq("batch", "stream", "window", "merge"))

  private def markerCount(text: Column, markers: Seq[String]): Column =
    size(regexp_extract_all(text, lit("\\b(" + markers.mkString("|") + ")\\b"), lit(0)))

  /** Language ID — argmax of marker-hit counts with first-wins ties
    * (the classic stopword-profile heuristic, expressed as codegen'd
    * regexp counts + a CASE chain). */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, m) => (l, markerCount(text, m)) }
    // lang k wins if its score >= all earlier and > all later
    scores.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((lang, sc), i)) =>
        val beatsEarlier = scores.take(i).map(sc >= _._2)
        val beatsLater = scores.drop(i + 1).map(sc > _._2)
        val wins = (beatsEarlier ++ beatsLater :+ (sc > 0))
          .reduce(_ && _)
        Some(acc.fold(when(wins, lit(lang)))(_.when(wins, lit(lang))))
    }.map(_.otherwise(lit("und"))).getOrElse(lit("und"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(words(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"),
      col("n_chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, token stats, stopword ratio, bucket.
    * All derived from integers (int/int divisions are identical doubles
    * in both engines). */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("a", "the", "of")
    Tables.documents(s, d).select(
      col("doc_id"),
      col("n_chars"),
      size(words(col("text"))).as("n_tokens"),
      markerCount(col("text"), stop).as("n_stop"))
      .withColumn("avg_token_len", col("n_chars") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("quality",
        when(col("n_tokens") < 10, "too_short")
          .when(col("stop_ratio") > 0.2, "boilerplate")
          .when(col("n_chars") > 400, "long")
          .otherwise("ok"))
      .orderBy("doc_id")
  }

  /** Language-ID query over documents. */
  def langIdQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Document fingerprint: md5 over the sorted distinct word set —
    * canonicalizes word order, so bag-of-words duplicates collide.
    * Grouping by it is content-defined dedup at scan+1-shuffle cost. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(text))), " "))

  def fingerprintQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .orderBy("fp")

  /** C4-style corpus filter: per-document heuristic quality gates with
    * machine-readable rejection reasons (comma-joined for oracle
    * comparability) and the keep flag. One narrow pass; at 100 TB the
    * keep-filter pushes straight into the scan of the next stage. */
  def corpusFilter(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val nTokens = size(w)
    val nDistinct = size(array_distinct(w))
    val base = Tables.documents(s, d)
      .withColumn("n_tokens", nTokens)
      .withColumn("diversity", nDistinct / nTokens)
    val reasons = concat_ws(",",
      when(col("n_tokens") < 20, lit("too_short")),
      when(col("n_chars") > 520, lit("too_long")),
      when(col("diversity") < 0.3, lit("low_diversity")))
    base.select(
      col("doc_id"),
      col("n_tokens"),
      col("diversity"),
      reasons.as("reject_reasons"),
      (reasons === "").as("keep"))
      .orderBy("doc_id")
  }

  val corpusFilterOracle: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |    len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens, n_distinct / n_tokens AS diversity,
      |    concat_ws(',',
      |      CASE WHEN n_tokens < 20 THEN 'too_short' END,
      |      CASE WHEN n_chars > 520 THEN 'too_long' END,
      |      CASE WHEN n_distinct / n_tokens < 0.3 THEN 'low_diversity' END) AS reject_reasons
      |  FROM t)
      |SELECT doc_id, n_tokens, diversity, reject_reasons,
      |       reject_reasons = '' AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition filter (Rae et al. 2021 §A1.1 heuristics,
    * re-expressed as column math): duplicate-word fraction, duplicate
    * 2-gram fraction (via the distinct-shingle expression — total minus
    * distinct over total), top-word fraction (most frequent word's
    * share). The fractions are (int - int)/int single divisions for
    * oracle parity. One explode+agg for the top-word count (linear,
    * keyed on doc_id); everything else is scan-speed column math. */
  def repetitionStats(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val docs = Tables.documents(s, d)
    val base = docs
      .withColumn("n_tokens", size(w))
      .withColumn("n_distinct", size(array_distinct(w)))
      .withColumn("n_2grams",
        greatest(col("n_tokens") - 1, lit(0)))
      .withColumn("n_distinct_2grams", size(shingles(col("text"), 2)))
    val top = docs
      .select(col("doc_id"), explode(w).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_word_count"))
    val dupWord = (col("n_tokens") - col("n_distinct")) / col("n_tokens")
    val dup2g = when(col("n_2grams") > 0,
      (col("n_2grams") - col("n_distinct_2grams")) / col("n_2grams"))
      .otherwise(lit(0.0))
    val topFrac = col("top_word_count") / col("n_tokens")
    // top is a DOC-GRAIN aggregate of the exploded token stream: its
    // estimate is fan-out-blind (BroadcastAudit class), so gate the
    // join strategy on evidence instead of letting a toy-tier
    // broadcast decision survive to tiers where doc grain is huge
    base.join(Materialize.hashJoinIfFits(top), "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        dupWord.as("dup_word_frac"),
        dup2g.as("dup_2gram_frac"),
        col("top_word_count"),
        topFrac.as("top_word_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= 0.7 && col("dup_2gram_frac") <= 0.2 &&
          col("top_word_frac") <= 0.3)
      .orderBy("doc_id")
  }

  val repetitionStatsOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, len(ws) AS n_tokens,
      |    len(list_distinct(ws)) AS n_distinct,
      |    greatest(len(ws) - 1, 0) AS n_2grams,
      |    CASE WHEN len(ws) >= 2 THEN len(list_distinct(list_transform(
      |      generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])))
      |    ELSE 0 END AS n_distinct_2grams
      |  FROM w),
      |t AS (
      |  SELECT doc_id, max(c) AS top_word_count FROM (
      |    SELECT doc_id, term, count(*) AS c
      |    FROM (SELECT doc_id, unnest(ws) AS term FROM w)
      |    GROUP BY doc_id, term)
      |  GROUP BY doc_id),
      |m AS (
      |  SELECT b.doc_id, b.n_tokens,
      |    (b.n_tokens - b.n_distinct) / b.n_tokens AS dup_word_frac,
      |    CASE WHEN b.n_2grams > 0
      |      THEN (b.n_2grams - b.n_distinct_2grams) / b.n_2grams
      |      ELSE 0.0 END AS dup_2gram_frac,
      |    t.top_word_count,
      |    t.top_word_count / b.n_tokens AS top_word_frac
      |  FROM b JOIN t ON b.doc_id = t.doc_id)
      |SELECT doc_id, n_tokens, dup_word_frac, dup_2gram_frac,
      |       top_word_count, top_word_frac,
      |       dup_word_frac <= 0.7 AND dup_2gram_frac <= 0.2
      |         AND top_word_frac <= 0.3 AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Deterministic train/test split — hash-bucket the STABLE doc id (not
    * random()): reproducible across runs, engines, and re-partitioning,
    * which is the property a training pipeline actually needs. 90/10 by
    * md5-derived bucket; lang retained so stratification is auditable. */
  def trainTestSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      graft.functions.Functions.md5Hash60(col("doc_id").cast("string"), 7),
      lit(100L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        bucket.as("bucket"),
        when(bucket < 90, "train").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination — the dataset-hygiene step every serious
    * training pipeline runs (n-gram collision between training docs and
    * a held-out/eval set): a train doc is CONTAMINATED when it shares
    * ≥1 distinct 3-gram shingle with any test doc. Linear and keyed at
    * 100 TB: one explode to hashed shingles, a distinct over the (much
    * smaller) test side, a shuffle join on the shingle hash, one count
    * per train doc. Splits come from the same stable-id hash bucket as
    * [[trainTestSplit]], so the check is reproducible. */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Functions.md5Hash60
    val bucket = pmod(md5Hash60(col("doc_id").cast("string"), 7), lit(100L))
    val docs = Tables.documents(s, d)
      .withColumn("split", when(bucket < 90, "train").otherwise("test"))
    val flat = docs
      .repartition(Materialize.partitions(s))
      .select(col("doc_id"), col("split"),
        explode(shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), col("split"), md5Hash60(col("sh"), 0).as("h"))
    // unlike tx15's benchmark-sized eval set (a deliberate broadcast),
    // tx9's test side is a 10% SPLIT of the corpus — its distinct
    // shingle set grows with the data and must meet the train stream
    // in a keyed join; same for the doc-grain aggregate joined back
    // below (stats-gated hash hints, the tx46/dd-family discipline)
    val testShingles = graft.ops.Materialize.hashJoinIfFits(
      flat.filter(col("split") === "test").select("h").distinct())
    val shared = flat.filter(col("split") === "train")
      .join(testShingles, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_shingles"))
    docs.filter(col("split") === "train").select("doc_id")
      .join(graft.ops.Materialize.hashJoinIfFits(shared),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("n_shared_shingles"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  val decontaminationOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |s AS (SELECT doc_id,
      |  CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
      |    generate_series(1, len(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |  ELSE [] END AS sh FROM w),
      |sp AS (SELECT doc_id,
      |  CASE WHEN ('0x' || substr(md5('7' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
      |       THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |flat AS (
      |  SELECT doc_id, split,
      |         ('0x' || substr(md5('0' || ':' || u), 1, 15))::BIGINT AS h
      |  FROM (SELECT s.doc_id, sp.split, unnest(s.sh) AS u
      |        FROM s JOIN sp USING (doc_id))),
      |ts AS (SELECT DISTINCT h FROM flat WHERE split = 'test'),
      |shared AS (
      |  SELECT f.doc_id, count(*) AS n_shared_shingles
      |  FROM flat f JOIN ts ON f.h = ts.h
      |  WHERE f.split = 'train' GROUP BY f.doc_id)
      |SELECT sp.doc_id,
      |       coalesce(sh2.n_shared_shingles, 0) AS n_shared_shingles,
      |       coalesce(sh2.n_shared_shingles, 0) > 0 AS contaminated
      |FROM sp LEFT JOIN shared sh2 USING (doc_id)
      |WHERE sp.split = 'train' ORDER BY sp.doc_id""".stripMargin

  /** tx11 — per-document top-k terms by a df-normalized integer weight
    * (the tf-idf ranking shape): score_e6 = tf · 10⁶ floor-div df. The
    * corpus-size multiplier N of true idf is constant per corpus and
    * cancels out of per-document ranking, and log-damping would put a
    * transcendental double in the hash-compared output — the integer
    * surrogate keeps the ranking exact in both engines. Plan: one
    * explode + (doc,term) hash aggregation, df as a window count over
    * term (reuses the aggregate, no second scan of the corpus), then a
    * per-doc top-k window — shuffles keyed on (doc,term) → term → doc,
    * all linear in corpus size. */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val ranked = withDf
      .withColumn("score_e6", expr("tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(desc("score_e6"), col("term"))).cast("long"))
    ranked.filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "score_e6", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val tfidfTopTermsOracle: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      |d AS (SELECT doc_id, term, tf,
      |             count(*) OVER (PARTITION BY term) AS df FROM tf),
      |sc AS (SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score_e6 FROM d),
      |r AS (SELECT doc_id, term, tf, df, score_e6,
      |             row_number() OVER (PARTITION BY doc_id
      |               ORDER BY score_e6 DESC, term) AS rnk FROM sc)
      |SELECT doc_id, term, tf, df, score_e6, rnk FROM r
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Tokens per pretraining sequence for [[sequencePacking]]. */
  val SeqBudget = 256L

  /** tx12 — sequence packing: concatenate documents in doc_id order and
    * chunk the token stream at [[SeqBudget]]-token boundaries (the
    * GPT-style pack-and-chunk layout — documents may span sequence
    * boundaries). Each doc's global token offset is an ordered prefix
    * sum; start/end sequence ids are integer divisions of it. The
    * prefix sum is the scalable two-phase [[PrefixSum.exclusive]] —
    * range partition, parallel local sums, O(partitions) driver offsets
    * — NOT a single-task global window, so the layout computation
    * itself holds at corpus scale. */
  def sequencePacking(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"))
    PrefixSum.exclusive(toks, "doc_id", "n_tokens")
      .withColumnRenamed("offset", "tok_offset") // OFFSET is reserved in DuckDB
      .withColumn("start_seq", expr(s"tok_offset div $SeqBudget"))
      .withColumn("end_seq",
        expr(s"(tok_offset + n_tokens - 1) div $SeqBudget"))
      .select("doc_id", "n_tokens", "tok_offset", "start_seq", "end_seq")
      .orderBy("doc_id")
  }

  val sequencePackingOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM t)
       |SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS tok_offset,
       |       CAST(off // $SeqBudget AS BIGINT) AS start_seq,
       |       CAST((off + n_tokens - 1) // $SeqBudget AS BIGINT) AS end_seq
       |FROM o ORDER BY doc_id""".stripMargin

  /** Token budget per output shard for [[tokenShards]]. */
  val ShardTokenBudget = 4096

  /** tx21 — shard export assignment: deterministically SHUFFLE the
    * corpus (stable md5 order — the cross-run/cross-engine reproducible
    * "random" order every training export needs, same discipline as
    * tx13/tx5) and assign each document WHOLE to the shard its running
    * token offset falls in — ~[[ShardTokenBudget]] tokens per shard.
    * Differs from tx12 on both axes that matter to the export stage:
    * hash order (mixing), not id order; whole-doc placement (a doc
    * never splits across shard files), not token-exact splitting.
    *
    * Scale posture: the running offset is the two-phase
    * [[PrefixSum.exclusive]] — per-partition window + O(partitions)
    * offsets, NO single-task global window — and everything after is a
    * per-row projection. The shard column is exactly what a 100-TB
    * export feeds `partitionBy("shard")`. */
  def tokenShards(s: SparkSession, d: String): DataFrame =
    tokenShardsOf(Tables.documents(s, d))

  def tokenShardsOf(docs: DataFrame, budget: Long = ShardTokenBudget): DataFrame = {
    val toks = docs.select(col("doc_id"),
      md5(col("doc_id").cast("string")).as("ord"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    PrefixSum.exclusive(toks, "ord", "n_tokens")
      .withColumnRenamed("offset", "tok_offset")
      .withColumn("shard", expr(s"tok_offset div $budget"))
      .select("doc_id", "n_tokens", "tok_offset", "shard")
      .orderBy("doc_id")
  }

  val tokenShardsOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord,
       |         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         coalesce(sum(n_tokens) OVER (ORDER BY ord
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM t)
       |SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS tok_offset,
       |       CAST(off // $ShardTokenBudget AS BIGINT) AS shard
       |FROM o ORDER BY doc_id""".stripMargin

  /** Docs kept per source by [[sourceCapSample]]. */
  val SourceCap = 10

  /** tx13 — per-source cap (the per-domain cap every web-corpus
    * pipeline applies so no single site dominates the mixture): keep at
    * most [[SourceCap]] docs per source, chosen by a stable hash order
    * — md5 of the doc id, so the "random" sample is reproducible across
    * runs, retries, and partitionings (same discipline as the tx5
    * split), with doc_id as the total-order tiebreak. One window
    * shuffle keyed on source; heavy sources cost one task each at most
    * — the cap bounds their output, and a pathological mega-source
    * would take the same salting as any skewed key. */
  def sourceCapSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("hash_rank", row_number().over(w).cast("long"))
      .filter(col("hash_rank") <= SourceCap)
      .orderBy("source", "hash_rank")
  }

  val sourceCapSampleOracle: String =
    s"""SELECT doc_id, source, hash_rank FROM (
       |  SELECT doc_id, source,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS hash_rank
       |  FROM documents) t
       |WHERE hash_rank <= $SourceCap
       |ORDER BY source, hash_rank""".stripMargin

  /** Target mixture for [[mixtureResample]] in integer
    * parts-per-100 (the LLaMA/Pile-style source-weighting table —
    * here keyed on lang since this corpus's sources are uniform).
    * Integer weights keep every downstream computation exact. */
  val MixWeights: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 15, "zh" -> 15, "fr" -> 15, "es" -> 15)

  /** tx14 — mixture resampling (training-data "data mixing"): shrink
    * the corpus to the LARGEST total that satisfies the target source
    * proportions exactly, sampling each slice by stable hash order.
    * T = min_s floor(n_s·100 / w_s) is the binding-slice feasibility
    * bound; each slice keeps k_s = floor(w_s·T / 100) docs. All
    * integer arithmetic — both engines agree on every boundary.
    *
    * Scale posture: the per-slice counts are an O(slices) stats
    * collect (the same legitimate driver footprint as AQE stats); the
    * selection is ONE window shuffle keyed on the slice, identical to
    * [[sourceCapSample]]'s shape. The slice sort is the exact-sample
    * path; a 100-TB deployment with huge slices would switch to
    * hash-threshold selection (keep if hash < k/n scaled) — same
    * stable-hash discipline, no sort, approximate counts. */
  def mixtureResample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val feasibleT = MixWeights.map { case (l, wt) =>
      counts.getOrElse(l, 0L) * 100 / wt
    }.min
    val quota = MixWeights.map { case (l, wt) =>
      l -> wt * feasibleT / 100
    }.toMap
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= element_at(typedLit(quota), col("lang")))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val mixtureResampleOracle: String = {
    val values = MixWeights.map { case (l, wt) => s"('$l', $wt)" }.mkString(", ")
    s"""WITH wt(lang, w) AS (VALUES $values),
       |c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |t AS (SELECT min(coalesce(c.n, 0) * 100 // wt.w) AS t
       |      FROM wt LEFT JOIN c USING (lang)),
       |k AS (SELECT wt.lang, wt.w * t.t // 100 AS k FROM wt, t),
       |r AS (
       |  SELECT doc_id, lang, source,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |SELECT r.doc_id, r.lang, r.source
       |FROM r JOIN k USING (lang) WHERE r.rn <= k.k
       |ORDER BY r.doc_id""".stripMargin
  }

  /** Winnowing parameters: [[WinnowK]]-token grams, window of
    * [[WinnowW]] consecutive gram hashes. Guarantee (Schleimer,
    * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003): any shared token run of at least
    * k + w − 1 = 6 tokens between two documents shares at least one
    * selected fingerprint, with expected density 2/(w+1) of the gram
    * stream. */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowSeed = 23

  /** tx20 — winnowing fingerprint selection (the MOSS algorithm):
    * from each document's positioned gram-hash stream, every sliding
    * window of [[WinnowW]] consecutive hashes selects its minimum —
    * RIGHTMOST position on equal hashes, the paper's robust variant —
    * and the document's fingerprint is the distinct selected
    * (pos, hash) set. The position-aware, guaranteed-recall sketch
    * complement to dd10's exact span join: winnowed fingerprints are
    * what you INDEX at 100 TB; dd10's islands are what you run on
    * candidate pairs.
    *
    * Shape: grams explode to their ≤ w covering windows (a fixed w×
    * linear blowup), then ONE (doc, window) aggregation: the rightmost
    * minimum is min over the lexicographic struct (h, −pos) — min h,
    * then max pos — so no join-back pass is needed; one distinct after
    * — every stage keyed on (doc, window), nothing global. Documents
    * with fewer than w grams define no window and contribute no
    * fingerprint (the paper's domain), mirrored in the oracle. */
  def winnow(s: SparkSession, d: String): DataFrame =
    winnowOf(Tables.documents(s, d))

  def winnowOf(docs: DataFrame): DataFrame = {
    val g = docs
      .repartition(Materialize.partitions(docs.sparkSession))
      .select(col("doc_id"),
        (size(words(col("text"))) - (WinnowK - 1)).cast("long").as("m"),
        posexplode(graft.expressions.AllWordNGrams.ngrams(
          col("text"), WinnowK)).as(Seq("p0", "gram")))
      .select(col("doc_id"), col("m"), (col("p0") + 1).cast("long").as("pos"),
        graft.functions.Functions.md5Hash60(col("gram"), WinnowSeed).as("h"))
    val wi = g.filter(col("m") >= WinnowW)
      .select(col("doc_id"), col("pos"), col("h"),
        explode(sequence(
          greatest(lit(1L), col("pos") - (WinnowW - 1)),
          least(col("pos"), col("m") - (WinnowW - 1)))).as("i"))
    wi.groupBy("doc_id", "i")
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("sel"))
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
      .distinct()
      .orderBy("doc_id", "pos")
  }

  /** DuckDB replay of tx20: the same gram hashes via the md5-60 hex
    * parse idiom and the same lexicographic struct min (both engines
    * order structs field-by-field) — but the per-window min is a
    * SLIDING window function over pos (ROWS CURRENT..w−1 FOLLOWING,
    * one sorted pass per doc) instead of the w-way position explode +
    * 100M-row hash aggregate of the original replay: identical rows
    * (pinned at sf0.1), 317 s → 4.4 s at the sf1 tier, and no more
    * forked-child memory exhaustion. */
  val winnowOracle: String = {
    val k = WinnowK
    val w1 = WinnowW - 1
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, len(ws) - ${k - 1} AS m, pos,
       |         ('0x' || substr(md5('$WinnowSeed' || ':' ||
       |            array_to_string(ws[pos:pos+${k - 1}], ' ')), 1, 15))::BIGINT AS h
       |  FROM t, unnest(generate_series(1, len(ws)-${k - 1})) AS u(pos)
       |  WHERE len(ws) >= $k AND NOT (len(ws) = 1 AND ws[1] = '')),
       |wm AS (
       |  SELECT doc_id, pos AS i, m,
       |         min(struct_pack(h := h, np := -pos))
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND $w1 FOLLOWING) AS sel
       |  FROM g WHERE m >= $WinnowW)
       |SELECT DISTINCT doc_id, -sel.np AS pos, sel.h AS h
       |FROM wm WHERE i <= m - $w1 ORDER BY doc_id, pos""".stripMargin
  }

  /** Target size for [[temperatureMix]] as a percent of the corpus. */
  val TempTargetPct = 50

  /** tx19 — temperature-flattened source mixing (the multilingual
    * α-sampling trick — mBERT/XLM-R style — at α = 1/2): allocate a
    * target row budget across sources proportional to √n_s instead of
    * n_s, so head sources shrink and tail sources repeat. Per source:
    * docs, integer weight isqrt(n_s), exact largest-remainder quota
    * (base = ⌊T·w/Σw⌋; the T − Σbase leftovers go to the largest
    * remainders, ties by source name), capped selection, and the
    * repeat factor ·100 (quota·100 div n — >100 means the source runs
    * more than one epoch). Complements tx14, which enforces EXPLICIT
    * target weights; temperature mixing DERIVES them from corpus
    * counts.
    *
    * Determinism: isqrt via floor(sqrt(n)) is exact in both engines —
    * IEEE-754 sqrt is correctly rounded, and the floor can only
    * misround beyond n ≈ 2^104 — and everything after is integer
    * arithmetic, so every quota boundary agrees cross-engine.
    *
    * Scale posture: all computation is over the per-source stats table
    * (O(sources) rows — stats-sized, not corpus-sized); the only
    * corpus-wide work is the one groupBy count. The global rank window
    * over that tiny table is deliberate; the actual doc selection at
    * 100 TB is [[mixtureResample]]'s stable-hash window with these
    * quotas as the per-source k. */
  def temperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMixOf(Tables.documents(s, d))

  def temperatureMixOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("wt", floor(sqrt(col("n"))).cast("long"))
    val tot = c.agg(sum("n").as("total"), sum("wt").as("sw"))
    val q = c.join(broadcast(tot))
      .withColumn("target", expr(s"total * $TempTargetPct div 100"))
      .withColumn("base", expr("target * wt div sw"))
      .withColumn("rem", expr("(target * wt) % sw"))
    val sb = q.agg(sum("base").as("sb"))
    q.join(broadcast(sb))
      .withColumn("rr",
        row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
      .withColumn("quota",
        col("base") +
          when(col("rr") <= col("target") - col("sb"), 1L).otherwise(0L))
      .select(col("lang"), col("n").as("n_docs"), col("wt").as("weight"),
        col("quota"), least(col("quota"), col("n")).as("n_selected"),
        expr("quota * 100 div n").as("epochs_e2"))
      .orderBy("lang")
  }

  val temperatureMixOracle: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM c),
       |tot AS (SELECT sum(n) AS total, sum(wt) AS sw FROM w),
       |q AS (SELECT lang, n, wt, (total * $TempTargetPct // 100) AS target,
       |             (total * $TempTargetPct // 100) * wt // sw AS base,
       |             ((total * $TempTargetPct // 100) * wt) % sw AS rem
       |      FROM w, tot),
       |sb AS (SELECT sum(base) AS sb FROM q),
       |rk AS (SELECT q.*, sb.sb,
       |              row_number() OVER (ORDER BY rem DESC, lang) AS rr
       |       FROM q, sb),
       |fin AS (SELECT lang, n, wt,
       |               base + CASE WHEN rr <= target - sb THEN 1 ELSE 0 END AS quota
       |        FROM rk)
       |SELECT lang, CAST(n AS BIGINT) AS n_docs, wt AS weight,
       |       CAST(quota AS BIGINT) AS quota,
       |       CAST(least(quota, n) AS BIGINT) AS n_selected,
       |       CAST(quota * 100 // n AS BIGINT) AS epochs_e2
       |FROM fin ORDER BY lang""".stripMargin

  /** Eval-set membership stride for [[contaminationScore]] (doc_id %
    * stride == 0 stands in for "appears in a benchmark suite"). */
  val ContamStride = 97
  val ContamSeed = 17

  /** tx15 — n-gram overlap contamination SCORING: the graded variant of
    * tx9's exact-match decontamination. Benchmarks rarely match whole
    * documents; the realistic test is what fraction of a document's
    * distinct shingles appear anywhere in the eval set. Per doc:
    * distinct-shingle count, matched count, overlap ratio (one double
    * division of exact integers), and a ≥10% flag via integer
    * cross-multiplication (no boundary drift). Eval docs score 1.0 by
    * construction — the built-in sanity row.
    *
    * Scale posture: the corpus side is the one heavy stream (explode +
    * one keyed aggregation); the eval shingle set is benchmark-sized by
    * nature (MBs against 100 TB) and BROADCASTS — contamination
    * scoring must never shuffle the corpus against the eval set. */
  def contaminationScore(s: SparkSession, d: String): DataFrame = {
    // materialized: the eval-set derivation and the corpus probe both
    // read this — unmaterialized, the scan + explode + md5 run twice
    val sh = Materialize(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
        .withColumn("h",
          graft.functions.Functions.md5Hash60(col("sh"), ContamSeed)),
      "contam_shingles")
    val evalSet = sh.filter(col("doc_id") % ContamStride === 0)
      .select("h").distinct().withColumn("m", lit(1L))
    sh.join(broadcast(evalSet), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("m"), lit(0L))).as("n_matched"))
      .withColumn("contamination", col("n_matched") / col("n_shingles"))
      .withColumn("contaminated",
        col("n_matched") * 10 >= col("n_shingles"))
      .orderBy("doc_id")
  }

  val contaminationScoreOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |sdoc AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [] END AS sh FROM w),
       |u AS (SELECT doc_id, unnest(sh) AS sh FROM sdoc),
       |h AS (SELECT doc_id,
       |    ('0x' || substr(md5('$ContamSeed' || ':' || sh), 1, 15))::BIGINT AS h
       |  FROM u),
       |e AS (SELECT DISTINCT h FROM h WHERE doc_id % $ContamStride = 0)
       |SELECT h.doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_matched,
       |  CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    / count(*) AS contamination,
       |  CAST(sum(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10
       |    >= count(*) AS contaminated
       |FROM h LEFT JOIN e USING (h)
       |GROUP BY h.doc_id
       |ORDER BY h.doc_id""".stripMargin

  /** Vocabulary building: term frequencies + document frequencies over
    * the corpus — explode + one aggregation, the shape that feeds
    * tokenizer training at 100 TB. */
  def vocabulary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), col("term"))

  /** Hash-threshold seed for [[stratifiedBalance]]. */
  val BalanceSeed = 29
  /** Denominator of the [[stratifiedBalance]] uniform variate. */
  val BalanceDen = 1000000L

  /** smp1 — stratified rebalancing by hash THRESHOLD, the shuffle-free
    * alternative to the rank-window samplers (tx13/tx14): every lang
    * stratum is Bernoulli-downsampled toward the size of the smallest
    * stratum. A doc survives iff u · n_lang < t · 10⁶, where u is a
    * 60-bit-md5-derived uniform in [0, 10⁶), n_lang the stratum size
    * and t = min stratum size — an integer cross-multiplication, so
    * both engines agree on every boundary.
    *
    * Scale posture: tx13/tx14 place each stratum in ONE window task
    * (exact counts, but a hot stratum serializes); this form never
    * shuffles the corpus at all — the per-stratum counts are an
    * O(strata) aggregate broadcast back, and selection is a codegen'd
    * filter at scan speed. Kept counts are expected-t rather than
    * exactly-t: the price of the scan-speed shape, and the right trade
    * at 100 TB where t is millions and the relative error ~1/√t. */
  def stratifiedBalance(s: SparkSession, d: String): DataFrame =
    stratifiedBalanceOf(Tables.documents(s, d))

  /** [[stratifiedBalance]] over an explicit documents frame. */
  def stratifiedBalanceOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(min(col("n_lang")).as("t"))
    val u = pmod(
      graft.functions.Functions.md5Hash60(
        col("doc_id").cast("string"), BalanceSeed),
      lit(BalanceDen))
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        u.as("sample_key"))
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(target))
      .filter(col("sample_key") * col("n_lang") < col("t") * lit(BalanceDen))
      .select("doc_id", "lang", "source", "sample_key")
      .orderBy("doc_id")
  }

  val stratifiedBalanceOracle: String =
    s"""WITH n AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
       |tt AS (SELECT min(n_lang) AS t FROM n),
       |d AS (SELECT doc_id, lang, source,
       |        ('0x' || substr(md5('$BalanceSeed' || ':' ||
       |           CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $BalanceDen
       |          AS sample_key
       |      FROM documents)
       |SELECT doc_id, d.lang, source, sample_key
       |FROM d JOIN n USING (lang), tt
       |WHERE sample_key * n_lang < t * $BalanceDen
       |ORDER BY doc_id""".stripMargin

  /** Rank cutoff for [[vocabCoverage]]. */
  val CoverageTopK = 100

  /** tx24 — Zipf coverage curve: the top-[[CoverageTopK]] corpus terms
    * by frequency with their cumulative share of all tokens — the
    * how-big-must-the-vocabulary-be curve tokenizer sizing reads.
    * Totally ordered on (tf DESC, term) so ranks and the top-k cut are
    * deterministic in both engines; coverage is one long/long division.
    *
    * Scale posture: term counting is the tx6 explode + hash aggregate;
    * the top-k is a TakeOrderedAndProject (per-partition heaps + a
    * k-row driver merge — no global sort materializes the vocabulary),
    * the running sum is a window over k rows on one task (bounded by
    * the CONSTANT k, not the corpus), and the token total rides as a
    * one-row broadcast. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverageOf(Tables.documents(s, d))

  /** [[vocabCoverage]] over an explicit documents frame. */
  def vocabCoverageOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(explode(words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val total = terms.agg(sum(col("tf")).as("total"))
    val top = terms.orderBy(desc("tf"), col("term")).limit(CoverageTopK)
    val w = Window.orderBy(desc("tf"), col("term"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tf", sum(col("tf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("tf"), col("cum_tf"),
        (col("cum_tf") / col("total")).as("coverage"))
      .orderBy("rank")
  }

  val vocabCoverageOracle: String =
    s"""WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
       |           FROM documents),
       |v AS (SELECT term, count(*) AS tf FROM w GROUP BY term),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM v),
       |top AS (SELECT term, tf FROM v ORDER BY tf DESC, term LIMIT $CoverageTopK)
       |SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rank,
       |       term, tf,
       |       CAST(sum(tf) OVER (ORDER BY tf DESC, term
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         AS cum_tf,
       |       CAST(sum(tf) OVER (ORDER BY tf DESC, term
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         / total AS coverage
       |FROM top, tot ORDER BY rank""".stripMargin

  /** tx25 — corpus novelty scoring: for each document, the fraction of
    * its distinct 3-gram shingles whose FIRST corpus occurrence (by
    * min doc_id — ingestion order) is this document. The data-growth
    * curve read: a tail of low-novelty docs means more scraping from
    * the same sources has stopped adding information. Differs from
    * tx18 (which rewrites docs by dropping repeated segments): this
    * SCORES every doc and keeps the corpus intact.
    *
    * Scale posture: one explode to the hashed shingle table, a
    * min-aggregate per shingle (map-side partial), one join back on
    * the shingle hash, one per-doc aggregate — all shuffles keyed on
    * high-cardinality hashes. Zero-shingle docs (< 3 words) survive
    * via the left join with NULL novelty (0/0 is undefined, not 0). */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyOf(Tables.documents(s, d))

  /** [[ngramNovelty]] over an explicit documents frame. */
  def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    import graft.functions.Functions.md5Hash60
    val flat = docs
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), md5Hash60(col("sh"), 0).as("h"))
    // both join-backs land on FAN-OUT-BLIND aggregates of the shingle
    // stream (first: shingle grain; per: doc grain) — corpus-scale
    // tables whose estimates ignore the explode factor. Stats-gated
    // hints keep them keyed (BroadcastAudit class; the tx9 fix)
    val first = Materialize.hashJoinIfFits(
      flat.groupBy("h").agg(min(col("doc_id")).as("first_doc")))
    val per = flat.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select("doc_id")
      .join(Materialize.hashJoinIfFits(per), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0, col("n_novel") / col("n_shingles"))
          .as("novel_frac"))
      .orderBy("doc_id")
  }

  val ngramNoveltyOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |sdoc AS (SELECT doc_id,
      |  CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
      |    generate_series(1, len(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |  ELSE [] END AS sh FROM w),
      |flat AS (
      |  SELECT doc_id, ('0x' || substr(md5('0' || ':' || u), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(sh) AS u FROM sdoc)),
      |fst AS (SELECT h, min(doc_id) AS first_doc FROM flat GROUP BY h),
      |per AS (
      |  SELECT f.doc_id, count(*) AS n_shingles,
      |         CAST(sum(CASE WHEN f.doc_id = fst.first_doc THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_novel
      |  FROM flat f JOIN fst USING (h) GROUP BY f.doc_id)
      |SELECT d.doc_id,
      |       coalesce(per.n_shingles, 0) AS n_shingles,
      |       coalesce(per.n_novel, 0) AS n_novel,
      |       CASE WHEN coalesce(per.n_shingles, 0) > 0
      |            THEN per.n_novel / per.n_shingles END AS novel_frac
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---- oracles ----

  val tokenCountsOracle: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  val qualityOracle: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(a|the|of)\b')) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_chars, n_tokens, n_stop,
      |  n_chars / n_tokens AS avg_token_len,
      |  n_stop / n_tokens AS stop_ratio,
      |  CASE WHEN n_tokens < 10 THEN 'too_short'
      |       WHEN n_stop / n_tokens > 0.2 THEN 'boilerplate'
      |       WHEN n_chars > 400 THEN 'long'
      |       ELSE 'ok' END AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  val langIdOracle: String = {
    val score = langMarkers.map { case (l, m) =>
      l -> s"len(regexp_extract_all(text, '\\b(${m.mkString("|")})\\b'))"
    }
    val cases = score.zipWithIndex.map { case ((lang, sc), i) =>
      val conds = score.take(i).map(e => s"$sc >= ${e._2}") ++
        score.drop(i + 1).map(e => s"$sc > ${e._2}") :+ s"$sc > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  val trainTestSplitOracle: String =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('7' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, bucket,
      |       CASE WHEN bucket < 90 THEN 'train' ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  val vocabularyOracle: String =
    """SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |      FROM documents)
      |GROUP BY term ORDER BY tf DESC, term""".stripMargin

  val fingerprintOracle: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(
      |         string_split_regex(trim(text), '\s+'))), ' ')) AS fp,
      |       min(doc_id) AS canonical_id, count(*) AS n_docs
      |FROM documents GROUP BY fp ORDER BY fp""".stripMargin

  /** tx10 — canonical text-normalization stage (the step every dedup
    * pipeline runs BEFORE shingling): lowercase → Unicode NFC
    * composition (custom codegen [[graft.expressions.NfcNormalize]] —
    * Spark has no builtin) → whitespace collapse → trim. Pure
    * scan-speed column math; emitted as digest + length so the oracle
    * verifies the whole chain without shipping full texts. Unicode
    * behavior (composed == decomposed input) is pinned in the SQL
    * surface spec; the oracle pins cross-engine chain parity.
    *
    * Cross-engine notes: the whitespace class is EXPLICIT because Java
    * regex `\s` includes U+000B while DuckDB's RE2 `\s` does not — an
    * implicit class would make the hash gate data-dependent. The fold
    * step is the custom `simple_casefold` expression (per-codepoint 1:1
    * mapping), NOT `lower()`: the JVM's full case mapping expands
    * U+0130 'İ' to i+combining-dot while utf8proc engines emit plain
    * 'i', so lower() would silently diverge on Turkic text
    * (ExpressionSpec pins the parity case). */
  def normalizeQuery(s: SparkSession, d: String): DataFrame = {
    val normalized = trim(regexp_replace(
      graft.expressions.NfcNormalize.nfc(
        graft.expressions.SimpleCaseFold.casefold(col("text"))),
      "[ \\t\\n\\f\\r]+", " "))
    Tables.documents(s, d).select(
      col("doc_id"),
      sha2(normalized, 256).as("norm_sha"),
      length(normalized).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  val normalizeOracle: String =
    """WITH n AS (
      |  SELECT doc_id,
      |         trim(regexp_replace(nfc_normalize(lower(text)), '[ \t\n\f\r]+', ' ', 'g')) AS t
      |  FROM documents)
      |SELECT doc_id, sha256(t) AS norm_sha, CAST(length(t) AS BIGINT) AS norm_len
      |FROM n ORDER BY doc_id""".stripMargin

  /** Document-frequency ceiling for [[dfPrune]], in percent of corpus
    * docs: tokens present in more than this fraction of documents are
    * treated as boilerplate. */
  val MaxDfPct = 77

  /** tx16 — corpus-level boilerplate pruning (the CCNet/RefinedWeb
    * "drop content duplicated across too many documents" stage, at
    * token granularity for this single-line corpus): a token whose
    * document frequency exceeds [[MaxDfPct]]% of the corpus is removed
    * from EVERY document, and each document is reassembled in original
    * token order. This is the cross-document content-dedup plumbing —
    * position-exploded stream, one global df aggregation, a broadcast
    * keep-list rejoin, and an order-restoring per-doc reassembly
    * (collect → sort by position → join) — that line-level dedup uses
    * verbatim on multi-line corpora.
    *
    * Scale posture: two passes over the exploded token stream (df
    * aggregation keyed on term, reassembly keyed on doc), both linear;
    * the keep-list is vocabulary-sized and BROADCASTS — the corpus is
    * never shuffled against it. The threshold compares by integer
    * cross-multiplication (df·100 ≤ pct·n_docs), so no boundary drift.
    * Docs whose every token is pruned survive with empty text via the
    * left rejoin — the edge OpsSpec pins. */
  def dfPrune(s: SparkSession, d: String): DataFrame =
    dfPruneOf(Tables.documents(s, d))

  def dfPruneOf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "term")))
    val dfTable = tok.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val keep = dfTable.join(broadcast(total))
      .filter(col("df") * 100 <= lit(MaxDfPct) * col("n_docs"))
      .select("term")
    val rebuilt = tok.join(broadcast(keep), Seq("term"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("term")))),
            x => x.getField("term")),
          " ").as("kept_text"))
    docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_orig"))
      // rebuilt is a DOC-GRAIN aggregate carrying reassembled text —
      // corpus-scale; keep its join-back keyed (stats-gated, never a
      // fan-out-blind broadcast — BroadcastAudit class)
      .join(Materialize.hashJoinIfFits(rebuilt), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_orig"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .orderBy("doc_id")
  }

  /** Segment width for [[segmentDedup]], in tokens. On a multi-line
    * corpus the segmenter would split on blank lines (paragraphs);
    * this single-line corpus uses fixed-width token chunks so the
    * operator's survivorship/reassembly plumbing is exercised for
    * real. */
  val SegTokens = 8

  /** tx18 — segment-level first-occurrence dedup (the Dolma "drop a
    * paragraph if it appeared in an earlier document" stage, the
    * survivorship that tx16's df-threshold prune does NOT implement):
    * each document is split into [[SegTokens]]-token segments (last
    * one ragged); a segment occurrence survives iff it is the GLOBAL
    * first occurrence of that exact segment text, first by doc_id then
    * by position; each document is reassembled from its surviving
    * segments in original order.
    *
    * Scale posture: the explode is linear in corpus tokens; the
    * first-occurrence window partitions by segment text — the same
    * keyed one-shuffle shape as W1 row_number dedup, with the huge key
    * domain carrying parallelism (a boilerplate segment's partition is
    * df-sized, the dd4 skew note applies); reassembly is one doc-keyed
    * aggregation. Nothing global, nothing driver-side. */
  def segmentDedup(s: SparkSession, d: String): DataFrame =
    segmentDedupOf(Tables.documents(s, d))

  def segmentDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col("doc_id"), words(col("text")).as("ws"))
    // per-doc segment count is tiny (tokens/8), so the interpreted
    // higher-order transform costs per SEGMENT, not per token — unlike
    // the shingle path there is no need for an imperative expression
    val segArr = transform(
      sequence(lit(0),
        ceil(size(col("ws")) / lit(SegTokens.toDouble)).cast("int") - 1),
      i => array_join(slice(col("ws"), i * SegTokens + 1, lit(SegTokens)), " "))
    val segs = w
      .select(col("doc_id"), posexplode(segArr).as(Seq("i0", "seg")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("seg_idx"),
        col("seg"))
    val kept = segs.withColumn("rn",
      row_number().over(Window.partitionBy("seg").orderBy("doc_id", "seg_idx")))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg")),
        " ").as("kept_text"))
    w.select(col("doc_id"),
        ceil(size(col("ws")) / lit(SegTokens.toDouble)).cast("long").as("n_segs"))
      // doc-grain aggregate carrying reassembled text: keyed join-back
      // (stats-gated), never a fan-out-blind broadcast
      .join(Materialize.hashJoinIfFits(rebuilt), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of tx18: list-sliced segments, the same
    * first-occurrence window, string_agg ORDER BY for reassembly. */
  val segmentDedupOracle: String = {
    val k = SegTokens
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(ws[(i-1)*$k+1 : (i-1)*$k+$k], ' ') AS seg
       |  FROM w, unnest(generate_series(1, CAST(ceil(len(ws)/$k.0) AS BIGINT))) AS t(i)),
       |rk AS (
       |  SELECT doc_id, seg_idx, seg,
       |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
       |  FROM seg),
       |kept AS (SELECT doc_id, seg_idx, seg FROM rk WHERE rn = 1)
       |SELECT w.doc_id, CAST(ceil(len(w.ws)/$k.0) AS BIGINT) AS n_segs,
       |       CAST(count(k.seg) AS BIGINT) AS n_kept,
       |       coalesce(string_agg(k.seg, ' ' ORDER BY k.seg_idx), '') AS kept_text
       |FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
       |GROUP BY w.doc_id, len(w.ws)
       |ORDER BY w.doc_id""".stripMargin
  }

  /** PII patterns for [[piiRedact]] — written in the common subset of
    * Java regex and RE2 (character classes, bounded repeats, `\b`) so
    * the Spark scrub and the DuckDB oracle compile the same automaton.
    * Scrub order is fixed (email → IPv4 → phone) and each stage scans
    * the PREVIOUS stage's output, so the counts are well-defined even
    * when patterns could overlap. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\+1-555-\\d{4}"

  /** Deterministic PII planting for the synthetic corpus (the driver
    * tables carry no organic PII): residue classes of doc_id append an
    * email / IPv4 / phone so ~1/3, 1/4, 1/5 of docs carry each kind.
    * Mirrored verbatim in the oracle's string concatenation. */
  private def piiAugment: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact u"), col("doc_id").cast("string"), lit("@ex"),
        (col("doc_id") % 7).cast("string"), lit(".org"))).otherwise(lit("")),
    when(col("doc_id") % 4 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  /** tx17 — PII scrubbing (the Dolma/CCNet "redact emails, IPs, phone
    * numbers before training" stage): per document, the match count of
    * each PII kind and the text with every match replaced by a typed
    * placeholder, fingerprinted for the compare. Pure codegen'd regexp
    * work — at 100 TB this runs at scan speed with zero shuffle
    * (the orderBy here is driver-compare determinism only). */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactOf(Tables.documents(s, d).select(col("doc_id"),
      piiAugment.as("t")))

  /** The scrub itself, over any (doc_id, t) frame — what a real corpus
    * with organic PII would call directly. */
  def piiRedactOf(aug: DataFrame): DataFrame =
    aug
      .withColumn("n_email",
        size(regexp_extract_all(col("t"), lit(PiiEmailRe), lit(0))).cast("long"))
      .withColumn("t", regexp_replace(col("t"), PiiEmailRe, "[EMAIL]"))
      .withColumn("n_ip",
        size(regexp_extract_all(col("t"), lit(PiiIpRe), lit(0))).cast("long"))
      .withColumn("t", regexp_replace(col("t"), PiiIpRe, "[IP]"))
      .withColumn("n_phone",
        size(regexp_extract_all(col("t"), lit(PiiPhoneRe), lit(0))).cast("long"))
      .withColumn("t", regexp_replace(col("t"), PiiPhoneRe, "[PHONE]"))
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        sha2(col("t"), 256).as("redacted_sha"),
        length(col("t")).cast("long").as("redacted_len"))
      .orderBy("doc_id")

  /** DuckDB replay of tx17: identical planting concat, the same three
    * patterns with the 'g' flag (DuckDB replaces first-only by
    * default; Spark replaces all), staged in the same order. */
  val piiRedactOracle: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@ex' || (doc_id % 7) || '.org' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
       |    AS t
       |  FROM documents),
       |r1 AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(t, '$PiiEmailRe')) AS n_email,
       |    regexp_replace(t, '$PiiEmailRe', '[EMAIL]', 'g') AS t
       |  FROM aug),
       |r2 AS (
       |  SELECT doc_id, n_email,
       |    len(regexp_extract_all(t, '$PiiIpRe')) AS n_ip,
       |    regexp_replace(t, '$PiiIpRe', '[IP]', 'g') AS t
       |  FROM r1),
       |r3 AS (
       |  SELECT doc_id, n_email, n_ip,
       |    len(regexp_extract_all(t, '$PiiPhoneRe')) AS n_phone,
       |    regexp_replace(t, '$PiiPhoneRe', '[PHONE]', 'g') AS t
       |  FROM r2)
       |SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       |       CAST(n_ip AS BIGINT) AS n_ip, CAST(n_phone AS BIGINT) AS n_phone,
       |       sha256(t) AS redacted_sha,
       |       CAST(length(t) AS BIGINT) AS redacted_len
       |FROM r3 ORDER BY doc_id""".stripMargin

  /** DuckDB replay of tx16: zipped unnest for the positioned token
    * stream, the same integer threshold, string_agg ORDER BY pos for
    * the reassembly. */
  val dfPruneOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(ws) AS term,
       |         unnest(generate_series(1, len(ws))) AS pos
       |  FROM w),
       |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
       |tot AS (SELECT count(*) AS n_docs FROM documents),
       |keep AS (SELECT term FROM dft, tot WHERE df * 100 <= $MaxDfPct * n_docs),
       |kept AS (SELECT tok.doc_id, tok.pos, tok.term
       |         FROM tok JOIN keep USING (term))
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_orig,
       |       CAST(count(k.term) AS BIGINT) AS n_kept,
       |       coalesce(string_agg(k.term, ' ' ORDER BY k.pos), '') AS kept_text
       |FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
       |GROUP BY w.doc_id, len(w.ws)
       |ORDER BY w.doc_id""".stripMargin

  /** tx22 — cross-SOURCE overlap matrix: for every unordered source
    * pair, the shared distinct-shingle count and source-level Jaccard.
    * This is the corpus-curation view of contamination — "how much of
    * source A is also in source B" decides merge/drop calls and flags
    * scraped mirrors — where tx9/tx15 answer the per-document
    * train-vs-eval question.
    *
    * Shape: one distinct over (source, shingle hash) — the corpus-scale
    * pass — then a self-join keyed on the hash whose per-key fanout is
    * bounded by the SOURCE count after the distinct (≤ C(sources, 2)
    * candidate rows per shingle, not document df²), and the final
    * matrix assembles on the O(sources) stats table, including
    * zero-overlap pairs (a curation matrix needs the zeros). The
    * stats-table cross join is sources² rows — bounded by construction,
    * not data. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlapOf(Tables.documents(s, d))

  /** tx23 — integer-bit surprisal scoring, the perplexity-filter shape
    * of CCNet/KenLM quality curation re-expressed exactly: train a
    * char-trigram unigram model on the corpus itself, then score each
    * document by Σ over its trigram occurrences of
    * (bitlen(total) − bitlen(count)) — surprisal quantized to whole
    * bits. bitlen = length(bin(x)) is exact integer log2 in BOTH
    * engines (the [[Similarity.planesForSql]] trick), so the score
    * dodges the transcendental-log determinism trap entirely: a float
    * ln() cross-entropy could never hash-match across engines, whole
    * bits always do. High bits/trigram = rare character sequences
    * (noise, encoding damage); low = repetitive boilerplate.
    *
    * Shape: the trigram stream materializes once and feeds both the
    * model build (one keyed groupBy) and the scoring join (keyed on
    * trigram; the model table is charset³-bounded but treated as
    * big-side-safe — no broadcast assumption). The 1-row total rides a
    * broadcast. Everything is linear in corpus characters. */
  /** Store-vs-rescan dial for tx23's occurrence stream, on the input
    * scan's OPTIMIZER size estimate (parquet footer bytes): at or
    * under this, the stream localCheckpoints (saves the second
    * explode pass — wins while the ~30 bytes/char of deserialized
    * rows stay cheap to hold); over it, both consumers re-derive the
    * explode from the scan (two linear codegen passes beat the
    * checkpoint's write + GC churn — measured 2.7–3.6× at the 100×
    * tier). The dial changes PLANS only, never output. */
  val SurprisalStoreMaxScanBytes: Long = 32L << 20

  def surprisalQuery(s: SparkSession, d: String): DataFrame =
    surprisalOf(Tables.documents(s, d))

  def surprisalOf(docs: DataFrame): DataFrame = {
    // sequence(1, 0) generates a DESCENDING [1,0] in Spark — guard
    // short texts to an empty list (the oracle's generate_series(1,0)
    // is empty natively)
    val idxs = when(length(col("text")) >= 3,
      sequence(lit(1), length(col("text")) - 2))
      .otherwise(array().cast("array<int>"))
    // occurrence-level stream, deliberately NOT pre-aggregated to
    // (doc, tri, multiplicity) — the sf0.1 A/B measured the pre-agg
    // variant slower (its extra full exchange outweighs halving the
    // scoring input at this corpus's 2.07× intra-doc repetition).
    // Whether the stream CHECKPOINTS is a measured two-regime dial
    // (both regimes are output-identical — the oracle pins it):
    // storing ~30 bytes/char saves the second explode pass and wins
    // at small tiers (sf0.1: 2.6 s stored vs 5.4 rescanned), but the
    // checkpoint's write + deserialized-row GC churn dominates at
    // corpus scale (sf10: 182–244 s stored vs 67 rescanned — the
    // tx44 refusal, measured). The crossover sits between the 10×
    // and 100× tiers on this corpus; [[SurprisalStoreMaxScanBytes]]
    // marks it at scan-estimate grain.
    val trisBase = docs.select(col("doc_id"), col("text"))
      .withColumn("i", explode(idxs))
      .select(col("doc_id"), col("text").substr(col("i"), lit(3)).as("tri"))
    val tris =
      if (org.apache.spark.sql.graft.Bridge.rootSizeInBytes(docs)
          <= SurprisalStoreMaxScanBytes)
        Materialize(trisBase, "tx23_tris")
      else trisBase
    // the tx44 model trick: only the charset³-BOUNDED model goes
    // through the seam. Its MEASURED (small) stats let the scoring
    // join broadcast while the model fits — the occurrence stream
    // never shuffles on `tri`; its only exchange is the doc-keyed
    // partial+final aggregate, whose map-side combine collapses to
    // ≤ docs-per-partition rows. The model-build groupBy's own
    // exchange is vocab-bounded the same way. Past broadcast scale
    // (full-Unicode charset³) the measured stats plan a keyed join
    // with an honest build side — never a corpus broadcast.
    val cnt = Materialize(tris.groupBy("tri").agg(count(lit(1)).as("cnt")),
      "tx23_model")
    val total = cnt.agg(length(bin(sum(col("cnt")))).as("lbits"))
    val scored = tris.join(cnt, "tri")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tris"),
        sum(col("lbits") - length(bin(col("cnt")))).cast("long")
          .as("bits"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"),
        coalesce(col("bits"), lit(0L)).as("surprisal_bits"))
      .withColumn("bits_per_tri",
        when(col("n_tris") > 0,
          col("surprisal_bits").cast("double") / col("n_tris"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  val surprisalOracle: String =
    """WITH tris AS (
      |  SELECT doc_id, substr(text, i, 3) AS tri
      |  FROM documents,
      |    LATERAL unnest(generate_series(1, greatest(length(text) - 2, 0)))
      |      AS t(i)),
      |cnt AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri),
      |tot AS (SELECT length(bin(sum(cnt))) AS lbits FROM cnt),
      |sc AS (
      |  SELECT tris.doc_id, count(*) AS n_tris,
      |         sum(tot.lbits - length(bin(cnt.cnt))) AS bits
      |  FROM tris JOIN cnt USING (tri), tot
      |  GROUP BY tris.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(sc.n_tris, 0) AS BIGINT) AS n_tris,
      |  CAST(coalesce(sc.bits, 0) AS BIGINT) AS surprisal_bits,
      |  CASE WHEN coalesce(sc.n_tris, 0) > 0
      |       THEN CAST(sc.bits AS DOUBLE) / sc.n_tris
      |       ELSE 0.0 END AS bits_per_tri
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    // materialize the per-source distinct shingle table: three
    // consumers read it (both self-join sides + the size aggregate),
    // and each would otherwise recompute the corpus-wide explode +
    // distinct from the scan
    val flat = Materialize(docs
      .select(col("source"), explode(shingles(col("text"), 3)).as("sh"))
      .select(col("source"),
        graft.functions.Functions.md5Hash60(col("sh"), 0).as("h"))
      .distinct(), "source_shingles")
    val sizes = flat.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = flat.toDF("source_a", "h")
      .join(flat.toDF("source_b", "h"), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared"))
    sizes.toDF("source_a", "n_a")
      .crossJoin(sizes.toDF("source_b", "n_b"))
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard",
        col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .orderBy("source_a", "source_b")
  }

  /** DuckDB replay of tx22 on raw shingle strings (hash-is-identity,
    * the dd4/dd10 convention). */
  val sourceOverlapOracle: String =
    """WITH t AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT source, array_to_string(ws[pos:pos+2], ' ') AS sh
      |  FROM t, unnest(generate_series(1, len(ws)-2)) AS u(pos)
      |  WHERE len(ws) >= 3 AND NOT (len(ws) = 1 AND ws[1] = '')),
      |sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source),
      |sh AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      |  FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa.source AS source_a, sb.source AS source_b,
      |       coalesce(sh.shared, 0) AS shared, sa.n AS n_a, sb.n AS n_b,
      |       coalesce(sh.shared, 0)
      |         / (sa.n + sb.n - coalesce(sh.shared, 0)) AS jaccard
      |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
      |LEFT JOIN sh ON sh.source_a = sa.source AND sh.source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** tx26 — per-source lexical-diversity profile (the Zipf-curve
    * summary a corpus curator reads before mixing sources): token and
    * type counts, hapax-legomenon types (frequency 1 — the Zipf tail),
    * the most frequent term's count (the Zipf head), and type-token
    * ratio. Everything derives from ONE (source, term) count table —
    * explode, two keyed aggregations, both with map-side partials;
    * TTR is a single long/long division (exact cross-engine). A
    * collapsing TTR or exploding top-term share between two corpus
    * drops is the classic symptom of boilerplate/template flooding
    * that per-document repetition stats (tx8) can't see. */
  def zipfStats(s: SparkSession, d: String): DataFrame = {
    val termCounts = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
    termCounts
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_types"),
        max(col("c")).as("top_freq"))
      .withColumn("ttr", col("n_types") / col("n_tokens"))
      .orderBy("source")
  }

  val zipfStatsOracle: String =
    """WITH tc AS (
      |  SELECT source, term, count(*) AS c
      |  FROM (SELECT source, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
      |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
      |       CAST(max(c) AS BIGINT) AS top_freq,
      |       count(*) / CAST(sum(c) AS BIGINT) AS ttr
      |FROM tc GROUP BY source ORDER BY source""".stripMargin

  /** tx27 — language-ID agreement matrix: declared `lang` metadata vs
    * the tx1 n-gram classifier, as a confusion matrix with per-declared-
    * lang shares. The audit every multilingual pipeline runs on an
    * untrusted source drop — metadata labels are wrong often enough
    * that temperature mixing (tx19) over raw `lang` silently skews
    * quotas. Scan + codegen classifier + one tiny two-key aggregate;
    * the share divides by a window total over the aggregate (grouped
    * rows, no second scan). */
  def langIdAgreement(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    Tables.documents(s, d)
      .select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_declared", sum(col("n_docs")).over(w))
      .withColumn("share_of_declared", col("n_docs") / col("n_declared"))
      .orderBy("lang", "lang_pred")
  }

  val langIdAgreementOracle: String = {
    // reuse tx1's CASE-chain classifier verbatim (single source of truth
    // for the scoring expressions lives in langMarkers)
    val score = langMarkers.map { case (l, m) =>
      l -> s"len(regexp_extract_all(text, '\\b(${m.mkString("|")})\\b'))"
    }
    val cases = score.zipWithIndex.map { case ((lang, sc), i) =>
      val conds = score.take(i).map(e => s"$sc >= ${e._2}") ++
        score.drop(i + 1).map(e => s"$sc > ${e._2}") :+ s"$sc > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$lang'"
    }.mkString(" ")
    s"""WITH p AS (
       |  SELECT lang, CASE $cases ELSE 'und' END AS lang_pred FROM documents),
       |m AS (SELECT lang, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2)
       |SELECT lang, lang_pred, n_docs,
       |       CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS n_declared,
       |       n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
       |         AS share_of_declared
       |FROM m ORDER BY lang, lang_pred""".stripMargin
  }

  /** Seed + denominator for [[weightedSample]]'s uniform draw. */
  val WeightSeed = 29
  val WeightDen = 1000000L

  /** smp2 — deterministic importance sampling (quality-weighted
    * Bernoulli): each document is kept with probability proportional
    * to a quality proxy (its clamped length, here: p = min(n_chars,
    * 500)/1000), decided by comparing a stable per-doc md5 draw
    * against the weight with CROSS-MULTIPLIED integers — no float
    * probability ever exists, so the kept set is bit-reproducible
    * across engines, partitionings, and reruns, and a re-drop of the
    * same corpus keeps exactly the same documents (the property
    * resample pipelines need for cache reuse). Pure scan-speed filter:
    * no shuffle, no state — the 100-TB form of "sample 30% weighted
    * by quality". Complements smp1 (stratum equalization) and tx14
    * (per-source fixed rates): the weight here is per-DOCUMENT. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val draw = pmod(
      graft.functions.Functions.md5Hash60(
        col("doc_id").cast("string"), WeightSeed),
      lit(WeightDen))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        draw.as("draw"),
        least(col("n_chars"), lit(500L)).as("weight_x1000"))
      .filter(col("draw") * 1000L < col("weight_x1000") * lit(WeightDen))
      .orderBy("doc_id")
  }

  val weightedSampleOracle: String =
    s"""WITH dr AS (
       |  SELECT doc_id, lang, n_chars,
       |    ('0x' || substr(md5('$WeightSeed' || ':' ||
       |       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $WeightDen AS draw,
       |    least(n_chars, 500) AS weight_x1000
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, draw, weight_x1000
       |FROM dr WHERE draw * 1000 < weight_x1000 * $WeightDen
       |ORDER BY doc_id""".stripMargin

  /** Minimum distinct-document frequency for a segment to enter the
    * [[boilerplateCatalog]]. */
  val BoilerplateMinDf = 3

  /** tx28 — boilerplate catalog: the recurring text segments
    * themselves, ranked — tx18 tells you WHICH copies to drop; this
    * tells a curator WHAT the boilerplate is (cookie banners,
    * templated footers, license headers) and how far it spreads:
    * per distinct segment (tx18's fixed [[SegTokens]]-token windows,
    * same segmentation — the two operators describe one phenomenon),
    * total occurrences, distinct-document frequency, distinct-source
    * spread, and the first carrying doc. One segment explode + one
    * keyed aggregate; the two distinct counts over (doc, source) ride
    * the standard expand. A segment present across many SOURCES is
    * the scraper-injected template class that per-source caps (tx13)
    * structurally cannot remove. */
  def boilerplateCatalog(s: SparkSession, d: String): DataFrame =
    boilerplateCatalogOf(Tables.documents(s, d))

  def boilerplateCatalogOf(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), col("source"),
      words(col("text")).as("ws"))
    val segArr = transform(
      sequence(lit(0),
        ceil(size(col("ws")) / lit(SegTokens.toDouble)).cast("int") - 1),
      i => array_join(slice(col("ws"), i * SegTokens + 1, lit(SegTokens)), " "))
    w.select(col("doc_id"), col("source"), explode(segArr).as("seg"))
      .groupBy("seg")
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= BoilerplateMinDf)
      .orderBy(desc("n_docs"), col("seg"))
  }

  val boilerplateCatalogOracle: String = {
    val k = SegTokens
    s"""WITH w AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, source,
       |         array_to_string(ws[(i-1)*$k+1 : (i-1)*$k+$k], ' ') AS seg
       |  FROM w, unnest(generate_series(1,
       |    CAST(ceil(len(ws)/$k.0) AS BIGINT))) AS t(i))
       |SELECT seg, count(*) AS n_occurrences,
       |       count(DISTINCT doc_id) AS n_docs,
       |       count(DISTINCT source) AS n_sources,
       |       min(doc_id) AS first_doc_id
       |FROM seg GROUP BY seg
       |HAVING count(DISTINCT doc_id) >= $BoilerplateMinDf
       |ORDER BY n_docs DESC, seg""".stripMargin
  }

  /** Top merge candidates emitted by [[bpePairs]]. */
  val BpeTopPairs = 20

  /** tx29 — BPE merge candidates: the corpus-wide adjacent-pair
    * frequency count that IS the first round of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016: repeatedly merge the
    * most frequent adjacent pair), here at whitespace-token grain —
    * the step's distributed shape is what matters, and it is exactly
    * this: positioned (non-distinct!) 2-grams via the imperative
    * [[graft.expressions.AllWordNGrams]] expression — tx6's distinct
    * shingles would undercount and cannot train a tokenizer — one
    * explode, one map-side-combined count aggregate, and a global
    * top-k that compiles to TakeOrderedAndProject (per-partition
    * heaps, never a full sort of the pair vocabulary — the tx24
    * gate's shape). Subsequent BPE rounds re-run the same job on
    * re-segmented text; one round is the oracle-checkable unit. */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(
        graft.expressions.AllWordNGrams.ngrams(col("text"), 2)).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("pair"))
      .limit(BpeTopPairs)

  val bpePairsOracle: String =
    s"""WITH w AS (
       |  SELECT string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       |g AS (
       |  SELECT array_to_string(ws[pos:pos+1], ' ') AS pair
       |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(pos)
       |  WHERE len(ws) >= 2 AND NOT (len(ws) = 1 AND ws[1] = ''))
       |SELECT pair, count(*) AS n_occurrences
       |FROM g GROUP BY pair
       |ORDER BY n_occurrences DESC, pair LIMIT $BpeTopPairs""".stripMargin

  /** tx30 — the SECOND round of BPE training: elect tx29's top merge
    * (count desc, then lexicographic — a total order), apply it to
    * every document with the greedy leftmost-non-overlapping semantics
    * real BPE uses, and recount adjacent pairs over the merged
    * streams. This is the part of tokenizer training that looks
    * sequential and isn't: the merge application is per-document data
    * parallelism expressed relationally — match positions from one
    * doc-keyed lead() window, overlap resolution (only possible inside
    * equal-token runs like "a a a") by the gaps-and-islands parity
    * rule (keep even offsets within each run of consecutive match
    * positions — provably the greedy-leftmost fixpoint), consumed
    * positions dropped by two (doc, pos)-keyed anti-style left joins,
    * and the new adjacency from a second lead() over surviving
    * positions. Every stage is a doc-keyed window or join — at 100 TB
    * each merge round is a constant number of keyed shuffles, which is
    * why BPE trains on corpora at all. The 1-row merge rule rides a
    * broadcast. */
  def bpeMergeRound(s: SparkSession, d: String): DataFrame =
    bpeMergeRoundOf(Tables.documents(s, d))

  def bpeMergeRoundOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "tok")))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val withNext = toks.withColumn("nxt", lead("tok", 1).over(byDoc))
    val top = withNext.filter(col("nxt").isNotNull)
      .groupBy("tok", "nxt").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("tok"), col("nxt")).limit(1)
      .select(col("tok").as("ta"), col("nxt").as("tb"))
    val marked = withNext.crossJoin(broadcast(top))
    val matches = marked
      .filter(col("nxt").isNotNull && col("tok") === col("ta") &&
        col("nxt") === col("tb"))
      .withColumn("island", col("pos") - row_number().over(byDoc))
    val kept = matches
      .withColumn("off",
        col("pos") - min("pos").over(Window.partitionBy("doc_id", "island")))
      .filter(col("off") % 2 === 0)
      .select(col("doc_id"), col("pos"))
    val stream = marked
      .join(kept.withColumn("st", lit(1)), Seq("doc_id", "pos"), "left")
      .join(kept.select(col("doc_id"), (col("pos") + 1).as("pos"))
        .withColumn("consumed", lit(1)), Seq("doc_id", "pos"), "left")
      .filter(col("consumed").isNull)
      .withColumn("tok2",
        when(col("st") === 1, concat(col("ta"), lit("_"), col("tb")))
          .otherwise(col("tok")))
    stream
      .withColumn("nxt2", lead("tok2", 1).over(byDoc))
      .filter(col("nxt2").isNotNull)
      .groupBy(concat(col("tok2"), lit(" "), col("nxt2")).as("pair"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("pair"))
      .limit(BpeTopPairs)
  }

  /** DuckDB replay: same election, same islands/parity overlap rule,
    * same consumed-position joins, same recount. Positions are 1-based
    * here and 0-based in Spark — the parity rule is relative to each
    * island's minimum, so the offset arithmetic is identical. */
  val bpeMergeRoundOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents WHERE trim(text) <> ''),
       |t AS (
       |  SELECT doc_id, pos, ws[pos] AS tok
       |  FROM w, unnest(generate_series(1, len(ws))) AS u(pos)),
       |n AS (
       |  SELECT doc_id, pos, tok,
       |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM t),
       |top AS (
       |  SELECT tok AS ta, nxt AS tb FROM n WHERE nxt IS NOT NULL
       |  GROUP BY tok, nxt ORDER BY count(*) DESC, tok, nxt LIMIT 1),
       |mk AS (SELECT n.*, ta, tb FROM n, top),
       |m AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |           AS island
       |  FROM mk WHERE nxt IS NOT NULL AND tok = ta AND nxt = tb),
       |kept AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           pos - min(pos) OVER (PARTITION BY doc_id, island) AS off
       |    FROM m) WHERE off % 2 = 0),
       |s1 AS (
       |  SELECT mk.doc_id, mk.pos,
       |         CASE WHEN k1.pos IS NOT NULL THEN ta || '_' || tb
       |              ELSE mk.tok END AS tok2
       |  FROM mk
       |  LEFT JOIN kept k1 ON k1.doc_id = mk.doc_id AND k1.pos = mk.pos
       |  LEFT JOIN kept k2 ON k2.doc_id = mk.doc_id AND k2.pos + 1 = mk.pos
       |  WHERE k2.pos IS NULL),
       |p2 AS (
       |  SELECT doc_id, tok2,
       |         lead(tok2) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt2
       |  FROM s1)
       |SELECT tok2 || ' ' || nxt2 AS pair, count(*) AS n_occurrences
       |FROM p2 WHERE nxt2 IS NOT NULL
       |GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT $BpeTopPairs""".stripMargin

  /** tx32 — per-source distributional divergence from the corpus pool,
    * in WHOLE BITS (tx23's quantization applied to the mixing
    * problem): D_s = Σ_t c_s(t)·[bits_pool(t) − bits_s(t)] with
    * bits_x(t) = bitlen(T_x) − bitlen(c_x(t)) — T_s·KL(s ∥ pool)
    * quantized to integers, so the statistic hash-matches exactly
    * where a float Σ p·ln(p/q) never could. This is the diagnostic
    * BEFORE choosing tx19's temperature weights: a source with high
    * bits/trigram is distributionally far from the pool (upweighting
    * it moves the mixture most); ≈0 means interchangeable.
    *
    * Shape: ONE trigram explode (linear in corpus characters)
    * aggregated to (source, trigram) counts; the pool counts are a
    * re-aggregation of that table — never a second corpus scan; the
    * per-term join is keyed on the trigram, the source-total join on
    * the O(sources) key, the 1-row grand total broadcast. */
  def sourceDivergence(s: SparkSession, d: String): DataFrame =
    sourceDivergenceOf(Tables.documents(s, d))

  /** [[sourceDivergence]] over an explicit documents frame. */
  def sourceDivergenceOf(docs: DataFrame): DataFrame = {
    val idxs = when(length(col("text")) >= 3,
      sequence(lit(1), length(col("text")) - 2))
      .otherwise(array().cast("array<int>"))
    val srcCnt = graft.ops.Materialize(
      docs.select(col("source"), col("text")).withColumn("i", explode(idxs))
        .select(col("source"), col("text").substr(col("i"), lit(3)).as("tri"))
        .groupBy("source", "tri").agg(count(lit(1)).as("c")),
      "tx32_srccnt")
    val srcTot = srcCnt.groupBy("source").agg(sum(col("c")).as("t_s"))
    val pool = srcCnt.groupBy("tri").agg(sum(col("c")).as("cc"))
    val tot = pool.agg(length(bin(sum(col("cc")))).as("t_bits"))
    val term = (col("t_bits") - length(bin(col("cc")))) -
      (length(bin(col("t_s"))) - length(bin(col("c"))))
    srcCnt.join(srcTot, "source")
      .join(pool, "tri")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("c"), (col("c") * term).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tris"), sum(col("c")).as("total_tris"),
        sum(col("w")).cast("long").as("div_bits"))
      .withColumn("bits_per_tri",
        col("div_bits").cast("double") / col("total_tris").cast("double"))
      .orderBy("source")
  }

  val sourceDivergenceOracle: String =
    """WITH tris AS (
      |  SELECT source, substr(text, i, 3) AS tri
      |  FROM documents,
      |    LATERAL unnest(generate_series(1, greatest(length(text) - 2, 0)))
      |      AS t(i)),
      |sc AS (SELECT source, tri, count(*) AS c FROM tris GROUP BY source, tri),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_s FROM sc GROUP BY source),
      |co AS (SELECT tri, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY tri),
      |tt AS (SELECT length(bin(sum(cc))) AS t_bits FROM co),
      |terms AS (
      |  SELECT sc.source, sc.c,
      |    sc.c * ((t_bits - length(bin(co.cc)))
      |            - (length(bin(st.t_s)) - length(bin(sc.c)))) AS w
      |  FROM sc JOIN st USING (source) JOIN co USING (tri) CROSS JOIN tt)
      |SELECT source, count(*) AS n_tris, CAST(sum(c) AS BIGINT) AS total_tris,
      |       CAST(sum(w) AS BIGINT) AS div_bits,
      |       CAST(CAST(sum(w) AS BIGINT) AS DOUBLE)
      |         / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS bits_per_tri
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** Mixture flag threshold: a document is code-switched/mixed when
    * its top language family holds under 80% of marker hits. */
  val MixTopPctNum = 80L

  /** tx31 — per-document language-MIXTURE (code-switching) detection:
    * tx1 assigns one label per document; this reports the full marker
    * profile — hits per family, the dominant family and its share,
    * and an integer cross-multiplied mixed flag (top·100 < total·80).
    * Mixed documents poison both language-stratified sampling (tx19's
    * quotas count them once) and per-language quality thresholds; the
    * flag is the curation predicate that routes them to review.
    *
    * The marker regexes evaluate ONCE into a projection and every
    * derived column (total, top, argmax, flag) reads the projected
    * counts — the smp3 lesson: non-cheap expressions must not inline
    * into each consumer. Pure scan-speed select, no shuffle. */
  def langMixture(s: SparkSession, d: String): DataFrame =
    langMixtureOf(Tables.documents(s, d))

  /** [[langMixture]] over an explicit documents frame. */
  def langMixtureOf(docs: DataFrame): DataFrame = {
    val hitCols = langMarkers.map { case (l, m) =>
      markerCount(col("text"), m).cast("long").as(s"hits_$l") }
    val base = docs.select(col("doc_id") +: hitCols: _*)
    val scores = langMarkers.map { case (l, _) => (l, col(s"hits_$l")) }
    val total = scores.map(_._2).reduce(_ + _)
    val top = greatest(scores.map(_._2): _*)
    val topLang = scores.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((lang, sc), i)) =>
        val wins = (scores.take(i).map(sc >= _._2) ++
          scores.drop(i + 1).map(sc > _._2) :+ (sc > 0L)).reduce(_ && _)
        Some(acc.fold(when(wins, lit(lang)))(_.when(wins, lit(lang))))
    }.get.otherwise(lit("und"))
    base.select(col("doc_id") +: scores.map(_._2) :+
        total.as("n_hits") :+ topLang.as("top_lang") :+
        when(total > 0L, top.cast("double") / total.cast("double"))
          .as("top_share") :+
        when(total > 0L && top * 100L < total * MixTopPctNum, 1L)
          .otherwise(0L).as("is_mixed"): _*)
      .orderBy("doc_id")
  }

  val langMixtureOracle: String = {
    val hits = langMarkers.map { case (l, m) =>
      l -> s"CAST(len(regexp_extract_all(text, '\\b(${m.mkString("|")})\\b')) AS BIGINT)"
    }
    val hitSel = hits.map { case (l, e) => s"$e AS hits_$l" }.mkString(",\n    ")
    val cols = langMarkers.map { case (l, _) => s"hits_$l" }
    val total = cols.mkString(" + ")
    val top = s"greatest(${cols.mkString(", ")})"
    val cases = cols.zipWithIndex.map { case (c, i) =>
      val conds = cols.take(i).map(e => s"$c >= $e") ++
        cols.drop(i + 1).map(e => s"$c > $e") :+ s"$c > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '${langMarkers(i)._1}'"
    }.mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    $hitSel
       |  FROM documents)
       |SELECT doc_id, ${cols.mkString(", ")},
       |       $total AS n_hits,
       |       CASE $cases ELSE 'und' END AS top_lang,
       |       CASE WHEN $total > 0
       |            THEN CAST($top AS DOUBLE) / CAST($total AS DOUBLE) END
       |         AS top_share,
       |       CAST(CASE WHEN $total > 0 AND $top * 100 < ($total) * $MixTopPctNum
       |            THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Docs per vocabulary-growth checkpoint bucket (doc_id div). */
  val VocabBucketDocs = 256L

  /** tx33 — vocabulary-growth (Heaps-law) curve: cumulative distinct
    * token TYPES vs cumulative token volume at fixed doc-id
    * checkpoints. The curve is how a tokenizer/vocab budget is sized
    * before training (does vocabulary saturate, or is the corpus still
    * discovering types at the margin?) and a dedup smoke signal — a
    * near-flat tail on a corpus that "should" still grow means the new
    * documents are rehashes of old ones.
    *
    * The naive form (distinct-over-prefix per checkpoint) rescans the
    * corpus once per checkpoint. This computes the whole curve in ONE
    * pass over the token stream: a type's FIRST-OCCURRENCE doc
    * (min(doc_id) per token — one keyed aggregation) converts
    * "cumulative distinct types at checkpoint b" into "count of types
    * whose first doc lands in any bucket ≤ b", a plain cumulative sum;
    * token volume is a per-doc projection aggregated the same way. The
    * only window runs over the O(n/[[VocabBucketDocs]]) bucket rows —
    * a post-aggregate frame, not a data-scale sort. Every output is an
    * exact long except the closing types-per-kilotoken density (one
    * long-derived division, identical IEEE in both engines). */
  def vocabGrowth(s: SparkSession, d: String): DataFrame =
    vocabGrowthOf(Tables.documents(s, d))

  /** [[vocabGrowth]] over an explicit documents frame. */
  def vocabGrowthOf(docs: DataFrame): DataFrame = {
    val bucketOf = (c: Column) => (c / VocabBucketDocs).cast("long")
    val toks = docs
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
    val firstDocs = toks.groupBy("tok").agg(min(col("doc_id")).as("fdoc"))
      .select(bucketOf(col("fdoc")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val volume = docs
      .select(bucketOf(col("doc_id")).as("bucket"),
        size(words(col("text"))).cast("long").as("n_toks"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bucket_tokens"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    volume.join(firstDocs, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("types_per_kilotoken",
        (col("cum_types") * 1000L).cast("double")
          / col("cum_tokens").cast("double"))
      .select(col("bucket"), col("n_docs"), col("bucket_tokens"),
        col("new_types"), col("cum_tokens"), col("cum_types"),
        col("types_per_kilotoken"))
      .orderBy("bucket")
  }

  val vocabGrowthOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |fd AS (
       |  SELECT doc_id // $VocabBucketDocs AS bucket, count(*) AS nt
       |  FROM (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok)
       |  GROUP BY 1),
       |vol AS (
       |  SELECT doc_id // $VocabBucketDocs AS bucket, count(*) AS n_docs,
       |         CAST(sum(len(string_split_regex(trim(text), '\\s+')))
       |           AS BIGINT) AS bucket_tokens
       |  FROM documents GROUP BY 1),
       |j AS (
       |  SELECT v.bucket, v.n_docs, v.bucket_tokens,
       |         CAST(coalesce(fd.nt, 0) AS BIGINT) AS new_types
       |  FROM vol v LEFT JOIN fd ON v.bucket = fd.bucket),
       |c AS (
       |  SELECT *,
       |    CAST(sum(bucket_tokens) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens,
       |    CAST(sum(new_types) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_types
       |  FROM j)
       |SELECT bucket, n_docs, bucket_tokens, new_types, cum_tokens,
       |       cum_types,
       |       CAST(cum_types * 1000 AS DOUBLE) / CAST(cum_tokens AS DOUBLE)
       |         AS types_per_kilotoken
       |FROM c ORDER BY bucket""".stripMargin

  /** tx34 — per-document type–token ratio: lexical diversity in exact
    * basis points, the cheap repetition signal that catches template
    * spam tx8's adjacent-repeat ratio misses (a doc cycling 5 tokens
    * has near-zero adjacent repeats but TTR ≈ 0). n_types counts
    * distinct whitespace tokens per doc via `array_distinct` INSIDE
    * the row (no explode, no shuffle — the whole query is a narrow
    * codegen'd projection over the scan, the tx3 shape); ttr_bp =
    * (10000·types)/tokens is all-positive long division, truncated
    * identically by both engines. Empty/whitespace-only text
    * degenerates to the single empty token both engines agree on
    * (tx3 precedent); null text propagates nulls. */
  def typeTokenQuery(s: SparkSession, d: String): DataFrame =
    typeTokenOf(graft.Tables.documents(s, d))

  /** [[typeTokenQuery]] over an explicit documents frame. */
  def typeTokenOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
      .withColumn("n_types",
        size(array_distinct(words(col("text")))).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0L,
          expr("(10000 * n_types) div n_tokens")).as("ttr_bp"))
      .orderBy("doc_id")

  val typeTokenOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |           AS n_tokens,
      |         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
      |           AS BIGINT) AS n_types
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_types,
      |       CASE WHEN n_tokens > 0
      |            THEN (10000 * n_types) // n_tokens END AS ttr_bp
      |FROM t ORDER BY doc_id""".stripMargin

  /** tx35 — per-source character-class composition: letters / digits /
    * spaces / other, as exact counts and per-mille shares. The cheap
    * encoding-health probe a curation pipeline runs per ingest source
    * — a source whose "other" share jumps is emitting mojibake,
    * markup, or binary spill, visible long before tx1's language ID
    * degrades. Class counts are length differences under class-strip
    * `regexp_replace` (identical POSIX-class semantics both engines),
    * summed as exact longs in ONE source-keyed hash aggregation;
    * shares are all-positive long division. Output is O(sources). */
  def charClassProfile(s: SparkSession, d: String): DataFrame =
    charClassProfileOf(Tables.documents(s, d))

  /** [[charClassProfile]] over an explicit documents frame. */
  def charClassProfileOf(docs: DataFrame): DataFrame = {
    def stripped(cls: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), cls, ""))
    val perDoc = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), length(col("text")).cast("long").as("chars"),
        stripped("[a-z]").cast("long").as("letters"),
        stripped("[0-9]").cast("long").as("digits"),
        stripped("[ ]").cast("long").as("spaces"))
    val agg = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("n_chars"),
        sum(col("letters")).as("letters"), sum(col("digits")).as("digits"),
        sum(col("spaces")).as("spaces"))
      .withColumn("other",
        col("n_chars") - col("letters") - col("digits") - col("spaces"))
    agg.select(col("source"), col("n_docs"), col("n_chars"),
        col("letters"), col("digits"), col("spaces"), col("other"),
        when(col("n_chars") > 0L,
          expr("(1000 * letters) div n_chars")).as("letters_pm"),
        when(col("n_chars") > 0L,
          expr("(1000 * other) div n_chars")).as("other_pm"))
      .orderBy("source")
  }

  val charClassProfileOracle: String =
    """WITH pd AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS chars,
      |    CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
      |      AS BIGINT) AS letters,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |      AS BIGINT) AS digits,
      |    CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
      |      AS BIGINT) AS spaces
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |agg AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(chars) AS BIGINT) AS n_chars,
      |         CAST(sum(letters) AS BIGINT) AS letters,
      |         CAST(sum(digits) AS BIGINT) AS digits,
      |         CAST(sum(spaces) AS BIGINT) AS spaces
      |  FROM pd GROUP BY 1)
      |SELECT source, n_docs, n_chars, letters, digits, spaces,
      |       n_chars - letters - digits - spaces AS other,
      |       CASE WHEN n_chars > 0
      |            THEN (1000 * letters) // n_chars END AS letters_pm,
      |       CASE WHEN n_chars > 0
      |            THEN (1000 * (n_chars - letters - digits - spaces))
      |                 // n_chars END AS other_pm
      |FROM agg ORDER BY source""".stripMargin

  /** tx40 — garbled-text (OCR/mojibake/binary-spill) detection: the
    * per-document triage that catches broken extraction BEFORE it
    * poisons dedup shingles and language ID. Three cheap surface
    * rules, each exact-integer via cross-multiplication (never a
    * per-doc float):
    *   low_alpha — letters/chars < 0.5  (as 1000·letters < 500·chars;
    *               empty docs flag here too),
    *   long_run  — a consonant run ≥ 8 (the classic OCR-garbage tell;
    *               run lengths via class-split, so the max is an exact
    *               int both engines agree on),
    *   sym_heavy — symbol share ≥ 0.3  (as 1000·sym ≥ 300·chars with
    *               sym = chars − letters − digits − whitespace).
    * A doc is garbage when ANY rule fires. One narrow projection per
    * doc (regex class strips + one split, all codegen'd builtins),
    * then ONE (source, lang)-keyed hash aggregation — O(rows) scan,
    * O(sources×langs) output, map-side partials; the tx35 shape with
    * a per-doc rule layer on top. */
  def garbledText(s: SparkSession, d: String): DataFrame =
    garbledTextOf(Tables.documents(s, d))

  /** [[garbledText]] over an explicit documents frame. */
  def garbledTextOf(docs: DataFrame): DataFrame = {
    def stripped(cls: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), cls, ""))
    val perDoc = docs
      .filter(col("text").isNotNull && col("source").isNotNull &&
        col("lang").isNotNull)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("chars"),
        stripped("[a-z]").cast("long").as("letters"),
        stripped("[0-9]").cast("long").as("digits"),
        stripped("[ \\t\\n]").cast("long").as("ws"),
        array_max(transform(
          split(col("text"), "[^b-df-hj-np-tv-z]+"),
          x => length(x).cast("long"))).as("max_run"))
      .withColumn("sym", col("chars") - col("letters") - col("digits") -
        col("ws"))
      .withColumn("low_alpha",
        when(col("chars") === 0L ||
          lit(1000L) * col("letters") < lit(500L) * col("chars"), 1L)
          .otherwise(0L))
      .withColumn("long_run", when(col("max_run") >= 8L, 1L).otherwise(0L))
      .withColumn("sym_heavy",
        when(col("chars") > 0L &&
          lit(1000L) * col("sym") >= lit(300L) * col("chars"), 1L)
          .otherwise(0L))
      .withColumn("garbage",
        greatest(col("low_alpha"), col("long_run"), col("sym_heavy")))
    perDoc.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("garbage")).as("n_garbage"),
        sum(col("low_alpha")).as("n_low_alpha"),
        sum(col("long_run")).as("n_long_run"),
        sum(col("sym_heavy")).as("n_sym_heavy"),
        max(col("max_run")).as("max_run"))
      .withColumn("garbage_pm", expr("(1000 * n_garbage) div n_docs"))
      .orderBy("source", "lang")
  }

  val garbledTextOracle: String =
    """WITH pd AS (
      |  SELECT source, lang, CAST(length(text) AS BIGINT) AS chars,
      |    CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
      |      AS BIGINT) AS letters,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |      AS BIGINT) AS digits,
      |    CAST(length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g'))
      |      AS BIGINT) AS ws,
      |    CAST(list_max(list_transform(
      |      string_split_regex(text, '[^b-df-hj-np-tv-z]+'),
      |      x -> length(x))) AS BIGINT) AS max_run
      |  FROM documents
      |  WHERE text IS NOT NULL AND source IS NOT NULL AND lang IS NOT NULL),
      |f AS (
      |  SELECT source, lang, max_run,
      |    CASE WHEN chars = 0 OR 1000 * letters < 500 * chars THEN 1 ELSE 0
      |      END AS low_alpha,
      |    CASE WHEN max_run >= 8 THEN 1 ELSE 0 END AS long_run,
      |    CASE WHEN chars > 0
      |          AND 1000 * (chars - letters - digits - ws) >= 300 * chars
      |         THEN 1 ELSE 0 END AS sym_heavy
      |  FROM pd),
      |g AS (
      |  SELECT source, lang, low_alpha, long_run, sym_heavy, max_run,
      |         greatest(low_alpha, long_run, sym_heavy) AS garbage
      |  FROM f)
      |SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(garbage) AS BIGINT) AS n_garbage,
      |       CAST(sum(low_alpha) AS BIGINT) AS n_low_alpha,
      |       CAST(sum(long_run) AS BIGINT) AS n_long_run,
      |       CAST(sum(sym_heavy) AS BIGINT) AS n_sym_heavy,
      |       CAST(max(max_run) AS BIGINT) AS max_run,
      |       (1000 * CAST(sum(garbage) AS BIGINT)) // count(*) AS garbage_pm
      |FROM g GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** tx41 — CONDITIONAL bigram-LM surprisal, the KenLM-shape upgrade
    * of tx23: where tx23 charges each trigram its unconditional
    * rarity, this trains word-bigram counts on the corpus and charges
    * each token its CONDITIONAL surprise given the previous token —
    * bits(w|prev) = bitlen(c(prev·)) − bitlen(c(prev,w)) in tx23's
    * whole-bit quantization (exact integer log₂ both engines; a
    * transcendental ln() could never hash-match). A document of
    * individually-common words in unusual ORDER now scores high —
    * the word-salad/MT-garble signal the unigram model is blind to.
    * No smoothing term is needed: the model scores its own training
    * corpus, so every bigram has count ≥ 1. Shape: tokens come from
    * one narrow array zip (slice+zip+explode — no per-doc window),
    * the bigram stream materializes ONCE and feeds the count build
    * and the scoring join (both keyed on the bigram/prefix), and the
    * prefix counts derive from the bigram counts by a second tiny
    * aggregation — everything linear in corpus tokens. */
  def bigramSurprisal(s: SparkSession, d: String): DataFrame =
    bigramSurprisalOf(Tables.documents(s, d))

  /** [[bigramSurprisal]] over an explicit documents frame. */
  def bigramSurprisalOf(docs: DataFrame): DataFrame = {
    val toks = words(col("text"))
    val n = size(toks)
    val pairs = Materialize(
      docs
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 2 && col("t").getItem(0) =!= "")
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("prev"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w"))).as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w")),
      "tx41_pairs")
    val c2 = Materialize(
      pairs.groupBy("prev", "w").agg(count(lit(1)).as("c2")),
      "tx41_c2")
    val c1 = c2.groupBy("prev").agg(sum(col("c2")).as("c1"))
    val scored = pairs
      .join(c2, Seq("prev", "w"))
      .join(c1, Seq("prev"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("c1"))) - length(bin(col("c2"))))
          .cast("long").as("bits"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bits"), lit(0L)).as("cond_bits"))
      .withColumn("bits_per_tok_centi",
        when(col("n_bigrams") > 0L,
          expr("(100 * cond_bits) div n_bigrams")).otherwise(0L))
      .orderBy("doc_id")
  }

  val bigramSurprisalOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents WHERE text IS NOT NULL),
      |pairs AS (
      |  SELECT doc_id, l[i] AS prev, l[i + 1] AS w
      |  FROM d, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
      |  WHERE len(l) >= 2 AND l[1] <> ''),
      |c2 AS (SELECT prev, w, count(*) AS c2 FROM pairs GROUP BY 1, 2),
      |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1
      |       FROM c2 GROUP BY 1),
      |sc AS (
      |  SELECT pairs.doc_id, count(*) AS n_bigrams,
      |         CAST(sum(length(bin(c1.c1)) - length(bin(c2.c2)))
      |           AS BIGINT) AS bits
      |  FROM pairs JOIN c2 USING (prev, w) JOIN c1 USING (prev)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(coalesce(sc.bits, 0) AS BIGINT) AS cond_bits,
      |       CASE WHEN coalesce(sc.n_bigrams, 0) > 0
      |            THEN (100 * sc.bits) // sc.n_bigrams
      |            ELSE 0 END AS bits_per_tok_centi
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN sc ON d.doc_id = sc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** tx36 — readability profile: per-document Flesch Reading Ease from
    * surface counts (words, sentence terminators, vowel runs as the
    * syllable proxy — the standard cheap approximation), computed so
    * the SCORE itself is exact-integer-derived: with W words, S
    * sentences (≥1), V vowel runs, FRE = 206.835 − 1.015·W/S −
    * 84.6·V/W is emitted as the exact long numerator/denominator pair
    * fre_num = 206835·S·W − 1015·W² − 84600·V·S, fre_den = 1000·S·W
    * (clearing both divisions at the ×1000 fixed-point grain), plus
    * the ONE double division fre_num/fre_den — no float accumulation
    * anywhere, the cross-multiplication discipline of a20/dq6.
    * Overflow bound: terms ≤ ~2e5·W·S — safe past 10⁶-word documents.
    * Shape: one narrow codegen'd pass (regexp counts), no shuffle
    * before the output sort; at 100 TB the score column feeds a
    * pushed-down quality-gate filter (tx7's bucket discipline). */
  def readability(s: SparkSession, d: String): DataFrame =
    readabilityOf(Tables.documents(s, d))

  /** [[readability]] over an explicit documents frame. */
  def readabilityOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        regexp_count(col("text"), lit("[aeiouAEIOU]+")).cast("long")
          .as("n_vowel_runs"))
      .withColumn("fre_num",
        lit(206835L) * col("n_sentences") * col("n_words") -
          lit(1015L) * col("n_words") * col("n_words") -
          lit(84600L) * col("n_vowel_runs") * col("n_sentences"))
      .withColumn("fre_den", lit(1000L) * col("n_sentences") * col("n_words"))
      .withColumn("fre",
        when(col("fre_den") > 0L,
          col("fre_num").cast("double") / col("fre_den").cast("double")))
      .orderBy("doc_id")

  val readabilityOracle: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
      |      AS n_vowel_runs
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT doc_id, n_words, n_sentences, n_vowel_runs,
      |    206835 * n_sentences * n_words - 1015 * n_words * n_words
      |      - 84600 * n_vowel_runs * n_sentences AS fre_num,
      |    1000 * n_sentences * n_words AS fre_den
      |  FROM c)
      |SELECT doc_id, n_words, n_sentences, n_vowel_runs, fre_num, fre_den,
      |  CASE WHEN fre_den > 0
      |       THEN CAST(fre_num AS DOUBLE) / CAST(fre_den AS DOUBLE) END
      |    AS fre
      |FROM f ORDER BY doc_id""".stripMargin

  /** Gopher word-count bounds (Rae et al. 2021 §A1.1.2, public):
    * scaled to this corpus's short documents — the production values
    * (50, 100k) would reject every fixture row and the rule logic is
    * what the operator demonstrates. */
  val GopherMinWords = 10L
  val GopherMaxWords = 100000L
  /** Required stopword hits (distinct members of the 8-word set). */
  val GopherMinStopHits = 2L

  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** tx37 — Gopher-rule quality gate (Rae et al. 2021's repetition-
    * free subset; the DeepMind filter suite beside tx7's C4 rules):
    * word-count bounds, mean word length in [3, 10], symbol-to-word
    * ratio (# and … marks) ≤ 1/10, non-alphabetic word fraction
    * ≤ 2/10, bullet-started lines ≤ 9/10, ellipsis-ended lines ≤ 3/10,
    * and ≥ 2 distinct members of the 8-stopword set. Every ratio rule
    * is an integer CROSS-MULTIPLICATION (3·W ≤ C ≤ 10·W, 10·sym ≤ W,
    * …) so the gate is exact cross-engine — no float thresholds.
    * Per-token counts (non-alpha words) come from a higher-order
    * `filter` over the split array INSIDE the row — no explode, no
    * shuffle; the whole operator is one narrow codegen pass whose
    * `keep` column pushes into the next stage's scan (the tx7
    * discipline). Counts stay in the output so a reviewer can audit
    * WHY a document failed, not just that it did. */
  def gopherFilter(s: SparkSession, d: String): DataFrame =
    gopherFilterOf(Tables.documents(s, d))

  /** [[gopherFilter]] over an explicit documents frame. */
  def gopherFilterOf(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val lines = split(col("text"), "\n")
    val stopHits = gopherStops.map(sw =>
      when(col("text").rlike(s"\\b$sw\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        length(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+", ""))
          .cast("long").as("n_word_chars"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long")
          .as("n_symbols"),
        size(filter(w, t => !t.rlike("[a-zA-Z]"))).cast("long")
          .as("n_nonalpha_words"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^[ \\t\\n\\f\\r]*[-*•]"))).cast("long")
          .as("n_bullet_lines"),
        size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
          .as("n_ellipsis_lines"),
        stopHits.as("n_stop_present"))
    val fWords = col("n_words") >= GopherMinWords &&
      col("n_words") <= GopherMaxWords
    val fMeanLen = lit(3L) * col("n_words") <= col("n_word_chars") &&
      col("n_word_chars") <= lit(10L) * col("n_words")
    val fSymbols = lit(10L) * col("n_symbols") <= col("n_words")
    val fAlpha = lit(10L) * col("n_nonalpha_words") <= lit(2L) * col("n_words")
    val fBullets = lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")
    val fEllipsis =
      lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")
    val fStops = col("n_stop_present") >= GopherMinStopHits
    base
      .withColumn("pass_words", fWords)
      .withColumn("pass_mean_len", fMeanLen)
      .withColumn("pass_symbols", fSymbols)
      .withColumn("pass_alpha", fAlpha)
      .withColumn("pass_bullets", fBullets)
      .withColumn("pass_ellipsis", fEllipsis)
      .withColumn("pass_stops", fStops)
      .withColumn("keep", fWords && fMeanLen && fSymbols && fAlpha &&
        fBullets && fEllipsis && fStops)
      .orderBy("doc_id")
  }

  /** tx38 — code-vs-prose detection: the routing classifier a mixed
    * crawl needs before language ID or quality scoring makes sense
    * (code documents fail every prose heuristic and prose documents
    * poison a code corpus). Pure surface densities, each an exact
    * count with a cross-multiplied threshold: brace/bracket density
    * ≥ 5/1000 chars, statement punctuation (`;` or `=`) ≥ 10/1000,
    * camelCase or snake_case identifiers ≥ 5/1000, and an indented-
    * line fraction ≥ 2/10 — `is_code` when ≥ 2 of the 4 signals fire
    * (single signals misfire on math prose and legal text; the 2-vote
    * rule is the standard heuristic-ensemble shape, same spirit as
    * tx1's marker vote). One narrow codegen pass, counts kept for
    * audit, flag pushes into the next stage's scan. */
  def codeDetect(s: SparkSession, d: String): DataFrame =
    codeDetectOf(Tables.documents(s, d))

  /** [[codeDetect]] over an explicit documents frame. */
  def codeDetectOf(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("[{}\\[\\]()]")).cast("long")
          .as("n_braces"),
        regexp_count(col("text"), lit("[;=]")).cast("long").as("n_stmt"),
        (regexp_count(col("text"), lit("[a-z][A-Z]")) +
          regexp_count(col("text"), lit("[a-zA-Z]_[a-zA-Z]")))
          .cast("long").as("n_ident"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^(    |\\t)"))).cast("long")
          .as("n_indented"))
    val sBrace = lit(1000L) * col("n_braces") >= lit(5L) * col("n_chars")
    val sStmt = lit(1000L) * col("n_stmt") >= lit(10L) * col("n_chars")
    val sIdent = lit(1000L) * col("n_ident") >= lit(5L) * col("n_chars")
    val sIndent = lit(10L) * col("n_indented") >= lit(2L) * col("n_lines")
    val votes = Seq(sBrace, sStmt, sIdent, sIndent)
      .map(s => when(s, 1L).otherwise(0L)).reduce(_ + _)
    base
      .withColumn("sig_braces", sBrace)
      .withColumn("sig_stmt", sStmt)
      .withColumn("sig_ident", sIdent)
      .withColumn("sig_indent", sIndent)
      .withColumn("n_votes", votes)
      .withColumn("is_code", votes >= 2L)
      .orderBy("doc_id")
  }

  val codeDetectOracle: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '[{}\[\]()]')) AS BIGINT)
      |      AS n_braces,
      |    CAST(len(regexp_extract_all(text, '[;=]')) AS BIGINT) AS n_stmt,
      |    CAST(len(regexp_extract_all(text, '[a-z][A-Z]'))
      |      + len(regexp_extract_all(text, '[a-zA-Z]_[a-zA-Z]')) AS BIGINT)
      |      AS n_ident,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |      l -> regexp_matches(l, '^(    |\t)'))) AS BIGINT) AS n_indented
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (
      |  SELECT *,
      |    (1000 * n_braces >= 5 * n_chars) AS sig_braces,
      |    (1000 * n_stmt >= 10 * n_chars) AS sig_stmt,
      |    (1000 * n_ident >= 5 * n_chars) AS sig_ident,
      |    (10 * n_indented >= 2 * n_lines) AS sig_indent
      |  FROM c)
      |SELECT doc_id, n_chars, n_braces, n_stmt, n_ident, n_lines,
      |  n_indented, sig_braces, sig_stmt, sig_ident, sig_indent,
      |  (CASE WHEN sig_braces THEN 1 ELSE 0 END
      |   + CASE WHEN sig_stmt THEN 1 ELSE 0 END
      |   + CASE WHEN sig_ident THEN 1 ELSE 0 END
      |   + CASE WHEN sig_indent THEN 1 ELSE 0 END) AS n_votes,
      |  (CASE WHEN sig_braces THEN 1 ELSE 0 END
      |   + CASE WHEN sig_stmt THEN 1 ELSE 0 END
      |   + CASE WHEN sig_ident THEN 1 ELSE 0 END
      |   + CASE WHEN sig_indent THEN 1 ELSE 0 END) >= 2 AS is_code
      |FROM s ORDER BY doc_id""".stripMargin

  val gopherFilterOracle: String = {
    val stopHits = gopherStops.map(sw =>
      s"CASE WHEN regexp_matches(text, '\\b$sw\\b') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_words,
       |    CAST(length(regexp_replace(text, '[ \\t\\n\\f\\r]+', '', 'g'))
       |      AS BIGINT) AS n_word_chars,
       |    CAST(len(regexp_extract_all(text, '#'))
       |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
       |      AS n_symbols,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> NOT regexp_matches(t, '[a-zA-Z]'))) AS BIGINT)
       |      AS n_nonalpha_words,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT)
       |      AS n_bullet_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(l, '\\.\\.\\.$$'))) AS BIGINT)
       |      AS n_ellipsis_lines,
       |    CAST($stopHits AS BIGINT) AS n_stop_present
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT *,
       |  (pass_words AND pass_mean_len AND pass_symbols AND pass_alpha
       |   AND pass_bullets AND pass_ellipsis AND pass_stops) AS keep
       |FROM (
       |  SELECT doc_id, n_words, n_word_chars, n_symbols,
       |    n_nonalpha_words, n_lines, n_bullet_lines, n_ellipsis_lines,
       |    n_stop_present,
       |    (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
       |      AS pass_words,
       |    (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
       |      AS pass_mean_len,
       |    (10 * n_symbols <= n_words) AS pass_symbols,
       |    (10 * n_nonalpha_words <= 2 * n_words) AS pass_alpha,
       |    (10 * n_bullet_lines <= 9 * n_lines) AS pass_bullets,
       |    (10 * n_ellipsis_lines <= 3 * n_lines) AS pass_ellipsis,
       |    (n_stop_present >= $GopherMinStopHits) AS pass_stops
       |  FROM c)
       |ORDER BY doc_id""".stripMargin
  }

  /** tx39 — Gopher REPETITION gate (Rae et al. 2021 Table A1's
    * repetition rules — the half tx37 deliberately left out): per doc,
    * (1) duplicate-LINE occurrence fraction and duplicate-line
    * CHARACTER fraction (a line is duplicate when it appears ≥ 2 times;
    * all its occurrences count), and (2) the character mass of the most
    * frequent word 2-/3-/4-gram (occurrences WITH multiplicity ×
    * n-gram character length, ties to the lexicographically first
    * gram). Thresholds are the paper's, integer cross-multiplied so
    * the gate is exact cross-engine: dup-line occurrences > 30% of
    * lines, dup-line chars > 20% of line chars, top-2-gram chars > 20%
    * / top-3-gram > 18% / top-4-gram > 16% of text chars. Counts stay
    * in the output so a reviewer can audit WHY (the tx37 discipline).
    *
    * Scale shape: ONE materialized (doc_id, text, n_chars) projection
    * feeds four keyed pipelines (lines + three n-gram orders); each is
    * an explode → (doc, token) count → doc-keyed aggregate/window —
    * all shuffles keyed on doc_id or (doc_id, gram), no global stage.
    * The n-gram explode uses the imperative ALL-occurrences expression
    * ([[graft.expressions.WordNGrams.ngramsAll]]) — same single-pass
    * codegen-friendly shape as tx4's distinct shingles. */
  def gopherRepetition(s: SparkSession, d: String): DataFrame =
    gopherRepetitionOf(Tables.documents(s, d))

  def gopherRepetitionOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Materialize(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars")),
      "gopher_rep_base")
    val lc = base
      .select(col("doc_id"), explode(split(col("text"), "\n", -1)).as("line"))
      .groupBy("doc_id", "line").agg(count(lit(1)).as("cnt"))
    val lstat = lc.groupBy("doc_id").agg(
      sum(col("cnt")).as("n_lines"),
      sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L))
        .as("dup_line_occ"),
      sum(when(col("cnt") >= 2, col("cnt") * length(col("line")))
        .otherwise(0L)).as("dup_line_chars"),
      sum(col("cnt") * length(col("line"))).as("line_chars"))
    def topN(n: Int): DataFrame = {
      val c = base
        .select(col("doc_id"),
          explode(graft.expressions.WordNGrams.ngramsAll(col("text"), n))
            .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("cnt").desc, col("g"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"),
          (col("cnt") * length(col("g"))).cast("long").as(s"top${n}_chars"))
    }
    base.select("doc_id", "n_chars")
      .join(lstat, Seq("doc_id"), "left")
      .join(topN(2), Seq("doc_id"), "left")
      .join(topN(3), Seq("doc_id"), "left")
      .join(topN(4), Seq("doc_id"), "left")
      .na.fill(0L, Seq("top2_chars", "top3_chars", "top4_chars"))
      .withColumn("fail_dup_lines",
        col("dup_line_occ") * 10 > col("n_lines") * 3)
      .withColumn("fail_dup_line_chars",
        col("dup_line_chars") * 10 > col("line_chars") * 2)
      .withColumn("fail_top2", col("top2_chars") * 10 > col("n_chars") * 2)
      .withColumn("fail_top3", col("top3_chars") * 100 > col("n_chars") * 18)
      .withColumn("fail_top4", col("top4_chars") * 100 > col("n_chars") * 16)
      .withColumn("keep",
        !col("fail_dup_lines") && !col("fail_dup_line_chars") &&
          !col("fail_top2") && !col("fail_top3") && !col("fail_top4"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of tx39: same line split (empties kept), same
    * ALL-occurrences n-grams (the tx4 fragment without list_distinct),
    * same (count desc, gram asc) top pick, same integer
    * cross-multiplied thresholds. */
  lazy val gopherRepetitionOracle: String = {
    def gramCte(n: Int): String = {
      val join = (1 to n).map(k => s"ws[i+${k - 1}]").mkString(" || ' ' || ")
      s"""g$n AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= $n
         |    THEN list_transform(generate_series(1, len(ws) - ${n - 1}),
         |      i -> $join) ELSE [] END) AS g FROM w),
         |c$n AS (SELECT doc_id, g, count(*) AS cnt FROM g$n GROUP BY 1, 2),
         |t$n AS (SELECT doc_id, CAST(cnt * length(g) AS BIGINT) AS top${n}_chars
         |  FROM (SELECT doc_id, g, cnt, row_number() OVER
         |      (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c$n)
         |  WHERE rn = 1)""".stripMargin
    }
    s"""WITH base AS (SELECT doc_id, text,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents WHERE text IS NOT NULL),
       |w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM base),
       |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
       |  FROM base),
       |lc AS (SELECT doc_id, line, count(*) AS cnt FROM l GROUP BY 1, 2),
       |lstat AS (SELECT doc_id,
       |    CAST(sum(cnt) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
       |      AS dup_line_occ,
       |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END)
       |      AS BIGINT) AS dup_line_chars,
       |    CAST(sum(cnt * length(line)) AS BIGINT) AS line_chars
       |  FROM lc GROUP BY 1),
       |${gramCte(2)},
       |${gramCte(3)},
       |${gramCte(4)}
       |SELECT *, (NOT fail_dup_lines AND NOT fail_dup_line_chars AND
       |    NOT fail_top2 AND NOT fail_top3 AND NOT fail_top4) AS keep
       |FROM (
       |  SELECT b.doc_id, b.n_chars, s.n_lines, s.dup_line_occ,
       |    s.dup_line_chars, s.line_chars,
       |    coalesce(t2.top2_chars, 0) AS top2_chars,
       |    coalesce(t3.top3_chars, 0) AS top3_chars,
       |    coalesce(t4.top4_chars, 0) AS top4_chars,
       |    (s.dup_line_occ * 10 > s.n_lines * 3) AS fail_dup_lines,
       |    (s.dup_line_chars * 10 > s.line_chars * 2) AS fail_dup_line_chars,
       |    (coalesce(t2.top2_chars, 0) * 10 > b.n_chars * 2) AS fail_top2,
       |    (coalesce(t3.top3_chars, 0) * 100 > b.n_chars * 18) AS fail_top3,
       |    (coalesce(t4.top4_chars, 0) * 100 > b.n_chars * 16) AS fail_top4
       |  FROM base b
       |  JOIN lstat s ON b.doc_id = s.doc_id
       |  LEFT JOIN t2 ON b.doc_id = t2.doc_id
       |  LEFT JOIN t3 ON b.doc_id = t3.doc_id
       |  LEFT JOIN t4 ON b.doc_id = t4.doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** tx42 — HEAPS-LAW vocabulary-growth curve: cumulative distinct
    * token types vs cumulative token count over DOUBLING corpus
    * prefixes. The saturation diagnostic a corpus curator reads before
    * and after dedup: a healthy natural corpus grows vocabulary as
    * ~T^β (β≈0.5 — each doubling of tokens adds a near-constant factor
    * of new types); a boilerplate-heavy or over-deduplicated corpus
    * bends the curve early/late. Complements tx24 (Zipf coverage of
    * the FINAL vocabulary) and tx26 (per-source diversity) with the
    * growth dimension neither captures.
    *
    * Prefixes are doc-id bitlen buckets (docs with bitlen(doc_id) = j
    * ⟺ doc_id ∈ [2^(j−1), 2^j)), so each bucket doubles the corpus —
    * EXACTLY the log-spaced sample points a Heaps fit wants — and the
    * assignment is a codegen'd `length(bin(doc_id))` in both engines:
    * no global rank window, no sort, scale-free. A type's first-seen
    * bucket is bitlen(min(doc_id)) (bitlen is monotone), one keyed
    * aggregate over the token stream. The per-bucket table is ≤ 64
    * rows, so the cumulative window is a bounded single-partition
    * window by construction (the PrefixSum exemption: O(bits), not
    * O(rows)). All outputs exact integers — the β fit is the
    * consumer's one division, not baked in. */
  def heapsGrowth(s: SparkSession, d: String): DataFrame =
    heapsGrowthOf(Tables.documents(s, d))

  def heapsGrowthOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .filter(col("text").isNotNull && col("doc_id") >= 0)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val perBucket = toks
      .groupBy(length(bin(col("doc_id"))).cast("long").as("j"))
      .agg(count(lit(1)).as("tokens"), countDistinct(col("doc_id")).as("docs"))
    val newTypes = toks
      .groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(length(bin(col("first_doc"))).cast("long").as("j"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("j")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .join(newTypes, Seq("j"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_docs", sum(col("docs")).over(w))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .select("j", "docs", "tokens", "new_types",
        "cum_docs", "cum_tokens", "cum_types")
      .orderBy("j")
  }

  /** DuckDB replay of tx42: same tokenization, same bitlen buckets
    * (`length(bin(x))` is the shared exact integer log2 idiom), same
    * bounded cumulative window. */
  val heapsGrowthOracle: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents WHERE text IS NOT NULL AND doc_id >= 0),
      |tk AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
      |pb AS (
      |  SELECT CAST(length(bin(doc_id)) AS BIGINT) AS j,
      |         count(*) AS tokens, count(DISTINCT doc_id) AS docs
      |  FROM tk GROUP BY 1),
      |fs AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
      |nt AS (
      |  SELECT CAST(length(bin(first_doc)) AS BIGINT) AS j,
      |         count(*) AS new_types
      |  FROM fs GROUP BY 1)
      |SELECT pb.j, CAST(pb.docs AS BIGINT) AS docs,
      |  CAST(pb.tokens AS BIGINT) AS tokens,
      |  CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types,
      |  CAST(sum(pb.docs) OVER w AS BIGINT) AS cum_docs,
      |  CAST(sum(pb.tokens) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(sum(coalesce(nt.new_types, 0)) OVER w AS BIGINT) AS cum_types
      |FROM pb LEFT JOIN nt ON pb.j = nt.j
      |WINDOW w AS (ORDER BY pb.j ROWS BETWEEN UNBOUNDED PRECEDING
      |             AND CURRENT ROW)
      |ORDER BY pb.j""".stripMargin

  /** Band cuts for [[refLmFilter]], in whole bits-per-token under the
    * reference model: < Head ⟹ "head" (fluent under the reference
    * distribution), < Tail ⟹ "middle", else "tail" (far from the
    * reference — noise, other-domain, or garbled). */
  val RefLmHeadBits = 7L
  val RefLmTailBits = 9L

  /** tx43 — REFERENCE-LM perplexity filter, the CCNet shape: train a
    * unigram model on a designated high-quality REFERENCE slice (here
    * the lexicographically first source — derived, not hardcoded, so
    * every tier picks the same slice), score EVERY document's tokens
    * under that model, and band the corpus head/middle/tail by
    * bits-per-token. This is the cross-corpus complement of tx23/tx41
    * (which score under the corpus's OWN model and so cannot flag
    * domain drift): a document fluent in the reference's distribution
    * lands in the head band regardless of which corpus slice it came
    * from.
    *
    * Exactness: surprisal is whole-bit integer math (bitlen(N_ref) −
    * bitlen(count), the tx23 idiom); out-of-vocabulary tokens score
    * bitlen(N_ref)+1 (a count of ½); bands cut on the exact integer
    * bits-per-token division. Scale: the reference model is a keyed
    * aggregate MATERIALIZED once through the [[Materialize]] seam —
    * its measured (not estimated) size lets Catalyst broadcast it
    * while it fits (CCNet ships its wiki LM to every node; same
    * design) and fall to a keyed sort-merge past the threshold, where
    * AQE's skew-join splitter absorbs the Zipf-head `tok` keys at
    * runtime. [[Materialize.hashJoinIfFits]] is deliberately NOT
    * applied: its premise (probe side already exchanged on the join
    * key) fails here — the probe is the raw exploded token stream, so
    * forcing shuffle_hash would shuffle the whole corpus to save a
    * vocab-sized broadcast. N_ref derives from the materialized model
    * (Σcnt ≡ the reference token count), so the corpus is scanned
    * once for the model and once for the scoring stream — never a
    * third time for the total; the 1-row total rides a broadcast; no
    * window anywhere. */
  def refLmFilter(s: SparkSession, d: String): DataFrame =
    refLmFilterOf(Tables.documents(s, d))

  def refLmFilterOf(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("text").isNotNull && col("source").isNotNull)
    val toks = base
      .select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val refSrc = base.agg(min(col("source")).as("ref_source"))
    val model = Materialize(
      toks.join(broadcast(refSrc), col("source") === col("ref_source"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")),
      "tx43_model")
    val totBits = model
      .agg(length(bin(coalesce(sum(col("cnt")), lit(0L)))).cast("long")
        .as("nbits"))
    toks
      .join(model, Seq("tok"), "left")
      .crossJoin(broadcast(totBits))
      .withColumn("bits",
        when(col("cnt").isNotNull,
          col("nbits") - length(bin(col("cnt"))).cast("long"))
          .otherwise(col("nbits") + 1L))
      .withColumn("oov", when(col("cnt").isNull, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("oov_tokens"),
        sum(col("bits")).as("total_bits"))
      .withColumn("bits_per_token", expr("total_bits div n_tokens"))
      .withColumn("band",
        when(col("bits_per_token") < RefLmHeadBits, "head")
          .when(col("bits_per_token") < RefLmTailBits, "middle")
          .otherwise("tail"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of tx43: same derived reference slice, same
    * whole-bit unigram surprisal, same integer band cuts. */
  val refLmFilterOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE text IS NOT NULL AND source IS NOT NULL),
       |t AS (
       |  SELECT doc_id, source,
       |         unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM base),
       |tk AS MATERIALIZED (SELECT * FROM t WHERE tok <> ''),
       |ref AS (SELECT min(source) AS rs FROM base),
       |rt AS MATERIALIZED (SELECT tok FROM tk, ref WHERE source = rs),
       |m AS MATERIALIZED (SELECT tok, count(*) AS cnt FROM rt GROUP BY tok),
       |nb AS (SELECT CAST(length(bin(count(*))) AS BIGINT) AS nbits FROM rt),
       |sc AS (
       |  SELECT tk.doc_id,
       |    CASE WHEN m.cnt IS NULL THEN nb.nbits + 1
       |         ELSE nb.nbits - length(bin(m.cnt)) END AS bits,
       |    CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tk LEFT JOIN m ON tk.tok = m.tok, nb)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(oov) AS BIGINT) AS oov_tokens,
       |  CAST(sum(bits) AS BIGINT) AS total_bits,
       |  CAST(sum(bits) // count(*) AS BIGINT) AS bits_per_token,
       |  CASE WHEN sum(bits) // count(*) < $RefLmHeadBits THEN 'head'
       |       WHEN sum(bits) // count(*) < $RefLmTailBits THEN 'middle'
       |       ELSE 'tail' END AS band
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Backoff penalty in whole bits (a 2-bit ≈ ×0.25 discount, the
    * stupid-backoff α≈0.3 quantized to the integer grain) and the
    * centi-bits-per-bigram band cuts for [[backoffLmFilter]] —
    * conditional bigram bits run higher than tx43's unigram bits, so
    * the cuts sit higher. */
  val BackoffPenaltyBits = 2L
  val BackoffHeadCenti = 900L
  val BackoffTailCenti = 1300L

  /** tx44 — BACKOFF bigram LM filter, the stupid-backoff shape (Brants
    * et al. 2007, "Large Language Models in Machine Translation"):
    * score every document's token TRANSITIONS under a bigram model
    * trained on the reference slice (tx43's derived high-quality
    * source), backing off to the reference unigram plus a fixed
    * whole-bit penalty when the bigram is unseen, and to an OOV charge
    * when even the unigram is unseen. This composes tx41 and tx43 into
    * the model that catches BOTH failure modes: cross-domain vocabulary
    * (tx43's signal) and in-vocabulary word salad (tx41's signal) —
    * under one reference distribution, which neither does alone.
    *
    * Exactness: all whole-bit integer math — bigram hit =
    * bitlen(c1(prev)) − bitlen(c2(prev,w)); unigram backoff =
    * penalty + bitlen(N_ref) − bitlen(c_u(w)); OOV = penalty +
    * bitlen(N_ref) + 1 — and the centi-bits presentation is one
    * integer division. The unigram counts and N_ref derive FROM the
    * materialized bigram model (c_u(w) = Σ_prev c2, N_ref = Σ c2), so
    * the corpus is scanned once for the model and once for scoring,
    * never a third time. Scale: the tx41 pair-stream idiom (array zip,
    * no window); ONLY the vocab-sized model tables materialize — the
    * corpus-scale pair stream is deliberately not checkpointed
    * (persisting O(corpus tokens) rows to save one re-explode would
    * store the corpus twice). The bigram table and its prev-marginal
    * PRE-JOIN into one (prev, w, c2, c1) model before scoring — they
    * share the (prev, w) key, and a vocab-sized join at model-build
    * time saves one corpus-stream join at score time: the pair stream
    * meets TWO model tables (the pre-joined model on (prev, w), the
    * unigram marginal on w), not three — two broadcasts while the
    * measured model fits (the tx43 posture), two keyed shuffles of the
    * stream instead of three past it. The 1-row total broadcasts. */
  def backoffLmFilter(s: SparkSession, d: String): DataFrame =
    backoffLmFilterOf(Tables.documents(s, d))

  def backoffLmFilterOf(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("text").isNotNull && col("source").isNotNull)
    val toks = words(col("text"))
    // the corpus-scale pair stream is deliberately NOT materialized
    // (the tx43 refusal applied to storage: checkpointing O(corpus
    // tokens) rows to save one re-explode stores the corpus twice);
    // only the vocab-sized bigram model below goes through the seam —
    // the scoring pass re-derives pairs from the scan
    val pairs = base
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) >= 2 && col("t").getItem(0) =!= "")
      .select(col("doc_id"), col("source"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("prev"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w"))).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.prev").as("prev"), col("p.w").as("w"))
    val refSrc = base.agg(min(col("source")).as("ref_source"))
    val big = Materialize(
      pairs.join(broadcast(refSrc), col("source") === col("ref_source"))
        .groupBy("prev", "w").agg(count(lit(1)).as("c2")),
      "tx44_big")
    // pre-join the prev-marginal onto the bigram table (vocab-sized
    // join, shared key) and re-materialize so the scoring join sees
    // MEASURED stats for the combined model — see the scaladoc
    val c1 = big.groupBy("prev").agg(sum(col("c2")).as("c1"))
    val model = Materialize(big.join(c1, Seq("prev")), "tx44_model")
    val cu = big.groupBy("w").agg(sum(col("c2")).as("c_u"))
    val tot = big.agg(
      length(bin(coalesce(sum(col("c2")), lit(0L)))).cast("long").as("nbits"))
    pairs
      .join(model, Seq("prev", "w"), "left")
      .join(cu, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("bits",
        when(col("c2").isNotNull,
          (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long"))
          .when(col("c_u").isNotNull,
            lit(BackoffPenaltyBits) + col("nbits") -
              length(bin(col("c_u"))).cast("long"))
          .otherwise(lit(BackoffPenaltyBits) + col("nbits") + 1L))
      .withColumn("backoff",
        when(col("c2").isNull && col("c_u").isNotNull, 1L).otherwise(0L))
      .withColumn("oov", when(col("c_u").isNull, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("backoff")).as("n_backoff"),
        sum(col("oov")).as("n_oov"),
        sum(col("bits")).as("total_bits"))
      .withColumn("centi_bits",
        expr("(100 * total_bits) div n_bigrams"))
      .withColumn("band",
        when(col("centi_bits") < BackoffHeadCenti, "head")
          .when(col("centi_bits") < BackoffTailCenti, "middle")
          .otherwise("tail"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of tx44: same derived reference slice, same
    * whole-bit backoff charges, same integer centi-bits cuts. */
  val backoffLmFilterOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE text IS NOT NULL AND source IS NOT NULL),
       |d AS (
       |  SELECT doc_id, source,
       |         string_split_regex(trim(text), '\\s+') AS l
       |  FROM base),
       |pairs AS MATERIALIZED (
       |  SELECT doc_id, source, l[i] AS prev, l[i + 1] AS w
       |  FROM d, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
       |  WHERE len(l) >= 2 AND l[1] <> ''),
       |ref AS (SELECT min(source) AS rs FROM base),
       |big AS MATERIALIZED (
       |  SELECT prev, w, count(*) AS c2
       |  FROM pairs, ref WHERE source = rs GROUP BY prev, w),
       |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1
       |       FROM big GROUP BY prev),
       |cu AS (SELECT w, CAST(sum(c2) AS BIGINT) AS c_u
       |       FROM big GROUP BY w),
       |nt AS (SELECT CAST(length(bin(coalesce(sum(c2), 0))) AS BIGINT)
       |         AS nbits FROM big),
       |sc AS (
       |  SELECT pairs.doc_id,
       |    CASE WHEN big.c2 IS NOT NULL
       |           THEN length(bin(c1.c1)) - length(bin(big.c2))
       |         WHEN cu.c_u IS NOT NULL
       |           THEN $BackoffPenaltyBits + nt.nbits - length(bin(cu.c_u))
       |         ELSE $BackoffPenaltyBits + nt.nbits + 1 END AS bits,
       |    CASE WHEN big.c2 IS NULL AND cu.c_u IS NOT NULL THEN 1 ELSE 0
       |      END AS backoff,
       |    CASE WHEN cu.c_u IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM pairs
       |  LEFT JOIN big ON pairs.prev = big.prev AND pairs.w = big.w
       |  LEFT JOIN c1 ON pairs.prev = c1.prev
       |  LEFT JOIN cu ON pairs.w = cu.w, nt)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  CAST(sum(bits) AS BIGINT) AS total_bits,
       |  (100 * CAST(sum(bits) AS BIGINT)) // count(*) AS centi_bits,
       |  CASE WHEN (100 * CAST(sum(bits) AS BIGINT)) // count(*)
       |         < $BackoffHeadCenti THEN 'head'
       |       WHEN (100 * CAST(sum(bits) AS BIGINT)) // count(*)
       |         < $BackoffTailCenti THEN 'middle'
       |       ELSE 'tail' END AS band
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** tx46 anchor width (tokens): a span is contaminated where its
    * anchor 3-gram appears anywhere in the test split. */
  val ScrubAnchorTokens = 3

  /** tx46 — SPAN-surgical decontamination accounting: tx9 answers
    * "is this train document contaminated" (drop-the-document
    * verdict); this op answers "what would SURGICAL removal cost" —
    * the Lee-et-al span-removal shape pointed at benchmark
    * contamination. Every train-document position whose anchor
    * [[ScrubAnchorTokens]]-gram appears anywhere in the test split
    * becomes a token interval [pos, pos+k−1]; overlapping intervals
    * merge into maximal spans (strictly-adjacent spans stay separate —
    * the union token count is identical either way); the output is
    * per-train-document accounting (zero rows included, because a
    * scrub plan needs the keeps too): span count, tokens a scrub
    * removes, and the per-mille share, integer-exact.
    *
    * Shape: tx9's split + gram-hash join (keyed on the 60-bit anchor
    * hash — hash-is-identity, the dd4/dd10 convention; never a
    * broadcast of a corpus-derived set), dd10's positioned-anchor
    * explode, dd13's interval merge (per-doc windows — millions of
    * tiny partitions, no global sort before the output ORDER BY). At
    * most one match row per (doc, pos), so the merge window's
    * (start, end) order is total and deterministic. */
  def spanScrub(s: SparkSession, d: String): DataFrame =
    spanScrubOf(Tables.documents(s, d))

  /** [[spanScrub]] over an explicit documents frame. */
  def spanScrubOf(docs: DataFrame): DataFrame = {
    import graft.functions.Functions.md5Hash60
    import org.apache.spark.sql.expressions.Window
    val k = ScrubAnchorTokens
    val bucket = pmod(md5Hash60(col("doc_id").cast("string"), 7), lit(100L))
    val base = docs.withColumn("split",
      when(bucket < 90, "train").otherwise("test"))
    val posGrams = base
      .repartition(Materialize.partitions(docs.sparkSession))
      .select(col("doc_id"), col("split"),
        posexplode(graft.expressions.AllWordNGrams.ngrams(
          col("text"), k)).as(Seq("p0", "gram")))
      .select(col("doc_id"), col("split"),
        (col("p0") + 1).cast("long").as("pos"),
        md5Hash60(col("gram"), 0).as("h"))
    // the test-gram set is itself corpus-derived (distinct = an
    // aggregate keyed by h, the join key): stats-gated hash hint, the
    // same no-broadcast discipline as the doc-grain join below
    val testGrams = Materialize.hashJoinIfFits(
      posGrams.filter(col("split") === "test").select("h").distinct())
    val matched = posGrams.filter(col("split") === "train")
      .join(testGrams, "h")
      .select(col("doc_id"), col("pos").as("start"),
        (col("pos") + (k - 1)).as("end"))
    val wPrev = Window.partitionBy("doc_id").orderBy("start", "end")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("start", "end")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = matched
      .withColumn("pme", max(col("end")).over(wPrev))
      .withColumn("isl", sum(
        when(col("pme").isNull || col("start") > col("pme"), 1L)
          .otherwise(0L)).over(wRun))
      .groupBy("doc_id", "isl")
      .agg((max(col("end")) - min(col("start")) + 1L).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("tok")).as("tokens_contaminated"))
    base.filter(col("split") === "train")
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      // join back onto an aggregate keyed by the join key: the span
      // stats are CORPUS-derived (one row per contaminated doc) —
      // stats-gated hash hint reuses the aggregate's own exchange and
      // keeps Catalyst from broadcasting a table that only looks
      // small at toy scale (the r8 sf1 lesson)
      .join(Materialize.hashJoinIfFits(spans), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_contaminated"), lit(0L))
          .as("tokens_contaminated"))
      .withColumn("contamination_pm",
        expr("tokens_contaminated * 1000 div greatest(n_tokens, 1)"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of tx46 on raw gram strings (the 60-bit hash
    * stands in for the gram on the Spark side). */
  lazy val spanScrubOracle: String = {
    val k = ScrubAnchorTokens
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents),
       |sp AS (SELECT doc_id,
       |  CASE WHEN ('0x' || substr(md5('7' || ':' ||
       |    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
       |    THEN 'train' ELSE 'test' END AS split
       |  FROM documents),
       |g AS (
       |  SELECT w.doc_id, sp.split, pos,
       |    array_to_string(ws[pos:pos+${k - 1}], ' ') AS gram
       |  FROM w JOIN sp USING (doc_id),
       |    unnest(generate_series(1, len(ws)-${k - 1})) AS t(pos)
       |  WHERE len(ws) >= $k AND NOT (len(ws) = 1 AND ws[1] = '')),
       |ts AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
       |m AS (
       |  SELECT g.doc_id, pos AS s, pos + ${k - 1} AS e
       |  FROM g JOIN ts USING (gram) WHERE g.split = 'train'),
       |r AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM m),
       |i AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e
       |        ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM r),
       |spn AS (
       |  SELECT doc_id, isl, max(e) - min(s) + 1 AS tok
       |  FROM i GROUP BY doc_id, isl),
       |per AS (
       |  SELECT doc_id, count(*) AS n_spans, sum(tok) AS toks
       |  FROM spn GROUP BY doc_id)
       |SELECT sp.doc_id,
       |  CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(per.toks, 0) AS BIGINT) AS tokens_contaminated,
       |  (CAST(coalesce(per.toks, 0) AS BIGINT) * 1000)
       |    // greatest(len(w.ws), 1) AS contamination_pm
       |FROM sp JOIN w USING (doc_id) LEFT JOIN per USING (doc_id)
       |WHERE sp.split = 'train' ORDER BY sp.doc_id""".stripMargin
  }

  /** tx45's candidate context windows (tokens). */
  val ContextWindows: Seq[Long] = Seq(128L, 512L, 2048L, 8192L)

  /** tx45 — context-window TRUNCATION audit: for each candidate
    * training context length, how much of the corpus survives naive
    * truncation — documents over the window, tokens kept vs lost, the
    * loss ratio, and the number of sequences a split-don't-truncate
    * packing would need (per-doc ceil(tokens/window); the tx12
    * packing's input accounting). The table this emits is the one a
    * context-length decision is actually made from.
    *
    * Scale shape: ONE pass over the corpus — per-window measures are
    * conditional aggregate COLUMNS of a single partial+final hash
    * aggregate (4 windows × 3 sums + 2 shared), and the 1-row result
    * is unpivoted to window grain POST-aggregation (4-element explode
    * of a 1-row frame). The explode-then-group alternative would feed
    * the aggregate a 4× row stream for no reason. */
  def truncationAudit(s: SparkSession, d: String): DataFrame =
    truncationAuditOf(Tables.documents(s, d))

  /** [[truncationAudit]] over an explicit documents frame. */
  def truncationAuditOf(docs: DataFrame): DataFrame = {
    val t = docs.select(
      size(words(col("text"))).cast("long").as("n_tokens"))
    val perWindow = ContextWindows.flatMap { w =>
      Seq(
        sum(when(col("n_tokens") > w, 1L).otherwise(0L))
          .as(s"tr_$w"),
        sum(least(col("n_tokens"), lit(w))).as(s"kept_$w"),
        sum(expr(s"(n_tokens + ${w - 1}) div $w")).as(s"seqs_$w"))
    }
    val aggCols = Seq(count(lit(1)).as("docs"),
      sum(col("n_tokens")).as("tokens_total")) ++ perWindow
    val one = t.agg(aggCols.head, aggCols.tail: _*)
    val rows = ContextWindows.map { w =>
      struct(lit(w).as("context_window"), col("docs"),
        col(s"tr_$w").as("docs_truncated"), col("tokens_total"),
        col(s"kept_$w").as("tokens_kept"),
        (col("tokens_total") - col(s"kept_$w")).as("tokens_lost"),
        ((col("tokens_total") - col(s"kept_$w")) / col("tokens_total"))
          .as("loss_ratio"),
        col(s"seqs_$w").as("seqs_needed"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
      .orderBy("context_window")
  }

  /** DuckDB replay of tx45 (the oracle may fan out; the engine may
    * not). */
  lazy val truncationAuditOracle: String = {
    val windows = ContextWindows.mkString(", ")
    s"""WITH t AS (
       |  SELECT CAST(len(string_split_regex(trim(text), '\\s+'))
       |    AS BIGINT) AS n_tokens
       |  FROM documents),
       |w AS (SELECT CAST(unnest([$windows]) AS BIGINT)
       |        AS context_window)
       |SELECT w.context_window,
       |  count(*) AS docs,
       |  CAST(sum(CASE WHEN t.n_tokens > w.context_window
       |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
       |  CAST(sum(t.n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(sum(least(t.n_tokens, w.context_window)) AS BIGINT)
       |    AS tokens_kept,
       |  CAST(sum(t.n_tokens) - sum(least(t.n_tokens, w.context_window))
       |    AS BIGINT) AS tokens_lost,
       |  CAST(sum(t.n_tokens) - sum(least(t.n_tokens, w.context_window))
       |    AS BIGINT) / CAST(sum(t.n_tokens) AS BIGINT) AS loss_ratio,
       |  CAST(sum((t.n_tokens + w.context_window - 1) // w.context_window)
       |    AS BIGINT) AS seqs_needed
       |FROM t, w GROUP BY w.context_window
       |ORDER BY w.context_window""".stripMargin
  }
}
