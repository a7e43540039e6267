package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Entity resolution / record linkage: match records that denote the
  * same real-world entity across two registries despite typos — the
  * curation step that deduplicates user/author/site registries before
  * they key anything downstream (the reference's pipeline trusts its
  * USGS event ids; a multi-source 100-TB corpus never can).
  *
  * The scale shape is BLOCKING: candidates come from a UNION of cheap
  * equi-joins on blocking keys, never an all-pairs comparison, and the
  * expensive edit-distance verifier runs only inside blocks. Recall is
  * guaranteed by the pigeonhole split (the dd9 simhash-banding
  * argument applied to strings): a single-character edit leaves at
  * least one of {left digit half, right 5-char tail} untouched, so
  * every true pair shares at least one of the two blocking keys by
  * construction — the property the spec pins.
  */
object Linkage {

  /** Dirty ids offset so the two registries' id spaces never collide. */
  val DirtyOffset = 1000000L

  /** Name length of the synthetic registry ('Customer#%09d'). */
  private val NameLen = 18

  /** Deterministic dirty registry: one single-character corruption per
    * row, rule keyed by custkey — substitution anywhere in the digit
    * region, deletion/insertion confined to the last 5 characters (so
    * the left digit half survives them), one row in four left intact.
    * Replayed verbatim by the oracle. */
  def dirtyRegistryOf(cust: DataFrame): DataFrame = {
    val name = col("c_name")
    val r = col("c_custkey") % 4
    // substitution position spans BOTH halves (10..17); tail-edit
    // position stays in the right half (15..18)
    val pSub = (col("c_custkey") % 8 + 10).cast("int")
    val pTail = (col("c_custkey") % 4 + 15).cast("int")
    val sub = concat(name.substr(lit(1), pSub - 1), lit("x"),
      name.substr(pSub + 1, lit(NameLen) - pSub))
    val del = concat(name.substr(lit(1), pTail - 1),
      name.substr(pTail + 1, lit(NameLen) - pTail))
    val ins = concat(name.substr(lit(1), pTail - 1), lit("x"),
      name.substr(pTail, lit(NameLen + 1) - pTail))
    cust.select(
      (col("c_custkey") + DirtyOffset).as("dirty_id"),
      when(r === 0, sub).when(r === 1, del).when(r === 2, ins)
        .otherwise(name).as("dirty_name"),
      col("c_nationkey").as("nk"))
  }

  /** Deletion-neighborhood (FastSS) variants of the name TAIL
    * (positions 14+): the tail itself plus every single-character
    * deletion of it. Two tails within ONE edit of each other —
    * substitution, insertion, or deletion — always share a variant
    * (delete the differing position from both / delete the inserted
    * character / the deletion IS a variant of the longer side), which
    * is the exact-recall property the pass-1 rewrite below rides. */
  private def tailVariants(n: Column): Column = {
    val t = substring(n, 14, 10)
    val all = array((0 to 6).map { i =>
      if (i == 0) t
      else when(length(t) >= i,
        concat(substring(t, 1, i - 1), substring(t, i + 1, 10)))
    }: _*)
    array_distinct(filter(all, v => v.isNotNull))
  }

  /** rl1 — blocked record linkage between the clean customer registry
    * and its corrupted twin: two keyed equi-join candidate passes,
    * UNION (dedups pairs caught by both), Levenshtein ≤ 1 verification
    * inside blocks only. `same_entity` rides along as the audit
    * column: false-positive links (two customers whose names really
    * are one edit apart after corruption) are part of the answer, not
    * an error — both engines derive them identically.
    *
    * Pass 1 originally blocked on the left digit half alone — but on
    * sequential-id corpora the leading digits are nearly constant, so
    * block sizes grew O(n) and candidates O(n²)/|nations| (measured
    * 21 s at sf0.1, 10× the next query). It now blocks on (nation,
    * 13-char prefix, tail deletion-variant): every pair whose single
    * edit is confined to the tail — exactly pass 1's catch set, since
    * a lev ≤ 1 pair with an equal 13-prefix always admits a
    * tail-confined alignment — shares a variant by the FastSS
    * property, so the VERIFIED pair set is provably unchanged (the
    * oracle still replays the original two-pass blocking; the spec
    * additionally pins equality with per-nation brute force), while
    * the key inherits the near-unique low digits: block sizes are
    * O(1), candidates O(n). Pass 2 (nation + right 5-char tail,
    * catching left-half substitutions) was always selective. */
  def recordLinkage(s: SparkSession, d: String): DataFrame =
    recordLinkageOf(Tables.customer(s, d))

  def recordLinkageOf(cust: DataFrame): DataFrame = {
    val clean = cust.select(col("c_custkey").as("clean_id"),
      col("c_name").as("clean_name"), col("c_nationkey").as("nk"))
    val dirty = dirtyRegistryOf(cust)
    def pass(key: Column => Column): DataFrame =
      clean.withColumn("bk", key(col("clean_name")))
        .join(dirty.withColumn("bk", key(col("dirty_name"))), Seq("nk", "bk"))
        .select(col("clean_id"), col("clean_name"),
          col("dirty_id"), col("dirty_name"))
    def variantPass: DataFrame =
      clean.withColumn("pre", substring(col("clean_name"), 1, 13))
        .withColumn("bk", explode(tailVariants(col("clean_name"))))
        .join(dirty.withColumn("pre", substring(col("dirty_name"), 1, 13))
          .withColumn("bk", explode(tailVariants(col("dirty_name")))),
          Seq("nk", "pre", "bk"))
        .select(col("clean_id"), col("clean_name"),
          col("dirty_id"), col("dirty_name"))
    val candidates = variantPass
      .unionByName(pass(n => substring(n, -5, 5)))
      .distinct()
    candidates
      .withColumn("lev", levenshtein(col("clean_name"), col("dirty_name")))
      .filter(col("lev") <= 1)
      .select(col("clean_id"), col("dirty_id"), col("lev").cast("long"),
        (col("dirty_id") - DirtyOffset === col("clean_id")).as("same_entity"))
      .orderBy("clean_id", "dirty_id")
  }

  /** Shared CTE body of the rl1/rl2 oracles: corruption rules, the two
    * blocking passes, and the verified link set. */
  private val linkageCtes: String = {
    val n = NameLen
    s"""d AS (
       |  SELECT c_custkey + $DirtyOffset AS dirty_id,
       |    CASE c_custkey % 4
       |      WHEN 0 THEN substr(c_name, 1, (c_custkey % 8 + 10) - 1) || 'x' ||
       |        substr(c_name, (c_custkey % 8 + 10) + 1, $n - (c_custkey % 8 + 10))
       |      WHEN 1 THEN substr(c_name, 1, (c_custkey % 4 + 15) - 1) ||
       |        substr(c_name, (c_custkey % 4 + 15) + 1, $n - (c_custkey % 4 + 15))
       |      WHEN 2 THEN substr(c_name, 1, (c_custkey % 4 + 15) - 1) || 'x' ||
       |        substr(c_name, (c_custkey % 4 + 15), ${n + 1} - (c_custkey % 4 + 15))
       |      ELSE c_name END AS dirty_name,
       |    c_nationkey AS nk
       |  FROM customer),
       |c AS (SELECT c_custkey AS clean_id, c_name AS clean_name,
       |        c_nationkey AS nk FROM customer),
       |cand AS (
       |  SELECT clean_id, clean_name, dirty_id, dirty_name
       |  FROM c JOIN d ON c.nk = d.nk
       |    AND substr(clean_name, 10, 4) = substr(dirty_name, 10, 4)
       |  UNION
       |  SELECT clean_id, clean_name, dirty_id, dirty_name
       |  FROM c JOIN d ON c.nk = d.nk
       |    AND right(clean_name, 5) = right(dirty_name, 5)),
       |links AS (
       |  SELECT clean_id, dirty_id,
       |    CAST(levenshtein(clean_name, dirty_name) AS BIGINT) AS lev,
       |    dirty_id - $DirtyOffset = clean_id AS same_entity
       |  FROM cand
       |  WHERE levenshtein(clean_name, dirty_name) <= 1)""".stripMargin
  }

  /** DuckDB replay: identical corruption rules, identical two blocking
    * passes, DuckDB's levenshtein (the same unit-cost edit distance as
    * Spark's). */
  val recordLinkageOracle: String =
    s"""WITH $linkageCtes
       |SELECT clean_id, dirty_id, lev, same_entity
       |FROM links ORDER BY clean_id, dirty_id""".stripMargin

  /** rl2 — blocking RECALL audit, completing the audit family across
    * all five approximate paths (banding dd17, ANN sim6, sketch dd15,
    * clustering dd18, linkage here): because the dirty registry is
    * derived record-by-record, ground truth is total — every customer
    * forms exactly one true pair with its corrupted twin — so recall
    * is measured over ALL truth, not a sample, at O(n) cost. Reported
    * per corruption RULE (substitution / tail-deletion / tail-insert /
    * untouched), because that is where blocking schemes break
    * selectively: a pass that misses insertions would read 100% on
    * the other three rules and never show in a pooled number. Also
    * per rule: the false links landing on that rule's dirty records
    * (same_entity = false is part of the answer, not an error — the
    * honest cost of 1-edit matching on a dense keyspace). Recall in
    * exact basis points; everything exact longs. */
  def blockingRecall(s: SparkSession, d: String): DataFrame =
    blockingRecallOf(Tables.customer(s, d))

  /** [[blockingRecall]] over an explicit customer frame. */
  def blockingRecallOf(cust: DataFrame): DataFrame = {
    val links = Materialize(recordLinkageOf(cust),
      "rl2_links")
    val truth = cust.select(col("c_custkey").as("clean_id"),
      (col("c_custkey") % 4).as("rule"))
    val found = links.filter(col("same_entity"))
      .select(col("clean_id"), lit(1L).as("found"))
    val byRule = truth
      .join(found, Seq("clean_id"), "left")
      .groupBy("rule")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
    val falseLinks = links.filter(!col("same_entity"))
      .select(((col("dirty_id") - DirtyOffset) % 4).as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n_false_links"))
    byRule.join(falseLinks, Seq("rule"), "left")
      .select(col("rule"), col("n_truth"), col("n_found"),
        expr("(10000 * n_found) div n_truth").as("recall_bp"),
        coalesce(col("n_false_links"), lit(0L)).as("n_false_links"))
      .orderBy("rule")
  }

  val blockingRecallOracle: String =
    s"""WITH $linkageCtes,
       |truth AS (SELECT c_custkey AS clean_id, c_custkey % 4 AS rule
       |          FROM customer),
       |found AS (SELECT clean_id FROM links WHERE same_entity),
       |br AS (
       |  SELECT t.rule, count(*) AS n_truth,
       |         CAST(sum(CASE WHEN f.clean_id IS NOT NULL THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_found
       |  FROM truth t LEFT JOIN found f ON t.clean_id = f.clean_id
       |  GROUP BY 1),
       |fl AS (
       |  SELECT (dirty_id - $DirtyOffset) % 4 AS rule,
       |         count(*) AS n_false_links
       |  FROM links WHERE NOT same_entity GROUP BY 1)
       |SELECT CAST(br.rule AS BIGINT) AS rule, br.n_truth, br.n_found,
       |       (10000 * br.n_found) // br.n_truth AS recall_bp,
       |       CAST(coalesce(fl.n_false_links, 0) AS BIGINT) AS n_false_links
       |FROM br LEFT JOIN fl ON br.rule = fl.rule
       |ORDER BY rule""".stripMargin
}
