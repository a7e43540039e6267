package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.md5Hash60

/** The end-to-end curation FUNNEL as one auditable query — the
  * composition proof for the training-data operator family: quality
  * gate (tx7's predicate) → exact dedup among survivors (dd1's
  * min-id-per-content-hash) → benchmark decontamination (tx9's
  * train/test shingle flow), emitting per-document stage flags rather
  * than just the surviving rows, because a production curation run has
  * to account for every dropped document (the audit table IS the
  * deliverable reviewers read when a corpus changes size).
  *
  * Scale posture is the union of its stages', nothing new: the quality
  * gate is a narrow scan; canonicalization is one shuffle on the
  * content hash of the already-filtered pool; contamination is the
  * tx9 keyed shingle-hash join. Flags compose with plain boolean
  * logic, so Catalyst sees one plan and pushes the scan work together
  * — running the stages as separate jobs would scan the corpus three
  * times instead.
  */
object Curation {

  /** tx9's split constants, shared verbatim: md5-bucket of doc_id,
    * buckets below [[TrainPct]] are train. */
  val SplitSeed = 7
  val TrainPct = 90

  /** pipe1 — per-document curation audit: split, quality keep,
    * canonical-copy flag (min doc id per content hash within the
    * train ∧ quality pool), contamination vs the test split's shingle
    * set (train docs only — test docs are the benchmark, not
    * candidates), and the final selection verdict. */
  def curationAudit(s: SparkSession, d: String): DataFrame =
    curationAuditOf(Tables.documents(s, d))

  def curationAuditOf(docs: DataFrame): DataFrame = {
    val w = TextStats.words(col("text"))
    val base = docs
      .withColumn("split",
        when(pmod(md5Hash60(col("doc_id").cast("string"), SplitSeed),
          lit(100L)) < TrainPct, "train").otherwise("test"))
      .withColumn("n_tokens", size(w).cast("long"))
      .withColumn("diversity", size(array_distinct(w)) / size(w))
      .withColumn("q_keep",
        col("n_tokens") >= 20 && col("n_chars") <= 520 &&
          col("diversity") >= 0.3)
    val canon = base
      .filter(col("split") === "train" && col("q_keep"))
      .groupBy(md5(col("text")).as("__m"))
      .agg(min(col("doc_id")).as("canon_id"))
    val flat = base
      .repartition(Materialize.partitions(docs.sparkSession))
      .select(col("doc_id"), col("split"),
        explode(TextStats.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), col("split"), md5Hash60(col("sh"), 0).as("h"))
    // every join-back side here is CORPUS-derived (the 10%-split
    // shingle set, the per-doc contamination aggregate, the per-hash
    // canon table): stats-gated hash hints — never a broadcast that
    // only looks small at toy scale (the tx9/tx46 discipline)
    val testShingles = Materialize.hashJoinIfFits(
      flat.filter(col("split") === "test").select("h").distinct())
    val shared = flat.filter(col("split") === "train")
      .join(testShingles, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    base
      .withColumn("__m", md5(col("text")))
      .join(Materialize.hashJoinIfFits(canon), Seq("__m"), "left")
      .join(Materialize.hashJoinIfFits(shared), Seq("doc_id"), "left")
      .withColumn("is_canonical",
        col("split") === "train" && col("q_keep") &&
          coalesce(col("doc_id") === col("canon_id"), lit(false)))
      .withColumn("contaminated",
        col("split") === "train" &&
          coalesce(col("n_shared"), lit(0L)) > 0)
      .withColumn("selected", col("is_canonical") && !col("contaminated"))
      .select("doc_id", "split", "q_keep", "is_canonical", "contaminated",
        "selected", "n_tokens", "n_chars")
      .orderBy("doc_id")
  }

  /** DuckDB replay of pipe1: the tx7 predicate, the dd1 min-id
    * canonicalization over the train ∧ keep pool, the tx9 shingle
    * flow, identical boolean assembly. */
  val curationAuditOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, text,
       |    CASE WHEN ('0x' || substr(md5('$SplitSeed' || ':' ||
       |        CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < $TrainPct
       |      THEN 'train' ELSE 'test' END AS split,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    len(list_distinct(string_split_regex(trim(text), '\\s+')))
       |      AS n_distinct
       |  FROM documents),
       |q AS (
       |  SELECT *, (n_tokens >= 20 AND n_chars <= 520 AND
       |             n_distinct / n_tokens >= 0.3) AS q_keep
       |  FROM b),
       |canon AS (
       |  SELECT md5(text) AS m, min(doc_id) AS canon_id
       |  FROM q WHERE split = 'train' AND q_keep GROUP BY md5(text)),
       |sets AS (
       |  SELECT doc_id, split,
       |    CASE WHEN n_tokens >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, CAST(n_tokens AS INT) - 2),
       |      i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
       |           string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
       |           string_split_regex(trim(text), '\\s+')[i+2]))
       |    ELSE [] END AS sh
       |  FROM q),
       |test_sh AS (
       |  SELECT DISTINCT unnest(sh) AS u FROM sets WHERE split = 'test'),
       |shared AS (
       |  SELECT s.doc_id, count(*) AS n_shared
       |  FROM (SELECT doc_id, unnest(sh) AS u FROM sets
       |        WHERE split = 'train') s
       |  JOIN test_sh t ON s.u = t.u
       |  GROUP BY s.doc_id)
       |SELECT q.doc_id, q.split, q.q_keep,
       |  (q.split = 'train' AND q.q_keep AND
       |   coalesce(q.doc_id = c.canon_id, false)) AS is_canonical,
       |  (q.split = 'train' AND coalesce(sh.n_shared, 0) > 0)
       |    AS contaminated,
       |  (q.split = 'train' AND q.q_keep AND
       |   coalesce(q.doc_id = c.canon_id, false) AND
       |   NOT (coalesce(sh.n_shared, 0) > 0)) AS selected,
       |  CAST(q.n_tokens AS BIGINT) AS n_tokens, q.n_chars
       |FROM q LEFT JOIN canon c ON md5(q.text) = c.m
       |LEFT JOIN shared sh ON q.doc_id = sh.doc_id
       |ORDER BY q.doc_id""".stripMargin

  /** leak1 — NEAR-duplicate split leakage: test documents whose
    * near-duplicate (MinHash-verified, J ≥ threshold) lives in the
    * TRAIN split. Exact-match decontamination (tx9) misses these —
    * an eval answer paraphrased into a training page still leaks — so
    * this is the audit serious eval hygiene runs on top of the split.
    *
    * Shape: the dd2 pair pipeline unchanged (banded keyed shuffles),
    * then the split of each endpoint computed INLINE from the stable
    * doc-id hash (the tx5 bucket function) — a pure expression on the
    * pair set, no join back to the corpus — and one aggregation per
    * leaked test doc. Cost beyond dd2 is one scan of the (small)
    * verified-pair set. */
  def splitLeakage(s: SparkSession, d: String): DataFrame =
    splitLeakageOf(Tables.documents(s, d))

  /** [[splitLeakage]] over an explicit documents frame. */
  def splitLeakageOf(docs: DataFrame): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) =
      when(pmod(md5Hash60(c.cast("string"), 7), lit(100L)) < 90, "train")
        .otherwise("test")
    val pairs = Dedup.minhashLshPairsUnsorted(docs,
        "doc_id", "text", Dedup.JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        splitOf(col("doc_a")).as("split_a"), splitOf(col("doc_b")).as("split_b"))
    val ab = pairs.filter(col("split_a") === "test" && col("split_b") === "train")
      .select(col("doc_a").as("test_doc"), col("jaccard"))
    val ba = pairs.filter(col("split_b") === "test" && col("split_a") === "train")
      .select(col("doc_b").as("test_doc"), col("jaccard"))
    ab.unionByName(ba)
      .groupBy("test_doc")
      .agg(count(lit(1)).as("n_train_neardups"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("test_doc")
  }

  lazy val splitLeakageOracle: String =
    s"""WITH p AS (
       |${Dedup.minhashLshOracle}
       |),
       |sp AS (
       |  SELECT doc_a, doc_b, jaccard,
       |    CASE WHEN ('0x' || substr(md5('7' || ':' || CAST(doc_a AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
       |         THEN 'train' ELSE 'test' END AS split_a,
       |    CASE WHEN ('0x' || substr(md5('7' || ':' || CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
       |         THEN 'train' ELSE 'test' END AS split_b
       |  FROM p),
       |l AS (
       |  SELECT doc_a AS test_doc, jaccard FROM sp
       |  WHERE split_a = 'test' AND split_b = 'train'
       |  UNION ALL
       |  SELECT doc_b, jaccard FROM sp
       |  WHERE split_b = 'test' AND split_a = 'train')
       |SELECT test_doc, count(*) AS n_train_neardups, max(jaccard) AS max_jaccard
       |FROM l GROUP BY test_doc ORDER BY test_doc""".stripMargin

  /** URL canonicalization — the crawl-grain normalization table every
    * web-corpus pipeline runs BEFORE content-grain dedup (dd1/dd11
    * work on what this keeps; re-crawls of one page under cosmetic URL
    * variants would otherwise enter the corpus as distinct documents).
    * Rules, in order:
    *
    *   1. drop the fragment (`#…` — client-side only);
    *   2. drop the scheme (protocol-relative key: http/https re-crawls
    *      of one page are one document — the common crawl-dedup
    *      choice; keep the scheme out-of-band if serving needs it);
    *   3. lowercase the authority; strip default ports `:80`/`:443`
    *      and a leading `www.`;
    *   4. strip trailing slashes from the path (`/a/` ≡ `/a`; the root
    *      path normalizes to the bare host);
    *   5. drop `utm_*` tracking parameters, sort the remaining query
    *      parameters bytewise (order is transport noise), re-join.
    *
    * Pure per-row string work — regexps and one tiny array sort per
    * URL (the higher-order filter is interpreted, but it touches a
    * handful of short strings per row; everything around it stays in
    * codegen). */
  def canonicalUrl(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val rest = regexp_replace(regexp_replace(url, "#.*", ""),
      "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(rest, "^([^/?#]*)", 1)), ":(80|443)$", ""),
      "^www\\.", "")
    val pq = regexp_replace(rest, "^[^/?#]*", "")
    val path = regexp_replace(regexp_extract(pq, "^([^?]*)", 1), "/+$", "")
    val qNorm = array_join(array_sort(filter(
      split(regexp_extract(pq, "\\?(.*)$", 1), "&"),
      x => x =!= "" && !x.startsWith("utm_"))), "&")
    concat(host, path,
      when(qNorm =!= "", concat(lit("?"), qNorm)).otherwise(lit("")))
  }

  /** dd24 — canonical-URL dedup over a (doc_id, url) frame: group by
    * the [[canonicalUrl]] key, keep the first-seen (min doc_id)
    * survivor, count the collapsed docs and distinct raw spellings.
    * One hash-keyed groupBy with partial aggregation — dd1's exact
    * shape at crawl grain, linear at any corpus size. */
  def urlCanonicalDedupOf(urls: DataFrame): DataFrame = urls
    .select(col("doc_id"), col("url"),
      canonicalUrl(col("url")).as("canonical_url"))
    .groupBy("canonical_url")
    .agg(min(col("doc_id")).as("survivor_doc_id"),
      count(lit(1)).as("n_docs"),
      countDistinct(col("url")).as("n_raw_forms"))
    .orderBy("canonical_url")

  /** Driver-harness wrapper: `documents` carries no URL column, so one
    * is SYNTHESIZED deterministically from doc_id — four messy
    * variants per canonical page (group = doc_id div 4), each
    * exercising different normalization rules (scheme case, WWW/upper
    * host, default port, trailing slash, query order, utm_* params,
    * fragment) — then deduped by [[urlCanonicalDedupOf]]. The oracle
    * derives the identical spellings, so the normalization table is
    * hash-pinned end to end. */
  def urlCanonicalDedup(s: SparkSession, d: String): DataFrame =
    urlCanonicalDedupOf(syntheticUrls(Tables.documents(s, d)))

  /** The driver queries' synthetic (doc_id, url) frame: four messy
    * spellings per canonical page (group = doc_id div 4), each
    * exercising different normalization rules. Shared by dd24 and
    * lic1 so both gates see the same crawl. */
  private[graft] def syntheticUrls(docs: DataFrame): DataFrame = {
    val g = expr("doc_id div 4")
    val v = pmod(col("doc_id"), lit(4L))
    val hostCore =
      concat(lit("example"), pmod(g, lit(1000L)).cast("string"), lit(".com"))
    val url = concat(
      when(v === 1L, "HTTPS://").when(v === 3L, "Http://")
        .otherwise("http://"),
      when(v === 0L, hostCore)
        .when(v === 1L, concat(lit("WWW."), upper(hostCore)))
        .when(v === 2L, concat(hostCore, lit(":80")))
        .otherwise(concat(lit("www."), hostCore)),
      concat(lit("/doc/"), g.cast("string")),
      when(v === 1L, "/").otherwise(""),
      when(v === 0L, "?b=2&a=1")
        .when(v === 1L, "?a=1&utm_source=x&b=2")
        .when(v === 2L, "?b=2&a=1&utm_campaign=y")
        .otherwise("?a=1&b=2"),
      when(v === 3L, "#sec2").otherwise(""))
    docs.select(col("doc_id"), url.as("url"))
  }

  /** The oracle's replay of [[syntheticUrls]], as a CTE body named `u`. */
  private val syntheticUrlCte: String =
    """u AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 1 THEN 'HTTPS://' WHEN 3 THEN 'Http://'
      |          ELSE 'http://' END) ||
      |    (CASE doc_id % 4
      |       WHEN 0 THEN 'example' || CAST((doc_id // 4) % 1000 AS VARCHAR) || '.com'
      |       WHEN 1 THEN 'WWW.' || upper('example' || CAST((doc_id // 4) % 1000 AS VARCHAR) || '.com')
      |       WHEN 2 THEN 'example' || CAST((doc_id // 4) % 1000 AS VARCHAR) || '.com:80'
      |       ELSE 'www.example' || CAST((doc_id // 4) % 1000 AS VARCHAR) || '.com' END) ||
      |    '/doc/' || CAST(doc_id // 4 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
      |    (CASE doc_id % 4 WHEN 0 THEN '?b=2&a=1'
      |       WHEN 1 THEN '?a=1&utm_source=x&b=2'
      |       WHEN 2 THEN '?b=2&a=1&utm_campaign=y'
      |       ELSE '?a=1&b=2' END) ||
      |    (CASE WHEN doc_id % 4 = 3 THEN '#sec2' ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  /** DuckDB replay of dd24: same synthetic spellings, same
    * normalization pipeline (regexp steps, starts_with utm filter,
    * bytewise list_sort). */
  lazy val urlCanonicalDedupOracle: String =
    "WITH " + syntheticUrlCte + ",\n" +
    """s1 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(url, '#.*', ''),
      |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM u),
      |s2 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':(80|443)$', ''),
      |      '^www\.', '') AS host,
      |    regexp_replace(rest, '^[^/?#]*', '') AS pq
      |  FROM s1),
      |c AS (
      |  SELECT doc_id, url,
      |    host ||
      |    regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/+$', '') ||
      |    (CASE WHEN array_to_string(list_sort(list_filter(
      |            string_split(regexp_extract(pq, '\?(.*)$', 1), '&'),
      |            x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') <> ''
      |       THEN '?' || array_to_string(list_sort(list_filter(
      |            string_split(regexp_extract(pq, '\?(.*)$', 1), '&'),
      |            x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')
      |       ELSE '' END) AS canonical_url
      |  FROM s2)
      |SELECT canonical_url, min(doc_id) AS survivor_doc_id,
      |  count(*) AS n_docs, count(DISTINCT url) AS n_raw_forms
      |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  /** lic1 — license / robots-style metadata gating, the crawl-grain
    * GOVERNANCE stage that runs beside [[urlCanonicalDedupOf]] before
    * any content processing: per document, (a) the host's license
    * policy from a policy dimension (`allow` / `attribution` /
    * `deny`; unknown hosts default `allow` — flip the coalesce for a
    * deny-unknown posture), and (b) robots-style path-prefix
    * disallow rules (any matching rule blocks; rules are per-host,
    * several allowed). Precedence: a license `deny` outranks a
    * robots hit in the reason column; `keep` requires neither.
    *
    * Scale shape: the corpus side is one narrow per-row parse (the
    * dd24 regex steps, host+raw path only — robots match the RAW
    * path, not the canonical one); both rule tables are
    * governance-sized dims that ride BROADCAST joins (the robots
    * join is equi on host with the prefix test as its residual,
    * so a host's rule fan-out never shuffles the corpus); the
    * any-match collapse is one doc-keyed aggregate. */
  def licenseGateOf(urls: DataFrame, policy: DataFrame,
      robots: DataFrame): DataFrame = {
    val rest = regexp_replace(regexp_replace(col("url"), "#.*", ""),
      "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val parsed = urls.select(col("doc_id"),
      regexp_replace(regexp_replace(
        lower(regexp_extract(rest, "^([^/?#]*)", 1)), ":(80|443)$", ""),
        "^www\\.", "").as("host"),
      regexp_extract(regexp_replace(rest, "^[^/?#]*", ""),
        "^([^?]*)", 1).as("path"))
    parsed
      .join(broadcast(robots), Seq("host"), "left")
      .groupBy("doc_id", "host", "path")
      .agg(max(when(col("disallow_prefix").isNotNull &&
          col("path").startsWith(col("disallow_prefix")), 1L)
        .otherwise(0L)).as("robots_blocked"))
      .join(broadcast(policy), Seq("host"), "left")
      .withColumn("policy", coalesce(col("policy"), lit("allow")))
      .withColumn("keep",
        col("policy") =!= "deny" && col("robots_blocked") === 0L)
      .withColumn("reason",
        when(col("policy") === "deny", "license_deny")
          .when(col("robots_blocked") === 1L, "robots_disallow")
          .when(col("policy") === "attribution", "keep_attribution")
          .otherwise("keep"))
      .select("doc_id", "host", "path", "policy", "robots_blocked",
        "keep", "reason")
      .orderBy("doc_id")
  }

  /** Driver-harness wrapper: the [[syntheticUrls]] crawl against
    * deterministic rule dims — policy by host number (h%10: 0 deny,
    * 1–2 attribution, else allow) and one robots rule per h%7==0
    * host disallowing the `/doc/<h%10>` prefix (a real prefix test:
    * `/doc/1` blocks /doc/1, /doc/10…19, /doc/1xx — first-digit
    * matching, not equality). */
  def licenseGate(s: SparkSession, d: String): DataFrame = {
    val host =
      concat(lit("example"), col("id").cast("string"), lit(".com"))
    val policy = s.range(0, 1000).select(host.as("host"),
      when(pmod(col("id"), lit(10L)) === 0L, "deny")
        .when(pmod(col("id"), lit(10L)) <= 2L, "attribution")
        .otherwise("allow").as("policy"))
    val robots = s.range(0, 1000)
      .filter(pmod(col("id"), lit(7L)) === 0L)
      .select(host.as("host"),
        concat(lit("/doc/"), pmod(col("id"), lit(10L)).cast("string"))
          .as("disallow_prefix"))
    licenseGateOf(syntheticUrls(Tables.documents(s, d)), policy, robots)
  }

  /** DuckDB replay of lic1: same crawl, same rule dims, same
    * precedence. */
  lazy val licenseGateOracle: String =
    "WITH " + syntheticUrlCte + ",\n" +
    """s1 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '#.*', ''),
      |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM u),
      |parsed AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':(80|443)$', ''),
      |      '^www\.', '') AS host,
      |    regexp_extract(regexp_replace(rest, '^[^/?#]*', ''),
      |      '^([^?]*)', 1) AS path
      |  FROM s1),
      |pol AS (
      |  SELECT 'example' || CAST(i AS VARCHAR) || '.com' AS host,
      |    CASE WHEN i % 10 = 0 THEN 'deny'
      |         WHEN i % 10 <= 2 THEN 'attribution'
      |         ELSE 'allow' END AS policy
      |  FROM generate_series(0, 999) AS t(i)),
      |rob AS (
      |  SELECT 'example' || CAST(i AS VARCHAR) || '.com' AS host,
      |    '/doc/' || CAST(i % 10 AS VARCHAR) AS disallow_prefix
      |  FROM generate_series(0, 999) AS t(i) WHERE i % 7 = 0),
      |blocked AS (
      |  SELECT p.doc_id, p.host, p.path,
      |    max(CASE WHEN r.disallow_prefix IS NOT NULL
      |             AND starts_with(p.path, r.disallow_prefix)
      |        THEN 1 ELSE 0 END) AS robots_blocked
      |  FROM parsed p LEFT JOIN rob r ON p.host = r.host
      |  GROUP BY 1, 2, 3)
      |SELECT b.doc_id, b.host, b.path,
      |  coalesce(pol.policy, 'allow') AS policy,
      |  CAST(b.robots_blocked AS BIGINT) AS robots_blocked,
      |  (coalesce(pol.policy, 'allow') <> 'deny'
      |    AND b.robots_blocked = 0) AS keep,
      |  CASE WHEN coalesce(pol.policy, 'allow') = 'deny'
      |         THEN 'license_deny'
      |       WHEN b.robots_blocked = 1 THEN 'robots_disallow'
      |       WHEN coalesce(pol.policy, 'allow') = 'attribution'
      |         THEN 'keep_attribution'
      |       ELSE 'keep' END AS reason
      |FROM blocked b LEFT JOIN pol ON b.host = pol.host
      |ORDER BY b.doc_id""".stripMargin

  /** smp8 budget: keep this share of each source's total tokens. */
  val BudgetPct = 50

  /** smp8 — TOKEN-BUDGET curation: turn "the best [[BudgetPct]]% of
    * tokens per source" into rows. Documents rank within their source
    * by a quality priority (stopword hits per character, scaled ×1e6
    * and floor-divided so BOTH engines derive the identical integer
    * order), and are taken greedily in that order until the source's
    * token budget fills; the first document that would overflow stops
    * the fill (prefix-cutoff semantics — the form a cumulative sum
    * expresses, and the standard way a mixture spec's per-source
    * token quota is realized against a ranked pool).
    *
    * Scale shape (why this is NOT `Window.partitionBy("source")`):
    * sources are FEW and huge — a per-source running-sum window
    * funnels each source through ONE task. Instead the cumulative sum
    * is ONE two-phase [[PrefixSum.exclusive]] pass over a
    * source-major order key (range partition + per-partition parallel
    * windows + O(partitions) driver offsets), and the within-source
    * cumulative = global offset − the source's first offset, an
    * O(sources) broadcast join — the ord2/tx21 machinery pointed at
    * token accounting. The priority embeds in the order key as an
    * inverted zero-padded integer so the string order agrees byte for
    * byte with ORDER BY (source, prio DESC, doc_id); source names
    * cannot contain the ':' separator, which keeps each source's key
    * range contiguous even across prefix-related names. */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetOf(Tables.documents(s, d))

  /** [[tokenBudget]] over an explicit documents frame. */
  def tokenBudgetOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(TextStats.words(col("text"))).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"),
          lit("\\b(a|the|of)\\b"), lit(0))).cast("long").as("n_stop"))
      // stop hits ≤ chars, so prio ≤ 1e6 and the 9-digit pad holds
      .withColumn("prio",
        expr("n_stop * 1000000 div greatest(n_chars, 1)"))
      .withColumn("ord", concat(
        col("source"), lit(":"),
        lpad((lit(999999999L) - col("prio")).cast("string"), 9, "0"),
        lpad(col("doc_id").cast("string"), 19, "0")))
      .drop("n_chars", "n_stop")
    val pos = PrefixSum.exclusive(base, "ord", "n_tokens")
    val src = pos.groupBy("source").agg(
      min(col("offset")).as("__base"),
      expr(s"sum(n_tokens) * $BudgetPct div 100").as("budget"))
    pos.join(broadcast(src), Seq("source"))
      .withColumn("cum_tokens",
        col("offset") - col("__base") + col("n_tokens"))
      .filter(col("cum_tokens") <= col("budget"))
      .select("source", "doc_id", "prio", "n_tokens", "cum_tokens",
        "budget")
      .orderBy("source", "cum_tokens")
  }

  /** DuckDB replay of smp8: the window formulation of the same
    * cumulative-fill (the oracle may single-task; the engine may
    * not). */
  lazy val tokenBudgetOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    (CAST(len(regexp_extract_all(text, '\\b(a|the|of)\\b'))
       |      AS BIGINT) * 1000000) // greatest(n_chars, 1) AS prio
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, prio, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY prio DESC, doc_id) AS cum_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY source) * $BudgetPct)
       |      // 100 AS budget
       |  FROM t)
       |SELECT source, doc_id, prio, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  CAST(budget AS BIGINT) AS budget
       |FROM c WHERE cum_tokens <= budget
       |ORDER BY source, cum_tokens""".stripMargin
}
