package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.TextStats.words

/** Passage chunking — the context-window preparation step of a
  * training-data / RAG pipeline: split each document's token stream
  * into fixed-size windows with a fixed stride (overlap keeps
  * boundary-spanning content retrievable), and audit how much of a
  * document is VERBATIM-SHARED boilerplate at chunk granularity.
  *
  * Scale shape: chunking is one explode per document (chunk count is
  * arithmetic on the token count — no window, no shuffle; the explode
  * stays inside whole-stage codegen), so it scales with corpus tokens
  * exactly like the tokenizer ops. The boilerplate audit is one
  * chunk-keyed aggregation plus one keyed join back — the dd1 exact-
  * dedup shape at chunk grain, never all-pairs. Tokenization is
  * [[TextStats.words]] (the RE2/DuckDB-parity whitespace class).
  */
object Chunking {

  /** Window geometry: 64-token chunks, 48-token stride (16-token
    * overlap) for ch1; 32-token NON-overlapping chunks for ch2 (an
    * overlap would make every shared window count ~W/S times). */
  val ChunkTokens = 64
  val ChunkStride = 48
  val AuditTokens = 32

  /** The tokenized stream with its length: (doc_id, l, n), only docs
    * with at least one nonempty token (an all-whitespace text
    * tokenizes to [""] in both engines and yields no chunks). */
  private def tokenized(docs: DataFrame): DataFrame = docs
    .filter(col("text").isNotNull)
    .select(col("doc_id"), words(col("text")).as("l"))
    .withColumn("n", size(col("l")).cast("long"))
    .filter(col("n") >= 1L && col("l").getItem(0) =!= "")

  /** Spark's `slice` takes Int indices; a token stream past ~2^31
    * would wrap the Long→Int cast NEGATIVE, and a negative slice start
    * indexes from the array END — silently wrong chunk_text instead of
    * a loud failure. Valid rows pass straight through the first branch
    * (slice start ≤ n ≤ array max length, far under Int range for any
    * real document); a hostile row raises. The guard lives inside the
    * consumed expression so the optimizer can never prune it. */
  private def intSliceStart(start: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(start <= lit(Int.MaxValue.toLong), start.cast("int"))
      .otherwise(raise_error(concat(
        lit("chunking: slice start overflows Int: "),
        start.cast("string"))).cast("int"))

  /** Chunk skeleton for window W / stride S over `tokenized` output:
    * (doc_id, n, l, chunk_id) with chunk_id 0..K,
    * K = max(0, ⌈(n−W)/S⌉) — integer ceiling division, exact in both
    * engines; every token is covered, the last chunk may be short. */
  private def chunked(toks: DataFrame, w: Int, s: Int): DataFrame = toks
    .withColumn("chunk_id", explode(sequence(lit(0L),
      greatest(lit(0L), expr(s"(n - $w + ${s - 1}) div $s")))))

  /** ch1 — sliding-window chunking: one row per (doc, chunk) with the
    * 1-based token start, the chunk's token count, and the chunk text
    * re-joined on single spaces (the tokenizer's canonical form). */
  def chunkWindows(s: SparkSession, d: String): DataFrame =
    chunkWindowsOf(Tables.documents(s, d))

  def chunkWindowsOf(docs: DataFrame): DataFrame = {
    val (w, st) = (ChunkTokens, ChunkStride)
    chunked(tokenized(docs), w, st)
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * st + 1L).as("start_tok"),
        least(lit(w.toLong), col("n") - col("chunk_id") * st)
          .as("n_chunk_tokens"),
        array_join(slice(col("l"),
          intSliceStart(col("chunk_id") * st + 1L), lit(w)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkWindowsOracle: String = {
    val (w, st) = (ChunkTokens, ChunkStride)
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS l
       |  FROM documents WHERE text IS NOT NULL),
       |t AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n
       |      FROM d WHERE len(l) >= 1 AND l[1] <> ''),
       |c AS (
       |  SELECT doc_id, n, l, unnest(generate_series(0,
       |    greatest(0, (n - $w + ${st - 1}) // $st))) AS chunk_id
       |  FROM t)
       |SELECT doc_id, chunk_id, chunk_id * $st + 1 AS start_tok,
       |  least($w, n - chunk_id * $st) AS n_chunk_tokens,
       |  array_to_string(l[chunk_id * $st + 1 : least(n, chunk_id * $st + $w)],
       |    ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** ch2 — chunk-grain boilerplate coverage: per document, how many of
    * its NON-overlapping [[AuditTokens]]-token chunks appear verbatim
    * in at least one OTHER document (md5 of the canonical chunk text —
    * the dd1 exact idiom at chunk grain), with the share in exact
    * basis points. This catches template-heavy documents whose
    * full-text md5 is unique (dd1 passes them) and whose shingle
    * Jaccard sits under the near-dup threshold (dd4 passes them) but
    * which are mostly assembled from corpus-shared blocks.
    *
    * The chunk table materializes once (the priv3/tx32 fork rule: the
    * hash-keyed df aggregate AND the join probe both read it); the df
    * table is keyed by the chunk hash — corpus-sized, never collected,
    * joined back keyed. */
  def chunkBoilerplate(s: SparkSession, d: String): DataFrame =
    chunkBoilerplateOf(Tables.documents(s, d))

  def chunkBoilerplateOf(docs: DataFrame): DataFrame = {
    val w = AuditTokens
    val chunks = Materialize(
      chunked(tokenized(docs), w, w)
        .select(col("doc_id"), md5(array_join(slice(col("l"),
          intSliceStart(col("chunk_id") * w + 1L), lit(w)), " ")).as("h")),
      "ch2_chunks")
    val docFreq = chunks.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("docs_with"))
    chunks
      .join(docFreq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("docs_with") >= 2L, 1L).otherwise(0L))
          .as("n_shared_chunks"))
      .withColumn("shared_bp",
        expr("(10000 * n_shared_chunks) div n_chunks"))
      .orderBy("doc_id")
  }

  val chunkBoilerplateOracle: String = {
    val w = AuditTokens
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS l
       |  FROM documents WHERE text IS NOT NULL),
       |t AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n
       |      FROM d WHERE len(l) >= 1 AND l[1] <> ''),
       |c AS MATERIALIZED (
       |  SELECT doc_id, md5(array_to_string(
       |    l[chunk_id * $w + 1 : least(n, chunk_id * $w + $w)], ' ')) AS h
       |  FROM (SELECT doc_id, n, l, unnest(generate_series(0,
       |          greatest(0, (n - $w + ${w - 1}) // $w))) AS chunk_id
       |        FROM t)),
       |f AS (SELECT h, count(DISTINCT doc_id) AS docs_with FROM c GROUP BY h)
       |SELECT c.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN f.docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared_chunks,
       |  (10000 * CAST(sum(CASE WHEN f.docs_with >= 2 THEN 1 ELSE 0 END)
       |    AS BIGINT)) // count(*) AS shared_bp
       |FROM c JOIN f ON c.h = f.h
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }
}
