package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Two-sided per-key reconciliation via typed `cogroup` — the
  * KeyValueGroupedDataset API family (groupByKey / cogroup) that
  * complements the DataFrame surface: both sides shuffle ONCE onto the
  * same key partitioning, then each key's two iterators meet in a
  * single function call with no join-row multiplication — the shape
  * for ledger-vs-ledger audits, source-vs-sink row accounting, and any
  * per-key logic that needs BOTH full groups at once (where a join
  * would explode |L|×|R| rows per key and an aggregation would lose
  * the pairing).
  *
  * Scale posture: one co-partitioned shuffle per side; per-key work is
  * streamed from the two iterators (no per-key materialization beyond
  * the running sums), so a hot key costs one task its group sizes, not
  * their product.
  */
object Reconcile {

  final case class KeyDiff(key: Long, n_left: Long, n_right: Long,
      sum_left: Long, sum_right: Long, delta: Long)

  /** Per-key counts, sums, and sum delta across two (key, value)
    * sides; emits a row for every key present on EITHER side.
    *
    * This is the typed-API DEMONSTRATOR: cogroup is the right tool
    * when the per-key logic needs BOTH full iterators at once
    * (order-dependent matching, row pairing, custom short-circuiting).
    * For a reduction like this one — counts and sums — every row pays
    * the Scala-tuple encoder round-trip, while [[keyedDiffFrame]]
    * stays inside whole-stage codegen end-to-end and runs ~2× faster
    * warm; the driver query (rc1) uses the frame form. KeyedDiffSpec
    * pins the two forms equal. */
  def keyedDiff(left: Dataset[(Long, Long)],
      right: Dataset[(Long, Long)]): Dataset[KeyDiff] = {
    import left.sparkSession.implicits._
    left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) { (k, ls, rs) =>
      var nl = 0L; var sl = 0L
      ls.foreach { x => nl += 1; sl += x._2 }
      var nr = 0L; var sr = 0L
      rs.foreach { x => nr += 1; sr += x._2 }
      Iterator.single(KeyDiff(k, nl, nr, sl, sr, sl - sr))
    }
  }

  /** DataFrame form of [[keyedDiff]] over two (key, value) frames: two
    * hash aggregates + one full-outer join — partial (map-side)
    * aggregation shrinks each side BEFORE its shuffle and every
    * operator is codegen'd, which is exactly what the cogroup form
    * gives up. Same output contract: one row per key present on
    * either side, absent sides read as zero. */
  def keyedDiffFrame(left: DataFrame, right: DataFrame): DataFrame = {
    def agg(df: DataFrame, n: String, s: String): DataFrame =
      df.toDF("key", "value").groupBy("key")
        .agg(count(lit(1)).as(n), sum(col("value")).as(s))
    agg(left, "n_l", "s_l")
      .join(agg(right, "n_r", "s_r"), Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_l"), lit(0L)).as("n_left"),
        coalesce(col("n_r"), lit(0L)).as("n_right"),
        coalesce(col("s_l"), lit(0L)).as("sum_left"),
        coalesce(col("s_r"), lit(0L)).as("sum_right"),
        (coalesce(col("s_l"), lit(0L)) - coalesce(col("s_r"), lit(0L)))
          .as("delta"))
  }

  /** Driver query (rc1): per-order source-vs-sink accounting — the raw
    * lineitem feed against the same feed after a quality filter
    * (quantity < 30), the audit that tells you exactly which orders
    * lost rows/quantity to the filter and how much. Quantities are
    * integral-valued in this schema, so the long cast is exact. */
  def keyedDiffQuery(s: SparkSession, d: String): DataFrame = {
    def side(df: DataFrame): DataFrame = df
      .select(col("l_orderkey"), col("l_quantity").cast("long"))
    val source = side(Tables.lineitem(s, d))
    val sink = side(Tables.lineitem(s, d).filter(col("l_quantity") < 30))
    keyedDiffFrame(source, sink).orderBy("key")
  }

  /** The cogroup form over the same rc1 inputs — kept callable so the
    * spec pins frame == cogroup on real data. */
  def keyedDiffQueryCogroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def side(df: DataFrame): Dataset[(Long, Long)] = df
      .select(col("l_orderkey"), col("l_quantity").cast("long"))
      .toDF("_1", "_2").as[(Long, Long)]
    val source = side(Tables.lineitem(s, d))
    val sink = side(Tables.lineitem(s, d).filter(col("l_quantity") < 30))
    keyedDiff(source, sink).toDF().orderBy("key")
  }

  /** ANSI rendering of [[keyedDiffQuery]]: two grouped aggregates FULL
    * OUTER joined on the key — a key present on either side emits one
    * row, absent sides read as zero. */
  val keyedDiffOracle: String =
    """WITH l AS (
      |  SELECT l_orderkey AS key, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT l_orderkey AS key, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
      |  FROM lineitem WHERE l_quantity < 30 GROUP BY 1)
      |SELECT COALESCE(l.key, r.key) AS key,
      |  COALESCE(l.n, 0) AS n_left, COALESCE(r.n, 0) AS n_right,
      |  COALESCE(l.s, 0) AS sum_left, COALESCE(r.s, 0) AS sum_right,
      |  COALESCE(l.s, 0) - COALESCE(r.s, 0) AS delta
      |FROM l FULL OUTER JOIN r ON l.key = r.key
      |ORDER BY key""".stripMargin

  /** Three-way per-key merge classification — base vs two divergent
    * revisions (the dataset-versioning primitive behind "two curation
    * branches touched the same snapshot; what merges clean and what
    * conflicts"). Each key present in any of the three frames lands
    * in exactly one class:
    * unchanged / ours_change / theirs_change / both_change_agree /
    * change_conflict / ours_delete / theirs_delete / both_delete /
    * delete_change_conflict / ours_insert / theirs_insert /
    * both_insert_agree / insert_conflict.
    * Shape: two keyed FULL OUTER joins (base⋈ours⋈theirs all shuffle
    * once onto the key) + one projection — no per-key iteration, no
    * driver logic; presence markers ride 1-literals so a legitimately
    * NULL value column cannot masquerade as an absent row. */
  def threeWayMerge(base: DataFrame, ours: DataFrame,
      theirs: DataFrame): DataFrame = {
    val b = base.toDF("key", "vb").withColumn("hb", lit(1L))
    val o = ours.toDF("key", "vo").withColumn("ho", lit(1L))
    val t = theirs.toDF("key", "vt").withColumn("ht", lit(1L))
    val j = b.join(o, Seq("key"), "full_outer")
      .join(t, Seq("key"), "full_outer")
    val oState = when(col("ho").isNull, "del")
      .when(col("vo") =!= col("vb"), "chg").otherwise("same")
    val tState = when(col("ht").isNull, "del")
      .when(col("vt") =!= col("vb"), "chg").otherwise("same")
    j.withColumn("class",
      when(col("hb").isNotNull,
        when(oState === "same" && tState === "same", "unchanged")
          .when(oState === "chg" && tState === "same", "ours_change")
          .when(oState === "same" && tState === "chg", "theirs_change")
          .when(oState === "chg" && tState === "chg",
            when(col("vo") === col("vt"), "both_change_agree")
              .otherwise("change_conflict"))
          .when(oState === "del" && tState === "same", "ours_delete")
          .when(oState === "same" && tState === "del", "theirs_delete")
          .when(oState === "del" && tState === "del", "both_delete")
          .otherwise("delete_change_conflict"))
        .otherwise(
          when(col("ho").isNotNull && col("ht").isNotNull,
            when(col("vo") === col("vt"), "both_insert_agree")
              .otherwise("insert_conflict"))
            .when(col("ho").isNotNull, "ours_insert")
            .otherwise("theirs_insert")))
      .select(col("key"), col("vb"), col("vo"), col("vt"), col("class"))
  }

  /** Driver query (rc3): classify the three-way merge of the orders
    * snapshot against two fabricated revisions, then reduce to one
    * row per class (count + key-range exemplars). The fabrication:
    * digit₁ of md5(key) drives OURS (0 delete, 1-2 +100, 3 insert a
    * shifted twin at key+2⁴⁰ with value+7), digit₂ drives THEIRS
    * (0 delete, 1 +100, 2 +200, 3 insert value+7, 4 insert value+9) —
    * digit pairs cover agree/conflict on both the change and insert
    * paths. */
  def threeWayMergeQuery(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Functions
    val ord = Materialize(
      Tables.orders(s, d).select(col("o_orderkey").as("key"),
        Functions.cents(col("o_totalprice")).as("v"),
        Functions.md5Hash60(col("o_orderkey").cast("string"), 21).as("h")),
      "rc3_base")
    // integer div, NOT Column./ (double division drifts above 2⁵³)
    val d1 = expr("h % 10").as("dg")
    val d2 = expr("(h div 10) % 10").as("dg")
    // ours: digit₁ — 0 delete, 1|2 +100, 3 insert twin (+7)
    val ours = ord.select(col("key"), col("v"), d1)
      .filter(col("dg") =!= 0L)
      .select(col("key"),
        when(col("dg") === 1L || col("dg") === 2L, col("v") + 100L)
          .otherwise(col("v")).as("v"))
      .unionAll(ord.select(col("key"), col("v"), d1)
        .filter(col("dg") === 3L)
        .select((col("key") + (1L << 40)).as("key"),
          (col("v") + 7L).as("v")))
    // theirs: digit₂ — 0 delete, 1 +100, 2 +200, 3 insert +7, 4 insert +9
    val theirs = ord.select(col("key"), col("v"), d2)
      .filter(col("dg") =!= 0L)
      .select(col("key"),
        when(col("dg") === 1L, col("v") + 100L)
          .when(col("dg") === 2L, col("v") + 200L)
          .otherwise(col("v")).as("v"))
      .unionAll(ord.select(col("key"), col("v"), d2)
        .filter(col("dg") === 3L || col("dg") === 4L)
        .select((col("key") + (1L << 40)).as("key"),
          (col("v") + when(col("dg") === 3L, 7L).otherwise(9L)).as("v")))
    threeWayMerge(ord.select(col("key"), col("v")), ours, theirs)
      .groupBy("class")
      .agg(count(lit(1)).as("n_keys"), min(col("key")).as("min_key"),
        max(col("key")).as("max_key"))
      .orderBy("class")
  }

  val threeWayMergeOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey AS key,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         ('0x' || substr(md5('21' || ':' ||
      |           CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM orders),
      |ours AS (
      |  SELECT key,
      |         CASE WHEN h % 10 IN (1, 2) THEN v + 100 ELSE v END AS v
      |  FROM base WHERE h % 10 <> 0
      |  UNION ALL
      |  SELECT key + (1::BIGINT << 40) AS key, v + 7 AS v
      |  FROM base WHERE h % 10 = 3),
      |theirs AS (
      |  SELECT key,
      |         CASE WHEN (h // 10) % 10 = 1 THEN v + 100
      |              WHEN (h // 10) % 10 = 2 THEN v + 200
      |              ELSE v END AS v
      |  FROM base WHERE (h // 10) % 10 <> 0
      |  UNION ALL
      |  SELECT key + (1::BIGINT << 40) AS key,
      |         v + CASE WHEN (h // 10) % 10 = 3 THEN 7 ELSE 9 END AS v
      |  FROM base WHERE (h // 10) % 10 IN (3, 4)),
      |j AS (
      |  SELECT COALESCE(b.key, o.key, t.key) AS key,
      |         b.v AS vb, o.v AS vo, t.v AS vt,
      |         b.key IS NOT NULL AS hb,
      |         o.key IS NOT NULL AS ho,
      |         t.key IS NOT NULL AS ht
      |  FROM (SELECT key, v FROM base) b
      |  FULL OUTER JOIN ours o ON b.key = o.key
      |  FULL OUTER JOIN theirs t ON COALESCE(b.key, o.key) = t.key),
      |cls AS (
      |  SELECT key,
      |    CASE WHEN hb THEN
      |      CASE
      |        WHEN ho AND vo = vb AND ht AND vt = vb THEN 'unchanged'
      |        WHEN ho AND vo <> vb AND ht AND vt = vb THEN 'ours_change'
      |        WHEN ho AND vo = vb AND ht AND vt <> vb THEN 'theirs_change'
      |        WHEN ho AND vo <> vb AND ht AND vt <> vb THEN
      |          CASE WHEN vo = vt THEN 'both_change_agree'
      |               ELSE 'change_conflict' END
      |        WHEN NOT ho AND ht AND vt = vb THEN 'ours_delete'
      |        WHEN ho AND vo = vb AND NOT ht THEN 'theirs_delete'
      |        WHEN NOT ho AND NOT ht THEN 'both_delete'
      |        ELSE 'delete_change_conflict' END
      |    ELSE
      |      CASE WHEN ho AND ht THEN
      |             CASE WHEN vo = vt THEN 'both_insert_agree'
      |                  ELSE 'insert_conflict' END
      |           WHEN ho THEN 'ours_insert'
      |           ELSE 'theirs_insert' END
      |    END AS class
      |  FROM j)
      |SELECT class, count(*) AS n_keys,
      |       CAST(min(key) AS BIGINT) AS min_key,
      |       CAST(max(key) AS BIGINT) AS max_key
      |FROM cls GROUP BY class ORDER BY class""".stripMargin
}
