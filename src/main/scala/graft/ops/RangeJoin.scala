package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.toSecond

/** Interval (range) join — the second classic operator Spark's equi-join
  * planner lacks: match each point row to every interval [start, end)
  * with the same key that covers it. A naive theta-join degenerates to
  * a per-key nested loop; the scalable shape is TIME BUCKETIZATION:
  *
  *   fixed-width buckets; each interval explodes to the buckets it
  *   overlaps (≤ ceil(len/width)+1 rows), each point maps to exactly
  *   ONE bucket, and the join is EQUI on (key, bucket) with the exact
  *   range predicate as a post-filter. Every (point, interval) pair
  *   meets at most once (the point's bucket), so no dedup is needed —
  *   one keyed shuffle, candidate count bounded by bucket co-residency,
  *   AQE-skew-splittable. This is how warehouse engines execute
  *   interval joins at scale when the optimizer can pick a band width.
  */
object RangeJoin {

  /** Bucket width = the interval length (1 hour), so each interval
    * spans at most two buckets. */
  val BucketSeconds: Long = 3600L

  /** Driver query: every 'error' event opens a 1-hour incident window
    * [ts, ts+1h) for its user; every event of that user is matched to
    * the windows covering it — per event the count of covering
    * incidents and the max covering incident id (null when uncovered —
    * left semantics). The same-table derivation keeps both engines'
    * interval sets identical by construction. */
  def rangeJoinQuery(s: SparkSession, d: String): DataFrame = {
    val B = BucketSeconds
    val base = Tables.events(s, d).select(
      col("event_id"), col("user_id").as("k"), col("event_type"),
      toSecond(col("ts")).cast("long").as("t_ep"))
    val ev = base.select(col("event_id"), col("k"), col("t_ep"))
      .withColumn("bucket", floor(col("t_ep") / B).cast("long"))
    val iv = base.filter(col("event_type") === "error")
      .select(col("k"), col("t_ep").as("s_ep"),
        col("event_id").as("incident_id"))
      .withColumn("e_ep", col("s_ep") + B) // [start, start + 1h)
      .withColumn("bucket", explode(sequence(
        floor(col("s_ep") / B).cast("long"),
        floor((col("e_ep") - 1) / B).cast("long"))))
    // the exploded interval stream and the event-grain aggregate are
    // both same-table-derived (fan-out-blind estimates): stats-gated
    // hints keep them keyed instead of letting a toy-tier broadcast
    // decision survive to tiers where the incident set is huge
    val m = ev.join(Materialize.hashJoinIfFits(iv), Seq("k", "bucket"))
      .filter(col("t_ep") >= col("s_ep") && col("t_ep") < col("e_ep"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_covering"),
        max(col("incident_id")).as("max_incident_id"))
    ev.select("event_id")
      .join(Materialize.hashJoinIfFits(m), Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_covering"), lit(0L)).as("n_covering"),
        col("max_incident_id"))
      .orderBy("event_id")
  }

  /** j10 — interval×interval OVERLAP join (the temporal/genomic
    * standard j7's point-in-interval machinery doesn't cover): emit
    * every same-key pair of intervals with [s,e) intersection, plus
    * the overlap length. Same bucketization, plus the dedup-free
    * FIRST-SHARED-BUCKET trick for the both-sides-multi-bucket case: a
    * pair of overlapping intervals co-resides in every bucket of the
    * intersection, so the join keeps a candidate only in bucket
    * max(start_bucket_a, start_bucket_b) — provably the first bucket
    * both cover (s_b < e_a ⇒ floor(s_b/B) ≤ floor((e_a−1)/B)), hence
    * exactly one survivor per true pair and NO distinct. One keyed
    * shuffle; candidate volume is bucket co-residency, AQE-splittable. */
  def overlapPairsOf(iv: DataFrame, bucketSec: Long): DataFrame = {
    val withB = iv
      .withColumn("sb", floor(col("s_ep") / bucketSec).cast("long"))
      .withColumn("lb", floor((col("e_ep") - 1) / bucketSec).cast("long"))
    def side(t: String) = withB.select(col("k"), col("id").as(s"id_$t"),
      col("s_ep").as(s"s_$t"), col("e_ep").as(s"e_$t"),
      col("sb").as(s"sb_$t"), col("lb").as(s"lb_$t"))
      .withColumn("bucket", explode(sequence(col(s"sb_$t"), col(s"lb_$t"))))
    // equal-size exploded SELF-join: stats-gated hash hint (the
    // hashJoinIfFits self-join rationale — never a broadcast of one
    // side of a stream that grows with the corpus)
    side("a").join(Materialize.hashJoinIfFits(side("b")), Seq("k", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("s_a") < col("e_b") && col("s_b") < col("e_a"))
      .filter(col("bucket") === greatest(col("sb_a"), col("sb_b")))
      .select(col("k"), col("id_a"), col("id_b"),
        (least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
          .as("overlap_sec"))
  }

  /** Driver query: pairs of same-user incident windows (the j7
    * derivation) that overlap in time — concurrent-incident analysis. */
  def overlapJoinQuery(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d).filter(col("event_type") === "error")
      .select(col("user_id").as("k"), col("event_id").as("id"),
        toSecond(col("ts")).cast("long").as("s_ep"))
      .withColumn("e_ep", col("s_ep") + BucketSeconds)
    overlapPairsOf(iv, BucketSeconds)
      .select(col("k").as("user_id"), col("id_a").as("incident_a"),
        col("id_b").as("incident_b"), col("overlap_sec"))
      .orderBy("incident_a", "incident_b")
  }

  val overlapJoinOracle: String =
    """WITH e AS (
      |  SELECT user_id AS k, event_id AS id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 3600 AS e
      |  FROM events WHERE event_type = 'error')
      |SELECT a.k AS user_id, a.id AS incident_a, b.id AS incident_b,
      |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_sec
      |FROM e a JOIN e b ON a.k = b.k AND a.id < b.id
      |  AND a.s < b.e AND b.s < a.e
      |ORDER BY incident_a, incident_b""".stripMargin

  val rangeJoinOracle: String =
    """WITH base AS (
      |  SELECT event_id, user_id AS k, event_type,
      |         date_trunc('second', ts) AS t
      |  FROM events),
      |iv AS (
      |  SELECT k, t AS s, t + INTERVAL 1 HOUR AS e, event_id AS incident_id
      |  FROM base WHERE event_type = 'error'),
      |m AS (
      |  SELECT b.event_id, count(*) AS n_covering,
      |         max(iv.incident_id) AS max_incident_id
      |  FROM base b JOIN iv ON b.k = iv.k AND b.t >= iv.s AND b.t < iv.e
      |  GROUP BY b.event_id)
      |SELECT b.event_id, coalesce(m.n_covering, 0) AS n_covering,
      |       m.max_incident_id
      |FROM base b LEFT JOIN m USING (event_id)
      |ORDER BY b.event_id""".stripMargin
}
