package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions.toSecond

/** As-of (temporal point-in-time) join — the canonical operator Spark's
  * built-in joins lack: each probe row picks the LATEST build row with
  * the same key and time ≤ the probe's time. The naive formulations are
  * scale-killers (per-row subquery, or a range join whose candidate set
  * explodes); the scalable shape used here is the union trick:
  *
  *   tag both sides, union them, ONE shuffle on the key, and carry the
  *   build payload forward with last(payload, ignoreNulls) over a
  *   (time, side)-ordered running window — probe rows then hold exactly
  *   the as-of match. O(n log n) per key partition, a single exchange
  *   (PlanSpec-gated), no candidate blowup.
  *
  * Skew caveat: the carry window partitions by KEY, and AQE's skew
  * splitting applies to join partitions, not window partitions — a hot
  * key places ALL of its rows in one task's sort. [[asofLeftBucketed]]
  * is the skew-safe variant: it sub-partitions the window by a time
  * bucket (parallelism = keys × buckets) and carries payloads across
  * bucket boundaries with a second, bucket-granular pass whose per-key
  * row count is the bucket count, not the data size.
  *
  * Tie rules, identical in the DuckDB oracle (native ASOF LEFT JOIN):
  * build rows are pre-deduped to one per (key, time) by max surrogate;
  * at equal time the build row sorts before the probe row, so t = probe
  * time matches (inclusive ≤). */
object AsOf {

  /** Generic as-of left join.
    *
    * SQL-faithful null semantics: a build row whose key or time is NULL
    * can never match (filtered — an SQL join predicate is never true on
    * NULL); a probe row with NULL key/time gets a NULL result; a build
    * row whose PAYLOAD is genuinely NULL still matches and carries its
    * NULL (the carry-forward marker is a non-null struct wrapper, not
    * the payload itself, so data-NULL and no-match are distinct).
    *
    * @param probe   (keyCol, timeCol, probe payload columns...)
    * @param build   (keyCol, timeCol, one payload column) — MUST be
    *                unique per (key, time); pre-aggregate if not.
    * @param payload name of the build payload column to carry; must not
    *                collide with a probe column. */
  /** Shared union-prep for both as-of variants — THE null-semantics
    * contract lives here once: tag sides (probe 1 / build 0), wrap the
    * (possibly null) build payload in a non-null marker struct, drop
    * build rows with NULL key/time (a join predicate is never true on
    * NULL), null-fill the probe-only columns on the build side, and
    * realign columns for the union. */
  private def prepUnionSides(probe: DataFrame, build: DataFrame,
      payload: String, keyCol: String, timeCol: String)
      : (DataFrame, DataFrame) = {
    require(!probe.columns.contains(payload),
      s"probe already has a column named '$payload' — rename one side")
    val p = probe.withColumn("__side", lit(1))
      .withColumn("__bp",
        lit(null).cast(s"struct<v:${build.schema(payload).dataType.sql}>"))
    val extras = probe.schema
      .filterNot(f => Set(keyCol, timeCol).contains(f.name))
    val b = extras.foldLeft(
      build
        .filter(col(keyCol).isNotNull && col(timeCol).isNotNull)
        .withColumn("__side", lit(0))
        .withColumn("__bp", struct(col(payload).as("v")))
        .drop(payload)) {
      (df, f) => df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(p.columns.toIndexedSeq.map(col): _*)
    (p, b)
  }

  def asofLeft(probe: DataFrame, build: DataFrame, payload: String,
      keyCol: String = "k", timeCol: String = "t"): DataFrame = {
    val (p, b) = prepUnionSides(probe, build, payload, keyCol, timeCol)
    // NULL probe times sort first (asc_nulls_first), before every build
    // row, so they carry nothing — the SQL no-match result
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.unionByName(p, allowMissingColumns = false)
      .withColumn("__asof", last(col("__bp"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .withColumn(s"asof_$payload", col("__asof.v"))
      .drop("__side", "__bp", "__asof")
  }

  /** Skew-safe as-of left join: identical semantics to [[asofLeft]],
    * bounded task sizes under hot keys.
    *
    * Two phases:
    *   1. WITHIN-bucket carry — the union-window trick with the window
    *      partitioned by (key, bucket): a hot key's rows spread over
    *      its time buckets, so the largest sort task holds one bucket
    *      of one key, not the whole key.
    *   2. CROSS-bucket carry-in — the last build payload of each
    *      (key, bucket) is as-of-carried along the BUCKET axis (probe
    *      buckets deduplicated first), then joined back on
    *      (key, bucket). The per-key window here sees one row per
    *      bucket — bounded by time-range/width, independent of row
    *      count — and a probe bucket takes carry-in only from STRICTLY
    *      earlier buckets (same-bucket builds later than the probe must
    *      not leak in; same-bucket builds ≤ probe are phase 1's job).
    *
    * Result per probe row: phase-1 match if present, else phase-2
    * carry-in, else no match — exactly [[asofLeft]]'s semantics,
    * including the NULL rules (verified row-identical in OpsSpec on
    * skewed and null-bearing fixtures, and oracle-checked as j6b).
    *
    * @param bucketOf maps the time column to a long bucket id;
    *                 monotone non-decreasing in time (e.g. epoch-day). */
  def asofLeftBucketed(probe: DataFrame, build: DataFrame, payload: String,
      keyCol: String = "k", timeCol: String = "t")(
      bucketOf: Column => Column): DataFrame = {
    val pTyped = s"struct<v:${build.schema(payload).dataType.sql}>"
    // phase 1: union-window carry within (key, bucket); probe rows sort
    // after build rows at equal time (inclusive ≤ match)
    val (p0, b0) = prepUnionSides(probe, build, payload, keyCol, timeCol)
    val p = p0.withColumn("__bkt", bucketOf(col(timeCol)))
    val b = b0.withColumn("__bkt", bucketOf(col(timeCol)))
    val w1 = Window.partitionBy(keyCol, "__bkt")
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = b.unionByName(p)
      .withColumn("__within", last(col("__bp"), ignoreNulls = true).over(w1))
      .filter(col("__side") === 1)
    // phase 2: one row per (key, bucket) — the bucket's LAST build
    // payload — carried along the bucket axis to probe buckets. Probe
    // bucket rows sort BEFORE build rows of the same bucket (side -1)
    // so carry-in comes only from strictly earlier buckets.
    val wLast = Window.partitionBy(keyCol, "__bkt")
      .orderBy(desc(timeCol))
    val lastInBucket = b
      .withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__bkt"), col("__bp"), lit(0).as("__cside"))
    val probeBuckets = p.select(col(keyCol), col("__bkt")).distinct()
      .withColumn("__bp", lit(null).cast(pTyped))
      .withColumn("__cside", lit(-1))
    val w2 = Window.partitionBy(keyCol)
      .orderBy(col("__bkt"), col("__cside"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = lastInBucket.unionByName(probeBuckets)
      .withColumn("__carry", last(col("__bp"), ignoreNulls = true).over(w2))
      .filter(col("__cside") === -1)
      .select(col(keyCol).as("__ck"), col("__bkt").as("__cb"), col("__carry"))
    within
      .join(carry,
        col(keyCol) <=> col("__ck") && col("__bkt") <=> col("__cb"), "left")
      .withColumn(s"asof_$payload",
        coalesce(col("__within"), col("__carry")).getField("v"))
      .drop("__side", "__bp", "__bkt", "__within", "__ck", "__cb", "__carry")
  }

  /** The as-of queries' probe and build frames: events as (k, t,
    * event_id) and orders as (k, t, o_orderkey), user_id and o_custkey
    * folded into a shared 150-key domain, event time in whole seconds,
    * and one order per (k, t), the one with the largest o_orderkey. */
  def asofFrames(events: DataFrame, orders: DataFrame)
      : (DataFrame, DataFrame) = {
    val ev = events.select((col("user_id") % 150).as("k"),
      toSecond(col("ts")).as("t"), col("event_id"))
    val ord = orders
      .select((col("o_custkey") % 150).as("k"), col("o_orderdate").as("t"),
        col("o_orderkey"))
      .groupBy("k", "t").agg(max("o_orderkey").as("o_orderkey"))
    (ev, ord)
  }

  /** Driver query: each event joined to the latest order of its key
    * (user_id and o_custkey folded into a shared 150-key domain) with
    * order date ≤ event time. */
  def asofQuery(s: SparkSession, d: String): DataFrame = {
    val (ev, ord) = asofFrames(Tables.events(s, d), Tables.orders(s, d))
    asofLeft(ev, ord, "o_orderkey")
      .select(col("event_id"), col("k"), col("t").cast("string").as("t_s"),
        col("asof_o_orderkey"))
      .orderBy("event_id")
  }

  /** j6b — the same as-of semantics through the skew-safe bucketed
    * path (epoch-day buckets), against the same native-ASOF oracle:
    * the equivalence of the two implementations is an oracle-gated
    * fact, not a claim. */
  def asofBucketedQuery(s: SparkSession, d: String): DataFrame = {
    val (ev, ord) = asofFrames(Tables.events(s, d), Tables.orders(s, d))
    asofLeftBucketed(ev, ord, "o_orderkey")(
      t => floor(unix_timestamp(t) / 86400L).cast("long"))
      .select(col("event_id"), col("k"), col("t").cast("string").as("t_s"),
        col("asof_o_orderkey"))
      .orderBy("event_id")
  }

  val asofOracle: String =
    """WITH ev AS (
      |  SELECT user_id % 150 AS k, date_trunc('second', ts) AS t, event_id
      |  FROM events),
      |ord AS (
      |  SELECT o_custkey % 150 AS k, o_orderdate AS t,
      |         max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.k, CAST(e.t AS VARCHAR) AS t_s,
      |       o.o_orderkey AS asof_o_orderkey
      |FROM ev e ASOF LEFT JOIN ord o ON e.k = o.k AND e.t >= o.t
      |ORDER BY e.event_id""".stripMargin

  /** Staleness SLA for [[asofToleranceQuery]], in seconds (30 days) —
    * the feature-store freshness contract. */
  val AsofToleranceSec = 30L * 86400L

  /** j13 — as-of join WITH a staleness tolerance: the feature-store
    * semantics on top of j6 — a probe may only consume a build value
    * whose age is within the SLA; an older match is reported but
    * VOIDED (payload nulled, fresh = 0), distinguishing "no feature
    * ever existed" (staleness NULL) from "the feature exists but is
    * too stale to serve" (the case plain as-of silently hides, and
    * the one that poisons training when an upstream feed stalls).
    * Implementation: the [[asofLeft]] union-window carry unchanged,
    * with the build payload widened to a (value, build-time) struct
    * so staleness is a row-local integer subtraction after the carry
    * — no second join, no extra shuffle over j6's single exchange.
    * The exact-second arithmetic and the SLA compare are integers;
    * oracle replays via native ASOF JOIN + the same CASE. */
  def asofToleranceQuery(s: SparkSession, d: String): DataFrame = {
    val (ev, ord) = asofFrames(Tables.events(s, d), Tables.orders(s, d))
    asofToleranceOf(ev, ord).orderBy("event_id")
  }

  /** [[asofToleranceQuery]]'s core over explicit (k, t, event_id)
    * probe and (k, t, o_orderkey) build frames. */
  def asofToleranceOf(ev: DataFrame, ord: DataFrame,
      toleranceSec: Long = AsofToleranceSec): DataFrame = {
    val build = ord
      .withColumn("pay", struct(col("o_orderkey").as("v0"), col("t").as("bt")))
      .drop("o_orderkey")
    asofLeft(ev, build, "pay")
      .withColumn("staleness_sec",
        unix_timestamp(col("t")) - unix_timestamp(col("asof_pay.bt")))
      .withColumn("fresh",
        when(col("staleness_sec").isNotNull,
          when(col("staleness_sec") <= toleranceSec, 1L).otherwise(0L)))
      .select(col("event_id"), col("k"), col("t").cast("string").as("t_s"),
        when(col("fresh") === 1L, col("asof_pay.v0")).as("o_orderkey"),
        col("staleness_sec"), col("fresh"))
  }

  val asofToleranceOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id % 150 AS k, date_trunc('second', ts) AS t, event_id
       |  FROM events),
       |ord AS (
       |  SELECT o_custkey % 150 AS k, o_orderdate AS t,
       |         max(o_orderkey) AS o_orderkey
       |  FROM orders GROUP BY 1, 2),
       |j AS (
       |  SELECT e.event_id, e.k, e.t, o.o_orderkey, o.t AS bt
       |  FROM ev e ASOF LEFT JOIN ord o ON e.k = o.k AND e.t >= o.t)
       |SELECT event_id, k, CAST(t AS VARCHAR) AS t_s,
       |  CASE WHEN bt IS NOT NULL
       |        AND CAST(epoch(t) AS BIGINT) - CAST(epoch(bt) AS BIGINT)
       |            <= $AsofToleranceSec
       |       THEN o_orderkey END AS o_orderkey,
       |  CASE WHEN bt IS NOT NULL
       |       THEN CAST(epoch(t) AS BIGINT) - CAST(epoch(bt) AS BIGINT)
       |       END AS staleness_sec,
       |  CASE WHEN bt IS NOT NULL THEN
       |    CASE WHEN CAST(epoch(t) AS BIGINT) - CAST(epoch(bt) AS BIGINT)
       |              <= $AsofToleranceSec
       |         THEN 1 ELSE 0 END END AS fresh
       |FROM j ORDER BY event_id""".stripMargin

  /** j11 — nearest-in-time join (as-of's two-sided sibling: each probe
    * picks the build row with the MINIMUM absolute time distance, either
    * direction). The naive form is a per-probe scan of the key's build
    * rows; the scalable shape extends the union trick BIDIRECTIONALLY:
    * one shuffle on the key, one sort, and BOTH candidates come from the
    * same ordered pass — previous build row via last(ignoreNulls) over
    * the preceding frame, next via first(ignoreNulls) over the following
    * frame (two frames over one window ordering = one exchange + one
    * sort, the same sharing PlanSpec pins for w2). The winner is a pure
    * row-local comparison.
    *
    * Driver query: each purchase event matched to the nearest same-user
    * click. Tie rules, mirrored in the oracle's (distance, build time,
    * build id) rank: equal distance resolves to the EARLIER click; build
    * rows are pre-deduped to one per (user, second) keeping the min
    * event_id, so the carry is unique and same-second matches (distance
    * 0 — the deduped click sorts before the purchase at equal time) are
    * well-defined. Purchases whose user has no click drop (inner
    * semantics). */
  def nearestEventQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("ts_sec", toSecond(col("ts")))
      .withColumn("es", unix_timestamp(col("ts_sec")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("es"))
      .agg(min(col("event_id")).as("click_id"))
      .select(col("user_id"), col("es"), lit(0).as("__side"),
        lit(null).cast("long").as("purchase_id"),
        lit(null).cast("timestamp").as("ts_sec"),
        struct(col("es").as("ces"), col("click_id").as("cid")).as("__c"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("es"), lit(1).as("__side"),
        col("event_id").as("purchase_id"), col("ts_sec"),
        lit(null).cast("struct<ces:bigint,cid:bigint>").as("__c"))
    val w = Window.partitionBy("user_id").orderBy(col("es"), col("__side"))
    val prev = last(col("__c"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val next = first(col("__c"), ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    clicks.unionByName(purchases)
      .withColumn("__prev", prev)
      .withColumn("__next", next)
      .filter(col("__side") === 1)
      .withColumn("dp", col("es") - col("__prev.ces"))
      .withColumn("dn", col("__next.ces") - col("es"))
      .withColumn("__usePrev", col("__next").isNull ||
        (col("__prev").isNotNull && col("dp") <= col("dn")))
      .filter(col("__prev").isNotNull || col("__next").isNotNull)
      .select(col("user_id"), col("purchase_id"),
        col("ts_sec").cast("string").as("purchase_ts"),
        when(col("__usePrev"), col("__prev.cid"))
          .otherwise(col("__next.cid")).as("click_id"),
        when(col("__usePrev"), col("dp")).otherwise(col("dn")).as("dsec"))
      .orderBy("purchase_id")
  }

  val nearestEventOracle: String =
    """WITH c AS (
      |  SELECT user_id, epoch(date_trunc('second', ts)) AS ces,
      |         min(event_id) AS click_id
      |  FROM events
      |  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |         date_trunc('second', ts) AS pts,
      |         epoch(date_trunc('second', ts)) AS pes
      |  FROM events
      |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL),
      |j AS (
      |  SELECT p.user_id, p.purchase_id, p.pts, c.click_id,
      |         abs(p.pes - c.ces) AS dsec,
      |         row_number() OVER (PARTITION BY p.purchase_id
      |           ORDER BY abs(p.pes - c.ces), c.ces, c.click_id) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id)
      |SELECT user_id, purchase_id, CAST(pts AS VARCHAR) AS purchase_ts,
      |       click_id, CAST(dsec AS BIGINT) AS dsec
      |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin
}
