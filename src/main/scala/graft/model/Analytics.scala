package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions._

/** The reference's nine dbt analytics models (SURVEY.md §2.4-§2.7),
  * re-expressed over the driver test tables. Each is a single-pass hash
  * aggregation (map-side partial + final), a broadcast-dim join, or a
  * window — the shapes Catalyst compiles into whole-stage-codegen'd
  * HashAggregate / BroadcastHashJoin plans that hold up at cluster scale:
  * the only shuffles are on the (low-cardinality) grouping keys, and all
  * dimension joins are explicit `broadcast()`.
  */
object Analytics {

  /** Fact-like frame: orders enriched with nation/region via broadcast
    * joins (the earthquake fact's country/region lookup, J3). Join order:
    * orders ⋈ customer shuffles once on custkey is avoided — customer is
    * small relative to orders at every SF, so it is broadcast too. */
  def ordersWithGeo(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, d).select("r_regionkey", "r_name")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
  }

  /** J3 — equi left join against broadcast dims (the region lookup,
    * reference add_region.py:56). */
  def customerGeo(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, d).select("r_regionkey", "r_name")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        col("n_name").as("nation"), col("r_name").as("region_name"))
      .orderBy("c_custkey")
  }

  /** A2 — count + averages by (country, region, decade)
    * (reference country_earthquake_stats_per_decade.sql:8-17). */
  def statsByNationRegionDecade(s: SparkSession, d: String): DataFrame =
    ordersWithGeo(s, d)
      .groupBy(
        col("n_name").as("nation"),
        col("r_name").as("region_name"),
        getDecade(col("o_orderdate")).as("decade"))
      .agg(
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .withColumn(
        "avg_price",
        col("sum_price_cents") / col("frequency") / 100.0)
      .orderBy(desc("frequency"), col("nation"), col("region_name"), col("decade"))

  /** A3 — yearly stats (reference yearly_earthquake_stats.sql:8-16). */
  def yearlyStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("event_year"))
      .agg(
        count(lit(1)).as("event_frequency"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .withColumn(
        "avg_price",
        col("sum_price_cents") / col("event_frequency") / 100.0)
      .orderBy("event_year")

  /** Beyond-reference extension (SURVEY §2.5): the year-over-year delta
    * the reference's yearly model *comments about* but leaves to the BI
    * layer — lag() over the yearly aggregate. One extra window over an
    * already-tiny aggregate: free at any scale. */
  def yearlyStatsWithDelta(s: SparkSession, d: String): DataFrame = {
    // GLOBAL window (no partitionBy) — single-task BY DESIGN: the input
    // is the years-count-sized aggregate of yearlyStats, never raw
    // rows. Don't reuse this shape on an unaggregated frame; partition
    // the window or pre-aggregate first.
    val w = Window.orderBy("event_year")
    yearlyStats(s, d)
      .withColumn("prev_frequency", lag(col("event_frequency"), 1).over(w))
      .withColumn("frequency_delta",
        col("event_frequency") - coalesce(col("prev_frequency"), lit(0L)))
      .orderBy("event_year")
  }

  /** A4 — per-decade frequency + average ("deadliest decade",
    * reference deadliest_decade.sql:8-15). */
  def decadeStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(getDecade(col("o_orderdate")).as("event_decade"))
      .agg(
        count(lit(1)).as("event_frequency"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .withColumn(
        "avg_price",
        col("sum_price_cents") / col("event_frequency") / 100.0)
      .orderBy("event_decade")

  /** A5 — max per country (reference
    * top_countries_strongest_earthquake.sql:8-14). max() of a double is
    * order-independent, hence oracle-exact without integerization. */
  def maxByNation(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .groupBy(col("n_name").as("nation"))
      .agg(
        max(col("c_acctbal")).as("max_acctbal"),
        count(lit(1)).as("n_customers"))
      .orderBy(desc("max_acctbal"), col("nation"))
  }

  /** A6 — count by (country, severity bucket)
    * (reference country_severe_earthquake_stats.sql:8-25), including the
    * O2 custom CASE sort key. */
  def severityByNation(s: SparkSession, d: String): DataFrame = {
    val sev = severity(col("o_totalprice"), priceSeverityThresholds)
    val sevRank = when(col("severity") === "Great", 1)
      .when(col("severity") === "Major", 2)
      .when(col("severity") === "Strong", 3)
      .when(col("severity") === "Moderate", 4)
      .when(col("severity") === "Light", 5)
      .otherwise(6)
    ordersWithGeo(s, d)
      .withColumn("severity", sev)
      .groupBy(col("n_name").as("nation"), col("severity"))
      .agg(count(lit(1)).as("frequency"))
      .orderBy(col("nation"), sevRank)
  }

  /** A7 — count + avg by type (reference event_type_stats.sql:8-15). */
  def typeStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("frequency"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .withColumn("avg_value", col("sum_value_cents") / col("frequency") / 100.0)
      .orderBy(desc("frequency"), col("event_type"))

  /** A8 — conditional aggregate + percentage ratio
    * (reference tsunami_flags.sql:9-18): int/int division is double in
    * both engines, computed over identical integers → oracle-exact. */
  def conditionalRatio(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus").as("linestatus"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
        count(lit(1)).as("n_total"))
      .withColumn(
        "pct_returned",
        col("n_returned") / col("n_total") * 100)
      .orderBy(desc("pct_returned"), col("linestatus"))

  /** Beyond-reference: ROLLUP over (priority, year) — subtotal and
    * grand-total rows in one pass (the reference computes each rollup
    * level as a separate dbt model; grouping sets collapse that into a
    * single shuffle). */
  def rollupStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).as("event_year"))
      .agg(
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .orderBy(col("priority").asc_nulls_first,
        col("event_year").asc_nulls_first)

  /** Beyond-reference: CUBE over (priority, year) — all four grouping
    * sets (detail, per-priority, per-year, grand total) in ONE shuffle,
    * where separate GROUP BYs would scan + shuffle four times. Same
    * expansion Catalyst uses for rollup; grouping columns are non-null
    * in the data so the NULL cells are unambiguous subtotal markers. */
  def cubeStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).as("event_year"))
      .agg(
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"))
      .orderBy(col("priority").asc_nulls_first,
        col("event_year").asc_nulls_first)

  /** Beyond-reference: ntile quartile binning per priority — the
    * train-data stratification shape (assign each row a quantile bucket
    * within its stratum, then summarize buckets). The window orders by
    * (cents, orderkey): a TOTAL order, so bucket assignment is
    * deterministic and oracle-exact — ntile over ties would not be.
    * One shuffle on the stratum key; the bucket aggregate reuses it. */
  def ntileQuartiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("priority")
      .orderBy(col("totalprice_cents"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("totalprice_cents"),
        col("o_orderkey"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("priority", "quartile")
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("totalprice_cents")).as("min_cents"),
        max(col("totalprice_cents")).as("max_cents"))
      .orderBy("priority", "quartile")
  }

  /** Beyond-reference: per-user ordered event-sequence assembly — the
    * "build training sequences from an event log" shape: one hash
    * aggregation gathers each user's events, `sort_array` over
    * (ts, event_id) structs imposes the total event-time order INSIDE
    * the aggregation result (collect_list alone is
    * partition-order-dependent — never hash a bare collect_list), and
    * the sequence surfaces as an md5 digest + length so the output
    * stays narrow however long the sequences grow. One shuffle on
    * user_id; a hot user costs its own sequence length, nothing
    * quadratic. */
  def eventSequences(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"),
        toSecond(col("ts")).as("ts_sec"), col("event_id"))
      .groupBy("user_id")
      .agg(collect_list(struct(col("ts_sec"), col("event_id"))).as("evs"))
      .select(
        col("user_id"),
        size(col("evs")).cast("long").as("n_events"),
        md5(array_join(
          transform(sort_array(col("evs")), e => e.getField("event_id").cast("string")),
          ",")).as("seq_md5"))
      .orderBy("user_id")

  val eventSequencesOracle: String =
    """SELECT user_id, count(*) AS n_events,
      |       md5(string_agg(CAST(event_id AS VARCHAR), ','
      |           ORDER BY date_trunc('second', ts), event_id)) AS seq_md5
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Beyond-reference: exact interpolated percentiles (Spark
    * `percentile` ≡ DuckDB `quantile_cont` — same linear interpolation
    * over the sorted values, so identical doubles). For 100 TB use
    * `percentile_approx`; the exact form is the oracle-checkable
    * baseline. */
  def percentileStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("frequency"))
      .orderBy("priority")

  /** a16 — rank-fraction windows (beyond reference): percent_rank +
    * cume_dist + a lag delta over ONE window with a TOTAL order
    * (cents, orderkey) — rank positions are deterministic, so the
    * fractions are single double divisions of identical integers in
    * both engines. The lag delta coalesces to 0 on each partition's
    * first row (a null would land in a float column after the
    * compare's pandas conversion). One shuffle on the stratum key
    * serves all three window functions. */
  def windowRankStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("priority")
      .orderBy(col("totalprice_cents"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("totalprice_cents"),
        col("o_orderkey"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("prev_delta",
        col("totalprice_cents") -
          coalesce(lag("totalprice_cents", 1).over(w),
            col("totalprice_cents")))
      .orderBy("priority", "totalprice_cents", "o_orderkey")
  }

  /** a17 — explicit GROUPING SETS (the general form behind a10's ROLLUP
    * and a14's CUBE): per-status, per-(status, priority), and grand
    * total in ONE Expand + one shuffle. The set id derives from the
    * rolled-up columns' null-ness (base columns are non-null here),
    * which sidesteps engine-specific grouping_id() bit orders. */
  def groupingSetsStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("price_cents"))
      .groupingSets(
        Seq(Seq(col("status")), Seq(col("status"), col("priority")), Seq()),
        col("status"), col("priority"))
      .agg(count(lit(1)).as("frequency"),
        sum(col("price_cents")).as("sum_price_cents"))
      .withColumn("set_id",
        when(col("status").isNull && col("priority").isNull, 3L)
          .when(col("priority").isNull, 1L).otherwise(0L))
      .orderBy(col("set_id"), col("status").asc_nulls_first,
        col("priority").asc_nulls_first)

  /** O1 — custom CASE sort key + mixed-direction multi-key sort
    * (reference alert_level_frequency_stats.sql:16-25). The tail key
    * o_orderkey makes the order total, so the oracle compare is stable. */
  def customKeySort(s: SparkSession, d: String): DataFrame = {
    val prioRank = when(col("o_orderpriority") === "1-URGENT", 1)
      .when(col("o_orderpriority") === "2-HIGH", 2)
      .when(col("o_orderpriority") === "3-MEDIUM", 3)
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4)
      .otherwise(5)
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 450000)
      .select(
        col("o_orderkey"),
        col("o_orderpriority").as("priority"),
        prioRank.as("priority_rank"),
        col("o_totalprice").as("totalprice"))
      .orderBy(col("priority_rank"), desc("totalprice"), col("o_orderkey"))
  }

  /** O3 — "top" filter + sort desc, faithfully LIMIT-less
    * (reference top_100_earthquake.sql:6-21). */
  def topSortDesc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") > 50)
      .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
      .orderBy(desc("value"), col("event_id"))

  /** W1 — dedup via row_number window (reference stg_earthquake.sql:25-29).
    * Tiebreak on the unique event_id makes the survivor deterministic for
    * the oracle; the reference's ORDER BY-a-partition-key arbitrariness is
    * covered in the unit spec instead. */
  def windowDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
  }

  /** Beyond-reference: PIVOT/crosstab — user-decile × event-type count
    * matrix. Explicit pivot values keep the plan single-pass (no extra
    * distinct-values job) and the output schema static, which is what a
    * production pivot at scale needs anyway. */
  def pivotCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("user_decile", (col("user_id") % 10).cast("int"))
      .groupBy("user_decile")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_decile")

  /** T4 — tumbling event-time windows as a batch aggregation (the
    * reference's month-window assignment, generalized): `window()` buckets
    * each event into its day, exactly what the streaming facade does with
    * a watermark. Start/end emitted as strings for oracle parity. */
  def tumblingWindows(s: SparkSession, d: String): DataFrame =
    windowStats(Tables.events(s, d), window(col("ts"), "1 day"))

  /** t5 — HOPPING (sliding) windows: 1-day windows advancing every 6
    * hours, so each event lands in size/slide = 4 overlapping windows.
    * Spark's `window(ts, size, slide)` expands each row to its window
    * instances BEFORE the aggregation — map-side, no join against a
    * window dimension — then the count/sum aggregate shuffles once on
    * (window, type) with partial combine, identical to t4's plan at 4×
    * the pre-aggregation row count (the inherent hopping-window cost).
    * Epoch-aligned starts in the pinned UTC session zone; the oracle
    * regenerates each event's window set from the same integer
    * arithmetic (floor-division bounds on epoch seconds). The same
    * expression runs unchanged under readStream + watermark — t4's
    * streaming twin covers the machinery (StreamingSpec). */
  def hoppingWindows(s: SparkSession, d: String): DataFrame =
    windowStats(Tables.events(s, d).filter(col("ts").isNotNull),
      window(col("ts"), "1 day", "6 hours"))

  /** t4/t5's shared tail: per (window, type) event count and exact
    * cents sum, window bounds as strings for oracle parity. */
  private def windowStats(events: DataFrame, win: Column): DataFrame =
    events
      .groupBy(win.as("win"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .select(
        col("win.start").cast("string").as("win_start"),
        col("win.end").cast("string").as("win_end"),
        col("event_type"), col("n"), col("sum_value_cents"))
      .orderBy("win_start", "event_type")

  val hoppingWindowsOracle: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch(date_trunc('second', ts)) AS es,
      |         epoch(ts) AS esf
      |  FROM events WHERE ts IS NOT NULL),
      |wins AS (
      |  SELECT event_type, value, k * 21600 AS ws
      |  FROM e, unnest(generate_series(
      |    CAST(floor((esf - 86400) / 21600) + 1 AS BIGINT),
      |    CAST(floor(esf / 21600) AS BIGINT))) AS t(k))
      |SELECT CAST(make_timestamp(ws * 1000000) AS VARCHAR) AS win_start,
      |       CAST(make_timestamp((ws + 86400) * 1000000) AS VARCHAR) AS win_end,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_value_cents
      |FROM wins GROUP BY ws, event_type
      |ORDER BY win_start, event_type""".stripMargin

  /** Beyond-reference: gap-based sessionization — the canonical event-
    * pipeline windowing the reference never needed. Two layered windows
    * over one shuffle on user_id: lag() flags gaps > 30 min, a running
    * sum of flags numbers the sessions, then a per-session rollup.
    * Batch analogue of Structured Streaming's session windows. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    numberSessions(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_sec")).cast("string").as("session_start"),
        max(col("ts_sec")).cast("string").as("session_end"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy("user_id", "session_no")

  /** The idle gap, in seconds, after which a user's next event opens a
    * new session (w2, w16). */
  val SessionGapSec = 1800

  /** Numbers each user's sessions: adds `ts_sec` (the event's
    * [[toSecond]]) and `session_no`, a running count over the user's
    * events, in (ts_sec, event_id) order, of those that follow no event
    * or a gap over [[SessionGapSec]]. Two layered windows (lag, running
    * sum) over one user_id shuffle. */
  private def numberSessions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    events
      .withColumn("ts_sec", toSecond(col("ts")))
      .withColumn("prev_ts", lag(col("ts_sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_sec").cast("long") - col("prev_ts").cast("long") >
            SessionGapSec, 1)
          .otherwise(0))
      .withColumn("session_no",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Beyond-reference: retention cohort analysis (w3) — users bucketed
    * by first-seen week, activity counted per (cohort, week): the
    * standard product/training-corpus freshness rollup. Scale shape:
    * one shuffle keyed on user_id derives the per-user cohort, a
    * user-keyed join attaches it (both sides already hash-partitioned
    * on user_id — AQE plans the shuffle-hash join), and a second
    * aggregation on (cohort, week) rolls up; the (cohort × week)
    * output is tiny regardless of event count. Week starts (Monday,
    * same in both engines) emit as DATE strings, distinct-user counts
    * as BIGINT, for oracle parity. */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
    val cohorts = ev.groupBy("user_id").agg(min(col("w")).as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy("cohort_week", "w")
      .agg(countDistinct(col("user_id")).as("active_users"))
      .select(
        col("cohort_week").cast("string").as("cohort_week"),
        col("w").cast("string").as("activity_week"),
        // both dates are Monday-aligned: the day diff is an exact
        // multiple of 7 in both engines
        (datediff(col("w"), col("cohort_week")) / 7).cast("long")
          .as("weeks_since"),
        col("active_users"))
      .orderBy("cohort_week", "activity_week")
  }

  /** Beyond-reference: trailing 7-day moving average of daily event
    * volume (w4) — the sliding window FRAME class (rowsBetween), which
    * the other window operators (lag, row_number, running sum) don't
    * exercise. Sum and count ride the same frame; the average is ONE
    * double division of exact integers (oracle-parity rule). The
    * window is global-but-tiny by design: it runs over the
    * days-count-sized daily aggregate, never raw events. */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("sum_7d", sum(col("n")).over(w))
      .withColumn("n_days_7d", count(lit(1)).over(w))
      .withColumn("avg_7d", col("sum_7d") / col("n_days_7d"))
      .select(col("day").cast("string").as("day"), col("n"),
        col("sum_7d"), col("n_days_7d"), col("avg_7d"))
      .orderBy("day")
  }

  /** A1/T2 — high-watermark incremental filter
    * (reference stg_earthquake.sql:9-16): keep rows newer than the max
    * timestamp of the already-loaded subset. Second-truncated on both
    * sides for ns/µs parity with the oracle. */
  def watermarkIncremental(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ts_sec", toSecond(col("ts")))
    val wm = ev.filter(col("event_type") === "signup")
      .agg(max(col("ts_sec")).as("wm"))
    ev.join(broadcast(wm), ev("ts_sec") > wm("wm"), "inner")
      .select(col("event_id"), col("event_type"), col("ts_sec").cast("string").as("ts_s"))
      .orderBy("event_id")
  }

  /** a18 — robust outlier detection per event type: median/MAD on
    * integer cents, flagging |x − med| > 3·MAD. Median and MAD are the
    * robust location/scale pair (a mean/σ z-score is itself dragged by
    * the outliers it is meant to find); on integer cents every
    * intermediate is exact — the 0.5-quantile of integers is an
    * integer or an exact .5 half, |x − med| is one exactly-rounded
    * subtraction, and 3·MAD one exactly-rounded multiply — so the
    * flag comparisons are engine-independent.
    *
    * Shape: the (type, cents) projection materializes once; the two
    * quantile passes MAD inherently needs are per-group sort-based
    * aggregates on the 5-value group key (the a11 scale posture), and
    * the 5-row median/MAD tables ride broadcast joins back onto the
    * stream. */
  def robustOutliers(s: SparkSession, d: String): DataFrame =
    robustOutliersOf(Tables.events(s, d))

  /** [[robustOutliers]] over an explicit (event_type, value) frame. */
  def robustOutliersOf(events: DataFrame): DataFrame = {
    val ev = graft.ops.Materialize(
      events.where(col("event_type").isNotNull)
        .select(col("event_type"), cents(col("value")).as("c")),
      "a18_cents")
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("c") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  def robustOutliersOracle(): String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL),
      |med AS (SELECT event_type, quantile_cont(c, 0.5) AS med
      |        FROM ev GROUP BY event_type),
      |dev AS (SELECT ev.event_type, ev.c, med.med,
      |               abs(ev.c - med.med) AS adev
      |        FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |        FROM dev GROUP BY event_type)
      |SELECT dev.event_type, count(*) AS n,
      |  max(dev.med) AS med_cents, max(mad.mad) AS mad_cents,
      |  CAST(sum(CASE WHEN dev.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin

  /** The w6 funnel's ordered step sequence: event_type per stage,
    * 1-indexed. */
  val FunnelSteps: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** w6 — ordered-step funnel (the windowFunnel of event analytics):
    * a user reaches stage k+1 at the earliest step-(k+1) event at or
    * after the time they reached stage k (second-truncated, like every
    * events query). Emits one row per step: users reaching it and the
    * percentage of step-1 users.
    *
    * ONE shuffle: events filter to the four step types, groupBy user,
    * and the per-user depth is a sorted-list fold — `sort_array` over
    * (ts, stage) structs then `aggregate(…, acc+1 iff stage = acc+1)`,
    * all codegen HOFs, no window, no self-join. Greedy-earliest is
    * optimal for funnel reachability (advancing at the first eligible
    * event never forecloses a later advance), so the fold's depth
    * equals the chained-min definition the oracle replays; within a
    * tied second the struct sort puts lower stages first, which is
    * exactly the >= chain's tie rule. Per-user state is bounded by the
    * user's step-typed event count (a hot key is one oversized sort
    * task, not a plan change); the step/histogram tables that follow
    * are O(steps) rows. */
  def funnelSteps(s: SparkSession, d: String): DataFrame =
    funnelOf(Tables.events(s, d))

  /** [[funnelSteps]] over an explicit (user_id, event_type, ts) frame —
    * directly spec-testable with crafted tie/skip/out-of-order cases. */
  def funnelOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    val idx = FunnelSteps.zipWithIndex
      .foldLeft(lit(null).cast("int")) { case (acc, (t, i)) =>
        when(col("event_type") === t, lit(i + 1)).otherwise(acc)
      }
    val depths = events
      .select(col("user_id"), idx.as("idx"),
        toSecond(col("ts")).as("t"))
      .where(col("idx").isNotNull)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("t"), col("idx")))).as("evs"))
      .select(aggregate(col("evs"), lit(0),
        (acc, x) => when(x.getField("idx") === acc + 1, acc + 1)
          .otherwise(acc)).as("depth"))
    val hist = depths.groupBy("depth").agg(count(lit(1)).as("n"))
    val steps = s.createDataFrame(
      FunnelSteps.zipWithIndex.map { case (t, i) => (i + 1, t) })
      .toDF("step", "event_type")
    // materialized: base below re-reads these 4 rows — without this the
    // whole depths pipeline (and the events scan) would compute twice
    val counts = graft.ops.Materialize(
      steps
        .join(hist, col("depth") >= col("step"), "left")
        .groupBy("step", "event_type")
        .agg(coalesce(sum(col("n")), lit(0L)).as("users")),
      "w6_counts")
    val base = counts.where(col("step") === 1)
      .select(col("users").as("base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("users"),
        when(col("base") > 0, lit(100.0) * col("users") / col("base"))
          .otherwise(lit(0.0)).as("pct_of_first"))
      .orderBy("step")
  }

  /** DuckDB replay of w6: the textbook chained-min CTE ladder — stage
    * k+1's per-user time is min(ts >= stage k's time) — then step
    * counts and the same single division. */
  def funnelOracle(): String = {
    val ladder = FunnelSteps.zipWithIndex.drop(1).map { case (t, i) =>
      s"""s${i + 1} AS (
         |  SELECT ev.user_id, min(ev.t) AS t
         |  FROM ev JOIN s$i ON ev.user_id = s$i.user_id AND ev.t >= s$i.t
         |  WHERE ev.event_type = '$t' GROUP BY ev.user_id)""".stripMargin
    }.mkString(",\n")
    val unions = FunnelSteps.zipWithIndex.map { case (t, i) =>
      s"SELECT ${i + 1} AS step, '$t' AS event_type, (SELECT count(*) FROM s${i + 1}) AS users"
    }.mkString("\n  UNION ALL ")
    s"""WITH ev AS (
       |  SELECT user_id, event_type, date_trunc('second', ts) AS t
       |  FROM events),
       |s1 AS (SELECT user_id, min(t) AS t FROM ev
       |       WHERE event_type = '${FunnelSteps.head}' GROUP BY user_id),
       |$ladder,
       |c AS (
       |  $unions),
       |b AS (SELECT users AS base FROM c WHERE step = 1)
       |SELECT c.step, c.event_type, CAST(c.users AS BIGINT) AS users,
       |  CASE WHEN b.base > 0 THEN 100.0 * c.users / b.base
       |       ELSE 0.0 END AS pct_of_first
       |FROM c, b ORDER BY c.step""".stripMargin
  }

  /** Beyond-reference: exact top-k per group via the custom
    * [[graft.expressions.TopKPairs]] TypedImperativeAggregate — each
    * partial buffer carries at most k pairs through the shuffle (an
    * aggregation), where the window formulation (the oracle) sorts the
    * whole input. Deterministic (cents DESC, orderkey ASC) ranking. */
  def topKPerPriority(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(graft.expressions.TopKPairs.topK(
        cents(col("o_totalprice")), col("o_orderkey"), 5).as("top"))
    agg.select(col("priority"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("priority"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("o_orderkey"), col("t.v").as("totalprice_cents"))
      .orderBy("priority", "rank")
  }

  /** a19 — per-type least-squares trend of event value over year, from
    * EXACT integer moment sums: with x = year−2000 and y = value cents,
    * the per-group (n, Σx, Σy, Σxy, Σx², Σy²) are exact 64-bit
    * integers accumulated by one hash aggregate (map-side partials —
    * the only shuffle is on event_type), and slope/intercept/r² are
    * derived by identical IEEE expression trees in both engines:
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one long/long division;
    * r²'s y-variance term nΣy² − (Σy)² would overflow 64 bits
    * (Σy² ≈ n·10¹⁰), so it — and only it — is computed in double
    * (exact while Σy² < 2⁵³; the moment columns in the output keep the
    * full-precision integers regardless). Groups with a single year
    * (zero x-variance) emit NULL slope/intercept/r². This is the
    * distributed-regression shape: sufficient statistics commute with
    * partitioning, so the same code runs unchanged on 1000 executors. */
  def trendRegression(s: SparkSession, d: String): DataFrame =
    trendRegressionOf(Tables.events(s, d))

  /** [[trendRegression]] over an explicit events frame. */
  def trendRegressionOf(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .select(col("event_type"),
        (year(col("ts")) - 2000).cast("long").as("x"),
        cents(col("value")).as("y"))
    val agg = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val numX = col("n") * col("sxy") - col("sx") * col("sy")
    val denX = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = when(denX =!= 0L, numX / denX)
    val intercept = when(denX =!= 0L,
      (col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double"))
    val denY = col("n").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val r2 = when(denX =!= 0L && denY > 0.0,
      (numX.cast("double") * numX.cast("double"))
        / (denX.cast("double") * denY))
    agg.select(col("event_type"), col("n"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy"),
        slope.as("slope"), intercept.as("intercept"), r2.as("r2"))
      .orderBy("event_type")
  }

  val trendRegressionOracle: String =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(year(ts) - 2000 AS BIGINT) AS x,
      |         CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL),
      |agg AS (
      |  SELECT event_type, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM ev GROUP BY event_type)
      |SELECT event_type, n, sx, sy, sxy, sxx, syy,
      |  CASE WHEN n * sxx - sx * sx <> 0
      |       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
      |  CASE WHEN n * sxx - sx * sx <> 0
      |       THEN (CAST(sy AS DOUBLE)
      |             - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
      |               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END
      |    AS intercept,
      |  CASE WHEN n * sxx - sx * sx <> 0
      |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |       THEN (CAST(n * sxy - sx * sy AS DOUBLE)
      |             * CAST(n * sxy - sx * sy AS DOUBLE))
      |            / (CAST(n * sxx - sx * sx AS DOUBLE)
      |               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END
      |    AS r2
      |FROM agg ORDER BY event_type""".stripMargin

  /** w7 — user-journey transition matrix: counts and row-normalized
    * probabilities of consecutive (event_type → next event_type) steps
    * per user. One user-keyed window (the w2 sessionize shuffle shape)
    * computes the successor; the matrix aggregate then shuffles only
    * (from, to) pairs — O(types²) rows — and the row totals for the
    * probabilities ride a second window over that TINY matrix, not the
    * event stream. Ordering inside a user is (second-truncated ts,
    * event_id), the a15 determinism rule, so ties can't flip
    * transitions between engines. */
  def markovTransitions(s: SparkSession, d: String): DataFrame =
    markovTransitionsOf(Tables.events(s, d))

  /** [[markovTransitions]] over an explicit events frame. */
  def markovTransitionsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_sec"), col("event_id"))
    val steps = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        toSecond(col("ts")).as("ts_sec"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val matrix = steps
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowW = Window.partitionBy("from_type")
    matrix
      .withColumn("prob", col("n") / sum(col("n")).over(rowW))
      .orderBy("from_type", "to_type")
  }

  /** w8 — conversion latency histogram: per user, the delay from first
    * signup to first purchase, bucketed into whole hours — the funnel
    * TIMING readout w6's depth counts don't carry. One user-keyed
    * conditional-min aggregate (map-side partials; the same single
    * shuffle class as w6), then an O(buckets) rollup. Deltas are exact
    * integer seconds on second-truncated timestamps; negative deltas
    * (purchase before any signup) are excluded on both sides. */
  def conversionLatency(s: SparkSession, d: String): DataFrame =
    conversionLatencyOf(Tables.events(s, d))

  /** [[conversionLatency]] over an explicit events frame. */
  def conversionLatencyOf(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("ts").isNotNull &&
        col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(toSecond(col("ts"))).as("sec"))
    val firsts = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", col("sec"))).as("s_sec"),
      min(when(col("event_type") === "purchase", col("sec"))).as("p_sec"))
    firsts
      .filter(col("s_sec").isNotNull && col("p_sec").isNotNull &&
        col("p_sec") >= col("s_sec"))
      .withColumn("delta_s", col("p_sec") - col("s_sec"))
      .withColumn("bucket_h", floor(col("delta_s") / 3600L))
      .groupBy("bucket_h")
      .agg(count(lit(1)).as("n_users"),
        min(col("delta_s")).as("min_delta_s"),
        max(col("delta_s")).as("max_delta_s"))
      .orderBy("bucket_h")
  }

  val conversionLatencyOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IN ('signup', 'purchase')),
      |f AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'signup' THEN sec END) AS s_sec,
      |         min(CASE WHEN event_type = 'purchase' THEN sec END) AS p_sec
      |  FROM ev GROUP BY user_id)
      |SELECT CAST(floor((p_sec - s_sec) / 3600.0) AS BIGINT) AS bucket_h,
      |       count(*) AS n_users,
      |       CAST(min(p_sec - s_sec) AS BIGINT) AS min_delta_s,
      |       CAST(max(p_sec - s_sec) AS BIGINT) AS max_delta_s
      |FROM f
      |WHERE s_sec IS NOT NULL AND p_sec IS NOT NULL AND p_sec >= s_sec
      |GROUP BY bucket_h ORDER BY bucket_h""".stripMargin

  val markovTransitionsOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY date_trunc('second', ts), event_id) AS next_type
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |m AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |         count(*) AS n
      |  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       n / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
      |         AS prob
      |FROM m ORDER BY from_type, to_type""".stripMargin

  /** w9 — first-/last-touch attribution: for every purchase, the
    * earliest and latest NON-purchase event by the same user inside a
    * 7-day lookback window. The scalable shape is one user-keyed RANGE
    * window over epoch seconds — both touches come from min/max of a
    * null-gated (time, id, type) struct over the same frame, so the
    * whole operator is ONE shuffle + one sort shared by both frames
    * and never joins the event stream to itself (the join formulation
    * fans out by touches-per-purchase and re-shuffles; this one is
    * bounded by the window sort regardless of fan-in). Purchases with
    * an empty lookback keep NULL touches (a "direct" conversion —
    * dropping them would bias any attribution report). Struct min/max
    * ignore the null entries purchases contribute, and tie-break on
    * the unique event_id after the timestamp — deterministic, mirrored
    * in the oracle's (es, event_id) rank. */
  def touchAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("ts_sec", toSecond(col("ts")))
      .withColumn("es", unix_timestamp(col("ts_sec")))
    val w = Window.partitionBy("user_id").orderBy(col("es"))
      .rangeBetween(-604800L, -1L)
    val cand = when(col("event_type") =!= "purchase",
      struct(col("es"), col("event_id"), col("event_type")))
    ev
      .withColumn("__first", min(cand).over(w))
      .withColumn("__last", max(cand).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_sec").cast("string").as("purchase_ts"),
        col("__first.event_type").as("first_touch_type"),
        col("__first.event_id").as("first_touch_id"),
        col("__last.event_type").as("last_touch_type"),
        col("__last.event_id").as("last_touch_id"))
      .orderBy("purchase_id")
  }

  val touchAttributionOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         date_trunc('second', ts) AS tss,
      |         epoch(date_trunc('second', ts)) AS es
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |p AS (SELECT user_id, event_id AS purchase_id, tss AS pts, es AS pes
      |      FROM e WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT p.purchase_id, e.event_id, e.event_type,
      |         row_number() OVER (PARTITION BY p.purchase_id
      |           ORDER BY e.es, e.event_id) AS rf,
      |         row_number() OVER (PARTITION BY p.purchase_id
      |           ORDER BY e.es DESC, e.event_id DESC) AS rl
      |  FROM p JOIN e ON p.user_id = e.user_id
      |  WHERE e.event_type <> 'purchase'
      |    AND e.es >= p.pes - 604800 AND e.es <= p.pes - 1)
      |SELECT p.user_id, p.purchase_id, CAST(p.pts AS VARCHAR) AS purchase_ts,
      |       f.event_type AS first_touch_type, f.event_id AS first_touch_id,
      |       l.event_type AS last_touch_type, l.event_id AS last_touch_id
      |FROM p
      |LEFT JOIN (SELECT purchase_id, event_id, event_type FROM t WHERE rf = 1) f
      |  ON p.purchase_id = f.purchase_id
      |LEFT JOIN (SELECT purchase_id, event_id, event_type FROM t WHERE rl = 1) l
      |  ON p.purchase_id = l.purchase_id
      |ORDER BY p.purchase_id""".stripMargin

  /** w10 — RFM user segmentation (recency / frequency / monetary), the
    * classic cohort-quality cube: per-user stats in one keyed
    * aggregate, quartile boundaries as ONE exact-percentile aggregate
    * broadcast back, quartile labels as pure comparisons. Never a
    * global ntile window — ntile's total order is a single-task sort
    * over every user at 100 TB; the threshold form costs one tiny
    * sort-based percentile aggregate (a11's machinery) plus a
    * codegen'd filter, and assigns identical quartiles up to boundary
    * ties, which both engines resolve identically because the
    * comparisons are the same doubles. Recency counts whole days from
    * the corpus's last event (derived from the same per-user aggregate
    * — no second events scan); monetary sums purchase value in exact
    * integer cents. Output: the 4×4×4 segment cube with user counts
    * and monetary totals. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("ts_sec", toSecond(col("ts")))
      .groupBy("user_id")
      .agg(
        max(col("ts_sec")).as("last_ts"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          cents(col("value")))), lit(0L)).as("monetary_cents"))
    val corpusLast = per.agg(max(col("last_ts")).as("corpus_last"))
    val r = per.join(broadcast(corpusLast))
      .withColumn("recency_days",
        datediff(col("corpus_last").cast("date"), col("last_ts").cast("date")))
    val thresholds = r.agg(
      expr("percentile(recency_days, 0.25)").as("r1"),
      expr("percentile(recency_days, 0.5)").as("r2"),
      expr("percentile(recency_days, 0.75)").as("r3"),
      expr("percentile(frequency, 0.25)").as("f1"),
      expr("percentile(frequency, 0.5)").as("f2"),
      expr("percentile(frequency, 0.75)").as("f3"),
      expr("percentile(monetary_cents, 0.25)").as("m1"),
      expr("percentile(monetary_cents, 0.5)").as("m2"),
      expr("percentile(monetary_cents, 0.75)").as("m3"))
    def quartile(m: Column, t1: Column, t2: Column, t3: Column): Column =
      lit(1) + (m > t1).cast("int") + (m > t2).cast("int") +
        (m > t3).cast("int")
    r.join(broadcast(thresholds))
      .select(
        quartile(col("recency_days"), col("r1"), col("r2"), col("r3"))
          .as("r_quartile"),
        quartile(col("frequency"), col("f1"), col("f2"), col("f3"))
          .as("f_quartile"),
        quartile(col("monetary_cents"), col("m1"), col("m2"), col("m3"))
          .as("m_quartile"),
        col("monetary_cents"))
      .groupBy("r_quartile", "f_quartile", "m_quartile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary_cents")).as("sum_monetary_cents"))
      .orderBy("r_quartile", "f_quartile", "m_quartile")
  }

  val rfmSegmentsOracle: String =
    """WITH per AS (
      |  SELECT user_id, max(date_trunc('second', ts)) AS last_ts,
      |         count(*) AS frequency,
      |         coalesce(sum(CASE WHEN event_type = 'purchase'
      |           THEN CAST(round(value * 100) AS BIGINT) END), 0)
      |           AS monetary_cents
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY user_id),
      |g AS (SELECT max(last_ts) AS corpus_last FROM per),
      |r AS (SELECT user_id,
      |        datediff('day', CAST(last_ts AS DATE),
      |                 CAST(corpus_last AS DATE)) AS recency_days,
      |        frequency, monetary_cents
      |      FROM per, g),
      |t AS (SELECT
      |  quantile_cont(recency_days, 0.25) AS r1,
      |  quantile_cont(recency_days, 0.5) AS r2,
      |  quantile_cont(recency_days, 0.75) AS r3,
      |  quantile_cont(frequency, 0.25) AS f1,
      |  quantile_cont(frequency, 0.5) AS f2,
      |  quantile_cont(frequency, 0.75) AS f3,
      |  quantile_cont(monetary_cents, 0.25) AS m1,
      |  quantile_cont(monetary_cents, 0.5) AS m2,
      |  quantile_cont(monetary_cents, 0.75) AS m3 FROM r),
      |q AS (SELECT
      |  1 + (recency_days > r1)::INT + (recency_days > r2)::INT +
      |      (recency_days > r3)::INT AS r_quartile,
      |  1 + (frequency > f1)::INT + (frequency > f2)::INT +
      |      (frequency > f3)::INT AS f_quartile,
      |  1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT +
      |      (monetary_cents > m3)::INT AS m_quartile,
      |  monetary_cents
      |  FROM r, t)
      |SELECT r_quartile, f_quartile, m_quartile, count(*) AS n_users,
      |       CAST(sum(monetary_cents) AS BIGINT) AS sum_monetary_cents
      |FROM q GROUP BY 1, 2, 3
      |ORDER BY r_quartile, f_quartile, m_quartile""".stripMargin

  /** Lookback horizon for [[pitFeatures]], in seconds (90 days). */
  val PitLookbackSec = 7776000L

  /** w11 — point-in-time trailing features: for every order, the same
    * customer's order count and spend over the STRICTLY-PRIOR 90
    * days. This is the leakage-free feature-engineering shape (each
    * row's features use only information available before that row's
    * own timestamp — what a feature store backfills for training):
    * ONE customer-keyed RANGE window over epoch seconds computes both
    * statistics in one shuffle + one sort, never a fact-to-fact
    * self-join (whose fanout is rows × lookback-multiplicity and
    * which re-shuffles both sides). The [-90d, -1s] frame excludes
    * the row itself and any same-second order — tie rule mirrored in
    * the oracle's strict es inequality. Spend is exact integer cents;
    * empty lookbacks read 0, not NULL (a model consumes these). */
  def pitFeatures(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("ts_sec", toSecond(col("o_orderdate")))
      .withColumn("es", unix_timestamp(col("ts_sec")))
      .withColumn("cents", cents(col("o_totalprice")))
    val w = Window.partitionBy("o_custkey").orderBy(col("es"))
      .rangeBetween(-PitLookbackSec, -1L)
    o
      .withColumn("n_prior_90d",
        coalesce(count(lit(1)).over(w), lit(0L)))
      .withColumn("prior_cents_90d",
        coalesce(sum(col("cents")).over(w), lit(0L)))
      .select(col("o_orderkey"), col("o_custkey"),
        col("ts_sec").cast("date").cast("string").as("orderdate"),
        col("n_prior_90d"), col("prior_cents_90d"))
      .orderBy("o_orderkey")
  }

  val pitFeaturesOracle: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey,
       |         epoch(date_trunc('second', o_orderdate)) AS es,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate
       |  FROM orders)
       |SELECT a.o_orderkey, a.o_custkey, a.orderdate,
       |       count(b.o_orderkey) AS n_prior_90d,
       |       CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS prior_cents_90d
       |FROM o a
       |LEFT JOIN o b ON a.o_custkey = b.o_custkey
       |  AND b.es >= a.es - $PitLookbackSec AND b.es <= a.es - 1
       |GROUP BY a.o_orderkey, a.o_custkey, a.orderdate
       |ORDER BY a.o_orderkey""".stripMargin

  /** a20 — CUSUM changepoint over the daily event-count series, per
    * event type: the monitoring primitive that answers "did this
    * stream's rate shift, and when" before a human eyeballs a chart.
    * The statistic at day k (of n, cumulative count C_k, total T) is
    * |n·C_k − k·T| — the cumulative deviation from a constant rate
    * with the mean CROSS-MULTIPLIED away, so the whole scan is exact
    * long arithmetic and the argmax day is engine-independent (ties →
    * earliest day, via the struct-max idiom with negated epoch-day).
    * Shape: one (type, day) count aggregation, one type-keyed window
    * for (k, C_k), one argmax aggregation — constant keyed shuffles,
    * series length per key irrelevant. */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame =
    cusumChangepointOf(Tables.events(s, d))

  def cusumChangepointOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .filter(col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("event_type")
    daily
      .withColumn("ck", sum("c").over(w))
      .withColumn("k", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
      .withColumn("n", count(lit(1)).over(wall))
      .withColumn("t", sum("c").over(wall))
      .withColumn("stat",
        abs(col("n") * col("ck") - col("k") * col("t")))
      .groupBy("event_type")
      .agg(max("n").as("n_days"), max("t").as("total"),
        max(struct(col("stat").as("s"),
          (-datediff(col("day"), lit("1970-01-01"))).cast("long").as("nd")))
          .as("b"))
      .select(col("event_type"), col("n_days"), col("total"),
        date_add(lit("1970-01-01"), (-col("b.nd")).cast("int"))
          .cast("string").as("cut_day"),
        col("b.s").as("cusum_stat"))
      .orderBy("event_type")
  }

  val cusumChangepointOracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, day, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY day
      |                 ROWS UNBOUNDED PRECEDING) AS ck,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(c) OVER (PARTITION BY event_type) AS t
      |  FROM daily),
      |st AS (
      |  SELECT event_type, day, n, t, abs(n * ck - k * t) AS stat,
      |    -date_diff('day', DATE '1970-01-01', day) AS nd
      |  FROM cum)
      |SELECT event_type,
      |  CAST(max(n) AS BIGINT) AS n_days,
      |  CAST(max(t) AS BIGINT) AS total,
      |  CAST(CAST(DATE '1970-01-01' + to_days(CAST(
      |    -(max(struct_pack(s := stat, nd := nd)).nd) AS INT)) AS DATE)
      |    AS VARCHAR) AS cut_day,
      |  CAST(max(struct_pack(s := stat, nd := nd)).s AS BIGINT) AS cusum_stat
      |FROM st GROUP BY event_type ORDER BY event_type""".stripMargin

  /** a21 — EXACT lag-k autocorrelation (k = 1..3) of each type's daily
    * count series: the seasonality/persistence diagnostic behind every
    * capacity forecast. Mean subtraction is cross-multiplied by n so
    * every summand is an integer — d_t = n·x_t − S with S = Σx — and
    * acf_k = Σ d_t·d_{t−k} / Σ d_t² is the single IEEE division both
    * engines compute identically (the n² factors cancel). Two window
    * passes share ONE event_type exchange (full-frame totals, then
    * ordered lags); state is bounded by the DAY domain per type, never
    * the row count, because the series is the daily aggregate.
    * Overflow bound: |d_t| ≤ n·max_x, so den ≤ n³·max_x² — raise the
    * aggregation grain before 2^63 (~10¹² daily events at n=365). */
  def autocorrelation(s: SparkSession, d: String): DataFrame =
    autocorrelationOf(Tables.events(s, d))

  /** [[autocorrelation]] over an explicit events frame. */
  def autocorrelationOf(events: DataFrame): DataFrame = {
    def acf(k: Int) =
      when(col("den") =!= 0L, col(s"num$k") / col("den")).as(s"acf$k")
    lagCovariances(dailyCounts(events), 3)
      .select(col("event_type"), col("n_days"), col("total"), col("den"),
        col("num1"), col("num2"), col("num3"), acf(1), acf(2), acf(3))
      .orderBy("event_type")
  }

  /** The per-type daily event series (event_type, day, x): events with
    * a timestamp and a type, counted per type and [[epochDay]]. Callers
    * that read it twice materialize it under their own seam. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))

  /** a21's and w14's lag-covariance fold over a [[dailyCounts]] series:
    * per type n_days, total = S, den = Σ d_t² and, for k = 1..maxLag,
    * num_k = Σ d_t·d_{t−k}, with the integer deviation d_t = n·x_t − S.
    * A lag with no predecessor day adds 0. */
  private def lagCovariances(daily: DataFrame, maxLag: Int): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val dev0 = daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .withColumn("d0", col("n") * col("x") - col("s"))
    val dev = (1 to maxLag).foldLeft(dev0) { (df, k) =>
      df.withColumn(s"d$k", lag(col("d0"), k).over(wOrd))
    }
    def num(k: Int) =
      sum(when(col(s"d$k").isNotNull, col("d0") * col(s"d$k")).otherwise(0L))
        .as(s"num$k")
    dev.groupBy("event_type").agg(
      max(col("n")).as("n_days"),
      max(col("s")).as("total") +: sum(col("d0") * col("d0")).as("den") +:
        (1 to maxLag).map(num): _*)
  }

  val autocorrelationOracle: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |dev0 AS (
      |  SELECT event_type, day, x,
      |         count(*) OVER (PARTITION BY event_type) AS n,
      |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |  FROM daily),
      |dev AS (
      |  SELECT event_type, n, s, n * x - s AS d0,
      |         lag(n * x - s, 1) OVER w AS d1,
      |         lag(n * x - s, 2) OVER w AS d2,
      |         lag(n * x - s, 3) OVER w AS d3
      |  FROM dev0 WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |agg AS (
      |  SELECT event_type,
      |    CAST(max(n) AS BIGINT) AS n_days, max(s) AS total,
      |    CAST(sum(d0 * d0) AS BIGINT) AS den,
      |    CAST(sum(CASE WHEN d1 IS NOT NULL THEN d0 * d1 ELSE 0 END) AS BIGINT) AS num1,
      |    CAST(sum(CASE WHEN d2 IS NOT NULL THEN d0 * d2 ELSE 0 END) AS BIGINT) AS num2,
      |    CAST(sum(CASE WHEN d3 IS NOT NULL THEN d0 * d3 ELSE 0 END) AS BIGINT) AS num3
      |  FROM dev GROUP BY event_type)
      |SELECT event_type, n_days, total, den, num1, num2, num3,
      |       CASE WHEN den <> 0 THEN num1 / den END AS acf1,
      |       CASE WHEN den <> 0 THEN num2 / den END AS acf2,
      |       CASE WHEN den <> 0 THEN num3 / den END AS acf3
      |FROM agg ORDER BY event_type""".stripMargin

  /** a22 — day-of-week seasonality profile with an exact uniformity
    * statistic: per (type, dow) the observed count, share, and the
    * cross-multiplied deviation dev7 = 7·obs − total (integer-exact;
    * zero iff perfectly uniform), plus the type's χ² against the
    * uniform null as Σ dev7² / (7·total) — algebraically identical to
    * Σ(obs−E)²/E with E = total/7, but every intermediate is an
    * integer and the lone division happens once. The χ² rides a
    * full-frame window over the ≤7-row-per-type aggregate, sharing the
    * single event_type exchange. A weekday with zero events has no row,
    * but its null-hypothesis term (0−E)²/E = total²/(7·total) is still
    * owed — added as (7 − days_present)·total², so χ² is the true
    * 7-cell statistic (spec pins a missing-Sunday fixture to 1.0). */
  def dowProfile(s: SparkSession, d: String): DataFrame =
    dowProfileOf(Tables.events(s, d))

  /** [[dowProfile]] over an explicit events frame. */
  def dowProfileOf(events: DataFrame): DataFrame = {
    val byDow = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("obs"))
    val w = Window.partitionBy("event_type")
    byDow
      .withColumn("total", sum(col("obs")).over(w))
      .withColumn("dev7", col("obs") * 7 - col("total"))
      .withColumn("share", col("obs") / col("total"))
      .withColumn("chi2",
        (sum(col("dev7") * col("dev7")).over(w) +
          (lit(7L) - count(lit(1)).over(w)) * col("total") * col("total"))
          / (col("total") * 7.0))
      .orderBy("event_type", "dow")
  }

  val dowProfileOracle: String =
    """WITH byd AS (
      |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |         count(*) AS obs
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY event_type, dow),
      |t AS (
      |  SELECT event_type, dow, obs,
      |         CAST(sum(obs) OVER w AS BIGINT) AS total,
      |         CAST(obs * 7 - sum(obs) OVER w AS BIGINT) AS dev7
      |  FROM byd WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type, dow, obs, total, dev7,
      |       obs / total AS share,
      |       (CAST(sum(dev7 * dev7) OVER (PARTITION BY event_type) AS BIGINT)
      |        + (7 - count(*) OVER (PARTITION BY event_type)) * total * total)
      |         / (total * 7.0) AS chi2
      |FROM t ORDER BY event_type, dow""".stripMargin

  /** a23 — rank-trimmed robust statistics: per priority, drop the
    * lowest and highest 10% of orders BY RANK (row_number over the
    * unique (cents, orderkey) order — integer-exact trim boundaries,
    * never an interpolated percentile both engines could render
    * differently) and profile what's left. Complements a18's
    * median/MAD (which bounds influence) with the trimmed mean (which
    * removes it) — the robust location estimate reporting pipelines
    * quote when a handful of whale orders shouldn't move the average.
    * Shape: one priority-keyed window pass (the a16/w5 class — the
    * partition count is the priority domain; acceptable because the
    * per-group sort is the operator's contract), then a hash
    * aggregation; trimmed_avg is the single division. */
  def trimmedStats(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("priority"),
      cents(col("o_totalprice")).as("cents"), col("o_orderkey"))
    val w = Window.partitionBy("priority").orderBy("cents", "o_orderkey")
    val wAll = Window.partitionBy("priority")
    val t = o.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
    val trim = (col("n") / 10L).cast("long")
    t.filter(col("rn") > trim && col("rn") <= col("n") - trim)
      .groupBy("priority")
      .agg(max(col("n")).as("n_total"), count(lit(1)).as("n_kept"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .withColumn("trimmed_avg", col("sum_cents") / col("n_kept") / 100.0)
      .orderBy("priority")
  }

  val trimmedStatsOracle: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderkey
      |  FROM orders),
      |t AS (
      |  SELECT priority, cents,
      |         CAST(row_number() OVER (PARTITION BY priority
      |           ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
      |         CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      |  FROM o)
      |SELECT priority, max(n) AS n_total, count(*) AS n_kept,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       min(cents) AS lo_cents, max(cents) AS hi_cents,
      |       CAST(sum(cents) AS BIGINT) / count(*) / 100.0 AS trimmed_avg
      |FROM t WHERE rn > n // 10 AND rn <= n - n // 10
      |GROUP BY priority ORDER BY priority""".stripMargin

  /** χ²₁ critical value at α = 0.05 (z² threshold for the two-sided
    * two-proportion test), as the documented literal both engines
    * compare against. */
  val AbZ2Critical = 3.8415

  /** a24 — two-proportion A/B test per conversion event: users split
    * into deterministic md5 arms (seed 17 — reproducible assignment,
    * the experiment-platform requirement), a user "converts to t" on
    * ≥1 event of type t, and the pooled two-proportion z² decides
    * significance. The statistic keeps every count exact — the only
    * doubles are the final fixed-shape expression
    * z² = d²·N / (n₁n₂·C(N−C)) with d = c₁n₂ − c₂n₁, whose identical
    * IEEE tree both engines evaluate (the a19 r² precedent); the
    * comparison against [[AbZ2Critical]] is then engine-exact.
    * Degenerate designs (an empty arm, 0% or 100% pooled conversion)
    * yield NULL z² and an insignificant flag, not a division blowup.
    * Shape: one distinct over users (arm sizes broadcast back as one
    * row) + one conditional count-distinct aggregate per type. */
  def abProportions(s: SparkSession, d: String): DataFrame =
    abProportionsOf(Tables.events(s, d))

  /** [[abProportions]] over an explicit events frame. */
  def abProportionsOf(events: DataFrame): DataFrame = {
    import graft.functions.Functions.md5Hash60
    val arm = when(
      pmod(md5Hash60(col("user_id").cast("string"), 17), lit(2L)) === 0L,
      "control").otherwise("treatment")
    val sizes = events.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .agg(sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n2"))
    val conv = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"), arm.as("arm"))
      .groupBy("event_type")
      .agg(countDistinct(when(col("arm") === "control", col("user_id"))).as("c1"),
        countDistinct(when(col("arm") === "treatment", col("user_id"))).as("c2"))
    val bigN = col("n1") + col("n2")
    val bigC = col("c1") + col("c2")
    val dNum = col("c1") * col("n2") - col("c2") * col("n1")
    val ok = col("n1") > 0L && col("n2") > 0L &&
      bigC > 0L && bigC < bigN
    val z2 = (dNum.cast("double") * dNum.cast("double") * bigN.cast("double")) /
      ((col("n1") * col("n2")).cast("double") *
        (bigC * (bigN - bigC)).cast("double"))
    conv.crossJoin(broadcast(sizes))
      .select(col("event_type"), col("n1"), col("c1"), col("n2"), col("c2"),
        when(ok, z2).as("z2"),
        when(ok && z2 > AbZ2Critical, 1L).otherwise(0L).as("significant"))
      .orderBy("event_type")
  }

  val abProportionsOracle: String =
    s"""WITH au AS (
       |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
       |ua AS (
       |  SELECT user_id,
       |    CASE WHEN ('0x' || substr(md5('17' || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM au),
       |sizes AS (
       |  SELECT CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM ua),
       |conv AS (
       |  SELECT e.event_type,
       |         count(DISTINCT CASE WHEN ua.arm = 'control' THEN e.user_id END) AS c1,
       |         count(DISTINCT CASE WHEN ua.arm = 'treatment' THEN e.user_id END) AS c2
       |  FROM events e JOIN ua ON e.user_id = ua.user_id
       |  WHERE e.event_type IS NOT NULL
       |  GROUP BY e.event_type),
       |t AS (SELECT * FROM conv CROSS JOIN sizes)
       |SELECT event_type, n1, c1, n2, c2,
       |  CASE WHEN n1 > 0 AND n2 > 0 AND c1 + c2 > 0 AND c1 + c2 < n1 + n2
       |       THEN CAST(c1 * n2 - c2 * n1 AS DOUBLE) * CAST(c1 * n2 - c2 * n1 AS DOUBLE)
       |            * CAST(n1 + n2 AS DOUBLE)
       |            / (CAST(n1 * n2 AS DOUBLE)
       |               * CAST((c1 + c2) * (n1 + n2 - (c1 + c2)) AS DOUBLE)) END AS z2,
       |  CAST(CASE WHEN n1 > 0 AND n2 > 0 AND c1 + c2 > 0 AND c1 + c2 < n1 + n2
       |       AND CAST(c1 * n2 - c2 * n1 AS DOUBLE) * CAST(c1 * n2 - c2 * n1 AS DOUBLE)
       |            * CAST(n1 + n2 AS DOUBLE)
       |            / (CAST(n1 * n2 AS DOUBLE)
       |               * CAST((c1 + c2) * (n1 + n2 - (c1 + c2)) AS DOUBLE))
       |            > $AbZ2Critical
       |       THEN 1 ELSE 0 END AS BIGINT) AS significant
       |FROM t ORDER BY event_type""".stripMargin

  /** w12 — per-user interval UNION (Allen-algebra busy-time
    * accounting): each event opens a variable-length interval
    * [ts, ts + cents(value) seconds); overlapping or touching
    * intervals merge, and the answer is the number of merged busy
    * blocks and total busy seconds per user. This is NOT w2's gap
    * sessionization — with variable durations an event can fall
    * inside a long predecessor's interval while starting far from the
    * predecessor's start, so the merge condition must compare against
    * the running MAX END of all prior intervals (the dd13 span-merge
    * algorithm applied to the time axis). One user-keyed window pass
    * (running max end on the strictly-prior frame → new-block flag →
    * running block id) + two keyed aggregations; every quantity an
    * exact integer second on second-truncated timestamps. */
  def intervalUnion(s: SparkSession, d: String): DataFrame =
    intervalUnionOf(Tables.events(s, d))

  /** [[intervalUnion]] over an explicit events frame. */
  def intervalUnionOf(events: DataFrame): DataFrame = {
    val iv = events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(toSecond(col("ts"))).as("start"),
        (unix_timestamp(toSecond(col("ts")))
          + cents(col("value"))).as("end"))
    val w = Window.partitionBy("user_id").orderBy("start", "event_id")
    val prevEnd = max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = iv.withColumn("new_block",
      when(prevEnd.isNull || col("start") > prevEnd, 1L).otherwise(0L))
    val blocks = flagged
      .withColumn("block",
        sum(col("new_block")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "block")
      .agg(count(lit(1)).as("n_ev"), min(col("start")).as("bstart"),
        max(col("end")).as("bend"))
    blocks.groupBy("user_id")
      .agg(sum(col("n_ev")).as("n_events"),
        count(lit(1)).as("n_busy_blocks"),
        sum(col("bend") - col("bstart")).as("busy_seconds"))
      .orderBy("user_id")
  }

  val intervalUnionOracle: String =
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |         epoch(date_trunc('second', ts)) AS s,
      |         epoch(date_trunc('second', ts))
      |           + CAST(round(value * 100) AS BIGINT) AS e
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |flagged AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_block,
      |    event_id
      |  FROM iv),
      |blk AS (
      |  SELECT user_id, s, e,
      |    CAST(sum(new_block) OVER (PARTITION BY user_id ORDER BY s, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS block
      |  FROM flagged),
      |b AS (
      |  SELECT user_id, block, count(*) AS n_ev,
      |         min(s) AS bstart, max(e) AS bend
      |  FROM blk GROUP BY user_id, block)
      |SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
      |       count(*) AS n_busy_blocks,
      |       CAST(sum(bend - bstart) AS BIGINT) AS busy_seconds
      |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin

  /** w13 — inter-arrival gap histogram in power-of-two buckets: per
    * event type, the distribution of seconds since the same user's
    * previous event (any type; the gap belongs to the LATER event's
    * type). Burstiness profiling — a type whose mass sits in low
    * buckets fires in machine-speed bursts (bot/retry traffic, a
    * dedup-worthy signal for interaction-log training data); human
    * activity lands in the minutes-to-days decades.
    *
    * The bucket is floor(log₂ gap)+1 computed EXACTLY as the bit
    * length of the integer second gap (`length(bin(g))` — tx23's
    * quantization trick), bucket 0 for gap = 0, so every output cell
    * is exact integer arithmetic both engines agree on; the mean is
    * one long/long division at the end. Shape: one user-keyed window
    * (lag) on second-truncated timestamps + one hash aggregation on
    * (type, bucket) — a bounded ~9×40-cell result at any scale, and
    * the lag shuffle is the same user-keyed exchange every
    * sessionization query in this family already pays. */
  def gapHistogram(s: SparkSession, d: String): DataFrame =
    gapHistogramOf(Tables.events(s, d))

  /** [[gapHistogram]] over an explicit events frame. */
  def gapHistogramOf(events: DataFrame): DataFrame = {
    val sec = unix_timestamp(toSecond(col("ts")))
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val gapped = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"), col("event_id"),
        sec.as("s"))
      .withColumn("gap", col("s") - lag(col("s"), 1).over(w))
      .filter(col("gap").isNotNull)
    gapped
      .withColumn("bucket",
        when(col("gap") === 0L, 0L)
          .otherwise(length(bin(col("gap"))).cast("long")))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap_s"),
        min(col("gap")).as("min_gap_s"), max(col("gap")).as("max_gap_s"))
      .withColumn("mean_gap_s", col("sum_gap_s") / col("n_gaps") / 1.0)
      .orderBy("event_type", "bucket")
  }

  val gapHistogramOracle: String =
    """WITH e AS (
      |  SELECT event_type, user_id, event_id,
      |         epoch(date_trunc('second', ts))::BIGINT AS s
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL),
      |g AS (
      |  SELECT event_type,
      |         s - lag(s, 1) OVER (PARTITION BY user_id
      |           ORDER BY s, event_id) AS gap
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |         CASE WHEN gap = 0 THEN 0
      |              ELSE CAST(length(bin(gap)) AS BIGINT) END AS bucket,
      |         gap
      |  FROM g WHERE gap IS NOT NULL)
      |SELECT event_type, bucket, count(*) AS n_gaps,
      |       CAST(sum(gap) AS BIGINT) AS sum_gap_s,
      |       min(gap) AS min_gap_s, max(gap) AS max_gap_s,
      |       CAST(sum(gap) AS BIGINT) / count(*) / 1.0 AS mean_gap_s
      |FROM b GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** z at 95% two-sided, the shared literal (typed e0 in the oracle —
    * the dq2 lesson). */
  val CiZ = 1.96

  /** a25 — per-type mean with a 95% confidence interval: the
    * estimate-with-error-bars form every metrics read-out needs, and
    * the statistical guard for a8-style threshold decisions (a mean
    * that "moved" inside its interval didn't move). Moments are exact
    * integer cents (n, Σx, Σx² — one partial+final aggregation); the
    * variance numerator n·Σx² − (Σx)² would overflow a long at
    * warehouse row counts, so it follows a19's denY precedent: the
    * exact longs cast to double and combined in ONE fixed IEEE tree
    * (every operand exact, every op correctly rounded, sqrt included —
    * both engines produce the identical bits). A sample variance that
    * rounds to a tiny negative on a constant column clamps through the
    * `< 0 → 0` guard both engines share; n < 2 yields NULL bounds. */
  def meanCi(s: SparkSession, d: String): DataFrame =
    meanCiOf(Tables.events(s, d))

  /** [[meanCi]] over an explicit events frame. */
  def meanCiOf(events: DataFrame): DataFrame = {
    val agg = events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), cents(col("value")).as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sum_cents"),
        sum(col("y") * col("y")).as("sumsq_cents"))
    val nD = col("n").cast("double")
    val num = nD * col("sumsq_cents").cast("double") -
      col("sum_cents").cast("double") * col("sum_cents").cast("double")
    val varHat = when(num < 0.0, 0.0)
      .otherwise(num / (nD * (col("n") - 1L).cast("double")))
    val hw = lit(CiZ) * sqrt(varHat / nD) / 100.0
    val mean = col("sum_cents") / col("n") / 100.0
    agg.select(col("event_type"), col("n"), col("sum_cents"),
        col("sumsq_cents"), mean.as("mean_value"),
        when(col("n") >= 2L, hw).as("half_width"),
        when(col("n") >= 2L, mean - hw).as("ci_lo"),
        when(col("n") >= 2L, mean + hw).as("ci_hi"))
      .orderBy("event_type")
  }

  val meanCiOracle: String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y
       |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
       |agg AS (
       |  SELECT event_type, count(*) AS n,
       |         CAST(sum(y) AS BIGINT) AS sum_cents,
       |         CAST(sum(y * y) AS BIGINT) AS sumsq_cents
       |  FROM ev GROUP BY event_type),
       |t AS (
       |  SELECT *,
       |    CAST(n AS DOUBLE) * CAST(sumsq_cents AS DOUBLE)
       |      - CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE) AS num
       |  FROM agg),
       |v AS (
       |  SELECT *,
       |    CASE WHEN num < 0.0e0 THEN 0.0e0
       |         ELSE num / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) END
       |      AS var_hat
       |  FROM t)
       |SELECT event_type, n, sum_cents, sumsq_cents,
       |  sum_cents / n / 100.0e0 AS mean_value,
       |  CASE WHEN n >= 2 THEN ${CiZ}e0 * sqrt(var_hat / CAST(n AS DOUBLE))
       |       / 100.0e0 END AS half_width,
       |  CASE WHEN n >= 2 THEN sum_cents / n / 100.0e0
       |       - ${CiZ}e0 * sqrt(var_hat / CAST(n AS DOUBLE)) / 100.0e0 END
       |    AS ci_lo,
       |  CASE WHEN n >= 2 THEN sum_cents / n / 100.0e0
       |       + ${CiZ}e0 * sqrt(var_hat / CAST(n AS DOUBLE)) / 100.0e0 END
       |    AS ci_hi
       |FROM v ORDER BY event_type""".stripMargin

  /** Lag search range for w14 (covers weekly = 7 with headroom). */
  val PeriodMaxLag = 14

  /** w14 — dominant periodicity per event type: the lag k ∈ 1..14
    * maximizing the daily-count autocorrelation — "does this stream
    * beat daily, weekly, or not at all", the signal behind choosing
    * t4/t5 window widths and reading a22's day-of-week profile as
    * cause rather than noise.
    *
    * The argmax needs NO floats: all 14 autocorrelation numerators
    * share the one positive denominator Σd₀², so comparing num_k
    * compares acf_k — the argmax is a pure exact-long comparison (a21
    * quantization argument applied to the SELECTION problem; the
    * single num/den division appears only in the reported best_acf).
    * Ties elect the smallest lag via the struct-max idiom with
    * negated lag. Shape: a21's one type-keyed window pass widened to
    * 14 lag columns + one aggregation; the argmax explodes 14 rows
    * per TYPE (post-aggregate, O(types·14)), never per day. */
  def dominantPeriod(s: SparkSession, d: String): DataFrame =
    dominantPeriodOf(Tables.events(s, d))

  /** [[dominantPeriod]] over an explicit events frame. */
  def dominantPeriodOf(events: DataFrame): DataFrame = {
    val agg = lagCovariances(dailyCounts(events), PeriodMaxLag)
    val entries = (1 to PeriodMaxLag).map(k =>
      struct(col(s"num$k").as("num"), lit(-k.toLong).as("nlag")))
    agg
      .select(col("event_type"), col("n_days"), col("den"),
        explode(array(entries: _*)).as("e"))
      .groupBy("event_type")
      .agg(max(col("n_days")).as("n_days"), max(col("den")).as("den"),
        max(struct(col("e.num"), col("e.nlag"))).as("m"))
      .select(col("event_type"), col("n_days"), col("den"),
        (-col("m.nlag")).as("best_lag"), col("m.num").as("best_num"),
        when(col("den") =!= 0L, col("m.num") / col("den")).as("best_acf"),
        when(col("m.nlag") === -7L, 1L).otherwise(0L).as("is_weekly"))
      .orderBy("event_type")
  }

  val dominantPeriodOracle: String = {
    val lagCols = (1 to PeriodMaxLag).map(k =>
      s"lag(d0, $k) OVER (PARTITION BY event_type ORDER BY day) AS d$k")
      .mkString(",\n      |         ")
    val numCols = (1 to PeriodMaxLag).map(k =>
      s"CAST(sum(CASE WHEN d$k IS NOT NULL THEN d0 * d$k ELSE 0 END) AS BIGINT) AS num$k")
      .mkString(",\n      |         ")
    val unions = (1 to PeriodMaxLag).map(k =>
      s"SELECT event_type, n_days, den, CAST($k AS BIGINT) AS lag, num$k AS num FROM agg")
      .mkString("\n      |  UNION ALL ")
    s"""WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)),
      |dev AS (
      |  SELECT event_type, day,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * x
      |           - CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
      |           AS d0
      |  FROM daily),
      |lagged AS (
      |  SELECT event_type, n, d0,
      |         $lagCols
      |  FROM dev),
      |agg AS (
      |  SELECT event_type, max(n) AS n_days,
      |         CAST(sum(d0 * d0) AS BIGINT) AS den,
      |         $numCols
      |  FROM lagged GROUP BY event_type),
      |e AS (
      |  $unions),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY num DESC, lag) AS rn
      |  FROM e)
      |SELECT event_type, n_days, den, lag AS best_lag, num AS best_num,
      |       CASE WHEN den <> 0 THEN num / den END AS best_acf,
      |       CAST(CASE WHEN lag = 7 THEN 1 ELSE 0 END AS BIGINT) AS is_weekly
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin
  }

  /** a26 — Gini concentration of customer revenue within each nation:
    * the inequality read-out behind "is this market one whale or a
    * long tail" (and, on a training corpus, "is one source dominating
    * the token budget"). Uses the rank formula G = (2·Σᵢ i·xᵢ −
    * (n+1)·Σx) / (n·Σx) over revenues sorted ascending — one window
    * rank + one aggregation, both keyed by nation, so the only
    * shuffle is on the grouping key and the per-nation sort is a
    * partition-local window (the a16 shape). Revenue is exact integer
    * cents; i·xᵢ and the two sums stay exact longs, and the single
    * division happens once per NATION on doubles cast from exact
    * longs in one fixed IEEE tree (the a19/a25 precedent), so both
    * engines emit identical bits. Customers with no orders are out of
    * scope by construction (revenue is undefined, not zero). */
  def giniRevenue(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("y"))
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val rev = o.groupBy("o_custkey").agg(sum("y").as("rev"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_custkey").as("custkey"),
        col("rev"))
    giniOfRevenue(rev)
  }

  /** [[giniRevenue]] over an explicit (nation, custkey, rev) frame. */
  def giniOfRevenue(rev: DataFrame): DataFrame = {
    val w = Window.partitionBy("nation").orderBy(col("rev"), col("custkey"))
    val agg = rev.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_cust"), sum("rev").as("sum_cents"),
        sum(col("i") * col("rev")).as("weighted_cents"))
    val gini = (lit(2.0) * col("weighted_cents").cast("double") -
      (col("n_cust") + 1L).cast("double") * col("sum_cents").cast("double")) /
      (col("n_cust").cast("double") * col("sum_cents").cast("double"))
    agg.select(col("nation"), col("n_cust"), col("sum_cents"),
        col("weighted_cents"),
        when(col("sum_cents") > 0L, gini).as("gini"))
      .orderBy("nation")
  }

  val giniRevenueOracle: String =
    """WITH rev AS (
      |  SELECT o_custkey AS custkey,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS rev
      |  FROM orders GROUP BY 1),
      |geo AS (
      |  SELECT n_name AS nation, custkey, rev
      |  FROM rev JOIN customer ON custkey = c_custkey
      |           JOIN nation ON c_nationkey = n_nationkey),
      |rk AS (
      |  SELECT nation, rev, CAST(row_number() OVER (
      |    PARTITION BY nation ORDER BY rev, custkey) AS BIGINT) AS i
      |  FROM geo),
      |agg AS (
      |  SELECT nation, count(*) AS n_cust,
      |         CAST(sum(rev) AS BIGINT) AS sum_cents,
      |         CAST(sum(i * rev) AS BIGINT) AS weighted_cents
      |  FROM rk GROUP BY nation)
      |SELECT nation, n_cust, sum_cents, weighted_cents,
      |  CASE WHEN sum_cents > 0 THEN
      |    (2.0e0 * CAST(weighted_cents AS DOUBLE)
      |      - CAST(n_cust + 1 AS DOUBLE) * CAST(sum_cents AS DOUBLE))
      |    / (CAST(n_cust AS DOUBLE) * CAST(sum_cents AS DOUBLE)) END AS gini
      |FROM agg ORDER BY nation""".stripMargin

  /** a27 — Theil–Sen slope of the daily event-count series per type:
    * the median of all pairwise slopes, the robust trend estimator
    * that shrugs off the outlier days that drag a19's least-squares
    * line around. The pairwise join runs on the AGGREGATED (type,
    * day) series — |days| is bounded by the time domain, not the row
    * count, so the O(|days|²) pair set stays tiny at any corpus scale
    * while the raw scan is one hash aggregation. Each slope is a
    * single IEEE division of exact long deltas (identical bits both
    * engines); the median is picked by rank (odd n → middle row, even
    * n → mean of the two middle rows, a 2-term commutative double
    * add), never by interpolation built-ins whose tie semantics
    * differ across engines. */
  def theilSen(s: SparkSession, d: String): DataFrame =
    theilSenOf(Tables.events(s, d))

  /** [[theilSen]] over an explicit events frame. */
  def theilSenOf(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events)
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("x").as("x2"))
    val pairs = daily
      .join(b, col("event_type") === col("et2") && col("day") < col("d2"))
      .select(col("event_type"),
        ((col("x2") - col("x")).cast("double") /
          (col("d2") - col("day")).cast("double")).as("slope"))
    val wOrd = Window.partitionBy("event_type").orderBy("slope")
    val wAll = Window.partitionBy("event_type")
    val mid = pairs
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .filter(col("rn") === (col("m") + 1L) / 2L ||
        col("rn") === (col("m") + 2L) / 2L)
      .groupBy("event_type")
      .agg(max(col("m")).as("n_pairs"),
        (sum(col("slope")) / count(lit(1)).cast("double")).as("ts_slope"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    nDays.join(mid, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("ts_slope"))
      .orderBy("event_type")
  }

  val theilSenOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |         CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
      |           AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |rk AS (
      |  SELECT event_type, slope,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY slope) AS BIGINT) AS rn,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
      |  FROM pairs),
      |mid AS (
      |  SELECT event_type, max(m) AS n_pairs,
      |         sum(slope) / CAST(count(*) AS DOUBLE) AS ts_slope
      |  FROM rk
      |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
      |  GROUP BY event_type),
      |nd AS (
      |  SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
      |SELECT nd.event_type, nd.n_days,
      |       COALESCE(mid.n_pairs, 0) AS n_pairs, mid.ts_slope
      |FROM nd LEFT JOIN mid USING (event_type)
      |ORDER BY nd.event_type""".stripMargin

  /** a36 — Mann–Kendall trend TEST over the same per-type daily
    * series a27 estimates a slope for: S = Σ_{i<j} sign(x_j − x_i) as
    * an exact long (the pairwise join runs on the (type, day)
    * AGGREGATE — bounded by the time domain, like a27, never the row
    * count), the tie-corrected variance numerator
    * n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) kept as an exact long
    * (variance itself is num/18, left to the reader of the row), and
    * the continuity-corrected z = (S∓1)/√(num/18) built from one
    * long-by-literal division, one correctly-rounded sqrt, and one
    * final division — a fixed IEEE tree both engines evaluate
    * bit-identically (the a25/a33 sqrt precedent). The significance
    * flag compares that shared z against ±1.96 (two-sided α=0.05), so
    * it is exact cross-engine too: +1 rising, −1 falling, 0 neither.
    * Degenerate series (n < 2, or every day tied at one level) have
    * zero variance → z NULL, trend 0. */
  def mannKendall(s: SparkSession, d: String): DataFrame =
    mannKendallOf(Tables.events(s, d))

  /** [[mannKendall]] over an explicit events frame. The (type, day)
    * aggregate feeds THREE consumers (pair sign sum, tie spectrum, day
    * count) — it materializes once so the corpus scan is not replayed
    * per fork (the a29/dq7 rule). */
  def mannKendallOf(events: DataFrame): DataFrame = {
    val daily = graft.ops.Materialize(dailyCounts(events), "a36_daily")
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("x").as("x2"))
    val sStat = daily
      .join(b, col("event_type") === col("et2") && col("day") < col("d2"))
      .groupBy("event_type")
      .agg(sum(when(col("x2") > col("x"), 1L)
          .when(col("x2") < col("x"), -1L).otherwise(0L)).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = daily
      .groupBy("event_type", "x").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie_term"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val joined = nDays
      .join(ties, Seq("event_type"))
      .join(sStat, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        (col("n_days") * (col("n_days") - 1L) *
          (lit(2L) * col("n_days") + 5L) - col("tie_term")).as("var_num"))
    val sd = sqrt(col("var_num").cast("double") / lit(18.0d))
    joined
      .withColumn("z",
        when(col("var_num") <= 0L, lit(null).cast("double"))
          .when(col("s_stat") > 0L, (col("s_stat") - 1L).cast("double") / sd)
          .when(col("s_stat") < 0L, (col("s_stat") + 1L).cast("double") / sd)
          .otherwise(lit(0.0d)))
      .withColumn("trend",
        when(col("z").isNull, 0L)
          .when(col("z") > 1.96d, 1L)
          .when(col("z") < -1.96d, -1L).otherwise(0L))
      .orderBy("event_type")
  }

  val mannKendallOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT a.event_type,
      |         CAST(sum(CASE WHEN b.x > a.x THEN 1
      |                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
      |           AS s_stat,
      |         count(*) AS n_pairs
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, x, count(*) AS t
      |        FROM daily GROUP BY 1, 2)
      |  GROUP BY 1),
      |nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
      |j AS (
      |  SELECT nd.event_type, nd.n_days,
      |         COALESCE(s.n_pairs, 0) AS n_pairs,
      |         COALESCE(s.s_stat, 0) AS s_stat,
      |         nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
      |           - ties.tie_term AS var_num
      |  FROM nd JOIN ties USING (event_type)
      |  LEFT JOIN s USING (event_type)),
      |z AS (
      |  SELECT *,
      |         CASE WHEN var_num <= 0 THEN NULL
      |              WHEN s_stat > 0 THEN
      |                CAST(s_stat - 1 AS DOUBLE)
      |                  / sqrt(CAST(var_num AS DOUBLE) / 18.0e0)
      |              WHEN s_stat < 0 THEN
      |                CAST(s_stat + 1 AS DOUBLE)
      |                  / sqrt(CAST(var_num AS DOUBLE) / 18.0e0)
      |              ELSE 0.0e0 END AS z
      |  FROM j)
      |SELECT event_type, n_days, n_pairs, s_stat, var_num, z,
      |       CAST(CASE WHEN z IS NULL THEN 0
      |                 WHEN z > 1.96e0 THEN 1
      |                 WHEN z < -1.96e0 THEN -1 ELSE 0 END AS BIGINT) AS trend
      |FROM z ORDER BY event_type""".stripMargin

  /** EWMA horizon in days for [[ewmaBurst]] — weights below 2⁻¹⁶ of
    * the newest are truncated (they are sub-integer noise at any
    * realistic daily volume). */
  val EwmaHorizonDays = 16L

  /** a37 — EWMA burst detection over the per-type daily series, the
    * exponentially-weighted companion to dq6's uniform trailing
    * window: yesterday counts twice as much as the day before
    * (half-life = 1 day), so a burst after a quiet ramp-down fires
    * faster than the 7-day-mean test. The trick that keeps it EXACT:
    * with decay ½ and a [[EwmaHorizonDays]]-day truncation, the lag-ℓ
    * weight is the integer 2^(H−ℓ), so the weighted sum and the
    * weight mass are plain longs (num = Σ x·2^(H−ℓ), den = Σ 2^(H−ℓ)
    * over the lags that EXIST — gaps self-normalize), the smoothed
    * level is ONE division num/den, and the burst test
    * x·den > 3·num cross-multiplies to pure integers — no float
    * accumulation anywhere, the a20/dq6 discipline applied to
    * exponential weights. Shape: one corpus aggregation to (type,
    * day), then a bounded lag self-join (≤ H rows per day) on the
    * aggregate — O(days·H) pairs regardless of corpus size. Days
    * with no trailing observation in the horizon emit NULL. */
  def ewmaBurst(s: SparkSession, d: String): DataFrame =
    ewmaBurstOf(Tables.events(s, d))

  /** [[ewmaBurst]] over an explicit events frame. */
  def ewmaBurstOf(events: DataFrame): DataFrame = {
    val daily = graft.ops.Materialize(dailyCounts(events), "a37_daily")
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("x").as("x2"))
    val trail = daily
      .join(b, col("event_type") === col("et2") &&
        col("d2") >= col("day") - EwmaHorizonDays &&
        col("d2") < col("day"))
      .withColumn("w", expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST($EwmaHorizonDays - (day - d2) AS INT))"))
      .groupBy("event_type", "day")
      .agg(sum(col("x2") * col("w")).as("ewma_num"),
        sum(col("w")).as("ewma_den"))
    daily.join(trail, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("x"),
        col("ewma_num"), col("ewma_den"),
        (col("ewma_num").cast("double") / col("ewma_den").cast("double"))
          .as("ewma"),
        when(col("ewma_den").isNull, lit(null).cast("long"))
          .otherwise(when(
            col("x") * col("ewma_den") > lit(3L) * col("ewma_num"), 1L)
            .otherwise(0L)).as("burst"))
      .orderBy("event_type", "day")
  }

  val ewmaBurstOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |           AS BIGINT) AS day,
       |         count(*) AS x
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2),
       |trail AS (
       |  SELECT a.event_type, a.day,
       |         CAST(sum(b.x * (CAST(1 AS BIGINT)
       |           << CAST($EwmaHorizonDays - (a.day - b.day) AS INT)))
       |           AS BIGINT) AS ewma_num,
       |         CAST(sum(CAST(1 AS BIGINT)
       |           << CAST($EwmaHorizonDays - (a.day - b.day) AS INT))
       |           AS BIGINT) AS ewma_den
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type
       |   AND b.day >= a.day - $EwmaHorizonDays AND b.day < a.day
       |  GROUP BY 1, 2)
       |SELECT d.event_type, d.day, d.x, t.ewma_num, t.ewma_den,
       |       CAST(t.ewma_num AS DOUBLE) / CAST(t.ewma_den AS DOUBLE)
       |         AS ewma,
       |       CASE WHEN t.ewma_den IS NULL THEN NULL
       |            WHEN d.x * t.ewma_den > 3 * t.ewma_num THEN 1
       |            ELSE 0 END AS burst
       |FROM daily d LEFT JOIN trail t
       |  ON d.event_type = t.event_type AND d.day = t.day
       |ORDER BY d.event_type, d.day""".stripMargin

  /** w22 — per-user cadence REGULARITY audit, the bot screen: a user
    * whose inter-arrival gaps have a coefficient of variation near
    * zero fires on a timer, not a human rhythm (the curation
    * complement of w13's per-TYPE gap distribution — same user-keyed
    * lag, opposite grouping). Exactness: CV² reduces to the
    * all-integer ratio (n·Σg² − (Σg)²)/(Σg)² (population variance
    * over squared mean), so the per-user centi-CV² is ONE truncating
    * long division, the bot flag (CV² < 0.1) cross-multiplies to
    * 10·(n·Σg² − (Σg)²) < (Σg)², and the histogram bucket is another
    * integer division — no float anywhere. Envelope: 10·n·Σg² < 2⁶³
    * holds while a user's event count × (span·max-gap) stays under
    * ~9e17 — beyond that, pre-bucket gaps to minutes. Users with
    * fewer than 4 gaps land in the explicit insufficient-data bucket
    * (−1), not in a fabricated zero. Shape: the w13 lag window, one
    * user-keyed aggregation, then an O(buckets) rollup. */
  def cadenceRegularity(s: SparkSession, d: String): DataFrame =
    cadenceRegularityOf(Tables.events(s, d))

  /** [[cadenceRegularity]] over an explicit events frame. */
  def cadenceRegularityOf(events: DataFrame): DataFrame = {
    val sec = unix_timestamp(toSecond(col("ts")))
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val gaps = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), sec.as("s"))
      .withColumn("gap", col("s") - lag(col("s"), 1).over(w))
      .filter(col("gap").isNotNull)
    val perUser = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
      .withColumn("cv2_c",
        when(col("n") < 4L || col("sg") === 0L, lit(null).cast("long"))
          .otherwise(expr("(100 * (n * sgg - sg * sg)) div (sg * sg)")))
      .withColumn("is_bot",
        when(col("cv2_c").isNull, 0L)
          .otherwise(when(
            lit(10L) * (col("n") * col("sgg") - col("sg") * col("sg")) <
              col("sg") * col("sg"), 1L).otherwise(0L)))
    perUser
      .groupBy(when(col("cv2_c").isNull, -1L)
        .otherwise(least(expr("cv2_c div 25"), lit(20L))).as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("is_bot")).as("n_bots"),
        min(col("cv2_c")).as("min_cv2_c"), max(col("cv2_c")).as("max_cv2_c"),
        sum(col("n")).as("sum_gaps"))
      .orderBy("bucket")
  }

  val cadenceRegularityOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |g AS (
      |  SELECT user_id,
      |         s - lag(s) OVER (PARTITION BY user_id
      |           ORDER BY s, event_id) AS gap
      |  FROM e),
      |pu AS (
      |  SELECT user_id, count(*) AS n,
      |         CAST(sum(gap) AS BIGINT) AS sg,
      |         CAST(sum(gap * gap) AS BIGINT) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT user_id, n, sg, sgg,
      |         CASE WHEN n < 4 OR sg = 0 THEN NULL
      |              ELSE (100 * (n * sgg - sg * sg)) // (sg * sg) END
      |           AS cv2_c,
      |         CASE WHEN n < 4 OR sg = 0 THEN 0
      |              WHEN 10 * (n * sgg - sg * sg) < sg * sg THEN 1
      |              ELSE 0 END AS is_bot
      |  FROM pu)
      |SELECT CASE WHEN cv2_c IS NULL THEN -1
      |            ELSE least(cv2_c // 25, 20) END AS bucket,
      |       count(*) AS n_users,
      |       CAST(sum(is_bot) AS BIGINT) AS n_bots,
      |       CAST(min(cv2_c) AS BIGINT) AS min_cv2_c,
      |       CAST(max(cv2_c) AS BIGINT) AS max_cv2_c,
      |       CAST(sum(n) AS BIGINT) AS sum_gaps
      |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin

  /** w15 — user activity concentration histogram: per user, the
    * Herfindahl index of their event-type mix in exact basis points
    * (10000·Σc²)/(Σc)² via pure long arithmetic (both engines
    * truncate the all-positive integer division identically — no
    * floats anywhere), then a decile histogram of users by
    * concentration. HHI = 10000 means a single-type user; 10000/k is
    * the k-type uniform floor. Two keyed aggregations (user×type,
    * then user) plus an O(100) percent-bucket histogram — the w10/RFM
    * shape, scales as a pair of hash aggregates. */
  def userHhi(s: SparkSession, d: String): DataFrame =
    userHhiOf(Tables.events(s, d))

  /** [[userHhi]] over an explicit events frame. */
  def userHhiOf(events: DataFrame): DataFrame = {
    val perType = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val perUser = perType.groupBy("user_id")
      .agg(sum(col("c")).as("tot"), sum(col("c") * col("c")).as("ssq"),
        count(lit(1)).as("n_types"))
      .withColumn("hhi_bp", expr("(10000 * ssq) div (tot * tot)"))
    perUser
      .groupBy(expr("hhi_bp div 100").as("pct_bucket"))
      .agg(count(lit(1)).as("n_users"), min(col("hhi_bp")).as("min_bp"),
        max(col("hhi_bp")).as("max_bp"),
        sum(col("n_types")).as("sum_types"))
      .orderBy("pct_bucket")
  }

  val userHhiOracle: String =
    """WITH pt AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |pu AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS tot,
      |         CAST(sum(c * c) AS BIGINT) AS ssq,
      |         count(*) AS n_types
      |  FROM pt GROUP BY 1),
      |h AS (
      |  SELECT user_id, n_types,
      |         (10000 * ssq) // (tot * tot) AS hhi_bp
      |  FROM pu)
      |SELECT hhi_bp // 100 AS pct_bucket, count(*) AS n_users,
      |       min(hhi_bp) AS min_bp, max(hhi_bp) AS max_bp,
      |       CAST(sum(n_types) AS BIGINT) AS sum_types
      |FROM h GROUP BY 1 ORDER BY pct_bucket""".stripMargin

  /** a28 — seasonality strength per event type as a one-way ANOVA over
    * the daily-count series grouped by day-of-week: η² = SS_between /
    * SS_total answers "how much of this stream's daily variance is
    * explained by the weekly cycle" as a 0..1 effect size — the
    * magnitude W14's argmax (which only names the best lag) can't
    * report. Day-of-week is epoch-day mod 7 (pure integer, no
    * locale/engine week-start semantics). All moments (n, Σx, Σx²
    * per type; n_g, Σx per dow cell) are exact longs; the ≤7 cell
    * terms S_g²/n_g are each one fixed IEEE tree and are summed by an
    * explicit dow-sorted lambda fold (the cal2/dq2 rule — never an
    * unordered double sum), so both engines emit identical bits.
    * Shape: two keyed hash aggregations + an O(7) fold per type. */
  def dowAnova(s: SparkSession, d: String): DataFrame =
    dowAnovaOf(Tables.events(s, d))

  /** [[dowAnova]] over an explicit events frame. */
  def dowAnovaOf(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events)
      .withColumn("dow", expr("day % 7"))
    val byDow = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("ssq"))
    val cellTerm = col("s_g").cast("double") * col("s_g").cast("double") /
      col("n_g").cast("double")
    val folded = byDow.join(tot, "event_type")
      .select(col("event_type"), col("n_days"), col("s"), col("ssq"),
        struct(col("dow"), cellTerm.as("t")).as("e"))
      .groupBy("event_type", "n_days", "s", "ssq")
      .agg(sort_array(collect_list(col("e"))).as("es"),
        count(lit(1)).as("n_dow_groups"))
    val grand = col("s").cast("double") * col("s").cast("double") /
      col("n_days").cast("double")
    val sb = aggregate(col("es"), lit(0.0d),
      (acc, x) => acc + x.getField("t")) - grand
    val st = col("ssq").cast("double") - grand
    folded.select(col("event_type"), col("n_days"), col("n_dow_groups"),
        sb.as("ss_between"), st.as("ss_total"),
        when(st > 0.0, sb / st).as("eta2"))
      .orderBy("event_type")
  }

  val dowAnovaOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |d2 AS (SELECT event_type, day % 7 AS dow, x FROM daily),
      |bydow AS (
      |  SELECT event_type, dow, count(*) AS n_g,
      |         CAST(sum(x) AS BIGINT) AS s_g
      |  FROM d2 GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, count(*) AS n_days,
      |         CAST(sum(x) AS BIGINT) AS s,
      |         CAST(sum(x * x) AS BIGINT) AS ssq
      |  FROM d2 GROUP BY 1),
      |terms AS (
      |  SELECT event_type, dow,
      |         CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |           / CAST(n_g AS DOUBLE) AS t
      |  FROM bydow),
      |f AS (
      |  SELECT event_type, count(*) AS n_dow_groups,
      |         list_reduce([0.0e0] || list(t ORDER BY dow), (a, x) -> a + x)
      |           AS sb_raw
      |  FROM terms GROUP BY 1)
      |SELECT t.event_type, t.n_days, f.n_dow_groups,
      |  f.sb_raw - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |    / CAST(t.n_days AS DOUBLE) AS ss_between,
      |  CAST(t.ssq AS DOUBLE) - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |    / CAST(t.n_days AS DOUBLE) AS ss_total,
      |  CASE WHEN CAST(t.ssq AS DOUBLE) - CAST(t.s AS DOUBLE)
      |         * CAST(t.s AS DOUBLE) / CAST(t.n_days AS DOUBLE) > 0.0e0
      |       THEN (f.sb_raw - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)
      |             / CAST(t.n_days AS DOUBLE))
      |            / (CAST(t.ssq AS DOUBLE) - CAST(t.s AS DOUBLE)
      |               * CAST(t.s AS DOUBLE) / CAST(t.n_days AS DOUBLE)) END
      |    AS eta2
      |FROM tot t JOIN f USING (event_type)
      |ORDER BY t.event_type""".stripMargin

  /** w16 — session-duration histogram: W2's gap-sessionization rolled
    * into bit-length (⌊log₂⌋+1) duration buckets — the power-law
    * read-out ("are sessions seconds or hours") that a mean duration
    * hides. Duration is exact whole seconds from the second-truncated
    * session bounds; the bucket is `length(bin(dur))` — the tx23
    * integer-bits idiom, so zero-length single-event sessions land in
    * bucket 1 and each bucket b covers [2^(b-1), 2^b) seconds. Same
    * one user-keyed shuffle as W2 (two layered windows + session
    * rollup), then an O(32) histogram aggregation. */
  def sessionDurations(s: SparkSession, d: String): DataFrame =
    sessionDurationsOf(Tables.events(s, d))

  /** [[sessionDurations]] over an explicit events frame. */
  def sessionDurationsOf(events: DataFrame): DataFrame = {
    val sessions = numberSessions(
        events.filter(col("user_id").isNotNull && col("ts").isNotNull))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_sec").cast("long")) - min(col("ts_sec").cast("long")))
          .as("dur_sec"))
    sessions
      .groupBy(length(bin(col("dur_sec"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        min(col("dur_sec")).as("min_sec"), max(col("dur_sec")).as("max_sec"),
        sum(col("n_events")).as("sum_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("bucket")
  }

  val sessionDurationsOracle: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('second', ts) AS ts_sec, event_id
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |flagged AS (
      |  SELECT user_id, event_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER w IS NULL
      |           OR epoch(ts_sec) - epoch(lag(ts_sec) OVER w) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
      |sess AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts_sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no,
      |    ts_sec
      |  FROM flagged),
      |rolled AS (
      |  SELECT user_id, session_no, count(*) AS n_events,
      |         CAST(epoch(max(ts_sec)) - epoch(min(ts_sec)) AS BIGINT)
      |           AS dur_sec
      |  FROM sess GROUP BY 1, 2)
      |SELECT CAST(length(bin(dur_sec)) AS BIGINT) AS bucket,
      |       count(*) AS n_sessions,
      |       min(dur_sec) AS min_sec, max(dur_sec) AS max_sec,
      |       CAST(sum(n_events) AS BIGINT) AS sum_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM rolled GROUP BY 1 ORDER BY bucket""".stripMargin

  /** a29 — Kendall τ-b rank correlation between lineitem quantity and
    * discount: the monotone-association statistic Pearson (pf3) can't
    * give — robust to any monotone transform and exact on tied, coarse
    * domains. Computed from the CONTINGENCY TABLE, never row pairs:
    * both columns live on small integer domains (quantity 1..50,
    * discount basis points), so one keyed aggregation collapses the
    * corpus to O(|X|·|Y|) cells and the concordant/discordant counts
    * are a cells×cells broadcast nested-loop join on x_a < x_b —
    * bounded by the DOMAIN squared (~10⁵ cell pairs), independent of
    * row count. That is the 100-TB shape: the O(n²) pair statistic
    * reduced to sufficient statistics plus domain-sized compute.
    *
    * Exactness: nc, nd, and the tie terms n₁ = Σ tₓ(tₓ−1)/2,
    * n₂ = Σ t_y(t_y−1)/2, n₀ = n(n−1)/2 are exact longs (t(t−1) is
    * always even, so `div 2` is exact); τ_b = (nc−nd)/(√(n₀−n₁)·
    * √(n₀−n₂)) is a fixed-shape IEEE tree with each factor √'d
    * separately so the product never overflows (the a24/pf3 rule). */
  def kendallTau(s: SparkSession, d: String): DataFrame =
    kendallTauOf(Tables.lineitem(s, d))

  /** [[kendallTau]] over an explicit lineitem frame. */
  def kendallTauOf(li: DataFrame): DataFrame = {
    val base = li.select(
      round(col("l_quantity")).cast("long").as("x"),
      round(col("l_discount") * 10000).cast("long").as("y"))
    // the O(|X|·|Y|) cell table feeds four consumers (both nested-loop
    // sides, the two margin rollups, the totals); materialize it once
    // or every fork replays the corpus scan (PlanSpec-gated)
    val cells = graft.ops.Materialize(
      base.groupBy("x", "y").agg(count(lit(1)).as("cn")),
      "kendall_cells")
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("cn").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("cn").as("nb"))
    val cd = a.join(broadcast(b), col("xa") < col("xb"))
      .agg(
        coalesce(sum(when(col("ya") < col("yb"),
          col("na") * col("nb")).otherwise(0L)), lit(0L)).as("nc"),
        coalesce(sum(when(col("ya") > col("yb"),
          col("na") * col("nb")).otherwise(0L)), lit(0L)).as("nd"))
    val nx = cells.groupBy("x").agg(sum(col("cn")).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("n1"))
    val ny = cells.groupBy("y").agg(sum(col("cn")).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("n2"))
    val tot = cells.agg(sum(col("cn")).as("n"),
      count(lit(1)).as("n_cells"))
    val one = tot.crossJoin(broadcast(cd)).crossJoin(broadcast(nx))
      .crossJoin(broadcast(ny))
      .withColumn("n0", expr("n * (n - 1) div 2"))
    one.select(col("n"), col("n_cells"), col("nc"), col("nd"),
      col("n0"), col("n1"), col("n2"),
      when(col("n0") > col("n1") && col("n0") > col("n2"),
        (col("nc") - col("nd")).cast("double") /
          (sqrt((col("n0") - col("n1")).cast("double")) *
            sqrt((col("n0") - col("n2")).cast("double"))))
        .as("tau_b"))
  }

  val kendallTauOracle: String =
    """WITH base AS (
      |  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
      |         CAST(round(l_discount * 10000) AS BIGINT) AS y
      |  FROM lineitem),
      |cells AS (
      |  SELECT x, y, count(*) AS cn FROM base GROUP BY x, y),
      |cd AS (
      |  SELECT
      |    CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.cn * b.cn
      |      ELSE 0 END), 0) AS BIGINT) AS nc,
      |    CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.cn * b.cn
      |      ELSE 0 END), 0) AS BIGINT) AS nd
      |  FROM cells a JOIN cells b ON a.x < b.x),
      |nx AS (
      |  SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n1
      |  FROM (SELECT CAST(sum(cn) AS BIGINT) AS t FROM cells GROUP BY x)),
      |ny AS (
      |  SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n2
      |  FROM (SELECT CAST(sum(cn) AS BIGINT) AS t FROM cells GROUP BY y)),
      |tot AS (
      |  SELECT CAST(sum(cn) AS BIGINT) AS n, count(*) AS n_cells
      |  FROM cells),
      |one AS (
      |  SELECT n, n_cells, nc, nd, n * (n - 1) // 2 AS n0, n1, n2
      |  FROM tot, cd, nx, ny)
      |SELECT n, n_cells, nc, nd, n0, n1, n2,
      |  CASE WHEN n0 > n1 AND n0 > n2
      |       THEN CAST(nc - nd AS DOUBLE)
      |            / (sqrt(CAST(n0 - n1 AS DOUBLE))
      |               * sqrt(CAST(n0 - n2 AS DOUBLE))) END AS tau_b
      |FROM one""".stripMargin

  /** a30 — BURSTINESS (Fano factor) of daily volume per event type:
    * sample-variance over mean of the daily count series, the
    * dispersion index that separates Poisson-like organic traffic
    * (F ≈ 1) from bursty campaign/incident traffic (F ≫ 1) and
    * bot-regular traffic (F ≪ 1) — the temporal-shape screen next to
    * dq6's point anomalies. The identity s²/x̄ = (nΣx² − (Σx)²) /
    * ((n−1)·Σx) clears every division but the last: fano_num and
    * fano_den are EXACT longs from one day-grain aggregation + one
    * type-grain rollup (both partial-aggregable, the a19 sufficient-
    * statistics shape), and F is the single long/long division.
    * Types observed on one day emit NULL (variance undefined).
    * Overflow: Σx² ≤ days·(rows/day)² — safe past 10⁹ events/type at
    * this time span; shard-preaggregate beyond. */
  def burstiness(s: SparkSession, d: String): DataFrame =
    burstinessOf(Tables.events(s, d))

  /** [[burstiness]] over an explicit events frame. */
  def burstinessOf(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events)
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"),
        max(col("x")).as("max_day"))
      .withColumn("fano_num",
        col("n_days") * col("sum_x2") - col("sum_x") * col("sum_x"))
      .withColumn("fano_den", (col("n_days") - 1L) * col("sum_x"))
      .withColumn("fano",
        when(col("fano_den") > 0L, col("fano_num") / col("fano_den")))
      .orderBy("event_type")
  }

  /** a33 — SPEARMAN rank correlation between the daily-count series
    * of every event-type pair: do these streams move together?
    * (completes the correlation trio: pf3 Pearson on raw values, a29
    * Kendall on coarse domains, a33 Spearman on TIME SERIES — rank
    * correlation is the standard choice there because daily volumes
    * are heavy-tailed and Pearson would be driven by spike days).
    * Exactness: the series live on a shared dense day spine (missing
    * days are real zeros — derived from the materialized daily table,
    * not a second corpus scan); tie-averaged ranks are kept as exact
    * DOUBLED integers rank2 = 2·minrank + ties − 1 (the average rank
    * of a tied block times two — no halves anywhere); ρ is then
    * Pearson over exact long rank moments with the pf3 fixed IEEE
    * tree (scale invariance absorbs the doubling). Shape: one scan →
    * materialized O(types×days) series → spine fill → two O(series)
    * windows → one pair self-join bounded by types² × days. */
  def spearmanPairs(s: SparkSession, d: String): DataFrame =
    spearmanPairsOf(Tables.events(s, d))

  /** [[spearmanPairs]] over an explicit events frame. */
  def spearmanPairsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = graft.ops.Materialize(dailyCounts(events), "spearman_daily")
    val spine = daily.select("day").distinct()
      .crossJoin(daily.select("event_type").distinct())
    val filled = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val wRank = Window.partitionBy("event_type").orderBy("x")
    val wTies = Window.partitionBy("event_type", "x")
    val ranked = filled
      .withColumn("r", rank().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wTies))
      .withColumn("rank2", lit(2L) * col("r") + col("m") - 1L)
      .select("event_type", "day", "rank2")
    val a = ranked.toDF("type_a", "day", "ra")
    val b = ranked.toDF("type_b", "day", "rb")
    val moments = a.join(b, Seq("day"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_days"),
        sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
        sum(col("ra") * col("rb")).as("sxy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy"))
    val nD = col("n_days").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    moments.select(col("type_a"), col("type_b"), col("n_days"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        when(denx > 0.0d && deny > 0.0d,
          num / (sqrt(denx) * sqrt(deny))).as("rho"))
      .orderBy("type_a", "type_b")
  }

  val spearmanPairsOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT t.event_type, d.day
      |  FROM (SELECT DISTINCT day FROM daily) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t),
      |filled AS (
      |  SELECT s.event_type, s.day,
      |         CAST(coalesce(dd.x, 0) AS BIGINT) AS x
      |  FROM spine s LEFT JOIN daily dd
      |    ON s.event_type = dd.event_type AND s.day = dd.day),
      |ranked AS (
      |  SELECT event_type, day,
      |    2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY x)
      |        AS BIGINT)
      |      + CAST(count(*) OVER (PARTITION BY event_type, x) AS BIGINT)
      |      - 1 AS rank2
      |  FROM filled),
      |m AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n_days,
      |    CAST(sum(a.rank2) AS BIGINT) AS sx,
      |    CAST(sum(b.rank2) AS BIGINT) AS sy,
      |    CAST(sum(a.rank2 * b.rank2) AS BIGINT) AS sxy,
      |    CAST(sum(a.rank2 * a.rank2) AS BIGINT) AS sxx,
      |    CAST(sum(b.rank2 * b.rank2) AS BIGINT) AS syy
      |  FROM ranked a JOIN ranked b ON a.day = b.day
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_days, sx, sy, sxy, sxx, syy,
      |  CASE WHEN CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0e0
      |        AND CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0e0
      |       THEN (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |            / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |               * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
      |                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END
      |    AS rho
      |FROM m ORDER BY type_a, type_b""".stripMargin

  /** w21 — NEW vs RETURNING daily mix: per day the active users split
    * by whether this is their first-ever day — the growth-accounting
    * curve (is the feed growing by acquisition or by retention?) and,
    * on a data pipeline, the contributor-mix probe behind w19's churn
    * (a corpus whose daily mix tilts new is drifting toward whatever
    * the new cohort writes). Exactness: the (user, day) distinct and
    * the per-user first day are exact keyed aggregations; new = users
    * whose min-day equals the day, returning = active − new; shares
    * in basis points. The (user, day) table is materialized once —
    * it feeds both the first-day rollup and the daily-active rollup
    * (the a29/dq7 fork rule; durable seams at warehouse scale). */
  def newVsReturning(s: SparkSession, d: String): DataFrame =
    newVsReturningOf(Tables.events(s, d))

  /** [[newVsReturning]] over an explicit events frame. */
  def newVsReturningOf(events: DataFrame): DataFrame = {
    val ud = graft.ops.Materialize(events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), epochDay(col("ts")).as("day"))
      .distinct(), "user_days")
    val newPerDay = ud.groupBy("user_id")
      .agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val activePerDay = ud.groupBy("day")
      .agg(count(lit(1)).as("active_users"))
    activePerDay.join(newPerDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("returning_users",
        col("active_users") - col("new_users"))
      .withColumn("new_share_bp",
        expr("(10000 * new_users) div active_users"))
      .orderBy("day")
  }

  val newVsReturningOracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |npd AS (
      |  SELECT day, count(*) AS new_users FROM (
      |    SELECT user_id, min(day) AS day FROM ud GROUP BY user_id)
      |  GROUP BY day),
      |apd AS (SELECT day, count(*) AS active_users FROM ud GROUP BY day)
      |SELECT a.day, a.active_users,
      |  coalesce(n.new_users, 0) AS new_users,
      |  a.active_users - coalesce(n.new_users, 0) AS returning_users,
      |  (10000 * coalesce(n.new_users, 0)) // a.active_users
      |    AS new_share_bp
      |FROM apd a LEFT JOIN npd n ON a.day = n.day
      |ORDER BY a.day""".stripMargin

  /** w20 — ACTIVE-DAYS histogram: users bucketed by how many distinct
    * days they were active — the engagement-DEPTH distribution behind
    * w18's month-level ratio (the same stickiness can hide "everyone
    * comes twice" or "a core lives here daily"; this is the curve).
    * Per active-day count: users, their share in exact basis points,
    * and the event mass they carry. Exact integers end to end.
    * Shape: one (user, day) distinct → one user rollup → one
    * O(days)-key histogram, each partial-aggregable, + a 1-row
    * broadcast for shares. */
  def activeDays(s: SparkSession, d: String): DataFrame =
    activeDaysOf(Tables.events(s, d))

  /** [[activeDays]] over an explicit events frame. */
  def activeDaysOf(events: DataFrame): DataFrame = {
    val perUser = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"), epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("active_days"), sum(col("n_events")).as("m"))
    // O(days)-key histogram feeds the share denominator and the output
    // — materialize or both forks replay the two-level user aggregation
    val hist = graft.ops.Materialize(
      perUser.groupBy("active_days")
        .agg(count(lit(1)).as("n_users"), sum(col("m")).as("n_events")),
      "active_days_hist")
    val tot = hist.agg(sum(col("n_users")).as("t_users"))
    hist.crossJoin(broadcast(tot))
      .select(col("active_days"), col("n_users"), col("n_events"),
        expr("(10000 * n_users) div t_users").as("user_share_bp"))
      .orderBy("active_days")
  }

  val activeDaysOracle: String =
    """WITH pd AS (
      |  SELECT user_id,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS n_events
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY 1, 2),
      |pu AS (
      |  SELECT user_id, count(*) AS active_days,
      |         CAST(sum(n_events) AS BIGINT) AS m
      |  FROM pd GROUP BY 1),
      |hist AS (
      |  SELECT active_days, count(*) AS n_users,
      |         CAST(sum(m) AS BIGINT) AS n_events
      |  FROM pu GROUP BY 1),
      |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS t_users FROM hist)
      |SELECT active_days, n_users, n_events,
      |       (10000 * n_users) // t_users AS user_share_bp
      |FROM hist CROSS JOIN t ORDER BY active_days""".stripMargin

  /** Inactivity horizon for [[churnCohorts]]: a user whose last
    * activity is more than this many days before the corpus's last
    * day counts as churned. */
  val ChurnHorizonDays = 7L

  /** w19 — CHURN by signup cohort: per first-seen month, how many
    * users' last activity fell more than [[ChurnHorizonDays]] before
    * the corpus end — the survival readout w3's return-rate matrix
    * doesn't collapse to, and on a data feed the
    * contributor-attrition probe (rising early-cohort churn = the
    * corpus's future distribution is drifting toward new sources).
    * Exactness: per-user first/last days are exact min/max; the
    * churn test is an integer day comparison against a 1-row
    * broadcast global max; cohort shares in exact basis points.
    * Shape: one user-keyed aggregation (map-side partials) + one
    * O(months) rollup + a 1-row broadcast — never per-user state
    * beyond the aggregation itself. */
  def churnCohorts(s: SparkSession, d: String): DataFrame =
    churnCohortsOf(Tables.events(s, d))

  /** [[churnCohorts]] over an explicit events frame. */
  def churnCohortsOf(events: DataFrame): DataFrame = {
    val perUser = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(min(epochDay(col("ts"))).as("first_day"),
        max(epochDay(col("ts"))).as("last_day"),
        min(date_format(col("ts"), "yyyy-MM")).as("cohort"))
    val end = perUser.agg(max(col("last_day")).as("end_day"))
    perUser.crossJoin(broadcast(end))
      .withColumn("churned",
        when(col("last_day") < col("end_day") - ChurnHorizonDays, 1L)
          .otherwise(0L))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_users"),
        sum(col("churned")).as("n_churned"),
        min(col("first_day")).as("cohort_first_day"))
      .withColumn("churn_bp", expr("(10000 * n_churned) div n_users"))
      .orderBy("cohort")
  }

  val churnCohortsOracle: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    min(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |      AS BIGINT)) AS first_day,
       |    max(CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |      AS BIGINT)) AS last_day,
       |    min(strftime(ts, '%Y-%m')) AS cohort
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY user_id),
       |e AS (SELECT max(last_day) AS end_day FROM pu)
       |SELECT cohort, count(*) AS n_users,
       |  CAST(sum(CASE WHEN last_day < end_day - $ChurnHorizonDays
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       |  min(first_day) AS cohort_first_day,
       |  (10000 * CAST(sum(CASE WHEN last_day < end_day - $ChurnHorizonDays
       |    THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS churn_bp
       |FROM pu CROSS JOIN e
       |GROUP BY cohort ORDER BY cohort""".stripMargin

  /** w18 — engagement STICKINESS per calendar month: mean daily
    * active users over monthly active users (DAU/MAU), the standard
    * product-health ratio — and on a training-data feed, the
    * user-base-rotation probe (a stable corpus has sticky
    * contributors; a churn-heavy one re-learns its user distribution
    * every month). Exactness: per-day and per-month distinct user
    * counts are exact keyed aggregations; stickiness clears its inner
    * division as permille = (1000·Σdau) div (n_days·mau) — pure
    * integer arithmetic (mean-DAU/MAU = Σdau/(n_days·mau)) — plus the
    * one closing double division for the readable ratio.
    * Shape: two keyed aggregations ((day,user) → day → month, and
    * (month,user) → month) + one month-grain join — both distincts
    * partial-aggregate; nothing holds per-user state across months. */
  def stickiness(s: SparkSession, d: String): DataFrame =
    stickinessOf(Tables.events(s, d))

  /** [[stickiness]] over an explicit events frame. */
  def stickinessOf(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM").as("month"),
        epochDay(col("ts")).as("day"),
        col("user_id"))
    val dau = base.groupBy("month", "day")
      .agg(count_distinct(col("user_id")).as("dau"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val mau = base.groupBy("month")
      .agg(count_distinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .withColumn("stickiness_pm",
        expr("(1000 * sum_dau) div (n_days * mau)"))
      .withColumn("stickiness",
        col("sum_dau").cast("double") /
          (col("n_days") * col("mau")).cast("double"))
      .select("month", "n_days", "sum_dau", "mau", "stickiness_pm",
        "stickiness")
      .orderBy("month")
  }

  val stickinessOracle: String =
    """WITH base AS (
      |  SELECT strftime(ts, '%Y-%m') AS month,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         user_id
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |dau AS (
      |  SELECT month, count(*) AS n_days,
      |         CAST(sum(dau) AS BIGINT) AS sum_dau
      |  FROM (SELECT month, day, count(DISTINCT user_id) AS dau
      |        FROM base GROUP BY 1, 2)
      |  GROUP BY month),
      |mau AS (
      |  SELECT month, count(DISTINCT user_id) AS mau
      |  FROM base GROUP BY 1)
      |SELECT d.month, d.n_days, d.sum_dau, m.mau,
      |  (1000 * d.sum_dau) // (d.n_days * m.mau) AS stickiness_pm,
      |  CAST(d.sum_dau AS DOUBLE)
      |    / CAST(d.n_days * m.mau AS DOUBLE) AS stickiness
      |FROM dau d JOIN mau m ON d.month = m.month
      |ORDER BY d.month""".stripMargin

  /** a31 — Wald–Wolfowitz RUNS test per event type: is the daily
    * volume series random around its median, or does it trend/cycle?
    * (a30's Fano factor sees dispersion; this sees ORDER — a series
    * can be perfectly Poisson-dispersed and still trending.) The
    * series reduces to above/below-median signs (median BY RANK over
    * the aggregated day series — ties at the median drop, the
    * standard treatment), R = 1 + sign-change count via one lag
    * window over O(days) rows. Exactness: n₁, n₂, R are longs;
    * E[R] = 2n₁n₂/n + 1 and Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) are
    * fixed IEEE trees over exact longs (2n₁n₂ ≤ n²/2 stays exact in
    * doubles to n ~ 9e7 days — forever, for day grains); z² =
    * (R−E)²/Var is one division, and |z|>1.96 cross-checks as
    * z² > 3.8416 with the rational 2401/625 — an exact compare.
    * Shape: one day aggregation + two O(days) windows + a 1-row
    * rollup per type — the dq6/inc3 bounded-spine argument. */
  def runsTest(s: SparkSession, d: String): DataFrame =
    runsTestOf(Tables.events(s, d))

  /** [[runsTest]] over an explicit events frame. */
  def runsTestOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // O(types×days) series feeds both the median rank and the sign
    // join — materialize once (the a29/dq7 fork rule)
    val daily = graft.ops.Materialize(dailyCounts(events), "runs_daily")
    // median by rank over the per-type day series (odd count → middle
    // row; even → the LOWER middle — a fixed total-order choice both
    // engines replay; only the sign split needs consistency, not the
    // statistical median itself)
    val wRank = Window.partitionBy("event_type").orderBy("x", "day")
    val wCnt = Window.partitionBy("event_type")
    val ranked = daily
      .withColumn("rk", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(wCnt))
    val med = ranked
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("event_type"), col("x").as("med"))
    val signed = daily.join(med, "event_type")
      .filter(col("x") =!= col("med"))
      .withColumn("sign", when(col("x") > col("med"), 1L).otherwise(0L))
    val wDay = Window.partitionBy("event_type").orderBy("day")
    val runs = signed
      .withColumn("prev", lag(col("sign"), 1).over(wDay))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("sign")).as("n1"),
        (count(lit(1)) - sum(col("sign"))).as("n2"),
        (sum(when(col("prev").isNotNull && col("prev") =!= col("sign"), 1L)
          .otherwise(0L)) + 1L).as("r"))
    val e = lit(2.0d) * col("n1").cast("double") * col("n2").cast("double") /
      col("n").cast("double") + lit(1.0d)
    val twoN1N2 = lit(2.0d) * col("n1").cast("double") *
      col("n2").cast("double")
    val variance = twoN1N2 * (twoN1N2 - col("n").cast("double")) /
      (col("n").cast("double") * col("n").cast("double") *
        (col("n") - 1L).cast("double"))
    runs
      .withColumn("expected_r", when(col("n") > 1L, e))
      .withColumn("var_r", when(col("n") > 1L, variance))
      .withColumn("z2",
        when(col("n") > 1L && variance > 0.0d,
          (col("r").cast("double") - e) * (col("r").cast("double") - e)
            / variance))
      .withColumn("nonrandom_05",
        when(col("z2").isNotNull,
          when(col("z2") * 625.0d > 2401.0d, 1L).otherwise(0L)))
      .orderBy("event_type")
  }

  val runsTestOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, day, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY x, day)
      |      AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM daily),
      |med AS (
      |  SELECT event_type, x AS med FROM rk WHERE rk = (cnt + 1) // 2),
      |signed AS (
      |  SELECT d.event_type, d.day,
      |         CASE WHEN d.x > m.med THEN 1 ELSE 0 END AS sign
      |  FROM daily d JOIN med m ON d.event_type = m.event_type
      |  WHERE d.x <> m.med),
      |lagged AS (
      |  SELECT event_type, sign,
      |    lag(sign) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM signed),
      |runs AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(sign) AS BIGINT) AS n1,
      |    count(*) - CAST(sum(sign) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> sign
      |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r
      |  FROM lagged GROUP BY 1),
      |f AS (
      |  SELECT event_type, n, n1, n2, r,
      |    CASE WHEN n > 1 THEN
      |      2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        / CAST(n AS DOUBLE) + 1.0e0 END AS expected_r,
      |    CASE WHEN n > 1 THEN
      |      (2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |      * ((2.0e0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |         - CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |         * CAST(n - 1 AS DOUBLE)) END AS var_r
      |  FROM runs)
      |SELECT event_type, n, n1, n2, r, expected_r, var_r,
      |  CASE WHEN n > 1 AND var_r > 0.0e0 THEN
      |    (CAST(r AS DOUBLE) - expected_r) * (CAST(r AS DOUBLE) - expected_r)
      |      / var_r END AS z2,
      |  CASE WHEN n > 1 AND var_r > 0.0e0 THEN
      |    CASE WHEN ((CAST(r AS DOUBLE) - expected_r)
      |               * (CAST(r AS DOUBLE) - expected_r) / var_r) * 625.0e0
      |               > 2401.0e0
      |         THEN 1 ELSE 0 END END AS nonrandom_05
      |FROM f ORDER BY event_type""".stripMargin

  val burstinessOracle: String =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, count(*) AS n_days,
      |         CAST(sum(x) AS BIGINT) AS sum_x,
      |         CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |         CAST(max(x) AS BIGINT) AS max_day
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sum_x, sum_x2, max_day,
      |  n_days * sum_x2 - sum_x * sum_x AS fano_num,
      |  (n_days - 1) * sum_x AS fano_den,
      |  CASE WHEN (n_days - 1) * sum_x > 0
      |       THEN (n_days * sum_x2 - sum_x * sum_x)
      |            / ((n_days - 1) * sum_x) END AS fano
      |FROM agg ORDER BY event_type""".stripMargin

  /** a35 — month-of-year SEASONALITY index over order revenue: each
    * calendar month's revenue share against the uniform 1/12, as exact
    * permille integers (index 1000 = exactly seasonal-neutral;
    * 12·rev_m·1000 div grand, floor semantics identical cross-engine).
    * The time-series family's PERIODIC axis beside a3's trend, a33's
    * cross-series rank correlation and w14's dominant period: the
    * artifact a pipeline owner reads before attributing a monthly drop
    * to drift rather than seasonality. One scan → 12-group map-side
    * aggregate; the grand total derives from the MATERIALIZED 12-row
    * frame (no second scan, the dd19/a29 fork rule) and rides a 1-row
    * broadcast. */
  def seasonalityIndex(s: SparkSession, d: String): DataFrame =
    seasonalityIndexOf(Tables.orders(s, d))

  def seasonalityIndexOf(orders: DataFrame): DataFrame = {
    val monthly = graft.ops.Materialize(
      orders
        .groupBy(month(col("o_orderdate")).cast("long").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents")),
      "a35_monthly")
    val grand = monthly.agg(
      sum(col("revenue_cents")).as("grand_cents"))
    monthly.crossJoin(broadcast(grand))
      .select(col("month"), col("n_orders"), col("revenue_cents"),
        expr("revenue_cents * 1000 div grand_cents").as("share_permille"),
        expr("revenue_cents * 12000 div grand_cents")
          .as("seasonality_permille"))
      .orderBy("month")
  }

  val seasonalityIndexOracle: String =
    """WITH m AS (
      |  SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
      |         count(*) AS n_orders,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS revenue_cents
      |  FROM orders GROUP BY 1),
      |g AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS grand_cents FROM m)
      |SELECT m.month, m.n_orders, m.revenue_cents,
      |  m.revenue_cents * 1000 // g.grand_cents AS share_permille,
      |  m.revenue_cents * 12000 // g.grand_cents AS seasonality_permille
      |FROM m, g ORDER BY m.month""".stripMargin
}
