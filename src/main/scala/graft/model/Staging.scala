package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Functions._

/** The reference's dbt staging + fact models over earthquake-shaped
  * frames (dbt_files/models/core/stg_earthquake.sql,
  * fact_earthquake_data.sql): U1 union of historical ∪ monthly, W1
  * dedup-by-rank on (place, event_datetime), P17 type standardization,
  * P18 surrogate key, then the P14-P16 fact derivations.
  */
object Staging {

  /** stg_earthquake (full-refresh path): union, keyed dedup, casts,
    * surrogate key (stg_earthquake.sql:19-44). */
  def stgEarthquake(historical: DataFrame, monthly: DataFrame): DataFrame = {
    val unioned = historical.unionByName(monthly)
    val w = Window.partitionBy("place", "event_datetime")
      .orderBy("event_datetime") // reference tiebreak: arbitrary survivor
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .select(
        surrogateKey(col("place"), col("event_datetime")).as("event_id"),
        col("place"),
        col("event_datetime").cast("timestamp").as("event_datetime"),
        col("magnitude").cast("double").as("magnitude"),
        col("latitude").cast("double").as("latitude"),
        col("longitude").cast("double").as("longitude"),
        col("depth").cast("double").as("depth"),
        col("country"), col("region"), col("alert"),
        col("tsunami"), col("type"))
  }

  /** stg incremental path (T2): only rows above the target's
    * high-watermark (stg_earthquake.sql:9-16); late data silently
    * dropped — the full-refresh union path catches it instead. */
  def stgIncremental(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val wm = existing.agg(max(col("event_datetime")).as("wm"))
    // null watermark = empty target: everything is new (a bare `> wm`
    // comparison would be null for every row and silently drop the
    // whole first load)
    incoming.join(broadcast(wm),
        col("wm").isNull || col("event_datetime") > col("wm"), "inner")
      .drop("wm")
  }

  /** fact_earthquake_data (fact_earthquake_data.sql:7-22): severity CASE,
    * year, decade on top of staging. */
  def factEarthquake(stg: DataFrame): DataFrame =
    stg
      .withColumn("severity", severity(col("magnitude")))
      .withColumn("event_year", year(col("event_datetime")))
      .withColumn("event_decade", getDecade(col("event_datetime")))

  /** yearly_earthquake_stats (yearly_earthquake_stats.sql:8-16) on the
    * earthquake fact. */
  /** t6 — BACKFILL/catchup planner, the reference's Airflow
    * `catchup=True` @monthly semantics (reference airflow/dags/
    * earthquake_batch_pipeline.py:20-27) expressed data-side: given
    * the month partitions a sink already holds and the source's full
    * month span, emit every month of the span with its source row
    * count and present/missing status — the exact run list a catchup
    * scheduler would enqueue (missing months, oldest first), with the
    * row counts that size each run. The fixture sink follows j4's
    * date-split convention: months before the cutoff are loaded, the
    * tail is the gap to backfill. One scan → month-keyed aggregate
    * (~80 rows); the span derives from the MATERIALIZED month table
    * (min/max on 80 rows, no second scan) and expands via sequence()
    * so source-absent months inside the span still surface as
    * missing-with-zero-rows. */
  def backfillPlan(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    backfillPlanOf(graft.Tables.orders(s, d), "2000-01")

  def backfillPlanOf(orders: DataFrame, loadedBefore: String): DataFrame = {
    val months = graft.ops.Materialize(
      orders
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_rows")),
      "t6_months")
    val span = months
      .agg(min(col("ym")).as("lo"), max(col("ym")).as("hi"))
      .select(explode(expr(
        "sequence(to_date(lo || '-01'), to_date(hi || '-01'), interval 1 month)"))
        .as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("ym"))
    span
      .join(months, Seq("ym"), "left")
      .select(col("ym"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        when(col("ym") < lit(loadedBefore), lit("present"))
          .otherwise(lit("missing")).as("status"))
      .orderBy("ym")
  }

  /** DuckDB replay of t6: same month span expansion, same cutoff. */
  val backfillPlanOracle: String =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n_rows
      |  FROM orders GROUP BY 1),
      |b AS (SELECT min(ym) AS lo, max(ym) AS hi FROM m),
      |span AS (
      |  SELECT strftime(unnest(generate_series(
      |    CAST(lo || '-01' AS DATE), CAST(hi || '-01' AS DATE),
      |    INTERVAL 1 MONTH)), '%Y-%m') AS ym FROM b)
      |SELECT s.ym, coalesce(m.n_rows, 0) AS n_rows,
      |  CASE WHEN s.ym < '2000-01' THEN 'present' ELSE 'missing' END AS status
      |FROM span s LEFT JOIN m ON s.ym = m.ym
      |ORDER BY s.ym""".stripMargin

  def yearlyEarthquakeStats(fact: DataFrame): DataFrame =
    fact
      .filter(col("magnitude") > 3 && col("country").isNotNull)
      .groupBy("event_year")
      .agg(
        count(lit(1)).as("event_frequency"),
        avg(col("magnitude")).as("avg_magnitude"),
        avg(col("depth")).as("avg_depth"))
      .orderBy("event_year")
}
