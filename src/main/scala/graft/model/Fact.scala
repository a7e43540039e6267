package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions._

/** The reference's staging + fact models (SURVEY.md §2.2 P14-P18,
  * dbt_files/models/core/): type standardization, surrogate key, severity
  * classification, year/decade derivation. Pure narrow transforms — no
  * shuffle at all, so the stage scales linearly with input splits.
  */
object Fact {

  /** P14+P15+P16+P18 over orders: the fact_earthquake_data derivation
    * (reference fact_earthquake_data.sql:7-22, stg_earthquake.sql:31). */
  def factDerive(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      surrogateKey(col("o_orderstatus"), col("o_orderkey")).as("event_id"),
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      year(col("o_orderdate")).as("event_year"),
      getDecade(col("o_orderdate")).as("event_decade"),
      severity(col("o_totalprice"), priceSeverityThresholds).as("severity"),
      col("o_totalprice").as("totalprice"))

  /** P3 — epoch-ms → timestamp round trip on events
    * (reference clean_historical.py:27-28). Output stringified for exact
    * oracle compare; the milliseconds column is the bigint ground truth. */
  def epochRoundtrip(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        unix_timestamp(toSecond(col("ts"))).as("epoch_sec"))
      .withColumn("epoch_ms", col("epoch_sec") * 1000)
      .withColumn("ts_restored",
        epochMsToTs(col("epoch_ms")).cast("string"))
      .drop("epoch_sec")
      .orderBy("event_id")

  /** P2-P8 clean spine on events: project, synthesize a nullable
    * depth-like column, range-filter magnitude analog + timestamp window,
    * null-fill (reference clean_historical.py:27-50). The nullable column
    * is derived deterministically (props' "k" under 20 → null) so the
    * na.fill(0) path (P8) is observable in the oracle. */
  def cleanEventsQuery(s: SparkSession, d: String): DataFrame = {
    import graft.clean.Clean._
    val ev = Tables.events(s, d)
      .withColumn("k",
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      .withColumn("depth", when(col("k") < 20, null).otherwise(col("k")))
      .withColumn("ts_sec", toSecond(col("ts")))
    ev.filter(rangeFilter(col("value"), 0.5, 450.0))
      .filter(tsBetween(col("ts_sec"), "2024-01-01 00:00:00", "2024-12-31 00:00:00"))
      .na.fill(0, Seq("depth"))
      .select(
        col("event_id"),
        col("ts_sec").cast("string").as("ts_s"),
        col("event_type"),
        col("value"),
        col("depth"))
      .orderBy("event_id")
  }

  /** D1 — deterministic dedup-by-key via aggregation (min survivor), the
    * oracle-checkable analog of `dropDuplicates(subset)`
    * (reference clean_historical.py:48). */
  def dedupMin(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(
        min(col("event_id")).as("survivor_id"),
        count(lit(1)).as("n_dupes"))
      .orderBy("user_id", "event_type")

  /** U1 — UNION ALL of two homogeneous slices
    * (reference stg_earthquake.sql:19-22). unionByName, not positional. */
  def unionAll(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select("event_id", "event_type", "value")
    ev.filter(col("value") > 400)
      .unionByName(ev.filter(col("event_type") === "signup"))
      .orderBy("event_id", "value")
  }

  /** U2 — EXCEPT / INTERSECT (distinct set semantics, completing the
    * §2.8 set-operation surface beside UNION ALL): high-value events
    * split by whether they are signups, both results tagged in one
    * frame. Catalyst plans both as aggregated joins (left-anti /
    * left-semi + distinct) — keyed shuffles, no materialized
    * distinct-before-join. */
  def exceptIntersect(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // value > 50, not u1's 400: the sf0.001 smoke fixture has no
    // events above 400, and both legs here derive from this filter
    val high = ev.filter(col("value") > 50).select("event_id")
    val signup = ev.filter(col("event_type") === "signup").select("event_id")
    high.except(signup).select(lit("except").as("op"), col("event_id"))
      .unionByName(
        high.intersect(signup).select(lit("intersect").as("op"), col("event_id")))
      .orderBy("op", "event_id")
  }

  val exceptIntersectOracle: String =
    """SELECT 'except' AS op, event_id FROM (
      |  SELECT event_id FROM events WHERE value > 50
      |  EXCEPT
      |  SELECT event_id FROM events WHERE event_type = 'signup')
      |UNION ALL
      |SELECT 'intersect' AS op, event_id FROM (
      |  SELECT event_id FROM events WHERE value > 50
      |  INTERSECT
      |  SELECT event_id FROM events WHERE event_type = 'signup')
      |ORDER BY op, event_id""".stripMargin

  /** u3 — unpivot/melt (wide→long reshape): the four lineitem money
    * columns become (metric, cents) rows, then a per-(flag, metric)
    * profile. Spark plans `unpivot` as ONE Expand over a single scan —
    * never four scans like the naive UNION ALL — and the immediate
    * aggregation collapses the 4× intermediate to a 12-row result with
    * map-side partials, so the reshape costs one pass at any SF. */
  def unpivotMetrics(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        cents(col("l_quantity")).as("qty"),
        cents(col("l_extendedprice")).as("price"),
        cents(col("l_discount")).as("discount"),
        cents(col("l_tax")).as("tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("discount"), col("tax")),
        "metric", "cents")
      .groupBy("l_returnflag", "metric")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("l_returnflag", "metric")

  val unpivotMetricsOracle: String =
    """WITH m AS (
      |  SELECT l_returnflag, 'qty' AS metric,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS cents FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'price',
      |         CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'discount',
      |         CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'tax',
      |         CAST(round(l_tax * 100) AS BIGINT) FROM lineitem)
      |SELECT l_returnflag, metric, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       min(cents) AS min_cents, max(cents) AS max_cents
      |FROM m GROUP BY l_returnflag, metric
      |ORDER BY l_returnflag, metric""".stripMargin

  /** p19 — typed JSON column extraction (the semi-structured projection
    * every event pipeline runs on a properties payload): `from_json`
    * with an EXPLICIT schema — the typed, codegen-friendly parser, not
    * a per-row regex or a schema-inference pass (inference would be a
    * second full scan at 100 TB) — then a plain grouped aggregate over
    * the extracted field. Malformed payloads surface as NULLs (from_json
    * is PERMISSIVE), so the aggregate is total, never failing the scan.
    * The event_type null-group is filtered like a7's to keep the
    * grouped output total-ordered. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"),
        // BIGINT, not INT: a payload k past 2^31-1 would null out in
        // PERMISSIVE mode while the oracle's BIGINT cast parses it
        from_json(col("props"), "k BIGINT", Map.empty[String, String])
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** The oracle parses the same payload with a regex extract (DuckDB's
    * JSON functions live in an extension; the regex keeps the oracle
    * dependency-free) — agreement also pins that the typed parse
    * extracts exactly the literal the payload carries. */
  val jsonExtractOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |         TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |  FROM events WHERE event_type IS NOT NULL)
      |SELECT event_type, count(*) AS n, count(k) AS n_parsed,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       min(k) AS min_k, max(k) AS max_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin
}
