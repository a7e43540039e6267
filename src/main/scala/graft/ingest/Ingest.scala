package graft.ingest

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functions.toSecond

/** Ingest-side operators (SURVEY.md §2.1 S2/S3).
  */
object Ingest {

  /** S2 — adaptive extraction-window planner
    * (reference pipeline/extract_historical.py:24-73): split [start, end]
    * into windows each holding ≤ `limit` rows according to `countFn`.
    * Growth schedule mirrors the reference: probe 15 days, double until
    * the count exceeds the limit, then use the last fitting width; snap
    * to `end` when within 30 days; era shortcuts jump the sparse early
    * centuries in single windows. This is partition planning — the exact
    * role of `planInputPartitions` in a DataSourceV2 scan.
    */
  def planWindows(
      start: LocalDate,
      end: LocalDate,
      countFn: (LocalDate, LocalDate) => Long,
      limit: Long = 20000,
      eraShortcuts: Seq[LocalDate] = Seq(
        LocalDate.of(1949, 1, 1), LocalDate.of(1965, 1, 1)),
      initialDays: Long = 15,
      snapDays: Long = 30): Seq[(LocalDate, LocalDate)] = {

    def grow(s: LocalDate, days: Long): LocalDate = {
      val candidate = s.plusDays(days * 2)
      if (candidate.isAfter(end)) end
      else if (countFn(s, candidate) > limit) s.plusDays(days)
      else grow(s, days * 2)
    }

    val buf = scala.collection.mutable.ListBuffer.empty[(LocalDate, LocalDate)]
    var cur = start
    while (!cur.isAfter(end)) {
      val shortcut = eraShortcuts.find(e =>
        cur.isBefore(e) && !e.isAfter(end) && countFn(cur, e.minusDays(1)) <= limit)
      val next = shortcut match {
        case Some(e) => e.minusDays(1)
        case None =>
          if (java.time.temporal.ChronoUnit.DAYS.between(cur, end) <= snapDays) end
          else grow(cur, initialDays)
      }
      // overflow guard: halve until the window fits; bottoms out at a
      // single-day window [cur, cur] (progress is forced even when one
      // day alone exceeds the limit, like the reference's skip-ahead)
      var hi = next
      while (countFn(cur, hi) > limit && hi.isAfter(cur)) {
        hi = cur.plusDays(
          java.time.temporal.ChronoUnit.DAYS.between(cur, hi) / 2)
      }
      buf += ((cur, hi))
      cur = hi.plusDays(1)
    }
    buf.toList
  }

  /** Schema of a USGS-style GeoJSON feature
    * (reference extract_historical.py:86-101). */
  val featureSchema: StructType = StructType(Seq(
    StructField("properties", StructType(Seq(
      StructField("place", StringType),
      StructField("time", LongType),
      StructField("mag", DoubleType),
      StructField("alert", StringType),
      StructField("tsunami", IntegerType),
      StructField("tz", StringType),
      StructField("type", StringType)))),
    StructField("geometry", StructType(Seq(
      StructField("coordinates", ArrayType(DoubleType)))))))

  /** S3 — GeoJSON feature flattening: project the 10 ingest fields, with
    * the reference's (lon,lat,depth) → lat/lon/depth reorder
    * (extract_historical.py:90-101). Malformed rows (unparseable JSON)
    * yield nulls, mirroring the reference's per-entry try/except skip —
    * callers drop them with a single isNotNull filter. */
  /** S3 driver query — the full GeoJSON scan/flatten path against the
    * oracle: feature strings are synthesized DETERMINISTICALLY from the
    * events table (integer-only JSON values, so both engines render
    * identical text; one row in 97 is malformed to exercise the
    * null-on-unparseable path), then parsed through the real
    * [[flattenFeatures]] from_json pipeline, including the reference's
    * (lon,lat,depth) coordinate reorder. NULL event fields null the
    * whole string in both engines (|| / concat propagation), matching
    * the reference's per-entry skip. */
  def geojsonFlattenQuery(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val sec = toSecond(col("ts")).cast("long")
    val json = concat(
      lit("{\"properties\":{\"place\":\"p-"), col("event_id").cast("string"),
      lit("\",\"time\":"), (sec * 1000).cast("string"),
      lit(",\"mag\":"), round(col("value") * 100).cast("long").cast("string"),
      lit(",\"alert\":\""), col("event_type"),
      lit("\",\"tsunami\":"), (col("user_id") % 2).cast("string"),
      lit(",\"tz\":\"+00:00\",\"type\":\"synthetic\"},\"geometry\":{\"coordinates\":["),
      (col("user_id") % 360).cast("string"), lit(","),
      (col("event_id") % 180).cast("string"), lit(","),
      (col("user_id") % 700).cast("string"), lit("]}}"))
    // sort the RAW rows by a precomputed copy of the place key, then
    // parse: a global orderBy AFTER the parse makes the range
    // partitioner's sampling pass re-execute the synthesis+parse
    // subtree a second time (measured ~1.25 s of the query's 2 s at
    // sf0.1); sorting first samples only the cheap synthesis, and the
    // post-sort flatten is a narrow projection that preserves the
    // global order. The key must be null EXACTLY when the parsed place
    // is null — malformed rows, and rows whose JSON concat nulls out
    // via a null event field (e.g. null event_type): keying those by
    // event_id would sort their all-null outputs among the named
    // places instead of with the nulls. `json.isNull` mirrors the
    // concat's null propagation precisely.
    val raw = ev.select(
      when(col("event_id") % 97 === 0, lit("{malformed"))
        .otherwise(json).as("json"),
      when(col("event_id") % 97 === 0 || json.isNull, lit(null: String))
        .otherwise(concat(lit("p-"), col("event_id").cast("string")))
        .as("__place_key"))
    flattenFeatures(raw.orderBy(col("__place_key")), "json")
  }

  val geojsonFlattenOracle: String =
    """WITH raw AS (
      |  SELECT CASE WHEN event_id % 97 = 0 THEN '{malformed'
      |    ELSE '{"properties":{"place":"p-' || event_id
      |      || '","time":' || CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1000
      |      || ',"mag":' || CAST(round(value * 100) AS BIGINT)
      |      || ',"alert":"' || event_type
      |      || '","tsunami":' || (user_id % 2)
      |      || ',"tz":"+00:00","type":"synthetic"},"geometry":{"coordinates":['
      |      || (user_id % 360) || ',' || (event_id % 180) || ',' || (user_id % 700)
      |      || ']}}'
      |    END AS j
      |  FROM events),
      |p AS (SELECT try_cast(j AS JSON) AS js FROM raw)
      |SELECT json_extract_string(js, '$.properties.place') AS place,
      |       CAST(json_extract(js, '$.properties.time') AS BIGINT) AS time,
      |       CAST(json_extract(js, '$.properties.mag') AS DOUBLE) AS magnitude,
      |       CAST(json_extract(js, '$.geometry.coordinates[1]') AS DOUBLE) AS latitude,
      |       CAST(json_extract(js, '$.geometry.coordinates[0]') AS DOUBLE) AS longitude,
      |       CAST(json_extract(js, '$.geometry.coordinates[2]') AS DOUBLE) AS depth,
      |       json_extract_string(js, '$.properties.alert') AS alert,
      |       CAST(json_extract(js, '$.properties.tsunami') AS INT) AS tsunami,
      |       json_extract_string(js, '$.properties.tz') AS tz,
      |       json_extract_string(js, '$.properties.type') AS type
      |FROM p ORDER BY place""".stripMargin

  def flattenFeatures(raw: DataFrame, jsonCol: String): DataFrame = {
    // parse ONCE into a struct, then project fields from it. Inlining
    // the parse into every output column reads nicer but is a 10×
    // parse: schema pruning rewrites each from_json(...).getField into
    // its own pruned-schema parse, and once the schemas differ codegen
    // subexpression elimination can no longer merge them (measured 10
    // from_json instances in the plan and 2.8 s vs 0.9 s at sf0.1).
    // The two projections survive as two because CollapseProject does
    // not inline a non-cheap alias with multiple references.
    val f = col("__feature")
    raw.select(from_json(col(jsonCol), featureSchema).as("__feature"))
      .select(
        f.getField("properties").getField("place").as("place"),
        f.getField("properties").getField("time").as("time"),
        f.getField("properties").getField("mag").as("magnitude"),
        element_at(f.getField("geometry").getField("coordinates"), 2).as("latitude"),
        element_at(f.getField("geometry").getField("coordinates"), 1).as("longitude"),
        element_at(f.getField("geometry").getField("coordinates"), 3).as("depth"),
        f.getField("properties").getField("alert").as("alert"),
        f.getField("properties").getField("tsunami").as("tsunami"),
        f.getField("properties").getField("tz").as("tz"),
        f.getField("properties").getField("type").as("type"))
  }

  /** S1+S2+S3 end-to-end extraction shim (reference
    * pipeline/extract_historical.py:34-41,75): plan adaptive windows
    * with [[planWindows]], pull each window's raw GeoJSON feature
    * strings through the PLUGGABLE `fetch` function, and flatten every
    * feature through the real [[flattenFeatures]] pipeline. In
    * production `fetch` is a thin HTTP GET against the public USGS
    * FDSN query endpoint (one request per planned window, exactly the
    * reference's requests.get loop — rate-limited driver-side IO, the
    * same place the reference does it); in tests it is fixture-backed,
    * which keeps the planner→fetch→flatten contract fully exercised
    * with zero egress. The per-window fetch stays on the driver because
    * the window COUNT is the planner's output (tens to hundreds), while
    * the per-feature parse is distributed: features are spread
    * round-robin across the cluster before the from_json projection.
    * Returns the flattened 10-column frame plus the originating
    * window_start/window_end (ISO dates) for lineage/idempotent
    * re-extraction. */
  def extractHistorical(
      s: org.apache.spark.sql.SparkSession,
      start: LocalDate,
      end: LocalDate,
      countFn: (LocalDate, LocalDate) => Long,
      fetch: (LocalDate, LocalDate) => Seq[String],
      limit: Long = 20000): DataFrame = {
    import s.implicits._
    val windows = planWindows(start, end, countFn, limit)
    val raw = windows.flatMap { case (a, b) =>
      fetch(a, b).map(feature => (a.toString, b.toString, feature))
    }
    val rawDf = raw.toDF("window_start", "window_end", "json")
      .repartition(graft.ops.Materialize.partitions(s))
    flattenFeaturesWith(rawDf, "json",
      Seq(col("window_start"), col("window_end")))
  }

  /** [[flattenFeatures]] variant that carries extra (cheap, already
    * materialized) columns through the parse projection. */
  private def flattenFeaturesWith(raw: DataFrame, jsonCol: String,
      extra: Seq[Column]): DataFrame = {
    val f = col("__feature")
    raw.select((extra :+
        from_json(col(jsonCol), featureSchema).as("__feature")): _*)
      .select(extra ++ Seq(
        f.getField("properties").getField("place").as("place"),
        f.getField("properties").getField("time").as("time"),
        f.getField("properties").getField("mag").as("magnitude"),
        element_at(f.getField("geometry").getField("coordinates"), 2).as("latitude"),
        element_at(f.getField("geometry").getField("coordinates"), 1).as("longitude"),
        element_at(f.getField("geometry").getField("coordinates"), 3).as("depth"),
        f.getField("properties").getField("alert").as("alert"),
        f.getField("properties").getField("tsunami").as("tsunami"),
        f.getField("properties").getField("tz").as("tz"),
        f.getField("properties").getField("type").as("type")): _*)
  }
}
