package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions

/** Model-evaluation operators — the scoring surface a training-data
  * pipeline needs once a model exists: confusion matrices, per-class
  * precision/recall/F1, exact ROC AUC, and calibration (reliability)
  * tables. The reference pipeline stops at curation; these close the
  * loop from curated data to measured model quality, at the same
  * determinism bar as the rest of the engine (exact integer counts,
  * one-shot IEEE divisions both engines compute identically).
  *
  * The "model" under evaluation is a deterministic synthetic scorer —
  * the true class is the integer-cents severity bucket of `value`, the
  * predicted score perturbs those cents by a stable md5-derived offset
  * (the same md5-60 twin the split/sampling operators use), so every
  * metric is reproducible cross-engine without shipping a real model.
  *
  * Scale notes: every operator here is one or two hash aggregations on
  * bounded key domains (class labels, score cents, bins). The AUC
  * window runs over the per-(slice, score) AGGREGATE — state bounded
  * by the score domain (|cents| ≤ 50k here), never the row count, so
  * the rank pass is a small partitioned sort even at 100 TB of events.
  */
object Eval {

  /** Severity-class bucketing on integer cents (crit/high/med/low). */
  private def bucketCents(cents: Column): Column =
    when(cents >= 40000L, "crit")
      .when(cents >= 25000L, "high")
      .when(cents >= 10000L, "med")
      .otherwise("low")

  /** Deterministic "model score" noise: stable signed md5 offset in
    * [-10000, 10000] keyed by event_id (seed 11); the score is the true
    * cents plus this. */
  private def scoreNoise(idCol: Column): Column =
    pmod(Functions.md5Hash60(idCol.cast("string"), 11), lit(20001L)) - lit(10000L)

  private def scored(s: SparkSession, d: String): DataFrame = {
    val cents = Functions.cents(col("value"))
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        cents.as("cents"),
        (cents + scoreNoise(col("event_id"))).as("pred_cents"))
  }

  private val scoredSql: String =
    """SELECT event_id, user_id, event_type,
      |       CAST(round(value * 100) AS BIGINT) AS cents,
      |       CAST(round(value * 100) AS BIGINT)
      |         + ('0x' || substr(md5('11' || ':' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 20001
      |         - 10000 AS pred_cents
      |FROM events WHERE value IS NOT NULL""".stripMargin

  private val bucketSql: String => String = c =>
    s"CASE WHEN $c >= 40000 THEN 'crit' WHEN $c >= 25000 THEN 'high' " +
      s"WHEN $c >= 10000 THEN 'med' ELSE 'low' END"

  /** clf1 — multi-class confusion matrix: (actual, predicted, n) cells.
    * One hash aggregation on a ≤16-cell key domain; map-side partials
    * reduce each executor's contribution to at most 16 rows, so the
    * shuffle is O(executors), not O(rows) — the right shape at any SF. */
  def confusionMatrix(s: SparkSession, d: String): DataFrame =
    scored(s, d)
      .select(bucketCents(col("cents")).as("actual"),
        bucketCents(col("pred_cents")).as("predicted"))
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("actual", "predicted")

  val confusionMatrixOracle: String =
    s"""WITH t AS ($scoredSql)
       |SELECT ${bucketSql("cents")} AS actual,
       |       ${bucketSql("pred_cents")} AS predicted,
       |       count(*) AS n
       |FROM t GROUP BY actual, predicted ORDER BY actual, predicted""".stripMargin

  /** clf2 — per-class precision/recall/F1 from the confusion cells: two
    * aggregations of the (tiny) cell table joined on class, tp/fp/fn as
    * exact integers, each metric ONE division (F1 in its 2tp/(2tp+fp+fn)
    * single-division form so no composed rounding). Classes missing on
    * one axis surface with 0s via the full outer join, not silently. */
  def classMetrics(s: SparkSession, d: String): DataFrame = {
    val cells = scored(s, d)
      .select(bucketCents(col("cents")).as("actual"),
        bucketCents(col("pred_cents")).as("predicted"))
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n"))
    val byActual = cells.groupBy(col("actual").as("cls"))
      .agg(sum(when(col("predicted") === col("actual"), col("n")).otherwise(0L)).as("tp_a"),
        sum(col("n")).as("actual_n"))
    val byPred = cells.groupBy(col("predicted").as("cls"))
      .agg(sum(when(col("predicted") === col("actual"), col("n")).otherwise(0L)).as("tp_p"),
        sum(col("n")).as("predicted_n"))
    byActual.join(byPred, Seq("cls"), "full_outer")
      .select(
        col("cls"),
        coalesce(col("tp_a"), col("tp_p"), lit(0L)).as("tp"),
        (coalesce(col("predicted_n"), lit(0L)) - coalesce(col("tp_p"), lit(0L))).as("fp"),
        (coalesce(col("actual_n"), lit(0L)) - coalesce(col("tp_a"), lit(0L))).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null)).otherwise(col("tp") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(null)).otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") === 0L, lit(null))
          .otherwise(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))))
      .orderBy("cls")
  }

  val classMetricsOracle: String =
    s"""WITH t AS ($scoredSql),
       |cells AS (
       |  SELECT ${bucketSql("cents")} AS actual,
       |         ${bucketSql("pred_cents")} AS predicted,
       |         count(*) AS n
       |  FROM t GROUP BY actual, predicted),
       |a AS (SELECT actual AS cls,
       |             CAST(sum(CASE WHEN predicted = actual THEN n ELSE 0 END) AS BIGINT) AS tp_a,
       |             CAST(sum(n) AS BIGINT) AS actual_n
       |      FROM cells GROUP BY cls),
       |p AS (SELECT predicted AS cls,
       |             CAST(sum(CASE WHEN predicted = actual THEN n ELSE 0 END) AS BIGINT) AS tp_p,
       |             CAST(sum(n) AS BIGINT) AS predicted_n
       |      FROM cells GROUP BY cls),
       |m AS (
       |  SELECT coalesce(a.cls, p.cls) AS cls,
       |         coalesce(tp_a, tp_p, 0) AS tp,
       |         coalesce(predicted_n, 0) - coalesce(tp_p, 0) AS fp,
       |         coalesce(actual_n, 0) - coalesce(tp_a, 0) AS fn
       |  FROM a FULL OUTER JOIN p ON a.cls = p.cls)
       |SELECT cls, tp, fp, fn,
       |       CASE WHEN tp + fp = 0 THEN NULL ELSE tp / (tp + fp) END AS precision,
       |       CASE WHEN tp + fn = 0 THEN NULL ELSE tp / (tp + fn) END AS recall,
       |       CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
       |            ELSE tp * 2 / (tp * 2 + fp + fn) END AS f1
       |FROM m ORDER BY cls""".stripMargin

  /** Ordinal index of the severity classes for the weighted kappa's
    * linear disagreement weights |i − j|. */
  private def clsIdx(c: Column): Column =
    when(c === "crit", 3L).when(c === "high", 2L)
      .when(c === "med", 1L).otherwise(0L)

  private val clsIdxSql: String => String = c =>
    s"CASE WHEN $c = 'crit' THEN 3 WHEN $c = 'high' THEN 2 " +
      s"WHEN $c = 'med' THEN 1 ELSE 0 END"

  /** clf3 — Cohen's kappa and linear-weighted kappa per evaluation
    * slice (event_type): chance-corrected agreement between the true
    * and predicted severity class. Everything reduces over the
    * ≤16-cell confusion table per slice, so after the one corpus
    * aggregation the whole computation is O(slices·classes²).
    * Denominators are CLEARED so each statistic is one division of
    * two exact longs:
    *   kappa   = (n·diag − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c)
    *   kappa_w = (wdis_e − n·wdis_o) / wdis_e
    * with wdis_o = Σ_ij |i−j|·n_ij and wdis_e = Σ_ij |i−j|·row_i·col_j
    * (linear weights over the ordinal class index). Exact-long
    * envelope: n² ≤ 2⁶³ needs n ≤ 3.0e9 rows per slice — the Pricing
    * wide-accumulator precedent applies beyond that. Slices where the
    * denominator is 0 (all mass in one marginal cell) emit NULL kappa
    * rather than a fabricated 0. */
  def cohensKappa(s: SparkSession, d: String): DataFrame =
    cohensKappaOfLabeled(scored(s, d)
      .select(col("event_type").as("slice"),
        bucketCents(col("cents")).as("actual"),
        bucketCents(col("pred_cents")).as("predicted")))

  /** [[cohensKappa]] over an explicit (slice, actual, predicted)
    * frame. */
  private[graft] def cohensKappaOfLabeled(labeled: DataFrame): DataFrame = {
    val cells = labeled
      .groupBy("slice", "actual", "predicted")
      .agg(count(lit(1)).as("n"))
    val base = Materialize(cells, "clf3_cells")
    val totals = base.groupBy("slice")
      .agg(sum(col("n")).as("n_total"),
        sum(when(col("actual") === col("predicted"), col("n"))
          .otherwise(0L)).as("diag"),
        sum(abs(clsIdx(col("actual")) - clsIdx(col("predicted"))) * col("n"))
          .as("wdis_o"))
    val rowMarg = base.groupBy(col("slice").as("rslice"),
        col("actual").as("rcls"))
      .agg(sum(col("n")).as("row_n"))
    val colMarg = base.groupBy(col("slice").as("cslice"),
        col("predicted").as("ccls"))
      .agg(sum(col("n")).as("col_n"))
    val marg = rowMarg.join(colMarg, col("rslice") === col("cslice"))
      .groupBy(col("rslice").as("slice"))
      .agg(sum(when(col("rcls") === col("ccls"),
          col("row_n") * col("col_n")).otherwise(0L)).as("sum_marg"),
        sum(abs(clsIdx(col("rcls")) - clsIdx(col("ccls"))) *
          col("row_n") * col("col_n")).as("wdis_e"))
    totals.join(marg, Seq("slice"))
      .select(col("slice"), col("n_total"), col("diag"), col("sum_marg"),
        col("wdis_o"), col("wdis_e"),
        when(col("n_total") * col("n_total") - col("sum_marg") === 0L,
          lit(null).cast("double"))
          .otherwise((col("n_total") * col("diag") - col("sum_marg"))
            .cast("double") /
            (col("n_total") * col("n_total") - col("sum_marg"))
              .cast("double")).as("kappa"),
        when(col("wdis_e") === 0L, lit(null).cast("double"))
          .otherwise((col("wdis_e") - col("n_total") * col("wdis_o"))
            .cast("double") / col("wdis_e").cast("double")).as("kappa_w"))
      .orderBy("slice")
  }

  val cohensKappaOracle: String =
    s"""WITH t AS ($scoredSql),
       |cells AS (
       |  SELECT event_type AS slice,
       |         ${bucketSql("cents")} AS actual,
       |         ${bucketSql("pred_cents")} AS predicted,
       |         count(*) AS n
       |  FROM t GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT slice, CAST(sum(n) AS BIGINT) AS n_total,
       |         CAST(sum(CASE WHEN actual = predicted THEN n ELSE 0 END)
       |           AS BIGINT) AS diag,
       |         CAST(sum(abs(${clsIdxSql("actual")}
       |             - ${clsIdxSql("predicted")}) * n) AS BIGINT) AS wdis_o
       |  FROM cells GROUP BY 1),
       |r AS (SELECT slice, actual AS cls, CAST(sum(n) AS BIGINT) AS row_n
       |      FROM cells GROUP BY 1, 2),
       |c AS (SELECT slice, predicted AS cls, CAST(sum(n) AS BIGINT) AS col_n
       |      FROM cells GROUP BY 1, 2),
       |marg AS (
       |  SELECT coalesce(r.slice, c.slice) AS slice,
       |         CAST(sum(CASE WHEN r.cls = c.cls THEN r.row_n * c.col_n
       |                       ELSE 0 END) AS BIGINT) AS sum_marg,
       |         CAST(sum(abs(${clsIdxSql("r.cls")} - ${clsIdxSql("c.cls")})
       |             * r.row_n * c.col_n) AS BIGINT) AS wdis_e
       |  FROM r JOIN c ON r.slice = c.slice
       |  GROUP BY 1)
       |SELECT slice, n_total, diag, sum_marg, wdis_o, wdis_e,
       |       CASE WHEN n_total * n_total - sum_marg = 0 THEN NULL
       |            ELSE CAST(n_total * diag - sum_marg AS DOUBLE)
       |                 / CAST(n_total * n_total - sum_marg AS DOUBLE) END
       |         AS kappa,
       |       CASE WHEN wdis_e = 0 THEN NULL
       |            ELSE CAST(wdis_e - n_total * wdis_o AS DOUBLE)
       |                 / CAST(wdis_e AS DOUBLE) END AS kappa_w
       |FROM tot JOIN marg USING (slice) ORDER BY slice""".stripMargin

  /** auc1 — EXACT tie-corrected ROC AUC per evaluation slice, via the
    * grouped-rank (Mann-Whitney U) identity instead of a global sort:
    * aggregate to (slice, score) → (pos, neg) counts, one partitioned
    * running sum of negatives strictly below, then
    * 2U = Σ pos_s · (2·neg_below_s + neg_s)  (ties count half), and
    * AUC = 2U / (2·P·N) as the single division. The window input is the
    * per-score aggregate — bounded by the score DOMAIN, not the row
    * count — so no 100-TB single-task sort exists anywhere in the plan.
    * The label is event_type ∈ {purchase, signup}; the score is the raw
    * integer cents (a weak scorer by construction — the point is the
    * exact machinery, spec-pinned against brute-force pair counting). */
  def rocAucSlices(s: SparkSession, d: String): DataFrame =
    aucOf(scored(s, d)
      .select((col("user_id") % 4).cast("int").as("slice"),
        col("cents").as("score"),
        when(col("event_type").isin("purchase", "signup"), 1L).otherwise(0L).as("is_pos")))

  /** Exact AUC over a (slice, score, is_pos) frame — the grouped-rank
    * core [[rocAucSlices]] wires to events; spec-pinned equal to
    * brute-force pair counting (ties at half weight) on fixtures. */
  def aucOf(labeled: DataFrame): DataFrame = {
    val byScore = labeled
      .groupBy("slice", "score")
      .agg(sum(col("is_pos")).as("p"),
        (count(lit(1)) - sum(col("is_pos"))).as("q"))
    val w = Window.partitionBy("slice").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum(col("q")).over(w), lit(0L)))
      .groupBy("slice")
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("p") * (col("neg_below") * 2 + col("q"))).as("u2"))
      .withColumn("auc",
        when(col("n_pos") * col("n_neg") === 0L, lit(null))
          .otherwise(col("u2") / (col("n_pos") * col("n_neg") * 2)))
      .orderBy("slice")
  }

  val rocAucSlicesOracle: String =
    s"""WITH t AS ($scoredSql),
       |by_score AS (
       |  SELECT CAST(user_id % 4 AS INT) AS slice, cents AS score,
       |         CAST(sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |         count(*) - CAST(sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT) AS q
       |  FROM t GROUP BY slice, score),
       |run AS (
       |  SELECT slice, score, p, q,
       |         coalesce(CAST(sum(q) OVER (PARTITION BY slice ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
       |  FROM by_score)
       |SELECT slice, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(q) AS BIGINT) AS n_neg,
       |       CAST(sum(p * (neg_below * 2 + q)) AS BIGINT) AS u2,
       |       CASE WHEN CAST(sum(p) AS BIGINT) * CAST(sum(q) AS BIGINT) = 0 THEN NULL
       |            ELSE CAST(sum(p * (neg_below * 2 + q)) AS BIGINT)
       |                 / (CAST(sum(p) AS BIGINT) * CAST(sum(q) AS BIGINT) * 2) END AS auc
       |FROM run GROUP BY slice ORDER BY slice""".stripMargin

  /** pr1 — precision/recall CURVE table per evaluation slice, the
    * threshold-sweep companion to auc1's scalar: thresholds quantize
    * to 100-cent (dollar) buckets so the table stays O(slices × 500)
    * at any corpus size, and at each threshold the curve point is
    * exact — cumulative positives/rows above the cut as exact longs
    * (one descending running sum over the per-bucket AGGREGATE, the
    * auc1 scale posture), precision and recall each ONE division.
    * A scalar average precision would sum per-row fractions (float
    * ordering trap); the table form is what anyone plots anyway and
    * every cell hash-matches. */
  def prCurveSlices(s: SparkSession, d: String): DataFrame =
    prCurveOf(scored(s, d)
      .select((col("user_id") % 4).cast("int").as("slice"),
        // both engines' integer division truncates toward zero, so the
        // raw div is already cross-engine exact on negative pred_cents
        expr("pred_cents div 100").as("bucket"),
        when(col("event_type").isin("purchase", "signup"), 1L)
          .otherwise(0L).as("is_pos")))

  /** [[prCurveSlices]] over an explicit (slice, bucket, is_pos)
    * frame. */
  def prCurveOf(labeled: DataFrame): DataFrame = {
    val byBucket = labeled
      .groupBy("slice", "bucket")
      .agg(sum(col("is_pos")).as("p"), count(lit(1)).as("n"))
    val w = Window.partitionBy("slice").orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("slice")
    byBucket
      .withColumn("cum_pos", sum(col("p")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("total_pos", sum(col("p")).over(wAll))
      .select(col("slice"), col("bucket").as("threshold"),
        col("cum_pos"), col("cum_n"), col("total_pos"),
        (col("cum_pos").cast("double") / col("cum_n").cast("double"))
          .as("precision"),
        when(col("total_pos") === 0L, lit(null).cast("double"))
          .otherwise(col("cum_pos").cast("double") /
            col("total_pos").cast("double")).as("recall"))
      .orderBy("slice", "threshold")
  }

  val prCurveSlicesOracle: String =
    s"""WITH t AS ($scoredSql),
       |bb AS (
       |  SELECT CAST(user_id % 4 AS INT) AS slice,
       |         pred_cents // 100 AS bucket,
       |         CAST(sum(CASE WHEN event_type IN ('purchase', 'signup')
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |         count(*) AS n
       |  FROM t GROUP BY 1, 2),
       |run AS (
       |  SELECT slice, bucket, p, n,
       |    CAST(sum(p) OVER (PARTITION BY slice ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_pos,
       |    CAST(sum(n) OVER (PARTITION BY slice ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_n,
       |    CAST(sum(p) OVER (PARTITION BY slice) AS BIGINT) AS total_pos
       |  FROM bb)
       |SELECT slice, CAST(bucket AS BIGINT) AS threshold,
       |       cum_pos, cum_n, total_pos,
       |       CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE) AS precision,
       |       CASE WHEN total_pos = 0 THEN NULL
       |            ELSE CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE)
       |       END AS recall
       |FROM run ORDER BY slice, threshold""".stripMargin

  /** cal1 — calibration (reliability) table: the predicted score binned
    * into 10 fixed 5000-cent bins (clamped at the ends), per bin the
    * exact support, positive count, observed positive rate, and mean
    * score — the table a reliability diagram plots. One hash aggregation
    * on a 10-value key; both rate and mean are single divisions. */
  def calibrationBins(s: SparkSession, d: String): DataFrame = {
    val clamped = greatest(least(col("pred_cents"), lit(49999L)), lit(0L))
    scored(s, d)
      .select((clamped / 5000L).cast("long").as("bin"),
        col("pred_cents"),
        when(col("event_type").isin("purchase", "signup"), 1L).otherwise(0L).as("is_pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("is_pos")).as("n_pos"),
        sum(col("pred_cents")).as("sum_pred_cents"))
      .withColumn("pos_rate", col("n_pos") / col("n"))
      .withColumn("mean_pred", col("sum_pred_cents") / col("n") / 100.0)
      .orderBy("bin")
  }

  val calibrationBinsOracle: String =
    s"""WITH t AS ($scoredSql),
       |b AS (
       |  SELECT CAST(floor(greatest(least(pred_cents, 49999), 0) / 5000) AS BIGINT) AS bin,
       |         pred_cents,
       |         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS is_pos
       |  FROM t)
       |SELECT bin, count(*) AS n, CAST(sum(is_pos) AS BIGINT) AS n_pos,
       |       CAST(sum(pred_cents) AS BIGINT) AS sum_pred_cents,
       |       CAST(sum(is_pos) AS BIGINT) / count(*) AS pos_rate,
       |       CAST(sum(pred_cents) AS BIGINT) / count(*) / 100.0 AS mean_pred
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** cal2 — Murphy decomposition of the Brier score over cal1's bins:
    * brier (total error of the probability forecast p = clamped
    * pred/50000 against the positive label), uncertainty (the
    * no-skill floor ō(1−ō)), reliability (calibration error the cal1
    * table shows per bin, aggregated), resolution (how far bin
    * outcome rates move from the base rate — the SHARPNESS credit),
    * and the two within-bin terms continuous-forecast binning adds —
    * forecast variance and forecast–outcome covariance — closing the
    * generalized identity brier = reliability − resolution +
    * uncertainty + wbv − 2·wbc exactly (the classic 3-part identity
    * assumes every forecast in a bin is EQUAL; binned continuous
    * forecasts are not, and the spec pins the full identity on real
    * data). This answers what cal1 alone cannot: a
    * model can look calibrated and still be worthless (resolution ≈
    * 0) — the decomposition separates the two.
    *
    * Determinism: the Brier numerator Σ(c − y·D)² and the no-skill
    * numerator P(N−P) are exact longs; each bin's rel/res/wbv term is
    * one fixed double tree over exact per-bin longs; and the ≤10 bin
    * terms are summed by an explicit lambda fold over the bin-sorted
    * collected array (the dq2 rule — never a bare double sum, whose
    * tree the optimizer may rebalance and whose aggregation order a
    * shuffle may vary). Shape: one global + one 10-bin aggregation,
    * both partial-aggregable; the fold runs over ≤10 elements on one
    * row. */
  def brierDecomposition(s: SparkSession, d: String): DataFrame =
    brierDecompositionOf(scored(s, d))

  /** [[brierDecomposition]] over an explicit (event_type, pred_cents)
    * frame. */
  def brierDecompositionOf(sc0: DataFrame): DataFrame = {
    val d = lit(50000L)
    val sc = sc0.select(
      greatest(least(col("pred_cents"), lit(49999L)), lit(0L)).as("c"),
      when(col("event_type").isin("purchase", "signup"), 1L)
        .otherwise(0L).as("y"))
    val glob = sc.agg(count(lit(1)).as("n"), sum(col("y")).as("p"),
      sum((col("c") - col("y") * d) * (col("c") - col("y") * d))
        .as("brier_num"))
    val bins = sc.groupBy((col("c") / 5000L).cast("long").as("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("y")).as("pk"),
        sum(col("c")).as("sk"), sum(col("c") * col("c")).as("ssk"),
        sum(col("c") * col("y")).as("spy"))
    val fk = col("sk").cast("double") /
      (col("nk").cast("double") * lit(50000.0d))
    val ok = col("pk").cast("double") / col("nk").cast("double")
    val obar = col("p").cast("double") / col("n").cast("double")
    val relk = col("nk").cast("double") * ((fk - ok) * (fk - ok))
    val resk = col("nk").cast("double") * ((ok - obar) * (ok - obar))
    val wbvk = col("ssk").cast("double") / lit(2500000000.0d) -
      col("nk").cast("double") * (fk * fk)
    val covk = col("spy").cast("double") / lit(50000.0d) -
      fk * col("pk").cast("double") -
      ok * (col("sk").cast("double") / lit(50000.0d)) +
      col("nk").cast("double") * (fk * ok)
    val folded = bins.crossJoin(broadcast(glob))
      .select(col("n"), col("p"), col("brier_num"),
        struct(col("bin"), relk.as("rel"), resk.as("res"),
          wbvk.as("wbv"), covk.as("cov")).as("t"))
      .groupBy("n", "p", "brier_num")
      .agg(sort_array(collect_list(col("t"))).as("ts"))
    def fold(field: String) =
      aggregate(col("ts"), lit(0.0d), (acc, x) => acc + x.getField(field))
    val nD = col("n").cast("double")
    folded.select(col("n"), col("p").as("n_pos"),
      (col("brier_num").cast("double") / (nD * lit(2500000000.0d)))
        .as("brier"),
      ((col("p") * (col("n") - col("p"))).cast("double") / (nD * nD))
        .as("uncertainty"),
      (fold("rel") / nD).as("reliability"),
      (fold("res") / nD).as("resolution"),
      (fold("wbv") / nD).as("within_bin_var"),
      (fold("cov") / nD).as("within_bin_cov"))
  }

  val brierDecompositionOracle: String = {
    val fk = "(CAST(sk AS DOUBLE) / (CAST(nk AS DOUBLE) * 50000.0e0))"
    val ok = "(CAST(pk AS DOUBLE) / CAST(nk AS DOUBLE))"
    val obar = "(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH t AS ($scoredSql),
       |b0 AS (
       |  SELECT greatest(least(pred_cents, 49999), 0) AS c,
       |         CASE WHEN event_type IN ('purchase', 'signup')
       |              THEN 1 ELSE 0 END AS y
       |  FROM t),
       |g AS (
       |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS p,
       |         CAST(sum((c - y * 50000) * (c - y * 50000)) AS BIGINT)
       |           AS brier_num
       |  FROM b0),
       |bins AS (
       |  SELECT c // 5000 AS bin, count(*) AS nk,
       |         CAST(sum(y) AS BIGINT) AS pk, CAST(sum(c) AS BIGINT) AS sk,
       |         CAST(sum(c * c) AS BIGINT) AS ssk,
       |         CAST(sum(c * y) AS BIGINT) AS spy
       |  FROM b0 GROUP BY 1),
       |terms AS (
       |  SELECT bin,
       |    CAST(nk AS DOUBLE) * (($fk - $ok) * ($fk - $ok)) AS rel,
       |    CAST(nk AS DOUBLE) * (($ok - $obar) * ($ok - $obar)) AS res,
       |    CAST(ssk AS DOUBLE) / 2500000000.0e0
       |      - CAST(nk AS DOUBLE) * ($fk * $fk) AS wbv,
       |    CAST(spy AS DOUBLE) / 50000.0e0
       |      - $fk * CAST(pk AS DOUBLE)
       |      - $ok * (CAST(sk AS DOUBLE) / 50000.0e0)
       |      + CAST(nk AS DOUBLE) * ($fk * $ok) AS cov
       |  FROM bins CROSS JOIN g),
       |f AS (
       |  SELECT
       |    list_reduce([0.0e0] || list(rel ORDER BY bin), (a, x) -> a + x)
       |      AS rels,
       |    list_reduce([0.0e0] || list(res ORDER BY bin), (a, x) -> a + x)
       |      AS ress,
       |    list_reduce([0.0e0] || list(wbv ORDER BY bin), (a, x) -> a + x)
       |      AS wbvs,
       |    list_reduce([0.0e0] || list(cov ORDER BY bin), (a, x) -> a + x)
       |      AS covs
       |  FROM terms)
       |SELECT n, p AS n_pos,
       |  CAST(brier_num AS DOUBLE) / (CAST(n AS DOUBLE) * 2500000000.0e0)
       |    AS brier,
       |  CAST(p * (n - p) AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS uncertainty,
       |  rels / CAST(n AS DOUBLE) AS reliability,
       |  ress / CAST(n AS DOUBLE) AS resolution,
       |  wbvs / CAST(n AS DOUBLE) AS within_bin_var,
       |  covs / CAST(n AS DOUBLE) AS within_bin_cov
       |FROM g CROSS JOIN f""".stripMargin
  }

  /** Fixed-point NDCG position weights: W(i) = round(1e6 / log2(i+1))
    * for ranks 1..10, precomputed once as integer literals so BOTH
    * engines sum exact longs instead of accumulating log2 doubles in
    * engine-dependent order (the dq2 rule applied to ranking). The
    * metric is "micro-NDCG@10" — identical ordering behavior to the
    * textbook 1/log2(i+1) discount at 1e-6 granularity. */
  private val NdcgW = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** Cumulative ideal-DCG micro-weights: CW(k) = W(1)+…+W(k). */
  private val NdcgCW = NdcgW.scanLeft(0L)(_ + _).tail

  /** Fixed-point reciprocal ranks: R(i) = round(1e6 / i), ranks 1..10. */
  private val MrrR = Seq(1000000L, 500000L, 333333L, 250000L,
    200000L, 166667L, 142857L, 125000L, 111111L, 100000L)

  /** rank1 — per-user ranking metrics over the scored events, the
    * recommender/retrieval face of model eval: each user's events
    * ranked by predicted score (ties broken by event_id — total order,
    * run-invariant), relevance = the positive event types. Emits the
    * NDCG@10 decile histogram (per-user NDCG bucketed by EXACT integer
    * division — no per-user double survives aggregation) alongside
    * micro-NDCG@10 (Σ user DCG / Σ user ideal DCG, exact long
    * numerators, ONE division) and MRR@10 (Σ fixed-point reciprocal
    * first-hit ranks / users·1e6, ONE division). Users with no
    * positive anywhere have undefined NDCG and are excluded (counted
    * out, not silently).
    *
    * Scale shape: one shuffle by user_id + per-user window sort (the
    * canonical distributed ranking shape — per-partition state is one
    * user's event list), then a hash aggregation onto an 11-key bucket
    * domain whose global sums ride a single-partition window over ≤11
    * rows. No driver-side loop, no unbounded double accumulation. */
  def rankingMetrics(s: SparkSession, d: String): DataFrame =
    rankingMetricsOf(scored(s, d))

  /** [[rankingMetrics]] over an explicit (user_id, event_id,
    * event_type, pred_cents) frame. */
  def rankingMetricsOf(sc0: DataFrame): DataFrame = {
    val sc = sc0.select(col("user_id"), col("event_id"),
      col("pred_cents"),
      when(col("event_type").isin("purchase", "signup"), 1L)
        .otherwise(0L).as("y"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(desc("pred_cents"), col("event_id"))
    val wcase = (2 to 10).foldLeft(
        when(col("i") === 1, NdcgW(0))) { (acc, i) =>
      acc.when(col("i") === i, NdcgW(i - 1)) }.otherwise(0L)
    val perUser = sc.withColumn("i", row_number().over(byUser))
      .groupBy("user_id")
      .agg(sum(col("y") * wcase).as("dcg"),
        sum(col("y")).as("npos"),
        min(when(col("y") === 1L && col("i") <= 10, col("i")))
          .as("first_hit"))
      .filter(col("npos") >= 1L)
    val idcg = (1 to 9).foldLeft(
        when(col("npos") >= 10L, NdcgCW(9))) { (acc, k) =>
      acc.when(col("npos") === k, NdcgCW(k - 1)) }
    val rr = (1 to 10).foldLeft(lit(0L)) { (acc, i) =>
      when(col("first_hit") === i, MrrR(i - 1)).otherwise(acc) }
    val buckets = perUser
      .select(col("dcg"), idcg.as("idcg"), rr.as("rr"))
      .select(((col("dcg") * 10L) / col("idcg")).cast("long")
          .as("ndcg_decile"), col("dcg"), col("idcg"), col("rr"))
      .groupBy("ndcg_decile")
      .agg(count(lit(1)).as("n_users"), sum(col("dcg")).as("sd"),
        sum(col("idcg")).as("si"), sum(col("rr")).as("sr"))
    val all = Window.orderBy("ndcg_decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    buckets.select(col("ndcg_decile"), col("n_users"),
        sum(col("n_users")).over(all).as("total_users"),
        sum(col("sd")).over(all).as("tsd"),
        sum(col("si")).over(all).as("tsi"),
        sum(col("sr")).over(all).as("tsr"))
      .select(col("ndcg_decile"), col("n_users"), col("total_users"),
        (col("tsd").cast("double") / col("tsi").cast("double"))
          .as("micro_ndcg10"),
        (col("tsr").cast("double") /
          (col("total_users") * 1000000L).cast("double")).as("mrr10"))
      .orderBy("ndcg_decile")
  }

  val rankingMetricsOracle: String = {
    val wcase = (1 to 10).map(i =>
      s"WHEN ${i} THEN ${NdcgW(i - 1)}").mkString(" ")
    val icase = (1 to 9).map(k =>
      s"WHEN npos = ${k} THEN ${NdcgCW(k - 1)}").mkString(" ")
    val rcase = (1 to 10).map(i =>
      s"WHEN ${i} THEN ${MrrR(i - 1)}").mkString(" ")
    s"""WITH t AS ($scoredSql),
       |r AS (
       |  SELECT user_id, event_id,
       |         CASE WHEN event_type IN ('purchase', 'signup')
       |              THEN 1 ELSE 0 END AS y,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY pred_cents DESC, event_id) AS i
       |  FROM t),
       |u AS (
       |  SELECT user_id,
       |    CAST(sum(y * CASE i $wcase ELSE 0 END) AS BIGINT) AS dcg,
       |    CAST(sum(y) AS BIGINT) AS npos,
       |    min(CASE WHEN y = 1 AND i <= 10 THEN i END) AS first_hit
       |  FROM r GROUP BY user_id HAVING sum(y) >= 1),
       |pu AS (
       |  SELECT dcg,
       |    CASE WHEN npos >= 10 THEN ${NdcgCW(9)} $icase END AS idcg,
       |    coalesce(CASE first_hit $rcase END, 0) AS rr
       |  FROM u),
       |b AS (
       |  SELECT (dcg * 10) // idcg AS ndcg_decile,
       |         count(*) AS n_users, CAST(sum(dcg) AS BIGINT) AS sd,
       |         CAST(sum(idcg) AS BIGINT) AS si,
       |         CAST(sum(rr) AS BIGINT) AS sr
       |  FROM pu GROUP BY 1)
       |SELECT ndcg_decile, n_users,
       |  CAST(sum(n_users) OVER () AS BIGINT) AS total_users,
       |  CAST(sum(sd) OVER () AS DOUBLE) / CAST(sum(si) OVER () AS DOUBLE)
       |    AS micro_ndcg10,
       |  CAST(sum(sr) OVER () AS DOUBLE)
       |    / CAST(sum(n_users) OVER () * 1000000 AS DOUBLE) AS mrr10
       |FROM b ORDER BY ndcg_decile""".stripMargin
  }

  /** lift1 — cumulative gains / lift table over cal1's fixed score
    * bands, walked from the highest band down: what fraction of all
    * positives a campaign capturing only the top-k score bands gets
    * (gain), and how much better that is than random targeting
    * (lift). cal1 answers "are the probabilities honest"; this answers
    * "how efficiently does the score RANK" — the two quality axes of a
    * scoring model, and lift1 is readable straight off bounded exact
    * counters.
    *
    * Fixed-width bands (not rank deciles) keep the table exactly
    * deterministic: every per-band and cumulative quantity is an exact
    * long, and gain/lift are evaluated as the identical IEEE division
    * tree in both engines (lift as a ratio of two single-division
    * rates, so no long-product overflow at any corpus size — cum_pos·n
    * products would overflow int64 near 1e12 rows). Shape: one
    * bounded-key aggregation + a single-partition window over ≤10
    * rows. */
  def gainsTable(s: SparkSession, d: String): DataFrame =
    gainsTableOf(scored(s, d))

  /** [[gainsTable]] over an explicit (event_type, pred_cents) frame. */
  def gainsTableOf(sc0: DataFrame): DataFrame = {
    val sc = sc0.select(
      greatest(least(col("pred_cents"), lit(49999L)), lit(0L)).as("c"),
      when(col("event_type").isin("purchase", "signup"), 1L)
        .otherwise(0L).as("y"))
    val bins = sc.groupBy((col("c") / 5000L).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("y")).as("pos_bin"))
    val down = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins.select(col("bin"), col("n_bin"), col("pos_bin"),
        sum(col("n_bin")).over(down).as("cum_n"),
        sum(col("pos_bin")).over(down).as("cum_pos"),
        sum(col("n_bin")).over(all).as("n"),
        sum(col("pos_bin")).over(all).as("p"))
      .select(col("bin"), col("n_bin"), col("pos_bin"), col("cum_n"),
        col("cum_pos"),
        (col("cum_pos").cast("double") / col("p").cast("double"))
          .as("gain"),
        ((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("p").cast("double") / col("n").cast("double")))
          .as("lift"))
      .orderBy(desc("bin"))
  }

  val gainsTableOracle: String =
    s"""WITH t AS ($scoredSql),
       |b0 AS (
       |  SELECT greatest(least(pred_cents, 49999), 0) AS c,
       |         CASE WHEN event_type IN ('purchase', 'signup')
       |              THEN 1 ELSE 0 END AS y
       |  FROM t),
       |bins AS (
       |  SELECT c // 5000 AS bin, count(*) AS n_bin,
       |         CAST(sum(y) AS BIGINT) AS pos_bin
       |  FROM b0 GROUP BY 1),
       |cum AS (
       |  SELECT bin, n_bin, pos_bin,
       |    CAST(sum(n_bin) OVER (ORDER BY bin DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
       |    CAST(sum(pos_bin) OVER (ORDER BY bin DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
       |    CAST(sum(n_bin) OVER () AS BIGINT) AS n,
       |    CAST(sum(pos_bin) OVER () AS BIGINT) AS p
       |  FROM bins)
       |SELECT bin, n_bin, pos_bin, cum_n, cum_pos,
       |  CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE) AS gain,
       |  (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
       |    / (CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) AS lift
       |FROM cum ORDER BY bin DESC""".stripMargin

  /** cal3 — Expected / Maximum Calibration Error over cal1's ten fixed
    * bins: ECE = Σ_b (n_b/N)·|obs_b − conf_b| — the single number the
    * cal1 reliability table is usually collapsed to, and the
    * ship/no-ship gate next to cal2's decomposition. The key identity
    * makes it EXACT: with confidence the clamped pred/50000, each
    * bin's weighted gap (n_b/N)·|pos_b/n_b − Σc_b/(50000·n_b)| clears
    * to |50000·pos_b − Σc_b| / (50000·N), so the global ECE numerator
    * Σ_b |50000·pos_b − Σc_b| is ONE exact long sum — no float
    * accumulation, no lambda fold needed (the stronger form of the
    * dq2 rule: clear denominators until the sum is integral). ECE and
    * the per-bin gaps are then single divisions; MCE is a max over
    * per-bin fixed doubles (order-independent).
    *
    * Shape: one 10-key hash aggregation + a 1-row broadcast — the
    * same cost class as cal1 itself. */
  def calibrationError(s: SparkSession, d: String): DataFrame =
    calibrationErrorOf(scored(s, d))

  /** [[calibrationError]] over an explicit (event_type, pred_cents)
    * frame. */
  def calibrationErrorOf(sc0: DataFrame): DataFrame = {
    val sc = sc0.select(
      greatest(least(col("pred_cents"), lit(49999L)), lit(0L)).as("c"),
      when(col("event_type").isin("purchase", "signup"), 1L)
        .otherwise(0L).as("y"))
    // ≤10-row bin table feeds the ECE/MCE rollup and the output —
    // materialize once or both forks rescan the scored events
    val bins = Materialize(sc
      .groupBy(expr("c div 5000").as("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("y")).as("pos_bin"),
        sum(col("c")).as("sum_c"))
      .withColumn("gap_num",
        abs(lit(50000L) * col("pos_bin") - col("sum_c")))
      .withColumn("bin_gap",
        col("gap_num").cast("double") /
          (lit(50000d) * col("n_bin").cast("double"))),
      "cal_bins")
    val tot = bins.agg(sum(col("n_bin")).as("n"),
      sum(col("gap_num")).as("ece_num"),
      max(col("bin_gap")).as("mce"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_bin"), col("pos_bin"), col("sum_c"),
        col("gap_num"), col("bin_gap"),
        (col("ece_num").cast("double") /
          (lit(50000d) * col("n").cast("double"))).as("ece"),
        col("mce"))
      .orderBy("bin")
  }

  val calibrationErrorOracle: String =
    s"""WITH t AS ($scoredSql),
       |b0 AS (
       |  SELECT greatest(least(pred_cents, 49999), 0) AS c,
       |         CASE WHEN event_type IN ('purchase', 'signup')
       |              THEN 1 ELSE 0 END AS y
       |  FROM t),
       |bins AS (
       |  SELECT c // 5000 AS bin, count(*) AS n_bin,
       |         CAST(sum(y) AS BIGINT) AS pos_bin,
       |         CAST(sum(c) AS BIGINT) AS sum_c
       |  FROM b0 GROUP BY 1),
       |g AS (
       |  SELECT bin, n_bin, pos_bin, sum_c,
       |         abs(50000 * pos_bin - sum_c) AS gap_num,
       |         CAST(abs(50000 * pos_bin - sum_c) AS DOUBLE)
       |           / (50000.0e0 * CAST(n_bin AS DOUBLE)) AS bin_gap
       |  FROM bins),
       |tot AS (
       |  SELECT CAST(sum(n_bin) AS BIGINT) AS n,
       |         CAST(sum(gap_num) AS BIGINT) AS ece_num,
       |         max(bin_gap) AS mce
       |  FROM g)
       |SELECT bin, n_bin, pos_bin, sum_c, gap_num, bin_gap,
       |  CAST(ece_num AS DOUBLE) / (50000.0e0 * CAST(n AS DOUBLE)) AS ece,
       |  mce
       |FROM g CROSS JOIN tot
       |ORDER BY bin""".stripMargin
}
