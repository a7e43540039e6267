package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions

/** Privacy-risk auditing — the release-gate checks a dataset passes
  * before leaving the warehouse: k-anonymity (no quasi-identifier
  * combination isolates fewer than k people) and l-diversity (each
  * combination spans at least l distinct sensitive values). Both are
  * plain keyed aggregations — one shuffle on the QI tuple with
  * map-side partials, the same shape as any rollup — so the audit
  * costs one aggregation pass at any scale, and the distinct-count
  * rides the same exchange as a keyed partial dedup.
  */
object Privacy {

  /** Exact integer FLOOR division (DuckDB `//` semantics) for a
    * positive constant divisor: `a − pmod(a,b)` is exactly divisible
    * by `b`, so the truncating integral `div` equals the floor — long
    * arithmetic throughout, exact for every numerator above
    * Long.MinValue + b (below that, the `a − pmod` step underflows;
    * no band arithmetic here operates within b of the long floor).
    * Spark's `/` is double division and `div` truncates toward zero;
    * both agree with the oracle's `//` only for nonnegative
    * numerators, which held for TPC-H balances (≥ −999.99 before the
    * +1000.00 shift) but was a silent cross-engine divergence for any
    * balance ≤ −1000.00. */
  private[graft] def floorDiv(a: Column, b: Long): Column = {
    require(b > 0, s"floorDiv divisor must be positive, got $b")
    call_function("div", a - pmod(a, lit(b)), lit(b))
  }

  /** priv1 — k-anonymity / l-diversity audit: QI = (market segment,
    * nation), sensitive attribute = the account-balance band (integer
    * cents shifted nonnegative, then 1000-currency-unit integer bands
    * so both engines bucket identically; the band is a FLOOR division
    * so the parity holds even off the shifted-nonnegative domain).
    * Emits the per-group support, distinct sensitive bands, and 0/1
    * flags against k=5 / l=3 — integer flags, not booleans, to keep
    * the compare engine-neutral. */
  def kAnonymityAudit(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val sens = floorDiv(Functions.cents(col("c_acctbal")) + 100000L, 100000L)
    Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_mktsegment").as("segment"), col("nation"),
        sens.as("sens_bucket"))
      .groupBy("segment", "nation")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("sens_bucket")).as("n_sensitive"))
      .withColumn("k_anon_ok", when(col("n") >= 5L, 1L).otherwise(0L))
      .withColumn("l_div_ok", when(col("n_sensitive") >= 3L, 1L).otherwise(0L))
      .orderBy("segment", "nation")
  }

  val kAnonymityAuditOracle: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment, n.n_name AS nation,
      |         (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
      |           AS sens_bucket
      |  FROM customer LEFT JOIN nation n ON c_nationkey = n_nationkey)
      |SELECT segment, nation, count(*) AS n,
      |       count(DISTINCT sens_bucket) AS n_sensitive,
      |       CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS BIGINT)
      |         AS k_anon_ok,
      |       CAST(CASE WHEN count(DISTINCT sens_bucket) >= 3 THEN 1 ELSE 0 END
      |         AS BIGINT) AS l_div_ok
      |FROM c GROUP BY segment, nation ORDER BY segment, nation""".stripMargin

  /** priv2 — k-anonymity GENERALIZATION LADDER: the release planner's
    * follow-up to priv1's yes/no audit. Four widening quasi-identifier
    * generalizations of the same (segment, nation, balance-band) QI —
    * band width 1k → 5k → 25k currency units → band dropped — each
    * scored for k=10 anonymity: how many QI groups exist, how many
    * violate, and how many rows would need suppression if released at
    * that level (Σn over groups with n < k), with the suppression rate
    * in exact basis points. The planner picks the first level whose
    * suppression cost is acceptable — Mondrian-style generalization
    * reduced to a fixed ladder, which is what a release checklist
    * actually runs. The joined base materializes ONCE (localCheckpoint,
    * the a29/dq7 fork rule); each rung is one keyed aggregation over
    * it, output is 4 rows. Bands use [[floorDiv]] (exact `//` parity
    * on the full domain), priv1's idiom. */
  def generalizationLadder(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    generalizationLadderOf(
      Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"),
          "left")
        .select(col("c_mktsegment").as("segment"), col("nation"),
          (Functions.cents(col("c_acctbal")) + 100000L).as("shifted")))
  }

  /** [[generalizationLadder]] over an explicit (segment, nation,
    * shifted-cents) frame. */
  private[graft] def generalizationLadderOf(qi: DataFrame): DataFrame = {
    val base = graft.ops.Materialize(qi,
      "priv2_base")
    val rungs = Seq(0L -> Some(100000L), 1L -> Some(500000L),
      2L -> Some(2500000L), 3L -> None)
    rungs.map { case (level, width) =>
      val banded = width match {
        case Some(w) => base.withColumn("band", floorDiv(col("shifted"), w))
        case None => base.withColumn("band", lit(0L))
      }
      banded.groupBy("segment", "nation", "band")
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 10L, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n") < 10L, col("n")).otherwise(0L))
            .as("suppressed_rows"),
          sum(col("n")).as("total_rows"))
        .select(lit(level).as("level"), col("n_groups"), col("n_violating"),
          col("suppressed_rows"), col("total_rows"))
    }.reduce(_ unionAll _)
      .withColumn("suppression_bp",
        expr("(10000 * suppressed_rows) div total_rows"))
      .orderBy("level")
  }

  val generalizationLadderOracle: String = {
    def rung(level: Int, bandSql: String): String =
      s"""SELECT CAST($level AS BIGINT) AS level, count(*) AS n_groups,
         |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
         |    AS suppressed_rows,
         |  CAST(sum(n) AS BIGINT) AS total_rows
         |FROM (SELECT segment, nation, $bandSql AS band, count(*) AS n
         |      FROM c GROUP BY 1, 2, 3)""".stripMargin
    s"""WITH c AS (
       |  SELECT c_mktsegment AS segment, n.n_name AS nation,
       |         CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS shifted
       |  FROM customer LEFT JOIN nation n ON c_nationkey = n_nationkey),
       |rungs AS (
       |${rung(0, "shifted // 100000")}
       |UNION ALL
       |${rung(1, "shifted // 500000")}
       |UNION ALL
       |${rung(2, "shifted // 2500000")}
       |UNION ALL
       |${rung(3, "0")})
       |SELECT level, n_groups, n_violating, suppressed_rows, total_rows,
       |       (10000 * suppressed_rows) // total_rows AS suppression_bp
       |FROM rungs ORDER BY level""".stripMargin
  }

  /** priv3 — t-CLOSENESS audit, the distributional upgrade of priv1's
    * l-diversity flag: a group can span ≥l distinct sensitive values
    * and still leak (e.g. 99% of one value where the population is
    * uniform). Per QI group g, the total-variation distance between
    * the group's sensitive-band distribution and the GLOBAL one:
    * TVD(g) = ½·Σ_v |c_gv/n_g − C_v/N|, computed EXACTLY by clearing
    * both divisions — tvd_num = Σ_v |c_gv·N − C_v·n_g| over the full
    * value domain (missing (g,v) cells contribute |0 − C_v·n_g|), with
    * the per-mille presentation one integer division by 2·n_g·N.
    * Released iff TVD ≤ t = 0.2 (tvd_pm ≤ 200).
    *
    * Shape: ONE corpus aggregation to (QI, band) cells; the group
    * totals, band totals and grand total are RE-aggregations of that
    * cell table (never a second scan — the tx32 pool-counts rule); the
    * dense (group × band) grid is a cross join of two AUDIT-BOUNDED
    * dims (#QI groups × #bands — census cells, not corpus rows), so it
    * broadcasts at any corpus scale. Overflow envelope: each product
    * |c_gv·N| ≤ n_g·N ≤ N² and the per-group sum ≤ 2·n_g·N ≤ 2N², so
    * LONG math is exact only through N ≈ 2.1e9 — the products and sum
    * therefore compute in decimal(38,0) (the q1b discipline), exact
    * through N ≈ 7e18, i.e. any long-countable corpus. The per-mille
    * division runs on the decimals (IntegralDivide → bigint; the
    * quotient ≤ 1000 always fits, and its 1000× numerator keeps
    * 38-digit exactness through N ≈ 2e17); the bigint `tvd_num` presentation
    * column raises LOUDLY if the exact decimal ever exceeds bigint
    * (N > ≈2.1e9 with a maximally-concentrated group) rather than
    * wrapping or nulling. Nation joins INNER (complete FK catalog) so
    * the grid's equi-join never meets a NULL key, where SQL and Spark
    * null semantics would diverge. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val sens = floorDiv(Functions.cents(col("c_acctbal")) + 100000L, 100000L)
    tClosenessOf(
      Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_mktsegment").as("segment"), col("nation"),
          sens.as("band")))
  }

  /** [[tCloseness]] over an explicit (segment, nation, band) frame.
    * The cell table MATERIALIZES once (the priv2/tx32 fork rule):
    * groups, bands, grand total and the grid probe all read the
    * checkpoint — one corpus aggregation, not four scans. */
  private[graft] def tClosenessOf(qi: DataFrame): DataFrame =
    tClosenessFromCells(graft.ops.Materialize(
      qi.groupBy("segment", "nation", "band")
        .agg(count(lit(1)).as("c_gv")),
      "priv3_cells"))

  /** [[tCloseness]] from an already-aggregated (segment, nation, band,
    * c_gv) cell table — the arithmetic core, factored so the overflow
    * boundary (cell counts past long-product exactness) is testable
    * without materializing billions of rows. All products and the
    * per-group sum run in decimal(38,0); see [[tCloseness]]'s envelope
    * note. */
  private[graft] def tClosenessFromCells(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val groups = cells.groupBy("segment", "nation")
      .agg(sum(col("c_gv")).as("n_g"))
    val bands = cells.groupBy("band").agg(sum(col("c_gv")).as("c_v"))
    val total = cells.agg(sum(col("c_gv")).as("n_tot"))
    groups
      .crossJoin(broadcast(bands))
      .join(cells, Seq("segment", "nation", "band"), "left")
      .na.fill(0L, Seq("c_gv"))
      .crossJoin(broadcast(total))
      .groupBy(col("segment"), col("nation"), col("n_g"), col("n_tot"))
      .agg(sum(abs(col("c_gv").cast(dec) * col("n_tot") -
        col("c_v").cast(dec) * col("n_g"))).as("tvd_dec"))
      .select(col("segment"), col("nation"), col("n_g").as("n"),
        // bigint presentation: loud failure past bigint, never a
        // silent wrap (long math) or null (unchecked decimal cast)
        when(col("tvd_dec") <= lit(Long.MaxValue).cast(dec),
          col("tvd_dec").cast("long"))
          .otherwise(raise_error(lit(
            "priv3: tvd_num exceeds bigint; read tvd_pm (exact)")))
          .as("tvd_num"),
        call_function("div", col("tvd_dec") * lit(1000),
          col("n_g").cast(dec) * col("n_tot") * lit(2)).as("tvd_pm"))
      .withColumn("t_close_ok",
        when(col("tvd_pm") <= 200L, 1L).otherwise(0L))
      .orderBy("segment", "nation")
  }

  val tClosenessOracle: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment, n.n_name AS nation,
      |         (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
      |           AS band
      |  FROM customer JOIN nation n ON c_nationkey = n_nationkey),
      |gv AS (SELECT segment, nation, band, count(*) AS c_gv
      |       FROM c GROUP BY 1, 2, 3),
      |g AS (SELECT segment, nation, CAST(sum(c_gv) AS BIGINT) AS n_g
      |      FROM gv GROUP BY 1, 2),
      |v AS (SELECT band, CAST(sum(c_gv) AS BIGINT) AS c_v
      |      FROM gv GROUP BY 1),
      |nt AS (SELECT CAST(sum(c_gv) AS BIGINT) AS n_tot FROM gv),
      |grid AS (
      |  SELECT g.segment, g.nation, g.n_g, v.band, v.c_v,
      |         CAST(coalesce(gv.c_gv, 0) AS BIGINT) AS c_gv
      |  FROM g CROSS JOIN v
      |  LEFT JOIN gv ON gv.segment = g.segment AND gv.nation = g.nation
      |              AND gv.band = v.band)
      |SELECT segment, nation, n_g AS n,
      |  CAST(sum(abs(c_gv * n_tot - c_v * n_g)) AS BIGINT) AS tvd_num,
      |  (1000 * CAST(sum(abs(c_gv * n_tot - c_v * n_g)) AS BIGINT))
      |    // (2 * n_g * n_tot) AS tvd_pm,
      |  CAST(CASE WHEN (1000 * CAST(sum(abs(c_gv * n_tot - c_v * n_g))
      |         AS BIGINT)) // (2 * n_g * n_tot) <= 200
      |       THEN 1 ELSE 0 END AS BIGINT) AS t_close_ok
      |FROM grid, nt
      |GROUP BY segment, nation, n_g, n_tot
      |ORDER BY segment, nation""".stripMargin
}
