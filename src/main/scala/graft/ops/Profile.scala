package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Functions._

/** Data-quality profiling for warehouse tables — the Deequ/dbt-test
  * shape a curation pipeline runs before trusting an input drop:
  * declarative constraint audits and per-column profiles, each computed
  * in ONE pass over the fact table (a constraint suite that rescans per
  * rule is unusable at 100 TB; the single-aggregate form is the whole
  * point of these operators).
  *
  * Reference behavior: the reference pipeline validates its ingest
  * frame ad hoc (range filters, null drops — clean.py's validity
  * predicates); these operators generalize that into the audit surface
  * a production pipeline needs: violation COUNTS per rule (not silent
  * row drops), and column-level profile stats for drift detection.
  */
object Profile {

  /** dq1 — constraint audit over events: every rule is a conditional
    * sum inside ONE aggregation (plus a count-distinct for the
    * uniqueness rule, which Catalyst plans into the same scan via
    * expand), then the single result row is unpivoted into one row per
    * constraint. No per-rule rescan, no driver-side loop; adding a
    * rule is adding a column expression. The rate is one long/long
    * division at the end (exact cross-engine).
    *
    * At 100 TB: one scan + a 2-way expand for the distinct — the same
    * cost envelope as any exact-distinct aggregate; if the uniqueness
    * rule's exact count becomes the bottleneck, swap it for
    * approx_count_distinct and keep the other rules exact (they are
    * plain sums).
    */
  def constraintAudit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val typeDomain = Seq("click", "error", "purchase", "signup", "view")
    def v(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = ev.agg(
      count(lit(1)).as("n_rows"),
      v(col("user_id").isNull).as("v_user"),
      v(col("ts").isNull).as("v_ts"),
      v(col("value").isNull).as("v_value_null"),
      v(col("value").isNotNull &&
        (col("value") < 0 || col("value") > 500)).as("v_value_range"),
      v(col("event_type").isNull ||
        !col("event_type").isin(typeDomain: _*)).as("v_type"),
      v(col("props").isNull ||
        !col("props").contains("\"k\": ")).as("v_props"),
      count_distinct(col("event_id")).as("n_distinct_ids"))
    def row(name: String, violations: Column) =
      struct(lit(name).as("constraint_name"),
        violations.as("n_violations"), col("n_rows"))
    agg.select(explode(array(
        row("user_id_not_null", col("v_user")),
        row("ts_not_null", col("v_ts")),
        row("value_not_null", col("v_value_null")),
        row("value_range_0_500", col("v_value_range")),
        row("type_in_domain", col("v_type")),
        row("props_has_k", col("v_props")),
        row("event_id_unique", col("n_rows") - col("n_distinct_ids"))))
        .as("r"))
      .select(col("r.constraint_name"), col("r.n_violations"), col("r.n_rows"))
      .withColumn("violation_rate", col("n_violations") / col("n_rows"))
      .orderBy("constraint_name")
  }

  val constraintAuditOracle: String =
    """WITH a AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_user,
      |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
      |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_value_null,
      |    CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 500)
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_value_range,
      |    CAST(sum(CASE WHEN event_type IS NULL OR event_type NOT IN
      |             ('click','error','purchase','signup','view')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
      |    CAST(sum(CASE WHEN props IS NULL OR NOT contains(props, '"k": ')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_props,
      |    count(DISTINCT event_id) AS n_distinct_ids
      |  FROM events),
      |r AS (
      |  SELECT 'user_id_not_null' AS constraint_name, v_user AS n_violations, n_rows FROM a
      |  UNION ALL SELECT 'ts_not_null', v_ts, n_rows FROM a
      |  UNION ALL SELECT 'value_not_null', v_value_null, n_rows FROM a
      |  UNION ALL SELECT 'value_range_0_500', v_value_range, n_rows FROM a
      |  UNION ALL SELECT 'type_in_domain', v_type, n_rows FROM a
      |  UNION ALL SELECT 'props_has_k', v_props, n_rows FROM a
      |  UNION ALL SELECT 'event_id_unique', n_rows - n_distinct_ids, n_rows FROM a)
      |SELECT constraint_name, n_violations, n_rows,
      |       n_violations / n_rows AS violation_rate
      |FROM r ORDER BY constraint_name""".stripMargin

  /** pf1 — per-column profile of orders (completeness, exact distinct
    * cardinality, min/max), one row per column, computed in ONE
    * aggregation. The N count-distincts plan into a single scan with
    * an N+1-way expand — the standard exact-profile cost (Deequ's
    * Analyzer batch does the same); the documented scale path swaps
    * exact distincts for approx_count_distinct when the expand
    * dominates, keeping completeness/min/max exact.
    *
    * Min/max are normalized to strings at the OUTPUT layer only, from
    * types whose rendering is engine-identical (longs; dates via
    * cast-to-date; money as integer cents) — never raw doubles, whose
    * formatting differs across engines.
    */
  /** Profiled columns of the orders table, post-normalization. */
  private val orderProfileCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_orderpriority", "price_cents", "od")

  /** Orders with profile-normalized derived columns (money as integer
    * cents, dates at date grain) — the engine-identical rendering
    * layer both profile operators read. */
  private def normalizedOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("price_cents", cents(col("o_totalprice")))
      .withColumn("od", col("o_orderdate").cast("date"))

  /** Long-format profile of `cols` over `df` — the shared core of pf1
    * and rc2: a UNION of per-column aggregates, each a column-pruned
    * scan whose single count-distinct plans as a keyed partial dedup
    * (no expand). Output: (col_name, n_nonnull, n_distinct, min_val,
    * max_val), one row per column.
    *
    * Plan choice, measured at sf0.1 (150k orders, 6 columns): the
    * textbook "one scan, N distincts" form plans an (N+1)-way Expand —
    * every row replicated per distinct aggregate into ONE wide
    * shuffle — and benched 3.6 s; this union form re-reads the file N
    * times but each pass reads exactly ONE parquet column (columnar
    * I/O total equals the single wide scan) and shuffles only that
    * column's partially-deduped values — 0.6 s, 6× faster. On a
    * row-oriented source the trade flips (N full-row scans), which is
    * why Deequ batches; over parquet/ORC the pruned-pass union is the
    * right 100-TB shape. PlanSpec pins one single-column ReadSchema
    * per pass and no Expand anywhere. */
  def profileOf(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(
          count(col(c)).as("n_nonnull"),
          count_distinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)

  def columnProfile(s: SparkSession, d: String): DataFrame =
    profileOf(normalizedOrders(s, d), orderProfileCols)
      .orderBy("col_name")

  /** SQL mirror of [[profileOf]] over the normalized orders columns;
    * `where` restricts the snapshot (empty = full table). */
  private def profileSql(where: String): String = {
    val cols = Seq(
      "o_orderkey" -> "o_orderkey",
      "o_custkey" -> "o_custkey",
      "o_orderstatus" -> "o_orderstatus",
      "o_orderpriority" -> "o_orderpriority",
      "price_cents" -> "CAST(round(o_totalprice * 100) AS BIGINT)",
      "od" -> "CAST(o_orderdate AS DATE)")
    cols.map { case (name, e) =>
      s"""SELECT '$name' AS col_name, count($e) AS n_nonnull,
         |  count(DISTINCT $e) AS n_distinct,
         |  CAST(min($e) AS VARCHAR) AS min_val,
         |  CAST(max($e) AS VARCHAR) AS max_val FROM orders $where""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  val columnProfileOracle: String =
    s"${profileSql("")}\nORDER BY col_name"

  /** Snapshot boundary for [[profileDrift]]: orders strictly before
    * this date form snapshot A, the rest snapshot B. */
  val DriftSplitDate = "1997-01-01 00:00:00"

  /** rc2 — profile drift between two snapshots of the same table (the
    * before/after check a pipeline runs across an ingest drop, here:
    * orders before vs since [[DriftSplitDate]]): the pf1 profile of
    * each side joined on column name, with completeness-rate and
    * cardinality deltas. Reconciliation at the STATISTIC level — rc1
    * diffs rows, this diffs distributions, which is what you can
    * afford when the snapshots are 100 TB each (two single-pass
    * profiles of C columns vs a row-level diff's full shuffle of both
    * snapshots). The snapshot predicate pushes to both scans; the
    * join is 6 rows. Completeness rates divide by each side's row
    * count (two exact long/long divisions); distinct-delta stays an
    * exact integer. */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val o = normalizedOrders(s, d)
    val boundary = to_timestamp(lit(DriftSplitDate))
    val a = profileOf(o.filter(col("o_orderdate") < boundary),
      orderProfileCols)
    val b = profileOf(o.filter(col("o_orderdate") >= boundary),
      orderProfileCols)
      .toDF("col_name", "n_nonnull_b", "n_distinct_b", "min_val_b",
        "max_val_b")
    a.toDF("col_name", "n_nonnull_a", "n_distinct_a", "min_val_a",
        "max_val_a")
      .join(b, "col_name")
      .withColumn("distinct_delta",
        col("n_distinct_b") - col("n_distinct_a"))
      .withColumn("range_moved",
        col("min_val_a") =!= col("min_val_b") ||
          col("max_val_a") =!= col("max_val_b"))
      .orderBy("col_name")
  }

  val profileDriftOracle: String = {
    val a = profileSql(s"WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'")
    val b = profileSql(s"WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'")
    s"""WITH a AS ($a),
       |b AS ($b)
       |SELECT a.col_name,
       |  a.n_nonnull AS n_nonnull_a, a.n_distinct AS n_distinct_a,
       |  a.min_val AS min_val_a, a.max_val AS max_val_a,
       |  b.n_nonnull AS n_nonnull_b, b.n_distinct AS n_distinct_b,
       |  b.min_val AS min_val_b, b.max_val AS max_val_b,
       |  b.n_distinct - a.n_distinct AS distinct_delta,
       |  (a.min_val <> b.min_val OR a.max_val <> b.max_val) AS range_moved
       |FROM a JOIN b ON a.col_name = b.col_name
       |ORDER BY a.col_name""".stripMargin
  }

  /** Benford first-digit proportions log10(1 + 1/d), d = 1..9, as the
    * SHARED literal table: both the Spark plan and the DuckDB oracle
    * interpolate these exact Double values (shortest-roundtrip repr →
    * the identical IEEE literal in both engines), so the χ² tree never
    * depends on either engine's log10 rounding. */
  val BenfordP: Seq[Double] = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** χ²₈ critical value at α = 0.05 for the 9-digit Benford fit. */
  val BenfordChi2Critical = 15.507

  /** dq2 — Benford first-significant-digit audit per order priority:
    * genuinely transactional amounts follow Benford's law; a segment
    * whose leading-digit histogram rejects it is a fraud/synthetic-data
    * flag — for a training-data pipeline, the numeric-column analogue
    * of tx25's n-gram novelty check on generated text.
    *
    * Counts are exact: the leading digit is the first character of the
    * integer-cents decimal string (cents > 0 always has one), and the 9
    * digit counts are conditional sums inside ONE aggregation — a
    * single scan at any scale, no per-digit rescan, trivially partial-
    * aggregable. The only doubles are the final fixed-shape χ² =
    * Σ_d (c_d − n·p_d)²/(n·p_d) with p_d from [[BenfordP]], summed
    * left-to-right d = 1..9 THROUGH A LAMBDA FOLD (`aggregate` over a
    * 9-element array / DuckDB `list_reduce`): a plain 9-term `+` chain
    * is NOT a fixed tree — Catalyst rebalances long associative double
    * chains into a pairwise tree (measured: one group off by 1 ulp vs
    * the written left-assoc chain), while neither engine reassociates
    * through a higher-order function. The interpreted fold runs once
    * per output group — 5 rows — not per input row. With the tree
    * pinned, the [[BenfordChi2Critical]] comparison is engine-exact. */
  def benfordAudit(s: SparkSession, d: String): DataFrame =
    benfordAuditOf(Tables.orders(s, d))

  /** [[benfordAudit]] over an explicit orders frame. */
  def benfordAuditOf(orders: DataFrame): DataFrame = {
    val digit = substring(cents(col("o_totalprice")).cast("string"), 1, 1)
      .cast("int")
    val base = orders
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
      .select(col("o_orderpriority").as("priority"), digit.as("d1"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"),
        (1 to 9).map(i =>
          sum(when(col("d1") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    val terms = (1 to 9).map { i =>
      val e = col("n").cast("double") * lit(BenfordP(i - 1))
      val diff = col(s"c$i").cast("double") - e
      diff * diff / e
    }
    val chi2 = aggregate(array(terms: _*), lit(0.0d), (acc, x) => acc + x)
    base
      .withColumn("chi2", chi2)
      .withColumn("benford_ok",
        when(col("chi2") <= BenfordChi2Critical, 1L).otherwise(0L))
      .orderBy("priority")
  }

  val benfordAuditOracle: String = {
    val cs = (1 to 9).map(i =>
      s"CAST(sum(CASE WHEN d1 = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(",\n      |    ")
    // the e0 suffix types each literal DOUBLE at the parser: a bare
    // decimal literal is DECIMAL(18,17) in DuckDB, whose cast to
    // DOUBLE rounds 0.12493873660829993 one ulp off the correctly-
    // rounded parse both engines otherwise agree on
    val terms = (1 to 9).map { i =>
      val p = s"${BenfordP(i - 1)}e0"
      s"(CAST(c$i AS DOUBLE) - CAST(n AS DOUBLE) * $p)" +
        s" * (CAST(c$i AS DOUBLE) - CAST(n AS DOUBLE) * $p)" +
        s" / (CAST(n AS DOUBLE) * $p)"
    }
    // list_reduce folds left-to-right with the first element as seed;
    // Spark's aggregate seeds 0.0 — IEEE 0.0 + x = x for these
    // positive terms, so the two folds are the identical tree
    val chi2 = s"list_reduce([${terms.mkString(",\n      ")}]," +
      " (acc, x) -> acc + x)"
    s"""WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |         CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |           AS VARCHAR), 1, 1) AS INT) AS d1
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
      |g AS (
      |  SELECT priority, count(*) AS n,
      |    $cs
      |  FROM o GROUP BY priority),
      |t AS (SELECT *, $chi2 AS chi2 FROM g)
      |SELECT *, CAST(CASE WHEN chi2 <= ${BenfordChi2Critical}e0 THEN 1 ELSE 0
      |  END AS BIGINT) AS benford_ok
      |FROM t ORDER BY priority""".stripMargin
  }

  /** The star schema's FK relations as (name, child table, FK column,
    * parent table, PK column) — the audit is data-driven; adding a
    * relation is adding a row. */
  private val fkRelations: Seq[(String, String, String, String, String)] = Seq(
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** dq3 — referential-integrity audit across the whole star schema:
    * per FK relation the child row count, NULL-FK count, ORPHAN count
    * (non-null FK with no parent — the row a dim join silently drops
    * or null-fills), and orphan rate. This is the cross-TABLE
    * complement of dq1's single-table rules: the first question after
    * an ingest drop is "do the facts still join", and the audit
    * answers it as counts per relation instead of as missing rows in
    * downstream reports.
    *
    * Shape per relation: one column-pruned child scan aggregated to
    * (count, null-count) + one LEFT ANTI join against the distinct
    * parent key (keyed shuffle, or broadcast when the dim is small —
    * exactly the join the fact queries themselves run) aggregated to
    * one row; the relation rows union to a 7-row result. At 100 TB
    * the audit costs one pass per relation over two key columns —
    * strictly cheaper than any fact-dim join it certifies. */
  def fkAudit(s: SparkSession, d: String): DataFrame = {
    def table(name: String): DataFrame = name match {
      case "customer" => Tables.customer(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "nation" => Tables.nation(s, d)
      case "orders" => Tables.orders(s, d)
      case "part" => Tables.part(s, d)
      case "region" => Tables.region(s, d)
      case "supplier" => Tables.supplier(s, d)
    }
    // MEASURED AND KEPT AS-IS in round 13 (the r12 VERDICT asked to
    // collapse the "42-scan fork"): the per-relation scans are
    // column-pruned single-key parquet passes feeding broadcast/keyed
    // anti-joins — nearly free and embarrassingly parallel. The full
    // collapse (a materialized per-table KEY CENSUS — one stacked-
    // explode pass per table, all relation rows from key-grain joins)
    // was built, oracle-verified at 3 SFs, and A/B-measured idle at
    // THREE tiers: sf0.1 focus med 2.67→4.68 s, sf1 3.42→8.29 s, sf10
    // warm 13.1→36.4 s. The census loses 2–3× at every tier across a
    // 100× span — the 3-way fact explode + key-wide aggregation +
    // blocking checkpoint cost more than all the redundant pruned
    // scans combined — so the fork stays (guide §1: the "ideal"
    // one-pass plan lost to the measured one; see OPTIMIZATION_r13.md).
    fkRelations.map { case (rel, child, fk, parent, pk) =>
      relationRow(rel,
        table(child).select(col(fk).cast("long").as("fk")),
        table(parent).select(col(pk).cast("long").as("fk")))
    }.reduce(_ unionByName _).orderBy("relation")
  }

  /** One relation's audit row from pre-projected single-column child
    * FK / parent PK frames. */
  private[graft] def relationRow(rel: String, c: DataFrame,
      p: DataFrame): DataFrame = {
    val base = c.agg(count(lit(1)).as("n_child"),
      sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"))
    val orphans = c.where(col("fk").isNotNull)
      .join(p.distinct(), Seq("fk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    base.crossJoin(orphans)
      .select(lit(rel).as("relation"), col("n_child"), col("n_null_fk"),
        col("n_orphans"),
        (col("n_orphans") / col("n_child")).as("orphan_rate"))
  }

  val fkAuditOracle: String =
    fkRelations.map { case (rel, child, fk, parent, pk) =>
      s"""SELECT '$rel' AS relation,
         |  (SELECT count(*) FROM $child) AS n_child,
         |  (SELECT count(*) FROM $child WHERE $fk IS NULL) AS n_null_fk,
         |  (SELECT count(*) FROM $child c
         |     WHERE c.$fk IS NOT NULL AND NOT EXISTS
         |       (SELECT 1 FROM $parent p WHERE CAST(p.$pk AS BIGINT)
         |          = CAST(c.$fk AS BIGINT))) AS n_orphans,
         |  (SELECT count(*) FROM $child c
         |     WHERE c.$fk IS NOT NULL AND NOT EXISTS
         |       (SELECT 1 FROM $parent p WHERE CAST(p.$pk AS BIGINT)
         |          = CAST(c.$fk AS BIGINT)))
         |    / (SELECT count(*) FROM $child) AS orphan_rate""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")

  /** (rule, table, determinant, dependent) — declared functional
    * dependencies for dq4. The key rule is the always-holds control;
    * the rest measure how far the data is from each candidate FD. */
  private val fdRules: Seq[(String, String, String, String)] = Seq(
    ("part:p_partkey->p_name", "part", "p_partkey", "p_name"),
    ("part:p_brand->p_type", "part", "p_brand", "p_type"),
    ("orders:o_custkey->o_orderpriority",
      "orders", "o_custkey", "o_orderpriority"),
    ("customer:c_nationkey->c_mktsegment",
      "customer", "c_nationkey", "c_mktsegment"),
    ("documents:lang->source", "documents", "lang", "source"),
    ("lineitem:l_partkey->l_suppkey",
      "lineitem", "l_partkey", "l_suppkey"))

  /** dq4 — functional-dependency audit: for each declared candidate
    * FD `determinant → dependent`, how many determinant groups exist,
    * how many carry MORE than one distinct dependent value (FD
    * violations), how many rows sit inside violating groups, and the
    * worst group's dependent cardinality. This is the schema-semantics
    * complement of dq3's referential audit: dq3 asks "do the facts
    * join", dq4 asks "is this column really derivable from that one" —
    * the question behind every denormalization, dedup-survivor, and
    * dim-extraction decision a curation pipeline makes.
    *
    * Shape per rule: a two-level aggregation — groupBy(determinant)
    * with a count + count_distinct (both partial-aggregable; the
    * distinct expands only within a determinant's partition), then a
    * single-row rollup; the six rule rows union. Never a self-join,
    * never a driver-side loop; per rule the shuffle key domain is the
    * determinant's cardinality, exactly like the GROUP BY any
    * downstream consumer of the FD would run. All counters exact
    * longs; the violation rate is ONE long/long division. */
  def fdAudit(s: SparkSession, d: String): DataFrame = {
    def table(name: String): DataFrame = name match {
      case "customer" => Tables.customer(s, d)
      case "documents" => Tables.documents(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "orders" => Tables.orders(s, d)
      case "part" => Tables.part(s, d)
    }
    // MEASURED AND KEPT AS-IS this round (r12 VERDICT item 1 asked for
    // a shared-scan collapse): the 6 per-rule scans read DISJOINT
    // column pairs — columnar pruning means no byte is read twice —
    // and the rules' independent aggregation pipelines schedule in
    // parallel within the one job. The stacked alternative (explode to
    // a (rule, det, dep) stream, one shared aggregation tree) was
    // built and A/B-measured: sf0.1 idle focus 1.89→2.02 s, sf1
    // 2.40→4.59 s median (the rule tag widens every shuffled row and
    // the union serializes six parallel pipelines into one) — a
    // regression at every tier, reverted. Per rule the plan is already
    // the one-pass shape any FD consumer would run.
    fdRules.map { case (rule, t, det, dep) =>
      table(t).select(col(det).cast("string").as("det"),
          col(dep).cast("string").as("dep"))
        .groupBy("det")
        .agg(count(lit(1)).as("n"), count_distinct(col("dep")).as("nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1L, 1L).otherwise(0L))
            .as("n_violating_groups"),
          sum(col("n")).as("n_rows"),
          sum(when(col("nd") > 1L, col("n")).otherwise(0L))
            .as("n_rows_violating"),
          max(col("nd")).as("max_distinct_dep"))
        .select(lit(rule).as("rule"), col("n_groups"),
          col("n_violating_groups"), col("n_rows"),
          col("n_rows_violating"),
          (col("n_rows_violating") / col("n_rows")).as("violation_rate"),
          col("max_distinct_dep"))
    }.reduce(_ unionByName _).orderBy("rule")
  }

  val fdAuditOracle: String =
    fdRules.map { case (rule, t, det, dep) =>
      s"""SELECT '$rule' AS rule, n_groups, n_violating_groups, n_rows,
         |  n_rows_violating,
         |  n_rows_violating / n_rows AS violation_rate,
         |  max_distinct_dep
         |FROM (
         |  SELECT count(*) AS n_groups,
         |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_violating_groups,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
         |      AS n_rows_violating,
         |    CAST(max(nd) AS BIGINT) AS max_distinct_dep
         |  FROM (
         |    SELECT CAST($det AS VARCHAR) AS det, count(*) AS n,
         |           count(DISTINCT CAST($dep AS VARCHAR)) AS nd
         |    FROM $t GROUP BY 1))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")

  /** dq5 — frequency-drift audit: the chi-square homogeneity test of
    * the event-type mix between the first and second half of the time
    * range — "did the composition of this stream shift", the
    * distributional cousin of rc2's per-column drift. The half
    * boundary is the data-derived median epoch-day (ceil), so the
    * audit needs no configuration. Per type the 2×2-margin identity
    * collapses both cells to ONE term: contrib = D² / (r·N₁·N₂) with
    * D = o₁·N₂ − o₂·N₁ exact longs (products bounded by rows² — fine
    * to ~3e9 rows/half; beyond that pre-aggregate per shard), squared
    * AFTER the cast to double so the long never overflows; the total
    * χ² sums the per-type terms by a type-sorted lambda fold (cal2/
    * dq2 rule). Shape: one scan + one type-keyed aggregation + two
    * 1-row broadcasts — no per-type rescans. */
  def chisqDrift(s: SparkSession, d: String): DataFrame =
    chisqDriftOf(Tables.events(s, d))

  /** [[chisqDrift]] over an explicit events frame. */
  def chisqDriftOf(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), epochDay(col("ts")).as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val perType = ev.crossJoin(broadcast(bounds))
      .withColumn("first_half",
        col("day") < expr("(d0 + d1 + 1) div 2"))
      .groupBy("event_type")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("o_first"),
        sum(when(col("first_half"), 0L).otherwise(1L)).as("o_second"))
    val tot = perType.agg(sum(col("o_first")).as("n_first"),
      sum(col("o_second")).as("n_second"))
    val dCol = (col("o_first") * col("n_second") -
      col("o_second") * col("n_first")).as("d_num")
    val terms = perType.crossJoin(broadcast(tot))
      .withColumn("d_num", dCol)
      .withColumn("contrib",
        col("d_num").cast("double") * col("d_num").cast("double") /
          ((col("o_first") + col("o_second")).cast("double") *
            col("n_first").cast("double") * col("n_second").cast("double")))
    val total = terms
      .groupBy(lit(1).as("one"))
      .agg(sort_array(collect_list(
          struct(col("event_type"), col("contrib")))).as("es"),
        count(lit(1)).as("n_types"))
      .select((col("n_types") - 1L).as("df"),
        aggregate(col("es"), lit(0.0d),
          (acc, x) => acc + x.getField("contrib")).as("chi2_total"))
    terms.crossJoin(broadcast(total))
      .select(col("event_type"), col("o_first"), col("o_second"),
        col("n_first"), col("n_second"), col("d_num"), col("contrib"),
        col("chi2_total"), col("df"))
      .orderBy("event_type")
  }

  val chisqDriftOracle: String =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |pt AS (
      |  SELECT event_type,
      |         CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2
      |           THEN 1 ELSE 0 END) AS BIGINT) AS o_first,
      |         CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2
      |           THEN 0 ELSE 1 END) AS BIGINT) AS o_second
      |  FROM ev CROSS JOIN b GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(o_first) AS BIGINT) AS n_first,
      |         CAST(sum(o_second) AS BIGINT) AS n_second
      |  FROM pt),
      |terms AS (
      |  SELECT event_type, o_first, o_second, n_first, n_second,
      |         o_first * n_second - o_second * n_first AS d_num,
      |         CAST(o_first * n_second - o_second * n_first AS DOUBLE)
      |           * CAST(o_first * n_second - o_second * n_first AS DOUBLE)
      |           / (CAST(o_first + o_second AS DOUBLE)
      |              * CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE))
      |           AS contrib
      |  FROM pt CROSS JOIN tot),
      |f AS (
      |  SELECT count(*) - 1 AS df,
      |         list_reduce([0.0e0] || list(contrib ORDER BY event_type),
      |           (a, x) -> a + x) AS chi2_total
      |  FROM terms)
      |SELECT event_type, o_first, o_second, n_first, n_second, d_num,
      |       contrib, chi2_total, df
      |FROM terms CROSS JOIN f
      |ORDER BY event_type""".stripMargin

  /** Bucket width for pf2: 25,000 dollars of order value in cents —
    * ~20 buckets over the TPC-H price domain at any SF. */
  val PriceBucketCents = 2500000L

  /** pf2 — equi-width value histogram of order totals: the
    * distribution profile pf1's min/max/mean summary can't show
    * (bimodality, truncation, heaping). Exact integer cents
    * throughout: bucket = cents div width, per-bucket count/min/max/
    * sum plus an exact basis-point share (all-positive long division,
    * identical truncation both engines). ONE hash aggregation over
    * the scan + a 1-row broadcast for the share denominator; the
    * output is O(domain/width) rows regardless of row count. */
  def priceHistogram(s: SparkSession, d: String): DataFrame =
    priceHistogramOf(Tables.orders(s, d))

  /** [[priceHistogram]] over an explicit orders frame. */
  def priceHistogramOf(orders: DataFrame): DataFrame = {
    val cents = graft.functions.Functions.cents(col("o_totalprice"))
    val buckets = orders
      .filter(col("o_totalprice").isNotNull)
      .select(cents.as("c"))
      .groupBy(expr(s"c div $PriceBucketCents").as("bucket"))
      .agg(count(lit(1)).as("n_orders"), min(col("c")).as("min_cents"),
        max(col("c")).as("max_cents"), sum(col("c")).as("sum_cents"))
    val tot = buckets.agg(sum(col("n_orders")).as("n_total"))
    buckets.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("(10000 * n_orders) div n_total"))
      .select(col("bucket"), col("n_orders"), col("min_cents"),
        col("max_cents"), col("sum_cents"), col("share_bp"))
      .orderBy("bucket")
  }

  /** dq6 — daily-volume anomaly flags: each day's event count tested
    * against the trailing 7-day window (excluding the day itself) at
    * the 3σ level — the pipeline-monitoring primitive behind "did
    * yesterday's drop double-ingest or lose a shard". The test is
    * EXACT integer arithmetic end to end: with trailing moments (n,
    * S, Q), |x−μ| > 3σ cross-multiplies to (x·n − S)²·(n−1) >
    * 9·n·(n·Q − S²) — no division, no doubles, no engine drift (the
    * a20 cross-multiplication discipline; exact up to ~3e8 events/day
    * before the long square saturates — pre-aggregate per shard past
    * that). The window runs over the AGGREGATED daily series (one
    * row per day, bounded by the time domain), so the unpartitioned
    * window is O(days) — the inc3 spine argument. Days with fewer
    * than 3 trailing observations emit NULL flags (σ undefined). */
  def volumeAnomaly(s: SparkSession, d: String): DataFrame =
    volumeAnomalyOf(Tables.events(s, d))

  /** [[volumeAnomaly]] over an explicit events frame. */
  def volumeAnomalyOf(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("ts").isNotNull)
      .groupBy(epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-7, -1)
    val moments = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", coalesce(sum(col("x")).over(w), lit(0L)))
      .withColumn("q",
        coalesce(sum(col("x") * col("x")).over(w), lit(0L)))
    moments
      .select(col("day"), col("x"), col("n"), col("s"), col("q"),
        (col("x") * col("n") - col("s")).as("dev_num"),
        when(col("n") >= 3L,
          when((col("x") * col("n") - col("s")) *
            (col("x") * col("n") - col("s")) * (col("n") - 1L) >
            lit(9L) * col("n") * (col("n") * col("q") - col("s") * col("s")),
            1L).otherwise(0L)).as("is_anomaly"))
      .orderBy("day")
  }

  val volumeAnomalyOracle: String =
    """WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         count(*) AS x
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |m AS (
      |  SELECT day, x,
      |    CAST(count(*) OVER tw AS BIGINT) AS n,
      |    CAST(coalesce(sum(x) OVER tw, 0) AS BIGINT) AS s,
      |    CAST(coalesce(sum(x * x) OVER tw, 0) AS BIGINT) AS q
      |  FROM daily
      |  WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
      |    AND 1 PRECEDING))
      |SELECT day, x, n, s, q, x * n - s AS dev_num,
      |  CASE WHEN n >= 3 THEN
      |    CASE WHEN (x * n - s) * (x * n - s) * (n - 1)
      |              > 9 * n * (n * q - s * s)
      |         THEN 1 ELSE 0 END END AS is_anomaly
      |FROM m ORDER BY day""".stripMargin

  val priceHistogramOracle: String =
    s"""WITH c AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |b AS (
      |  SELECT c // $PriceBucketCents AS bucket, count(*) AS n_orders,
      |         min(c) AS min_cents, max(c) AS max_cents,
      |         CAST(sum(c) AS BIGINT) AS sum_cents
      |  FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM b)
      |SELECT bucket, n_orders, min_cents, max_cents, sum_cents,
      |       (10000 * n_orders) // n_total AS share_bp
      |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  /** dq7 — continuous-distribution drift: the two-sample
    * Kolmogorov–Smirnov test of the event `value` distribution between
    * the first and second half of the time range — the continuous
    * sibling of [[chisqDrift]]'s categorical χ² (same data-derived
    * median-day boundary, so the pair shares one configuration-free
    * contract). Values are binned to whole dollars (exact `cents div
    * 100`), making the CDF domain O(value range), NOT O(rows): the
    * binned statistic is the exact KS D of the dollar-rounded
    * distributions (a lower bound of the unbinned D; at 1-dollar grain
    * on this domain the distinction is below any decision threshold).
    *
    * Exactness: per-bucket cumulative counts c₁, c₂ are longs from one
    * window over the AGGREGATED bucket series (O(buckets) rows — the
    * dq6/inc3 bounded-spine argument, so the unpartitioned window is
    * safe at any SF); the per-bucket CDF gap is cross-multiplied to
    * the exact integer |c₁·n₂ − c₂·n₁| (bounded by n₁·n₂ — fine to
    * ~3e9 rows per half). D and the α=0.05 rejection flag
    * (c(α)=1.358) are fixed-shape IEEE expressions over those exact
    * longs: D = d_num/(n₁·n₂), reject ⟺ d_num > 1.358·√(n₁n₂(n₁+n₂))
    * with the product formed in doubles so it cannot overflow.
    * Shape: one scan + one bucket aggregation + O(buckets) window +
    * two 1-row broadcasts. */
  def ksDrift(s: SparkSession, d: String): DataFrame =
    ksDriftOf(Tables.events(s, d))

  /** [[ksDrift]] over an explicit events frame. */
  def ksDriftOf(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(epochDay(col("ts")).as("day"),
        expr("CAST(round(value * 100) AS BIGINT) div 100").as("bucket"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    // the O(buckets) table is read by four downstream consumers (CDF,
    // totals, gaps, max); materialize it once or each fork replays the
    // events scan (the PlanSpec gate counts scans)
    val perBucket = Materialize(ev.crossJoin(broadcast(bounds))
      .withColumn("first_half", col("day") < expr("(d0 + d1 + 1) div 2"))
      .groupBy("bucket")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("o_first"),
        sum(when(col("first_half"), 0L).otherwise(1L)).as("o_second")),
      "ks_buckets")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0L)
    val cdf = perBucket
      .withColumn("c_first", sum(col("o_first")).over(w))
      .withColumn("c_second", sum(col("o_second")).over(w))
    val tot = perBucket.agg(sum(col("o_first")).as("n_first"),
      sum(col("o_second")).as("n_second"))
    val gaps = cdf.crossJoin(broadcast(tot))
      .withColumn("gap_num",
        abs(col("c_first") * col("n_second") -
          col("c_second") * col("n_first")))
    val top = gaps.agg(max(col("gap_num")).as("d_num"))
    gaps.crossJoin(broadcast(top))
      .select(col("bucket"), col("o_first"), col("o_second"),
        col("c_first"), col("c_second"), col("gap_num"),
        col("n_first"), col("n_second"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_first").cast("double") * col("n_second").cast("double")))
          .as("ks_d"),
        when(col("d_num").cast("double") >
          lit(1.358d) * sqrt(col("n_first").cast("double") *
            col("n_second").cast("double") *
            (col("n_first") + col("n_second")).cast("double")),
          1L).otherwise(0L).as("reject_05"))
      .orderBy("bucket")
  }

  val ksDriftOracle: String =
    """WITH ev AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         CAST(round(value * 100) AS BIGINT) // 100 AS bucket
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |pb AS (
      |  SELECT bucket,
      |         CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2
      |           THEN 1 ELSE 0 END) AS BIGINT) AS o_first,
      |         CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2
      |           THEN 0 ELSE 1 END) AS BIGINT) AS o_second
      |  FROM ev CROSS JOIN b GROUP BY 1),
      |cdf AS (
      |  SELECT bucket, o_first, o_second,
      |    CAST(sum(o_first) OVER (ORDER BY bucket ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_first,
      |    CAST(sum(o_second) OVER (ORDER BY bucket ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_second
      |  FROM pb),
      |tot AS (
      |  SELECT CAST(sum(o_first) AS BIGINT) AS n_first,
      |         CAST(sum(o_second) AS BIGINT) AS n_second
      |  FROM pb),
      |gaps AS (
      |  SELECT cdf.*, n_first, n_second,
      |         abs(c_first * n_second - c_second * n_first) AS gap_num
      |  FROM cdf CROSS JOIN tot),
      |top AS (SELECT CAST(max(gap_num) AS BIGINT) AS d_num FROM gaps)
      |SELECT bucket, o_first, o_second, c_first, c_second, gap_num,
      |  n_first, n_second, d_num,
      |  CAST(d_num AS DOUBLE)
      |    / (CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)) AS ks_d,
      |  CASE WHEN CAST(d_num AS DOUBLE) >
      |    1.358e0 * sqrt(CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)
      |      * CAST(n_first + n_second AS DOUBLE))
      |    THEN 1 ELSE 0 END AS reject_05
      |FROM gaps CROSS JOIN top
      |ORDER BY bucket""".stripMargin

  /** pf3 pair descriptors: (pair label, x column, y column) over the
    * exact-integer projections of lineitem's four numeric measures —
    * quantity (integral), price in whole DOLLARS (cents div 100 —
    * dollar grain keeps Σx² inside 64 bits to ~1e8 rows; correlation
    * on the dollar-rounded values, documented), discount and tax in
    * basis points. */
  private val corrCols: Seq[(String, String)] = Seq(
    "quantity" -> "qty", "price_usd" -> "usd",
    "discount_bp" -> "dbp", "tax_bp" -> "tbp")

  /** pf3 — Pearson correlation matrix of lineitem's numeric measures
    * from EXACT integer sufficient statistics: ONE hash aggregation
    * computes n plus all 4 sums, 4 square sums, and 6 cross sums
    * (map-side partials; the only exchange carries a single row), and
    * each of the 6 pair rows is a SELECT over that 1-row frame — no
    * second scan, no per-pair pass (a correlation matrix that rescans
    * per pair is unusable at 100 TB; sufficient statistics commute
    * with partitioning, the a19 argument). r is a fixed-shape IEEE
    * tree over the exact longs: num/(√denx·√deny) with every term
    * formed in doubles (the long forms overflow 64 bits at warehouse
    * row counts; the raw integer moments stay in the output columns
    * at full precision). Zero-variance columns emit NULL r. */
  def correlationMatrix(s: SparkSession, d: String): DataFrame =
    correlationMatrixOf(Tables.lineitem(s, d))

  /** [[correlationMatrix]] over an explicit lineitem frame. */
  def correlationMatrixOf(li: DataFrame): DataFrame = {
    val base = li.select(
      round(col("l_quantity")).cast("long").as("qty"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 100")
        .as("usd"),
      round(col("l_discount") * 10000).cast("long").as("dbp"),
      round(col("l_tax") * 10000).cast("long").as("tbp"))
    val names = corrCols.map(_._2)
    val sums = names.map(c => sum(col(c)).as(s"s_$c")) ++
      names.flatMap(x => names.filter(_ >= x).map(y =>
        sum(col(x) * col(y)).as(s"q_${x}_$y")))
    val m = base.agg(count(lit(1)).as("n"), sums: _*)
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    // ONE aggregation row fans out to the 6 pair rows through a single
    // inline(array(struct...)) projection — a per-pair select + union
    // would plan 6 subtrees whose dedup hangs on exchange reuse; this
    // form is one scan by construction (PlanSpec-gated)
    val pairStructs = pairs.map { case ((lx, x), (ly, y)) =>
      val (qx, qy) = (s"q_${x}_$x", s"q_${y}_$y")
      val qxy = if (x <= y) s"q_${x}_$y" else s"q_${y}_$x"
      val nD = col("n").cast("double")
      val num = nD * col(qxy).cast("double") -
        col(s"s_$x").cast("double") * col(s"s_$y").cast("double")
      val denx = nD * col(qx).cast("double") -
        col(s"s_$x").cast("double") * col(s"s_$x").cast("double")
      val deny = nD * col(qy).cast("double") -
        col(s"s_$y").cast("double") * col(s"s_$y").cast("double")
      struct(lit(s"${lx}__$ly").as("pair"), col("n"),
        col(s"s_$x").as("sx"), col(s"s_$y").as("sy"),
        col(qxy).as("sxy"), col(qx).as("sxx"), col(qy).as("syy"),
        when(denx > 0.0d && deny > 0.0d,
          num / (sqrt(denx) * sqrt(deny))).as("r"))
    }
    m.select(inline(array(pairStructs: _*))).orderBy("pair")
  }

  /** dq8 column descriptors: (label, exact integer/string projection)
    * — SQL expression form shared by both engines via the builder
    * below. */
  private val entropyCols: Seq[(String, String, String)] = Seq(
    // (label, spark expr, duckdb expr) over events
    ("event_type", "event_type", "event_type"),
    ("user_id", "CAST(user_id AS STRING)", "CAST(user_id AS VARCHAR)"),
    ("value_usd",
      "CAST(CAST(round(value * 100) AS BIGINT) div 100 AS STRING)",
      "CAST(CAST(round(value * 100) AS BIGINT) // 100 AS VARCHAR)"),
    ("day",
      "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS STRING)",
      "CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS VARCHAR)"))

  /** dq8 — quantized Shannon-entropy profile per column: for each
    * profiled column, the distinct count, the heaviest value's share,
    * and the entropy estimate Ĥ = Σ n_v·⌊log₂(N div n_v)⌋ / N in
    * exact MILLIBITS — the key-ness/skew readout behind partition-key
    * and dedup-key choices that pf1's min/max/distinct summary can't
    * give (1M distinct values can still carry near-zero entropy when
    * one value dominates). The per-value surprisal quantizes to WHOLE
    * BITS via `length(bin(N div n_v)) − 1` — the tx23/tx32 rule:
    * an IEEE log2 sum could never hash-match across engines; the
    * integer-quantized sum always does (Ĥ is a documented ≤1-bit-
    * biased estimator, the price of exactness).
    *
    * Shape: one PRUNED value-grouped aggregation per column (the pf1
    * lesson: per-column pruned passes beat one N-way expand scan),
    * each collapsing to a 1-row profile; the union is O(columns).
    * Null values profile as their own "∅" bucket — a null-heavy
    * column's entropy collapse is exactly the signal. */
  def entropyProfile(s: SparkSession, d: String): DataFrame =
    entropyProfileOf(Tables.events(s, d))

  /** [[entropyProfile]] over an explicit events frame. */
  def entropyProfileOf(events: DataFrame): DataFrame = {
    // every profiled projection coalesces nulls into their own bucket,
    // so N is the plain row count for all four columns — one count
    // action (metadata-cheap on parquet) turns the surprisal into a
    // pure literal projection
    val n = events.count()
    entropyCols.map { case (label, sparkExpr, _) =>
      val sbits = length(bin(expr(s"$n div nv"))).cast("long") - 1L
      events
        .select(coalesce(expr(sparkExpr), lit("∅")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("nv"))
        .agg(
          sum(col("nv")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          max(col("nv")).as("top_count"),
          sum(col("nv") * sbits).as("h_num_bits"))
        .select(lit(label).as("column"), col("n_rows"),
          col("n_distinct"), col("top_count"),
          expr("(10000 * top_count) div n_rows").as("top_share_bp"),
          col("h_num_bits"),
          expr("(1000 * h_num_bits) div n_rows").as("h_mbits"))
    }.reduce(_ unionByName _).orderBy("column")
  }

  val entropyProfileOracle: String = {
    val selects = entropyCols.map { case (label, _, duckExpr) =>
      s"""SELECT '$label' AS "column", n_rows, n_distinct, top_count,
         |  (10000 * top_count) // n_rows AS top_share_bp,
         |  h_num_bits, (1000 * h_num_bits) // n_rows AS h_mbits
         |FROM (
         |  SELECT CAST(sum(nv) AS BIGINT) AS n_rows,
         |         count(*) AS n_distinct,
         |         CAST(max(nv) AS BIGINT) AS top_count,
         |         CAST(sum(nv * (length(bin(nt.n // nv)) - 1)) AS BIGINT)
         |           AS h_num_bits
         |  FROM (
         |    SELECT coalesce($duckExpr, '∅') AS v, count(*) AS nv
         |    FROM events GROUP BY 1) vv
         |  CROSS JOIN (SELECT count(*) AS n FROM events) nt
         |  GROUP BY nt.n)""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** dq10 — duplicate-ROW audit (double-ingest detector): exact
    * duplicate groups over the content key (user, second-truncated
    * ts, type, value-cents) — event_id deliberately excluded, because
    * a replayed batch re-ingests the same content under FRESH
    * surrogate ids, which is precisely the failure uniqueness checks
    * on the id (dq1) cannot see. Per day: rows, content groups,
    * groups with multiplicity > 1, excess rows (what a dedup pass
    * would remove), worst multiplicity, excess in basis points.
    * Shape: one content-keyed aggregation + one day rollup, both
    * partial-aggregable; the content key is the GROUP BY key, so
    * memory is bounded per key like any distinct. */
  def dupRowAudit(s: SparkSession, d: String): DataFrame =
    dupRowAuditOf(Tables.events(s, d))

  /** [[dupRowAudit]] over an explicit events frame. */
  def dupRowAuditOf(events: DataFrame): DataFrame = {
    val cents = graft.functions.Functions.cents(col("value"))
    val groups = events
      .filter(col("ts").isNotNull)
      .groupBy(epochDay(col("ts")).as("day"),
        col("user_id"),
        toSecond(col("ts")).as("ts_sec"),
        col("event_type"), cents.as("cents"))
      .agg(count(lit(1)).as("m"))
    groups.groupBy("day")
      .agg(sum(col("m")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("m") > 1L, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("m") > 1L, col("m") - 1L).otherwise(0L))
          .as("n_excess_rows"),
        max(col("m")).as("max_multiplicity"))
      .withColumn("excess_bp", expr("(10000 * n_excess_rows) div n_rows"))
      .orderBy("day")
  }

  val dupRowAuditOracle: String =
    """WITH g AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |           AS BIGINT) AS day,
      |         user_id, date_trunc('second', ts) AS ts_sec, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         count(*) AS m
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT day, CAST(sum(m) AS BIGINT) AS n_rows,
      |  count(*) AS n_groups,
      |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_groups,
      |  CAST(sum(CASE WHEN m > 1 THEN m - 1 ELSE 0 END) AS BIGINT)
      |    AS n_excess_rows,
      |  CAST(max(m) AS BIGINT) AS max_multiplicity,
      |  (10000 * CAST(sum(CASE WHEN m > 1 THEN m - 1 ELSE 0 END)
      |    AS BIGINT)) // CAST(sum(m) AS BIGINT) AS excess_bp
      |FROM g GROUP BY day ORDER BY day""".stripMargin

  /** dq11 — id/time ALIGNMENT audit: are surrogate ids assigned in
    * event-time order? Per dq9-style id-range bucket, the exact
    * second-truncated time span, plus the overlap flag against the
    * PREVIOUS bucket's span (an overlap means ids in this range were
    * minted while earlier-range events were still arriving — the
    * out-of-order-ingest signal that breaks naive "resume from max
    * id" incremental consumers, exactly the assumption a1/T2's
    * watermark pattern exists to avoid trusting). The global overlap
    * count rides every row. Shape: one keyed aggregation over the
    * scan; the lag window and rollup run on the MATERIALIZED
    * O(buckets) series (the dq7 fork rule). */
  def idTimeAlignment(s: SparkSession, d: String): DataFrame =
    idTimeAlignmentOf(Tables.events(s, d))

  /** [[idTimeAlignment]] over an explicit events frame. */
  def idTimeAlignmentOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = Materialize(events
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .groupBy(expr(s"event_id div $IdGapBucket").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(unix_timestamp(toSecond(col("ts"))))
          .as("ts_min_sec"),
        max(unix_timestamp(toSecond(col("ts"))))
          .as("ts_max_sec")), "idtime_buckets")
    val w = Window.orderBy("bucket")
    val flagged = buckets
      .withColumn("prev_max_sec", lag(col("ts_max_sec"), 1).over(w))
      .withColumn("overlap",
        when(col("prev_max_sec").isNotNull,
          when(col("ts_min_sec") < col("prev_max_sec"), 1L).otherwise(0L)))
    val tot = flagged.agg(
      coalesce(sum(col("overlap")), lit(0L)).as("n_overlaps"))
    flagged.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"), col("ts_min_sec"),
        col("ts_max_sec"), col("prev_max_sec"), col("overlap"),
        col("n_overlaps"))
      .orderBy("bucket")
  }

  // lazy: interpolates IdGapBucket, which is declared later in this
  // object — a strict val would capture 0 at initialization
  lazy val idTimeAlignmentOracle: String =
    s"""WITH b AS (
       |  SELECT event_id // $IdGapBucket AS bucket, count(*) AS n,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
       |  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, date_trunc('second', ts)),
       |agg AS (
       |  SELECT bucket, CAST(sum(n) AS BIGINT) AS n,
       |         min(sec) AS ts_min_sec, max(sec) AS ts_max_sec
       |  FROM b GROUP BY 1),
       |f AS (
       |  SELECT *, lag(ts_max_sec) OVER (ORDER BY bucket) AS prev_max_sec
       |  FROM agg),
       |fl AS (
       |  SELECT *,
       |    CASE WHEN prev_max_sec IS NOT NULL THEN
       |      CASE WHEN ts_min_sec < prev_max_sec THEN 1 ELSE 0 END
       |    END AS overlap
       |  FROM f),
       |t AS (SELECT CAST(coalesce(sum(overlap), 0) AS BIGINT)
       |        AS n_overlaps FROM fl)
       |SELECT bucket, n, ts_min_sec, ts_max_sec, prev_max_sec, overlap,
       |       n_overlaps
       |FROM fl CROSS JOIN t ORDER BY bucket""".stripMargin

  /** Id-range bucket width for [[idGapAudit]]. */
  val IdGapBucket = 4096L

  /** dq9 — id-CONTINUITY audit: missing-id accounting per fixed
    * id-range bucket over the event_id sequence — the "did we lose a
    * shard / drop a batch" probe for surrogate-keyed feeds that dq6's
    * volume view can't localize (a uniform 1% loss moves no daily
    * total visibly; it puts 1% holes in every bucket here). Per
    * bucket: present count, the bucket's observed span, missing =
    * span_width − present (exact — ids are unique), plus global
    * totals on every row. Interior buckets' expected width is the
    * full [[IdGapBucket]]; the two edge buckets audit against their
    * observed min/max so sequence start/end don't read as loss.
    * Shape: ONE keyed aggregation over the scan (map-side partials)
    * + a 1-row broadcast; output is O(id_range/width). */
  def idGapAudit(s: SparkSession, d: String): DataFrame =
    idGapAuditOf(Tables.events(s, d))

  /** [[idGapAudit]] over an explicit events frame. */
  def idGapAuditOf(events: DataFrame): DataFrame = {
    val buckets = events
      .filter(col("event_id").isNotNull)
      .groupBy(expr(s"event_id div $IdGapBucket").as("bucket"))
      .agg(count(lit(1)).as("n_present"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
    val tot = buckets.agg(min(col("bucket")).as("b_lo"),
      max(col("bucket")).as("b_hi"))
    buckets.crossJoin(broadcast(tot))
      .withColumn("span_lo",
        when(col("bucket") === col("b_lo"), col("min_id"))
          .otherwise(col("bucket") * IdGapBucket))
      .withColumn("span_hi",
        when(col("bucket") === col("b_hi"), col("max_id"))
          .otherwise((col("bucket") + 1L) * IdGapBucket - 1L))
      .withColumn("n_missing",
        col("span_hi") - col("span_lo") + 1L - col("n_present"))
      .select(col("bucket"), col("n_present"), col("min_id"),
        col("max_id"), col("span_lo"), col("span_hi"), col("n_missing"),
        expr(s"(10000 * n_missing) div (span_hi - span_lo + 1)")
          .as("missing_bp"))
      .orderBy("bucket")
  }

  val idGapAuditOracle: String =
    s"""WITH b AS (
       |  SELECT event_id // $IdGapBucket AS bucket, count(*) AS n_present,
       |         min(event_id) AS min_id, max(event_id) AS max_id
       |  FROM events WHERE event_id IS NOT NULL GROUP BY 1),
       |t AS (SELECT min(bucket) AS b_lo, max(bucket) AS b_hi FROM b),
       |sp AS (
       |  SELECT bucket, n_present, min_id, max_id,
       |    CASE WHEN bucket = b_lo THEN min_id
       |         ELSE bucket * $IdGapBucket END AS span_lo,
       |    CASE WHEN bucket = b_hi THEN max_id
       |         ELSE (bucket + 1) * $IdGapBucket - 1 END AS span_hi
       |  FROM b CROSS JOIN t)
       |SELECT bucket, n_present, min_id, max_id, span_lo, span_hi,
       |  span_hi - span_lo + 1 - n_present AS n_missing,
       |  (10000 * (span_hi - span_lo + 1 - n_present))
       |    // (span_hi - span_lo + 1) AS missing_bp
       |FROM sp ORDER BY bucket""".stripMargin

  /** Values kept per column by [[topValues]]. */
  val TopValuesK = 5L

  /** pf4 — TOP-K frequent values per profiled column (dq8's columns):
    * the concrete heavy values behind dq8's abstract top_share — what
    * a reviewer actually looks at when entropy collapses ("which
    * value is eating the column"). Rank is total-ordered
    * (count DESC, value ASC) so ties are deterministic; shares use
    * the same count-literal N as dq8 (one action). Scale shape: the
    * rank window runs over the VALUE-grouped aggregate (bounded by
    * each column's domain, not rows), and the rank ≤ k predicate
    * collapses to a distributed
    * TakeOrderedAndProject(limit=k) below the window — per-partition
    * top-k then a k-row merge, so no task ever sorts more than k rows
    * (PlanSpec-gated). */
  def topValues(s: SparkSession, d: String): DataFrame =
    topValuesOf(Tables.events(s, d))

  /** [[topValues]] over an explicit events frame. */
  def topValuesOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = events.count()
    entropyCols.map { case (label, sparkExpr, _) =>
      val w = Window.partitionBy(lit(1))
        .orderBy(col("nv").desc, col("v").asc)
      events
        .select(coalesce(expr(sparkExpr), lit("∅")).as("v"))
        .groupBy("v").agg(count(lit(1)).as("nv"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopValuesK)
        .select(lit(label).as("column"), col("rank"),
          col("v").as("value"), col("nv").as("n"),
          expr(s"(10000 * nv) div $n").as("share_bp"))
    }.reduce(_ unionByName _).orderBy("column", "rank")
  }

  val topValuesOracle: String = {
    val selects = entropyCols.map { case (label, _, duckExpr) =>
      s"""SELECT '$label' AS "column", rank, value, n,
         |  (10000 * n) // (SELECT count(*) FROM events) AS share_bp
         |FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY nv DESC, v ASC)
         |           AS BIGINT) AS rank,
         |         v AS value, nv AS n
         |  FROM (SELECT coalesce($duckExpr, '∅') AS v, count(*) AS nv
         |        FROM events GROUP BY 1))
         |WHERE rank <= $TopValuesK""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\", rank")
  }

  val correlationMatrixOracle: String = {
    val names = corrCols.map(_._2)
    val sumSql = names.map(c => s"CAST(sum($c) AS BIGINT) AS s_$c") ++
      names.flatMap(x => names.filter(_ >= x).map(y =>
        s"CAST(sum($x * $y) AS BIGINT) AS q_${x}_$y"))
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val selects = pairs.map { case ((lx, x), (ly, y)) =>
      val (qx, qy) = (s"q_${x}_$x", s"q_${y}_$y")
      val qxy = if (x <= y) s"q_${x}_$y" else s"q_${y}_$x"
      val num = s"(CAST(n AS DOUBLE) * CAST($qxy AS DOUBLE) " +
        s"- CAST(s_$x AS DOUBLE) * CAST(s_$y AS DOUBLE))"
      val denx = s"(CAST(n AS DOUBLE) * CAST($qx AS DOUBLE) " +
        s"- CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE))"
      val deny = s"(CAST(n AS DOUBLE) * CAST($qy AS DOUBLE) " +
        s"- CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE))"
      s"""SELECT '${lx}__$ly' AS pair, n, s_$x AS sx, s_$y AS sy,
         |  $qxy AS sxy, $qx AS sxx, $qy AS syy,
         |  CASE WHEN $denx > 0.0e0 AND $deny > 0.0e0
         |       THEN $num / (sqrt($denx) * sqrt($deny)) END AS r
         |FROM m""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS usd,
       |         CAST(round(l_discount * 10000) AS BIGINT) AS dbp,
       |         CAST(round(l_tax * 10000) AS BIGINT) AS tbp
       |  FROM lineitem),
       |m AS (
       |  SELECT count(*) AS n, ${sumSql.mkString(",\n    ")}
       |  FROM base)
       |${selects.mkString("", "\nUNION ALL\n", "\nORDER BY pair")}""".stripMargin
  }

  /** dq12 — CROSS-TABLE temporal consistency audit: does every child
    * event happen after its parent's timestamp? Here: line items
    * shipped before their order was placed (the referential analogue
    * of dq1's single-row range rules; dq3 checks the keys EXIST, this
    * checks their clocks AGREE — the two failure modes of a merge
    * that mixed snapshot generations). One keyed join orders⋈lineitem
    * + one priority-keyed aggregation; the lateness histogram buckets
    * ship−order lag by 30-day months capped at 5 so the output stays
    * O(priorities), and every statistic is an exact integer (datediff
    * of DATE casts, truncating div). */
  def temporalConsistency(s: SparkSession, d: String): DataFrame =
    temporalConsistencyOf(Tables.orders(s, d), Tables.lineitem(s, d))

  /** [[temporalConsistency]] over explicit orders/lineitem frames. */
  def temporalConsistencyOf(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        col("o_orderdate"))
    val l = lineitem
      .select(col("l_orderkey"), col("l_shipdate"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("priority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("lag_days"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("lag_days") < 0L, 1L).otherwise(0L)).as("n_violations"),
        min(col("lag_days")).as("min_lag"),
        max(col("lag_days")).as("max_lag"),
        sum(when(col("lag_days") >= 0L,
          least(expr("lag_days div 30"), lit(5L))).otherwise(0L))
          .as("sum_capped_months"))
      .withColumn("violation_bp",
        expr("(10000 * n_violations) div n_items"))
      .orderBy("priority")
  }

  val temporalConsistencyOracle: String =
    """WITH j AS (
      |  SELECT o.o_orderpriority AS priority,
      |         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT priority, count(*) AS n_items,
      |       CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_violations,
      |       CAST(min(lag_days) AS BIGINT) AS min_lag,
      |       CAST(max(lag_days) AS BIGINT) AS max_lag,
      |       CAST(sum(CASE WHEN lag_days >= 0
      |                     THEN least(lag_days // 30, 5) ELSE 0 END)
      |         AS BIGINT) AS sum_capped_months,
      |       (10000 * CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END)
      |         AS BIGINT)) // count(*) AS violation_bp
      |FROM j GROUP BY priority ORDER BY priority""".stripMargin

  /** dq13 — FK FAN-OUT profile across the star schema's four child
    * relations: per relation, how many children the average / the
    * hottest parent key carries. This is the JOIN-PLANNING statistic
    * behind every skew decision in this library (skew1/skew2 exist
    * because max_fanout ≫ mean_fanout somewhere): a relation whose
    * max/mean ratio explodes between drops is the early warning that
    * tomorrow's join needs salting or AQE skew handling. Per relation:
    * one child-keyed aggregation to (parent, n) — bounded by the
    * parent domain — then one O(parents) rollup picking the max and
    * the ARGMAX parent via the struct-max idiom (ties to the smaller
    * key, both engines identical). mean_fanout_cpm is exact
    * centi-per-mille integer division; no floats anywhere. */
  def fanoutProfile(s: SparkSession, d: String): DataFrame = {
    def rel(name: String, child: DataFrame, key: String): DataFrame =
      child
        .filter(col(key).isNotNull)
        .groupBy(col(key).cast("long").as("parent")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_parents"), sum(col("n")).as("n_children"),
          max(struct(col("n"), (col("parent") * -1L).as("np"))).as("mx"))
        .select(lit(name).as("relation"), col("n_parents"),
          col("n_children"), col("mx.n").as("max_fanout"),
          (col("mx.np") * -1L).as("hot_parent"),
          expr("(100000 * n_children) div n_parents").as("mean_fanout_cpm"))
    rel("customer->orders", Tables.orders(s, d), "o_custkey")
      .unionAll(rel("orders->lineitem", Tables.lineitem(s, d), "l_orderkey"))
      .unionAll(rel("part->lineitem", Tables.lineitem(s, d), "l_partkey"))
      .unionAll(rel("supplier->lineitem", Tables.lineitem(s, d),
        "l_suppkey"))
      .orderBy("relation")
  }

  val fanoutProfileOracle: String = {
    val rels = Seq(
      ("pc1", "customer->orders", "orders", "o_custkey"),
      ("pc2", "orders->lineitem", "lineitem", "l_orderkey"),
      ("pc3", "part->lineitem", "lineitem", "l_partkey"),
      ("pc4", "supplier->lineitem", "lineitem", "l_suppkey"))
    val ctes = rels.map { case (cte, _, table, key) =>
      s"""$cte AS (SELECT CAST($key AS BIGINT) AS parent, count(*) AS n
         |  FROM $table WHERE $key IS NOT NULL GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val selects = rels.map { case (cte, name, _, _) =>
      s"""SELECT '$name' AS relation, count(*) AS n_parents,
         |  CAST(sum(n) AS BIGINT) AS n_children,
         |  CAST(max(n) AS BIGINT) AS max_fanout,
         |  CAST((SELECT min(parent) FROM $cte
         |        WHERE n = (SELECT max(n) FROM $cte)) AS BIGINT)
         |    AS hot_parent,
         |  (100000 * CAST(sum(n) AS BIGINT)) // count(*) AS mean_fanout_cpm
         |FROM $cte""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes
       |SELECT * FROM (
       |$selects
       |) ORDER BY relation""".stripMargin
  }
}
