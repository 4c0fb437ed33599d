package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.config.Checkpoints.CutSyntax

/** Relational analytics core — proves the engine runs full star-schema
  * workloads with plans that survive scale-up:
  *  - TRULY small dimensions (region: 5 rows, nation: 25 rows — fixed
  *    cardinality at every TPC-H scale factor) are explicitly
  *    `broadcast()`; scale-proportional dimensions (customer grows with
  *    SF — ~1/10 of orders rows, multi-TB at the 100 TB target) go
  *    through the shuffle path where AQE's size statistics pick
  *    broadcast only when the side actually fits,
  *  - fact-fact joins shuffle on the join key and aggregate with map-side
  *    partials,
  *  - top-N uses rank-window or TakeOrderedAndProject, never a full sort
  *    of the fact table.
  */
object Queries {

  /** TPC-H Q1-style pricing summary: one scan, one shuffle, map-side
    * partial aggregation. Sums rounded so engines agree to the digit.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Star join: fact(orders) ⨝ dims (customer ⨝ broadcast nation ⨝
    * broadcast region), aggregated revenue per region/nation. Only the
    * FIXED-cardinality dims carry a broadcast hint (nation 25 rows,
    * region 5 rows at every SF); customer is SCALE-PROPORTIONAL
    * (~orders/10 rows — multi-TB at the 100 TB target), so forcing it
    * broadcast would be a driver OOM, not a plan choice (VERDICT r13
    * item 2). The orders ⨝ customer join takes the shuffle path, where
    * AQE's measured size stats still pick a BroadcastHashJoin whenever
    * the built dims side genuinely fits `autoBroadcastJoinThreshold` —
    * a size-gated hint by runtime statistics instead of a hard-coded
    * one.
    */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    val dims = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    o.join(dims, o("o_custkey") === dims("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Fact-fact join (orders ⨝ lineitem) + aggregation + top-N by revenue.
    * Shuffle join on orderkey (AQE picks SMJ/shuffled-hash); the top-10 is
    * a TakeOrderedAndProject, not a global sort.
    */
  def joinLarge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").filter(col("o_orderstatus") =!= "F")
    val l = Tables(spark, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** A fact-dim join ([[starJoin]]'s family: orders ⨝ customer,
    * aggregated per nation) through the SALTED path ([[graft.etl.Skew
    * .saltedJoin]]): fact keys spread over saltFactor sub-keys, the dim
    * side replicated to match, results exactly the plain join's — gated
    * here against the plain-join DuckDB oracle, so the skew lever is
    * proven value-identical end to end, not just spec-equal. Use when a
    * handful of hot keys dominate and AQE's post-shuffle split is
    * unavailable (sort-merge feeding a stateful op).
    */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val c = Tables(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    graft.etl.Skew.saltedJoin(o, c, "o_custkey", saltFactor = 8)
      .groupBy(col("c_nationkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Window top-N: top 3 parts by retail price within each brand. */
  def windowTopN(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    p.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rnk"))
  }

  /** ROLLUP: order totals at (status, priority), (status), and grand-total
    * levels in one pass — partial aggregation handles all grouping sets
    * without re-scanning.
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_price"),
        count(lit(1)).as("n"))
  }

  /** Semi + anti join semantics: customers with ≥1 open order (semi) and
    * suppliers with no lineitem (anti), unioned with a tag. Both sides are
    * existence joins — Spark plans them as broadcast/shuffled semi joins
    * with no row duplication.
    */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    val s = Tables(spark, dir, "supplier")
    val l = Tables(spark, dir, "lineitem")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey").as("entity_key"), lit("cust_open_order").as("tag"))
    // pre-aggregate to distinct join keys: the anti-join then shuffles one
    // row per supplier key instead of every lineitem row (the
    // lineitems-per-supplier factor — the dominant cost at scale)
    val lKeys = l.select(col("l_suppkey")).distinct()
    val anti = s.join(lKeys, s("s_suppkey") === lKeys("l_suppkey"), "left_anti")
      .select(col("s_suppkey").as("entity_key"), lit("supp_no_lineitem").as("tag"))
    semi.unionByName(anti)
  }

  /** Batch interval (range) self-join: for each event, how many OTHER
    * events happened within ±window — burst/concurrency analysis with a
    * pure range predicate and no equi-key.
    *
    * A literal `a JOIN b ON abs(a.ts - b.ts) <= w` has no equi condition,
    * so Spark plans BroadcastNestedLoopJoin / cartesian — O(n·m), dead at
    * scale. The scale shape is BINNING: bucket time into window-sized
    * bins, explode the left side to its 3 candidate bins, equi-join on
    * the bin, then apply the exact range filter. Each qualifying pair
    * matches in EXACTLY one (candidate-bin == right-bin) combination, so
    * no dedup is needed; the shuffle is an ordinary hash join keyed on
    * bin — O(n + output).
    *
    * Time is integer milliseconds (`unix_micros div 1000`), never double
    * epoch seconds: integer truncation is engine-exact where double
    * arithmetic rounds differently per engine.
    */
  def intervalJoin(spark: SparkSession, dir: String,
                   windowMs: Long = 60000L): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), expr("unix_micros(ts) div 1000").as("ms"))
    val bin = expr(s"ms div $windowMs") // integer div end-to-end, never double
    val left = e.select(col("event_id").as("id_a"), col("ms").as("ms_a"),
      explode(array((-1 to 1).map(d => bin + d): _*)).as("bin"))
    val right = e.select(col("event_id").as("id_b"), col("ms").as("ms_b"),
      bin.as("bin"))
    left.join(right, Seq("bin"))
      .filter(col("id_a") =!= col("id_b") &&
        abs(col("ms_b") - col("ms_a")) <= windowMs)
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_concurrent"))
      .select(col("id_a").as("event_id"), col("n_concurrent"))
  }

  /** As-of join (most-recent-match): for each purchase event, the same
    * user's latest click at-or-before it, as a time gap.
    *
    * Spark has no native ASOF join; the scale-right composition is
    * union + carry-forward: tag probe and build rows, ONE shuffle on the
    * key, and a running `last(build_ts, ignoreNulls)` in event-time
    * order. Equal timestamps order the build side first so an
    * exactly-simultaneous click is visible to its purchase — matching
    * DuckDB ASOF JOIN's `>=` semantics (the oracle). Never a range join,
    * never a per-row subquery; integer-ms time for engine-exact math.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"),
        (col("event_type") === "click").cast("int").as("is_build"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("is_build").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click_ms",
        last(when(col("is_build") === 1, col("ms")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click_ms").isNotNull)
      .select(col("event_id"), (col("ms") - col("last_click_ms")).as("ms_since_click"))
  }

  /** [[asofJoin]] through the FUSED physical operator
    * ([[Joins.asofFused]] → graft.plans.AsofJoinExec) — same answer,
    * gated against the same DuckDB ASOF oracle. Probe and build are
    * separate filtered reads (the two-dataset shape the fused operator
    * exists for; the window form above instead exploits that both
    * sides share one events scan). The measured comparison of the two
    * shapes is in the `plans/AsofJoin.scala` header (AsofProfile,
    * deleted; source at commit d5abd67).
    */
  def asofJoinFused(spark: SparkSession, dir: String): DataFrame = {
    val (e, probe) = asofEventsProbe(spark, dir)
    val build = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ms"))
    Joins.asofFused(probe, build, "user_id", "ms")
      .filter(col("asof_ms").isNotNull)
      .select(col("event_id"), (col("ms") - col("asof_ms")).as("ms_since_click"))
  }

  /** The ms-truncated events scan and purchase-probe projection shared
    * by every fused as-of gate — one definition, so the fused and
    * payload gates stay on the identical probe vs the shared ASOF
    * oracle family.
    */
  private def asofEventsProbe(spark: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms"))
    val probe = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms"))
    (e, probe)
  }

  /** [[asofJoinFused]] carrying a PAYLOAD column — gates the fused
    * operator's matched-row value path (not just the matched
    * timestamp) against DuckDB ASOF. The build side is pre-aggregated
    * to one click per (user, ms): several clicks can share a truncated
    * millisecond, and which of them "is" the as-of match at a tie is
    * physical-order-dependent in BOTH engines — the pre-agg makes the
    * carried payload well-defined, which is what a production as-of
    * enrich does anyway.
    */
  def asofJoinPayload(spark: SparkSession, dir: String): DataFrame = {
    val (e, probe) = asofEventsProbe(spark, dir)
    val build = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("event_id")).as("click_id"))
    Joins.asofFused(probe, build, "user_id", "ms",
        buildCols = Seq("click_id"))
      .filter(col("asof_ms").isNotNull)
      .select(col("event_id"),
        (col("ms") - col("asof_ms")).as("ms_since_click"),
        col("asof_click_id").as("click_id"))
  }

  /** Correlated-aggregate filter: orders priced above their priority
    * class average — the window formulation reuses one shuffle instead
    * of the self-join a literal correlated subquery would plan.
    */
  def aboveClassAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
    o.withColumn("class_avg", round(avg(col("o_totalprice")).over(w), 4))
      .filter(col("o_totalprice") > col("class_avg"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("class_avg"))
  }

  /** Semi-structured extraction + aggregation: parse the JSON `props`
    * payload ONCE per row with an explicit schema (`from_json` → typed
    * struct — codegen'd, vectorizable; `get_json_object` re-walks the
    * string per field and is the wrong tool once more than one field
    * is read) and aggregate the extracted value relationally. The
    * schema-on-read contract every event pipeline needs: absent keys
    * and malformed JSON become NULLs, counted separately from rows.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    e.withColumn("k",
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  /** Fixed-bin numeric histogram — the profiling/visualization primitive:
    * `nBins` equal-width bins over [lo, hi) with the two bounds taken
    * from the data in a first bounded pass (min/max — one row), then
    * bin = floor((v − lo) / width) clamped to the last bin so v = hi
    * lands inside. All-integer bin ids from one fixed IEEE sequence —
    * engine-exact; one map-side-combining groupBy on a bounded key.
    * Empty bins are emitted (zero-filled via the bounded bin template)
    * so the shape is fixed-cardinality for plotting and diffing.
    */
  def histogram(spark: SparkSession, dir: String, nBins: Int = 20): DataFrame = {
    val e = Tables(spark, dir, "events")
    val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // NULL values are excluded EXPLICITLY (they'd otherwise map to a
    // NULL bin silently dropped by the template join): the histogram's
    // contract is sum(n) = count of non-null values; pair with
    // qa_missingness for the null side
    val binned = e.filter(col("value").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(when(col("hi") === col("lo"), lit(0L)) // degenerate range
        .otherwise(least(
          floor((col("value") - col("lo")) /
            ((col("hi") - col("lo")) / nBins)),
          lit(nBins - 1L))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val template = spark.range(nBins).select(col("id").as("bin"))
    template.join(binned, Seq("bin"), "left")
      .select(col("bin").cast("int").as("bin"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Rolling active users — the DAU/WAU engagement metric: per day, the
    * distinct users active that day AND over the trailing `windowDays`.
    * A rolling COUNT DISTINCT cannot ride a window frame (distinctness
    * doesn't decompose over a running sum), so the standard relational
    * shape is: reduce to distinct (day, user) FIRST (the only big
    * shuffle), then explode each row into the `windowDays` days it
    * stays in scope for and count distinct per day — a hash equi-join
    * layout whose cost is exactly windowDays × |distinct (day, user)|
    * at any scale.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String,
                         windowDays: Int = 7): DataFrame = {
    val du = Tables(spark, dir, "events")
      .select(date_trunc("day", col("ts")).cast("date").as("d"),
        col("user_id"))
      .distinct()
      .cutLineage() // consumed three times (days, dau, the window join)
    val days = du.select(col("d").as("day")).distinct()
    val dau = du.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
    // each (day, user) row contributes to the windowDays days it stays
    // in scope for — an EXPLODE + hash equi-join, cost exactly
    // windowDays × |du|. A broadcast range join would be a nested-loop
    // compare of |days| × |du| (every du row against every day) —
    // quadratic-ish at multi-year retention for the same bounded output.
    val contributions = du.select(
      explode(expr(s"sequence(d, date_add(d, ${windowDays - 1}))")).as("day"),
      col("user_id"))
    val rolling = contributions
      .join(broadcast(days), Seq("day"), "left_semi") // clip the tail overhang
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as(s"active_${windowDays}d"))
    dau.join(rolling, Seq("day"))
      .select(col("day").cast("string").as("day"), col("dau"),
        col(s"active_${windowDays}d"))
  }

  /** ORDERED FUNNEL: how many users complete stage₁ → stage₂ → … in
    * order, each stage strictly AFTER the user's earliest completion of
    * the previous one (the product-analytics staple: view → click →
    * purchase conversion). Per user, t₁ = min ts of stage₁; tᵢ = min ts
    * of stageᵢ with ts > tᵢ₋₁ — the earliest-completion chain, so a
    * user who clicks before ever viewing does NOT convert at stage 2.
    *
    * Time is integer µs (`unix_micros`), never timestamps, so the
    * strict inequalities are engine-exact. Shape: one scan checkpointed,
    * then per stage a (filter → join on user_id → min) chain — each
    * stage's frame only shrinks, all joins are user-keyed shuffles
    * co-partitioned after the first; the stage counts union into a
    * bounded |stages|-row result with conversion ratios off stage 1.
    */
  def funnel(spark: SparkSession, dir: String,
             stages: Seq[String] = Seq("view", "click", "purchase"),
             digits: Int = 4): DataFrame = {
    require(stages.nonEmpty, "funnel: need at least one stage")
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .cutLineage() // consumed once per stage
    // reached(i): per-user earliest completion time of stage i
    val reached = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val mine = ev.filter(col("event_type") === stage)
        val gated = prev match {
          case None => mine
          case Some(p) => mine.join(p, Seq("user_id"))
            .filter(col("us") > col("t_prev")).drop("t_prev")
        }
        Some(gated.groupBy(col("user_id"))
          .agg(min(col("us")).as("t_prev"))
          .cutLineage()) // each stage feeds the next AND its count
    }.flatten
    val counts = reached.zip(stages).zipWithIndex.map {
      case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("stage"), lit(stage).as("event_type"),
            col("n_users"))
    }.reduce(_.unionByName(_))
    val base = counts.filter(col("stage") === 1)
      .select(col("n_users").as("__n1"))
    counts.crossJoin(broadcast(base))
      .select(col("stage"), col("event_type"), col("n_users"),
        round(col("n_users").cast("double") / col("__n1").cast("double"),
          digits).as("conversion"))
  }

  /** DuckDB oracle for [[funnel]] — identical earliest-completion chain
    * in integer µs.
    */
  def funnelSql(stages: Seq[String] = Seq("view", "click", "purchase"),
                digits: Int = 4): String = {
    val ctes = stages.zipWithIndex.map { case (stage, i) =>
      val n = i + 1
      if (i == 0)
        s"""r$n AS (
           SELECT user_id, min(epoch_us(ts)) AS t
           FROM events WHERE event_type = '$stage' GROUP BY 1)"""
      else
        s"""r$n AS (
           SELECT e.user_id, min(epoch_us(e.ts)) AS t
           FROM events e JOIN r$i USING (user_id)
           WHERE e.event_type = '$stage' AND epoch_us(e.ts) > r$i.t
           GROUP BY 1)"""
    }.mkString(",\n       ")
    val rows = stages.zipWithIndex.map { case (stage, i) =>
      s"SELECT ${i + 1} AS stage, '$stage' AS event_type, " +
        s"cast(count(*) as bigint) AS n_users FROM r${i + 1}"
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $ctes,
       counts AS (
       $rows),
       base AS (SELECT n_users AS n1 FROM counts WHERE stage = 1)
       SELECT stage, event_type, n_users,
              round(cast(n_users as double) / cast(n1 as double), $digits)
                AS conversion
       FROM counts CROSS JOIN base"""
  }

  /** COHORT RETENTION: users grouped by their first-activity week, then
    * per (cohort, week-offset) the count and share still active — the
    * classic retention triangle. Offsets are exact integer weeks
    * computed from µs differences of `date_trunc('week', …)` values
    * (UTC, DST-free), so the matrix cells are engine-exact.
    *
    * Shape: one scan → distinct (user, week) pairs; per-user cohort is
    * a min over those SAME pairs (no second scan); one user-keyed join
    * attaches cohorts to activity; the matrix and the cohort sizes are
    * bounded aggregates; sizes broadcast back for the ratio.
    */
  def retentionCohorts(spark: SparkSession, dir: String,
                       digits: Int = 4): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val uw = Tables(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(date_trunc('week', ts))").as("wk"))
      .distinct()
      .cutLineage() // consumed twice (cohort min + activity join)
    val cohorts = uw.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
    val cells = uw.join(cohorts, Seq("user_id"))
      .groupBy(col("c0"),
        expr(s"(wk - c0) div $weekUs").cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohorts.groupBy(col("c0")).agg(count(lit(1)).as("__size"))
    cells.join(broadcast(sizes), Seq("c0"))
      .select(
        expr("cast(cast(timestamp_micros(c0) as date) as string)")
          .as("cohort_week"),
        col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("__size").cast("double"),
          digits).as("retention"))
  }

  /** DuckDB oracle for [[retentionCohorts]] — identical week
    * truncation, integer-µs offsets, and ratio arithmetic.
    */
  def retentionCohortsSql(digits: Int = 4): String = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    s"""WITH uw AS (
         SELECT DISTINCT user_id,
                epoch_us(date_trunc('week', ts)) AS wk
         FROM events),
       cohorts AS (
         SELECT user_id, min(wk) AS c0 FROM uw GROUP BY 1),
       cells AS (
         SELECT c0, cast((wk - c0) // $weekUs as int) AS week_offset,
                cast(count(*) as bigint) AS n_active
         FROM uw JOIN cohorts USING (user_id)
         GROUP BY 1, 2),
       sizes AS (
         SELECT c0, cast(count(*) as bigint) AS sz FROM cohorts GROUP BY 1)
       SELECT cast(cast(make_timestamp(c0) as date) as varchar)
                AS cohort_week,
              week_offset, n_active,
              round(cast(n_active as double) / cast(sz as double), $digits)
                AS retention
       FROM cells JOIN sizes USING (c0)"""
  }

  /** CUBE over (status, priority): all four grouping-set combinations in
    * one pass with partial aggregation.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_price"),
        count(lit(1)).as("n"))
  }

  /** Explicit GROUPING SETS over (event_type, day): the asymmetric
    * grouping neither ROLLUP nor CUBE expresses — (both), (event_type),
    * (day) but NOT the grand total. One pass with partial aggregation,
    * exactly like [[cubeAgg]]; the grouping-set expansion happens before
    * the shuffle so each set still map-side combines.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date").cast("string"))
    e.groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
          Seq(col("day"))),
        col("event_type"), col("day"))
      .agg(round(sum(col("value")), 4).as("sum_value"),
        count(lit(1)).as("n"))
  }

  /** RANGE-frame trailing window: per-user sum of event values over the
    * PRECEDING 1 HOUR by event time — a true range frame (value-based
    * bounds over gaps), not a row-count frame like [[movingAvg]]'s ROWS
    * BETWEEN. Time kept as epoch-µs integers (the integer-time rule), so
    * the frame bound is exact integer arithmetic in both engines. One
    * shuffle on user_id; the sort feeds the range scan directly.
    */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L) // 1 hour in µs
    e.withColumn("hour_sum", round(sum(col("value")).over(w), 4))
      .withColumn("hour_n", count(lit(1)).over(w))
  }

  /** Time-series smoothing: daily event value sums with a 7-day trailing
    * moving average — one shuffle for the daily rollup, the window reuses
    * that partitioning.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val daily = e.groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily.withColumn("ma7", round(avg(col("day_value")).over(w), 4))
      .withColumn("day", col("day").cast("string"))
  }

  /** Batch twin of the streaming path: tumbling 1-hour windows per
    * event_type over `events` (count, sum(value)). The streaming version
    * (graft.streaming) runs the same aggregation with a watermark.
    */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    e.groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }
}
