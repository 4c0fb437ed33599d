package graft.qa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.Checkpoints.CutSyntax

/** QA pipeline: Spark-first re-expression of the reference's
  * `etl_qa_run_pipeline` (R/etl_qa_run_pipeline.R:697-808): per-time-period
  * missingness, continuous / date distributions, categorical value counts,
  * and period-over-period change flags.
  *
  * Scale design: each stat family is ONE aggregation over all requested
  * columns (wide agg, then `stack` to long) — a single shuffle per family
  * regardless of column count, instead of the per-column query storm a
  * naive translation would run. At 100 TB the input is scanned once per
  * family with only (timeVar ∪ cols) read from parquet.
  */
object Qa {

  /** Missingness per (time period, column): n rows missing + proportion.
    * (reference: etl_qa_run_pipeline.R:697-705 — melt + sum(is.na)/.N).
    */
  def missingness(df: DataFrame, timeVar: String, cols: Seq[String],
                  digits: Int = 4): DataFrame = {
    val aggs = cols.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(s"__m_$c")) :+
      count(lit(1)).as("__n")
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', __m_$c").mkString(", ")
    wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $stackArgs) as (varname, n_missing)"),
        col("__n"))
      .select(col(timeVar), col("varname"), col("n_missing"),
        round(col("n_missing") / col("__n"), digits).as("proportion"))
  }

  /** Continuous stats per (time period, numeric column): mean / exact
    * interpolated median / min / max (reference: etl_qa_run_pipeline.R:708-724).
    * Exact `percentile` matches DuckDB's `median` interpolation.
    */
  def continuous(df: DataFrame, timeVar: String, cols: Seq[String],
                 digits: Int = 4): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"__mean_$c"),
        expr(s"percentile($c, 0.5)").as(s"__med_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"))
    }
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __mean_$c, __med_$c, __min_$c, __max_$c").mkString(", ")
    wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $stackArgs) as (varname, mean, median, min, max)"))
      .select(col(timeVar), col("varname"),
        round(col("mean"), digits).as("mean"),
        round(col("median"), digits).as("median"),
        round(col("min"), digits).as("min"),
        round(col("max"), digits).as("max"))
  }

  /** Quantiles per (time period, numeric column): exact interpolated
    * p25/p50/p75/p95 in ONE pass (Spark's `percentile` takes the whole
    * probability array — one sort-based aggregate, not four).
    */
  def quantiles(df: DataFrame, timeVar: String, cols: Seq[String],
                digits: Int = 4): DataFrame = {
    val aggs = cols.map(c =>
      expr(s"percentile($c, array(0.25, 0.5, 0.75, 0.95))").as(s"__q_$c"))
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __q_$c[0], __q_$c[1], __q_$c[2], __q_$c[3]").mkString(", ")
    wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $stackArgs) as (varname, p25, p50, p75, p95)"))
      .select(col(timeVar), col("varname"),
        round(col("p25"), digits).as("p25"), round(col("p50"), digits).as("p50"),
        round(col("p75"), digits).as("p75"), round(col("p95"), digits).as("p95"))
  }

  /** Scale path for [[quantiles]]: `approx_percentile` (KLL-style sketch,
    * bounded memory per group) instead of exact `percentile` (which
    * buffers every value in the group). Use this when group sizes are
    * unbounded; accuracy is controlled by `accuracy` (higher = tighter).
    */
  def quantilesApprox(df: DataFrame, timeVar: String, cols: Seq[String],
                      accuracy: Int = 10000, digits: Int = 4): DataFrame = {
    val aggs = cols.map(c =>
      expr(s"approx_percentile($c, array(0.25, 0.5, 0.75, 0.95), $accuracy)")
        .as(s"__q_$c"))
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __q_$c[0], __q_$c[1], __q_$c[2], __q_$c[3]").mkString(", ")
    wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $stackArgs) as (varname, p25, p50, p75, p95)"))
      .select(col(timeVar), col("varname"),
        round(col("p25"), digits).as("p25"), round(col("p50"), digits).as("p50"),
        round(col("p75"), digits).as("p75"), round(col("p95"), digits).as("p95"))
  }

  /** Date stats per (time period, date column): min / median / max, with
    * the median reported on the epoch-millis scale so engines agree
    * exactly (reference: etl_qa_run_pipeline.R:726-745).
    */
  def dates(df: DataFrame, timeVar: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      // TIMESTAMP_NTZ casts to double only via TIMESTAMP (UTC session).
      val ep = s"(cast(cast($c as timestamp) as double) * 1000)"
      Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        expr(s"cast(floor(percentile($ep, 0.5)) as bigint)").as(s"__med_$c"))
    }
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', __min_$c, __med_$c, __max_$c").mkString(", ")
    wide.select(col(timeVar),
      expr(s"stack(${cols.size}, $stackArgs) as (varname, min_val, median_epoch_ms, max_val)"))
  }

  /** Categorical value counts per (time period, column, value) with
    * within-(period, column) proportions; NULL appears as its own row
    * (reference: etl_qa_run_pipeline.R:748-764).
    * One melt projection + one shuffle on (time, varname, value); the
    * proportion reuses the same partitioning via a window, so no second
    * shuffle.
    */
  def categorical(df: DataFrame, timeVar: String, cols: Seq[String],
                  digits: Int = 4): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', cast($c as string)").mkString(", ")
    val long = df.select(col(timeVar),
      expr(s"stack(${cols.size}, $stackArgs) as (varname, value)"))
    val counted = long.groupBy(col(timeVar), col("varname"), col("value"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(timeVar), col("varname"))
    counted.withColumn("proportion", round(col("n") / sum(col("n")).over(w), digits))
  }

  /** `keep_top_8` parity: within each (period, column), keep the NULL row
    * plus values whose dense rank by count is ≤ `topN`; everything else
    * collapses into a single 'Other values' row, counts re-summed and
    * proportions recomputed (reference: etl_qa_run_pipeline.R:1042-1062 —
    * frankv dense rank, NA pinned at rank 0, non-top values relabelled).
    * This is both reporting parity AND the scale guard [[categorical]]
    * lacks: output is bounded at topN+2 rows per (period, column) no
    * matter the column's cardinality. The rank window partitions on
    * (period, column) — its input is already aggregated to distinct
    * values, so the window is cardinality-bounded, not data-bounded.
    */
  def categoricalTop8(df: DataFrame, timeVar: String, cols: Seq[String],
                      topN: Int = 8, digits: Int = 4): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', cast($c as string)").mkString(", ")
    val long = df.select(col(timeVar),
      expr(s"stack(${cols.size}, $stackArgs) as (varname, value)"))
    val counted = long.groupBy(col(timeVar), col("varname"), col("value"))
      .agg(count(lit(1)).as("n"))
    // NA is ranked 0 (always kept); dense rank runs over non-null values
    // only, mirroring frankv over the !is.na subset
    val wr = Window.partitionBy(col(timeVar), col("varname"))
      .orderBy(col("n").desc)
    val ranked = counted.filter(col("value").isNotNull)
      .withColumn("rnk", dense_rank().over(wr))
      .unionByName(counted.filter(col("value").isNull)
        .withColumn("rnk", lit(0)))
    val relabeled = ranked.withColumn("value",
      when(col("rnk") <= topN, col("value")).otherwise(lit("Other values")))
    val re = relabeled.groupBy(col(timeVar), col("varname"), col("value"))
      .agg(sum(col("n")).as("n"))
    val w2 = Window.partitionBy(col(timeVar), col("varname"))
    re.withColumn("proportion", round(col("n") / sum(col("n")).over(w2), digits))
  }

  /** The fused single-pass variant of [[missingness]] + [[continuous]] +
    * [[dates]]: one wide aggregation over groupBy(timeVar) computing every
    * stat of all three families, then three per-family projections of the
    * SHARED aggregated frame. Each returned frame is value-identical to
    * its standalone operator (spec-asserted); the point is plan shape —
    * within one query (the qa_report union) every reference to these
    * frames shares an identical aggregation subtree, so ReuseExchange
    * scans and shuffles the source ONCE for all families instead of once
    * per family. This is the 100 TB path: 1 scan, 1 shuffle of
    * periods×stats, everything downstream is derivation on tiny frames.
    */
  private[graft] def fusedStats(df: DataFrame, timeVar: String,
                                cols: Seq[String], numeric: Seq[String],
                                dateCols: Seq[String], digits: Int = 4):
      (DataFrame, Option[DataFrame], Option[DataFrame]) = {
    val missAggs = cols.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"__m_$c")) :+
      count(lit(1)).as("__n")
    val contAggs = numeric.flatMap { c =>
      Seq(avg(col(c)).as(s"__mean_$c"),
        expr(s"percentile($c, 0.5)").as(s"__med_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"))
    }
    val dateAggs = dateCols.flatMap { c =>
      val ep = s"(cast(cast($c as timestamp) as double) * 1000)"
      Seq(min(col(c)).cast("string").as(s"__dmin_$c"),
        max(col(c)).cast("string").as(s"__dmax_$c"),
        expr(s"cast(floor(percentile($ep, 0.5)) as bigint)").as(s"__dmed_$c"))
    }
    val aggs = missAggs ++ contAggs ++ dateAggs
    // Materialize the aggregated frame: it is tiny at ANY input scale (one
    // row per period), and every downstream family projects a different
    // column subset of it — without materialization Catalyst's column
    // pruning specializes each reference into its own agg-over-scan
    // subtree (no ReuseExchange fires, the source is scanned once per
    // family). A lineage cut (not `persist`, per the `Checkpoints` policy)
    // so the source is scanned exactly once AND nothing is left registered
    // in the CacheManager: checkpoint blocks are freed by the
    // ContextCleaner when the frame is GC'd, so a long-lived session
    // doesn't leak cache entries.
    val wide = df.groupBy(col(timeVar)).agg(aggs.head, aggs.tail: _*)
      .cutLineage()
    val missStack = cols.map(c => s"'$c', __m_$c").mkString(", ")
    val miss = wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $missStack) as (varname, n_missing)"),
        col("__n"))
      .select(col(timeVar), col("varname"), col("n_missing"),
        round(col("n_missing") / col("__n"), digits).as("proportion"))
    val cont = if (numeric.isEmpty) None else {
      val st = numeric.map(c =>
        s"'$c', __mean_$c, __med_$c, __min_$c, __max_$c").mkString(", ")
      Some(wide.select(col(timeVar),
          expr(s"stack(${numeric.size}, $st) as (varname, mean, median, min, max)"))
        .select(col(timeVar), col("varname"),
          round(col("mean"), digits).as("mean"),
          round(col("median"), digits).as("median"),
          round(col("min"), digits).as("min"),
          round(col("max"), digits).as("max")))
    }
    val dts = if (dateCols.isEmpty) None else {
      val st = dateCols.map(c =>
        s"'$c', __dmin_$c, __dmed_$c, __dmax_$c").mkString(", ")
      Some(wide.select(col(timeVar),
        expr(s"stack(${dateCols.size}, $st) as (varname, min_val, median_epoch_ms, max_val)")))
    }
    (miss, cont, dts)
  }

  /** The distinct-threshold routing decision: which candidate columns have
    * at least `distinctThreshold` distinct values (and so stay numeric/date
    * instead of being treated as low-cardinality categorical codes).
    * `exactOnly = true` forces the single exact pass — the two paths return
    * the SAME set in all cases (spec-asserted); the two-phase default just
    * skips the exact pass for columns whose HLL++ estimate is clearly
    * outside the threshold's error band.
    */
  private[graft] def routeDistinct(df: DataFrame, candidates: Seq[String],
                                   distinctThreshold: Int,
                                   exactOnly: Boolean = false): Set[String] = {
    def exactAtLeast(cs: Seq[String]): Seq[String] =
      if (cs.isEmpty) Nil
      else {
        val aggs = cs.map(c => countDistinct(col(c)).as(c))
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        cs.filter(c => row.getAs[Long](row.fieldIndex(c)) >= distinctThreshold)
      }
    if (distinctThreshold <= 1 || candidates.isEmpty) candidates.toSet
    else if (exactOnly) exactAtLeast(candidates).toSet
    else {
      val rsd = 0.05
      // 4·rsd band: P(|est/true - 1| > 4·rsd) is negligible for HLL++
      val (lo, hi) = (distinctThreshold * (1 - 4 * rsd),
        distinctThreshold * (1 + 4 * rsd))
      val approxAggs = candidates.map(c =>
        approx_count_distinct(col(c), rsd).as(c))
      val approxRow = df.agg(approxAggs.head, approxAggs.tail: _*).collect()(0)
      val est = candidates.map(c =>
        c -> approxRow.getAs[Long](approxRow.fieldIndex(c))).toMap
      val certain = candidates.filter(c => est(c) >= hi)
      val uncertain = candidates.filter(c => est(c) >= lo && est(c) < hi)
      (certain ++ exactAtLeast(uncertain)).toSet
    }
  }

  /** Full pipeline orchestration mirroring the reference's 4-step flow
    * (etl_qa_setup_config → initial → final → export,
    * R/etl_qa_run_pipeline.R:86-89): classify columns by type, run every
    * stat family, attach the period-over-period comparison, and
    * optionally export each result table to `outDir` (parquet — the
    * Spark-native "export"; the reference writes xlsx+plots, which are
    * presentation concerns downstream of these frames).
    */
  def runPipeline(df: DataFrame, timeVar: String, cols: Seq[String],
                  outDir: Option[String] = None,
                  relThreshold: Double = 2.0,
                  absThreshold: Double = 3.0,
                  distinctThreshold: Int = 1): Map[String, DataFrame] = {
    import org.apache.spark.sql.types._
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val numericByType = cols.filter(c => schema.get(c).exists {
      case _: NumericType => true; case _ => false
    })
    val datesByType = cols.filter(c => schema.get(c).exists {
      case DateType | TimestampType | TimestampNTZType => true; case _ => false
    })
    // distinct_threshold routing (reference: etl_qa_run_pipeline.R:68-71,
    // :708, :742): numeric/date columns with fewer distinct values than
    // the threshold are low-cardinality codes — treat as categorical, gate
    // min/mean/median/max on passing the threshold.
    //
    // Two-phase at scale: approx_count_distinct (HLL++, rsd 5%) routes
    // every column whose sketch estimate sits clearly outside the
    // threshold's error band; ONLY columns inside the band get the exact
    // countDistinct pass (the sketch could misroute them by ±1 right at
    // the boundary — the routing decision must be exact there). On a
    // 100 TB table the common case is one cheap sketch pass, no exact
    // pass; the result is IDENTICAL to exact-only routing in all cases.
    val routed: Set[String] =
      routeDistinct(df, numericByType ++ datesByType, distinctThreshold)
    val numeric = numericByType.filter(routed.contains)
    val dates = datesByType.filter(routed.contains)
    val categorical = cols.filterNot(c => numeric.contains(c) || dates.contains(c))

    // ONE fused wide aggregation feeds missingness, continuous, and date
    // stats: the three families groupBy the same key, so computing them as
    // one agg gives every downstream family (and the qa_report union,
    // which references these frames repeatedly) an IDENTICAL shared
    // subtree — Spark's ReuseExchange then scans + shuffles the source
    // once for all of them instead of once per family reference. Values
    // are expression-for-expression those of the standalone
    // missingness/continuous/dates operators (spec-asserted).
    val (missFused, contFused, dateFused) =
      fusedStats(df, timeVar, cols, numeric, dates)
    // Same materialization argument: the top-8 frame is bounded at
    // (topN+2) × periods × columns rows and is referenced by two families.
    // A lineage cut, not persist — see fusedStats' cache-hygiene note.
    val top8 = if (categorical.nonEmpty)
      Some(categoricalTop8(df, timeVar, categorical).cutLineage())
    else None
    val results = Seq(
      "missing_data" -> Some(missFused),
      "vals_continuous" -> contFused,
      "vals_date" -> dateFused,
      "vals_categorical" -> top8,
      "comparisons" -> contFused.map(c =>
        comparePeriodsFull(c, timeVar, relThreshold)),
      "missing_changes" -> Some(missingnessChange(
        missFused, timeVar, absThreshold)),
      // change flags over the SAME top-8 frame exported as
      // vals_categorical — exactly the reference's flow
      // (etl_qa_run_pipeline.R:761 keep_top_8 output feeds
      // etl_qa_final_results' abs_proportion_change). A value moving
      // across the top-8 boundary flags as a change in both systems
      // (it shifts mass to/from 'Other values'); the grid stays bounded
      // at (topN+2) × periods rows per column.
      "categorical_changes" -> top8.map(t =>
        categoricalChange(t, timeVar, absThreshold))
    ).collect { case (k, Some(v)) => k -> v }.toMap

    outDir.foreach { dir =>
      results.foreach { case (name, frame) =>
        frame.write.mode("overwrite").parquet(s"$dir/$name")
      }
      // the workbook equivalent: every family unioned into one long frame
      report(results, timeVar).write.mode("overwrite").parquet(s"$dir/qa_report")
    }
    results
  }

  /** (family → numeric stat cols, string stat cols, has a `value` column).
    * The per-family projection [[report]] flattens into the long schema.
    */
  private val reportStats: Seq[(String, Seq[String], Seq[String], Boolean)] = Seq(
    ("missing_data", Seq("n_missing", "proportion"), Nil, false),
    ("vals_continuous", Seq("mean", "median", "min", "max"), Nil, false),
    ("vals_date", Seq("median_epoch_ms"), Seq("min_val", "max_val"), false),
    ("vals_categorical", Seq("n", "proportion"), Nil, true),
    ("comparisons", Seq("mean", "prev_mean", "rel_change_mean", "flag_mean",
      "median", "prev_median", "rel_change_median", "flag_median"), Nil, false),
    ("missing_changes", Seq("proportion", "prev_proportion", "abs_change_pp",
      "flag_missing"), Nil, false),
    ("categorical_changes", Seq("n", "proportion", "prev_proportion",
      "abs_change_pp", "flag_categorical"), Nil, true))

  /** Distinct numeric stat names across every report family, sorted —
    * the fixed pivot-column vocabulary of [[workbookPivot]] (explicit
    * values keep the pivot a single pass: Spark's value-less `pivot`
    * first runs a distinct job to discover them).
    */
  val workbookStats: Seq[String] =
    reportStats.flatMap(_._2).distinct.sorted

  /** The workbook SHEET view of the long [[report]]: one row per
    * (family, period, varname, value), one column per stat — the wide
    * layout each xlsx sheet of the reference's QA workbook presents
    * (etl_qa_run_pipeline.R:1772-1783). Pure reshape of the already
    * aggregated long frame: one groupBy over the bounded report rows,
    * each cell a conditional max over the (at most one) matching row.
    */
  def workbookPivot(report: DataFrame): DataFrame =
    report.groupBy(col("family"), col("period"), col("varname"), col("value"))
      .pivot("stat", workbookStats)
      .agg(max(col("val_num")))

  /** The workbook sheet view built DIRECTLY from the pipeline's family
    * frames — value-identical to `workbookPivot(report(pipeline))`
    * (spec-asserted) with the long→wide round trip collapsed: the long
    * report EXPLODES each family frame into (stat, val) rows only for
    * the pivot to groupBy them straight back, and since every family
    * frame already holds exactly one row per (family, period, varname,
    * value) key with its stats as columns, the sheet is just each frame
    * projected onto the full stat vocabulary (null where a stat isn't
    * the family's) and unioned — no explode, no pivot exchange, no
    * conditional-max pass. This is the gate's form; [[workbookPivot]]
    * stays for pivoting an arbitrary already-long report.
    */
  def workbookSheets(pipeline: Map[String, DataFrame],
                     timeVar: String): DataFrame = {
    val frames = reportStats.flatMap { case (family, numStats, _, hasValue) =>
      pipeline.get(family).map { df =>
        df.select(Seq(lit(family).as("family"),
          col(timeVar).cast("string").as("period"),
          col("varname"),
          (if (hasValue) col("value") else lit(null).cast("string"))
            .as("value")) ++
          workbookStats.map(st =>
            (if (numStats.contains(st)) col(st).cast("double")
             else lit(null).cast("double")).as(st)): _*)
      }
    }
    frames.reduce(_.unionByName(_))
  }

  /** DuckDB oracle for [[workbookPivot]] over a long-report subquery:
    * the same reshape as ANSI conditional aggregation.
    */
  def workbookPivotSql(reportSql: String): String = {
    val cells = workbookStats.map(st =>
      s"""max(CASE WHEN stat = '$st' THEN val_num END) AS "$st"""")
      .mkString(",\n           ")
    s"""WITH rpt AS ($reportSql)
       SELECT family, period, varname, value,
           $cells
       FROM rpt GROUP BY family, period, varname, value"""
  }

  /** One unioned long-format report over every [[runPipeline]] family —
    * the Spark-native equivalent of the reference's single xlsx workbook
    * (etl_qa_run_pipeline.R:1772-1783: one sheet per stat family; here one
    * `family` tag per section). Schema:
    * `(family, period, varname, value, stat, val_num, val_str)` — numeric
    * stats land in `val_num`, date renderings in `val_str`; `value` is
    * non-null only for the categorical families.
    *
    * Each family is ONE projection + explode over its (already aggregated,
    * bounded) stats frame — no extra shuffle; the union is metadata-only.
    */
  def report(pipeline: Map[String, DataFrame], timeVar: String): DataFrame = {
    val frames = reportStats.flatMap { case (family, numStats, strStats, hasValue) =>
      pipeline.get(family).map { df =>
        val kvs = numStats.map(s => struct(lit(s).as("stat"),
            col(s).cast("double").as("val_num"),
            lit(null).cast("string").as("val_str"))) ++
          strStats.map(s => struct(lit(s).as("stat"),
            lit(null).cast("double").as("val_num"),
            col(s).cast("string").as("val_str")))
        df.select(lit(family).as("family"),
            col(timeVar).cast("string").as("period"),
            col("varname"),
            (if (hasValue) col("value") else lit(null).cast("string")).as("value"),
            explode(array(kvs: _*)).as("kv"))
          .select(col("family"), col("period"), col("varname"), col("value"),
            col("kv.stat").as("stat"), col("kv.val_num").as("val_num"),
            col("kv.val_str").as("val_str"))
      }
    }
    frames.reduce(_.unionByName(_))
  }

  /** Period-over-period change detection on the continuous stats: relative
    * % change in mean/median vs the previous period, flagged when above
    * `relThreshold` (reference: etl_qa_run_pipeline.R abs/rel_threshold,
    * defaults 3/2). Input is the long frame from [[continuous]].
    */
  def comparePeriods(continuousLong: DataFrame, timeVar: String,
                     relThreshold: Double = 2.0, digits: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("varname")).orderBy(col(timeVar))
    continuousLong
      .withColumn("prev_mean", lag(col("mean"), 1).over(w))
      .withColumn("rel_change_mean",
        round(abs(col("mean") - col("prev_mean")) / abs(col("prev_mean")) * 100, digits))
      .withColumn("flag_mean",
        when(col("rel_change_mean") > relThreshold, 1).otherwise(0))
      .filter(col("prev_mean").isNotNull)
      .select(col(timeVar), col("varname"), col("mean"), col("prev_mean"),
        col("rel_change_mean"), col("flag_mean"))
  }

  /** Full-parity period comparison on continuous stats: signed relative %
    * change of BOTH mean and median vs the previous period, each flagged
    * against `relThreshold` (reference: etl_qa_run_pipeline.R:1586-1599 —
    * rel_mean_change and rel_median_change, `(x/shift(x) - 1) * 100`
    * against rel_threshold). Input is the long frame from [[continuous]];
    * changes are derived from the already-rounded stats so both engines
    * see identical doubles.
    */
  def comparePeriodsFull(continuousLong: DataFrame, timeVar: String,
                         relThreshold: Double = 2.0, digits: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("varname")).orderBy(col(timeVar))
    continuousLong
      .withColumn("prev_mean", lag(col("mean"), 1).over(w))
      .withColumn("prev_median", lag(col("median"), 1).over(w))
      .filter(col("prev_mean").isNotNull)
      .withColumn("rel_change_mean",
        round((col("mean") / col("prev_mean") - 1) * 100, digits))
      .withColumn("rel_change_median",
        round((col("median") / col("prev_median") - 1) * 100, digits))
      .withColumn("flag_mean",
        when(abs(col("rel_change_mean")) > relThreshold, 1).otherwise(0))
      .withColumn("flag_median",
        when(abs(col("rel_change_median")) > relThreshold, 1).otherwise(0))
      .select(col(timeVar), col("varname"),
        col("mean"), col("prev_mean"), col("rel_change_mean"), col("flag_mean"),
        col("median"), col("prev_median"), col("rel_change_median"),
        col("flag_median"))
  }

  /** Categorical proportion change over a DENSE (period × varname ×
    * value) grid: the reference first templates every observed
    * (varname, value) across the full period range with zero-fill
    * (etl_qa_run_pipeline.R:1545-1560 — unique_values × time_range
    * merge, count/proportion 0), so a value that disappears in a period
    * still produces a flagged change row; then flags
    * abs_proportion_change vs `absThreshold` (:1561-1566). NULL values
    * are first-class (null-safe grid join). Input is [[categorical]] (or,
    * at scale, [[categoricalTop8]] — the grid is then bounded at
    * (topN+2) × periods rows per column).
    */
  def categoricalChange(catLong: DataFrame, timeVar: String,
                        absThreshold: Double = 3.0, digits: Int = 4): DataFrame = {
    val dense = denseCatGrid(catLong, timeVar)
    val w = Window.partitionBy(col("varname"), col("value")).orderBy(col(timeVar))
    dense
      .withColumn("prev_proportion", lag(col("proportion"), 1).over(w))
      .filter(col("prev_proportion").isNotNull)
      .withColumn("abs_change_pp",
        round((col("proportion") - col("prev_proportion")) * 100, digits))
      .withColumn("flag_categorical",
        when(abs(col("abs_change_pp")) > absThreshold, 1).otherwise(0))
      .select(col(timeVar), col("varname"), col("value"), col("n"),
        col("proportion"), col("prev_proportion"), col("abs_change_pp"),
        col("flag_categorical"))
  }

  /** Dense (period × varname × value) grid over a [[categorical]] long
    * frame, zero-filled — the shared template of the per-value change
    * monitors ([[categoricalChange]], [[driftPsi]]): true period
    * adjacency under `lag` even when a value skips a period.
    *
    * The template references `catLong` THREE times (periods, values,
    * and the grid's left join side). The input is a bounded aggregate,
    * but its lineage is a full scan + shuffle of the source — left
    * unmaterialized, Spark recomputes that lineage per reference
    * (3 parquet scans, measured 6.74 s vs 0.5 s at sf0.1). Materialize
    * once with a lineage cut (house policy — nothing left in the
    * CacheManager), unless the caller already did: runPipeline hands in
    * its checkpointed top-8 frame, which arrives as a LogicalRDD leaf.
    */
  private def denseCatGrid(catLong: DataFrame, timeVar: String,
                           withProportion: Boolean = true): DataFrame = {
    val bounded = catLong.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => catLong
      case _ => catLong.cutLineage()
    }
    val periods = bounded.select(col(timeVar)).distinct()
    val vals = bounded.select(col("varname"), col("value")).distinct()
    // EXPLICIT broadcasts on both grid joins: every side is a bounded
    // monitoring aggregate (|periods| × |monitored values| — small by
    // construction at any corpus scale), so broadcasting is always
    // right — and pinning it removes AQE's runtime size-estimate choice
    // between broadcast and shuffle, which flapped the audited exchange
    // count 6/7 with accumulated-memory state (the one non-deterministic
    // plan in the suite)
    val grid = periods.crossJoin(broadcast(vals)).alias("g")
    // prune to the consumer's columns BEFORE the join: a checkpointed
    // LogicalRDD leaf is not column-pruned by Catalyst, and the wider
    // row estimate can push the join off the broadcast path
    val keep = Seq(timeVar, "varname", "value", "n") ++
      (if (withProportion) Seq("proportion") else Nil)
    val c = bounded.select(keep.map(col): _*).alias("c")
    // ONE long join key, with the exact match as the join's residual
    // condition. Equi-keys on the three strings would build an
    // UnsafeHashedRelation, whose map takes a whole Tungsten page
    // (16 MiB on a 3 GiB driver) for this small relation, held until
    // the ContextCleaner drops the broadcast; a long key builds a
    // LongHashedRelation sized to its rows. The residual is written with
    // range comparisons so that no equality is lifted back into the key.
    def key(t: String) =
      xxhash64(col(s"$t.$timeVar"), col(s"$t.varname"), col(s"$t.value"))
    def same(c1: String) = col(s"g.$c1") >= col(s"c.$c1") &&
      col(s"g.$c1") <= col(s"c.$c1")
    val joined = grid.join(broadcast(c),
        key("g") === key("c") && same(timeVar) && same("varname") &&
          ((col("g.value").isNull && col("c.value").isNull) || same("value")),
        "left")
      .select(Seq(col(s"g.$timeVar").as(timeVar),
        col("g.varname").as("varname"), col("g.value").as("value"),
        coalesce(col("c.n"), lit(0L)).as("n")) ++
        (if (withProportion)
          Seq(coalesce(col("c.proportion"), lit(0.0)).as("proportion"))
        else Nil): _*)
    joined
  }

  /** Missingness period-over-period change: absolute percentage-point
    * change in the missing proportion vs the previous period, flagged
    * against `absThreshold` (reference: etl_qa_run_pipeline.R:1531-1537 —
    * abs_change on missing_data proportions vs abs_threshold, default 3).
    * Input is the long frame from [[missingness]].
    */
  def missingnessChange(missingLong: DataFrame, timeVar: String,
                        absThreshold: Double = 3.0, digits: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("varname")).orderBy(col(timeVar))
    missingLong
      .withColumn("prev_proportion", lag(col("proportion"), 1).over(w))
      .filter(col("prev_proportion").isNotNull)
      .withColumn("abs_change_pp",
        round((col("proportion") - col("prev_proportion")) * 100, digits))
      .withColumn("flag_missing",
        when(abs(col("abs_change_pp")) > absThreshold, 1).otherwise(0))
      .select(col(timeVar), col("varname"), col("proportion"),
        col("prev_proportion"), col("abs_change_pp"), col("flag_missing"))
  }

  /** Population Stability Index drift monitor per (period, categorical
    * column) — the standard ML-monitoring distribution-shift metric,
    * complementing the per-value change flags ([[categoricalChange]])
    * with one summary number per transition:
    * PSI = Σ_values (p_cur − p_prev)·ln(p_cur/p_prev), computed over
    * values present in BOTH adjacent periods, with values appearing/
    * disappearing reported separately as `n_new`/`n_gone` (the honest
    * treatment — ε-smoothing hides exactly the categories a monitor
    * should flag). Rule of thumb: PSI < 0.1 stable, > 0.25 shifted.
    *
    * Cross-engine determinism: p_cur − p_prev and p_cur/p_prev are
    * formed from exact integer cross-products (c·n' − c'·n over n·n'),
    * the log ratio is quantized once to integer micro-nats, each
    * value's contribution floors to an integer, and the per-transition
    * reduction is an order-independent integer sum — one fixed-order
    * division publishes the double. Same dense-grid + lag shape (and
    * the same materialize-once policy) as [[categoricalChange]], so
    * adjacency is true period adjacency even when a value skips a
    * period.
    */
  def driftPsi(catLong: DataFrame, timeVar: String): DataFrame = {
    val dense = denseCatGrid(catLong, timeVar, withProportion = false)
    val wt = Window.partitionBy(col(timeVar), col("varname"))
    val wl = Window.partitionBy(col("varname"), col("value")).orderBy(col(timeVar))
    val lagged = dense
      .withColumn("n_tot", sum(col("n")).over(wt))
      .withColumn("prev_n", lag(col("n"), 1).over(wl))
      .withColumn("prev_tot", lag(col("n_tot"), 1).over(wl))
      .filter(col("prev_tot").isNotNull)
    val common = col("n") > 0 && col("prev_n") > 0
    // cross-products in decimal(38,0), not long: counts at the 100 TB
    // scale (~1e10 rows/period) make n_tot·prev_tot ~ 1e20 — a silent
    // Long wrap in Spark and a BIGINT range error in DuckDB. Exact
    // decimal keeps the integers exact at any realistic count; the
    // decimal → double cast rounds to nearest identically in both
    // engines (the rowChecksum decimal/HUGEINT recipe).
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val lrMicro = floor(
      log((dec(col("n")) * dec(col("prev_tot"))).cast("double") /
          (dec(col("prev_n")) * dec(col("n_tot"))).cast("double")) * lit(1000000.0))
    val termMicro = floor(
      ((dec(col("n")) * dec(col("prev_tot")) - dec(col("prev_n")) * dec(col("n_tot")))
        .cast("double") /
        (dec(col("n_tot")) * dec(col("prev_tot"))).cast("double")) * lrMicro.cast("double"))
    lagged
      .withColumn("__term", when(common, termMicro).otherwise(lit(0L)))
      .groupBy(col(timeVar), col("varname"))
      .agg((sum(col("__term")).cast("double") / lit(1000000.0)).as("psi"),
        sum(when(common, 1L).otherwise(0L)).as("n_common"),
        sum(when(col("n") > 0 && col("prev_n") === 0, 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("n") === 0 && col("prev_n") > 0, 1L).otherwise(0L))
          .as("n_gone"))
  }

  /** DuckDB oracle for [[driftPsi]] over one categorical column —
    * identical dense grid, lag adjacency, integer cross-products and
    * micro-nat quantization.
    */
  def driftPsiSql(table: String, periodExpr: String, c: String): String =
    s"""WITH src AS (
         SELECT $periodExpr AS period, cast($c as varchar) AS value
         FROM $table),
       counts AS (
         SELECT period, value, count(*) AS n FROM src GROUP BY 1, 2),
       grid AS (
         SELECT p.period, v.value
         FROM (SELECT DISTINCT period FROM counts) p
         CROSS JOIN (SELECT DISTINCT value FROM counts) v),
       dense AS (
         SELECT g.period, g.value, coalesce(c.n, 0) AS n
         FROM grid g LEFT JOIN counts c
           ON g.period = c.period AND g.value IS NOT DISTINCT FROM c.value),
       totals AS (
         SELECT period, value, n,
                sum(n) OVER (PARTITION BY period) AS n_tot
         FROM dense),
       lagged AS (
         SELECT period, value, n, n_tot,
                lag(n) OVER (PARTITION BY value ORDER BY period) AS prev_n,
                lag(n_tot) OVER (PARTITION BY value ORDER BY period) AS prev_tot
         FROM totals),
       terms AS (
         SELECT period, n, prev_n,
                CASE WHEN n > 0 AND prev_n > 0 THEN
                  cast(floor(
                    (cast(cast(n as hugeint) * cast(prev_tot as hugeint)
                          - cast(prev_n as hugeint) * cast(n_tot as hugeint)
                        as double) /
                     cast(cast(n_tot as hugeint) * cast(prev_tot as hugeint)
                        as double)) *
                    cast(cast(floor(ln(
                        cast(cast(n as hugeint) * cast(prev_tot as hugeint) as double) /
                        cast(cast(prev_n as hugeint) * cast(n_tot as hugeint) as double))
                        * 1000000.0)
                      as bigint) as double)) as bigint)
                ELSE 0 END AS term
         FROM lagged l WHERE prev_tot IS NOT NULL)
     SELECT period, '$c' AS varname,
            cast(sum(term) as double) / 1000000.0 AS psi,
            cast(sum(CASE WHEN n > 0 AND prev_n > 0 THEN 1 ELSE 0 END)
              as bigint) AS n_common,
            cast(sum(CASE WHEN n > 0 AND prev_n = 0 THEN 1 ELSE 0 END)
              as bigint) AS n_new,
            cast(sum(CASE WHEN n = 0 AND prev_n > 0 THEN 1 ELSE 0 END)
              as bigint) AS n_gone
     FROM terms GROUP BY period"""

  /** Data-freshness check per stream/source: last event time and
    * staleness against a reference instant — the latency-SLA monitor a
    * warehouse runs against every feed (did source X stop sending?).
    * One map-side-combining groupBy; integer µs arithmetic, engine-
    * exact. The reference instant is caller-supplied (a run would pass
    * now(); the gate pins a literal so both engines agree).
    */
  def freshness(df: DataFrame, groupCol: String, tsCol: String,
                asOfUs: Long, slaUs: Long): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        max(expr(s"unix_micros($tsCol)")).as("last_event_us"))
      .select(col(groupCol), col("n"), col("last_event_us"),
        (lit(asOfUs) - col("last_event_us")).as("staleness_us"),
        when(lit(asOfUs) - col("last_event_us") > slaUs, 1).otherwise(0)
          .as("stale"))

  /** DuckDB oracle for [[freshness]]. */
  def freshnessSql(table: String, groupCol: String, tsCol: String,
                   asOfUs: Long, slaUs: Long): String =
    s"""WITH f AS (
         SELECT $groupCol, count(*) AS n,
                max(epoch_us(cast($tsCol as timestamp))) AS last_event_us
         FROM $table GROUP BY $groupCol)
       SELECT $groupCol, n, last_event_us,
              $asOfUs - last_event_us AS staleness_us,
              CASE WHEN $asOfUs - last_event_us > $slaUs THEN 1 ELSE 0 END
                AS stale
       FROM f"""

  /** Rolling volume-anomaly monitor — the ops staple next to
    * [[freshness]]'s "did the feed stop" check: "did the feed's VOLUME
    * jump or collapse". Per (group, day) row counts are compared to the
    * trailing `window` observed days' mean, flagged when the squared
    * deviation exceeds `z2`× the window variance (z² > 9 = the 3σ
    * rule). Days without a full trailing window are not scored.
    *
    * Engine-exact WITHOUT sqrt or float stats: with S1 = Σ prev counts
    * and S2 = Σ prev counts², z² > z2 rewrites as the pure-integer
    *   (w·n − S1)² > z2·(w·S2 − S1²)
    * (both sides are the z² inequality multiplied through by w²·σ²).
    * Cross-products are decimal(38,0)/HUGEINT — daily counts at the
    * 100 TB scale (~1e12 rows/day) square to ~1e26, past bigint (the
    * [[driftPsi]] overflow rule). A zero-variance window flags ANY
    * deviation, which is what σ = 0 means. Shape: one scan → bounded
    * per-(group, day) aggregate; windows partition by group, never
    * global.
    */
  def volumeAnomaly(df: DataFrame, groupCol: String, tsCol: String,
                    window: Int = 7, z2: Int = 9): DataFrame = {
    val daily = df
      .groupBy(col(groupCol),
        date_trunc("day", col(tsCol)).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
      .rowsBetween(-window, -1)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    daily
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(dec(col("n")) * dec(col("n"))).over(w))
      .withColumn("n_win", count(col("n")).over(w))
      .filter(col("n_win") === window)
      .select(col(groupCol), col("day").cast("string").as("day"), col("n"),
        col("s1").as("window_sum"),
        // halfUp, not round(): S1/w lands on exact decimal midpoints for
        // power-of-2 windows (e.g. w=32: 0.03125), where Spark HALF_UP
        // and DuckDB half-even diverge — the quality_score rule
        graft.text.Text.halfUp(
          col("s1").cast("double") / lit(window.toDouble), 4)
          .as("window_mean"),
        when((dec(lit(window)) * dec(col("n")) - dec(col("s1"))) *
             (dec(lit(window)) * dec(col("n")) - dec(col("s1"))) >
             dec(lit(z2)) * (dec(lit(window)) * col("s2") -
               dec(col("s1")) * dec(col("s1"))), 1).otherwise(0)
          .as("is_anomaly"))
  }

  /** DuckDB oracle for [[volumeAnomaly]] — identical trailing-window
    * frame, HUGEINT cross-products, and integer inequality.
    */
  def volumeAnomalySql(table: String, groupCol: String, tsCol: String,
                       window: Int = 7, z2: Int = 9): String =
    s"""WITH daily AS (
         SELECT $groupCol, cast(date_trunc('day', $tsCol) as date) AS day,
                count(*) AS n
         FROM $table GROUP BY 1, 2),
       win AS (
         SELECT $groupCol, day, n,
                sum(n) OVER w AS s1,
                sum(cast(n as hugeint) * cast(n as hugeint)) OVER w AS s2,
                count(n) OVER w AS n_win
         FROM daily
         WINDOW w AS (PARTITION BY $groupCol ORDER BY day
                      ROWS BETWEEN $window PRECEDING AND 1 PRECEDING))
     SELECT $groupCol, cast(day as varchar) AS day, n,
            cast(s1 as bigint) AS window_sum,
            ${graft.text.Text.halfUpSql(s"cast(s1 as double) / $window", 4)}
              AS window_mean,
            CASE WHEN ($window * cast(n as hugeint) - s1)
                      * ($window * cast(n as hugeint) - s1)
                    > $z2 * ($window * s2 - cast(s1 as hugeint) * cast(s1 as hugeint))
                 THEN 1 ELSE 0 END AS is_anomaly
     FROM win WHERE n_win = $window"""

  /** Kolmogorov–Smirnov drift monitor per (period, numeric column)
    * transition — the CONTINUOUS counterpart of [[driftPsi]]: the KS
    * statistic max_v |ECDF_cur(v) − ECDF_prev(v)| between each
    * calendar-adjacent period pair, the standard two-sample
    * distribution-shift test of ML monitoring.
    *
    * Engine-exact with no float comparison in the argmax: values are
    * quantized once to integer `scale`-ths, ECDFs are integer
    * cumulative counts, and the maximized quantity is the
    * cross-multiplied |cum_cur·N_prev − cum_prev·N_cur| — an exact
    * integer (decimal(38,0)/HUGEINT, the [[driftPsi]] overflow rule) —
    * with ONE final division publishing the statistic. Shape: each row
    * contributes to its own period's transition and the next day's (a
    * 2× explode, the rolling-users layout), one count shuffle on
    * (transition, v), cumulative sums over a window that reuses the
    * same partitioning, one bounded max per transition.
    */
  def driftKs(df: DataFrame, timeVar: String, c: String,
              scale: Long = 10000L): DataFrame = {
    val base = df
      .select(col(timeVar).cast("date").as("__p"),
        floor(col(c) * scale).as("v"))
      .filter(col("v").isNotNull)
    val contrib = base.select(
      explode(array(
        struct(col("__p").as("t"), lit(1L).as("cur")),
        struct(date_add(col("__p"), 1).as("t"), lit(0L).as("cur")))).as("e"),
      col("v"))
      .select(col("e.t").as("t"), col("e.cur").as("cur"), col("v"))
    // transitions must have BOTH sides: days present in the data that
    // also have a previous day (the first day only ever contributes
    // prev-side rows to the day after it)
    val validT = base.select(col("__p").as("t")).distinct()
      .join(base.select(date_add(col("__p"), 1).as("t")).distinct(), Seq("t"))
    val counts = contrib.join(validT, Seq("t"))
      .groupBy(col("t"), col("v"))
      .agg(sum(col("cur")).as("n_cur"),
        sum(lit(1L) - col("cur")).as("n_prev"))
    val wcum = Window.partitionBy(col("t")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("t"))
    def dec(x: Column): Column = x.cast("decimal(38,0)")
    val cum = counts
      .withColumn("cum_cur", sum(col("n_cur")).over(wcum))
      .withColumn("cum_prev", sum(col("n_prev")).over(wcum))
      .withColumn("N_cur", sum(col("n_cur")).over(wall))
      .withColumn("N_prev", sum(col("n_prev")).over(wall))
      .withColumn("__num",
        abs(dec(col("cum_cur")) * dec(col("N_prev"))
          - dec(col("cum_prev")) * dec(col("N_cur"))))
    cum.groupBy(col("t"))
      .agg(max(col("__num")).as("__max_num"),
        first(col("N_cur")).as("n_cur_total"),
        first(col("N_prev")).as("n_prev_total"))
      // ks stays UNROUNDED: one division of exact integers is
      // bit-identical cross-engine; round() on a decimal tie is not
      // (the qa_outliers fence lesson)
      .select(col("t").cast("string").as(timeVar), lit(c).as("varname"),
        (col("__max_num").cast("double") /
          (dec(col("n_cur_total")) * dec(col("n_prev_total"))).cast("double"))
          .as("ks"),
        col("n_cur_total").cast("long").as("n_cur"),
        col("n_prev_total").cast("long").as("n_prev"))
  }

  /** DuckDB oracle for [[driftKs]] — identical quantization,
    * contribution explode, integer cross-multiplied argmax, and final
    * division. */
  def driftKsSql(table: String, dateExpr: String, c: String,
                 scale: Long = 10000L): String =
    s"""WITH base AS (
         SELECT $dateExpr AS p, cast(floor($c * $scale) as bigint) AS v
         FROM $table WHERE $c IS NOT NULL),
       contrib AS (
         SELECT p AS t, 1 AS cur, v FROM base
         UNION ALL
         SELECT p + 1 AS t, 0 AS cur, v FROM base),
       validt AS (
         SELECT DISTINCT p AS t FROM base
         INTERSECT
         SELECT DISTINCT p + 1 AS t FROM base),
       counts AS (
         SELECT t, v,
                cast(sum(cur) as bigint) AS n_cur,
                cast(sum(1 - cur) as bigint) AS n_prev
         FROM contrib JOIN validt USING (t)
         GROUP BY t, v),
       cum AS (
         SELECT t, v,
                sum(n_cur) OVER (PARTITION BY t ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cum_cur,
                sum(n_prev) OVER (PARTITION BY t ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cum_prev,
                sum(n_cur) OVER (PARTITION BY t) AS nc,
                sum(n_prev) OVER (PARTITION BY t) AS np
         FROM counts),
       nums AS (
         SELECT t, nc, np,
                abs(cast(cum_cur as hugeint) * cast(np as hugeint)
                  - cast(cum_prev as hugeint) * cast(nc as hugeint)) AS num
         FROM cum)
     SELECT cast(t as varchar) AS period, '$c' AS varname,
            cast(max(num) as double) /
              cast(cast(any_value(nc) as hugeint)
                 * cast(any_value(np) as hugeint) as double) AS ks,
            cast(any_value(nc) as bigint) AS n_cur,
            cast(any_value(np) as bigint) AS n_prev
     FROM nums GROUP BY t"""

  /** Tukey-fence outlier screen per (time period, numeric column): count
    * and proportion of values outside [q1 − k·IQR, q3 + k·IQR] — the
    * continuous-variable anomaly check that complements the mean/median
    * drift monitors ([[comparePeriodsFull]]) with a within-period tail
    * test.
    *
    * Cross-engine determinism: values are quantized ONCE to integer
    * `scale`-ths (floor(v·scale) — a single IEEE multiply is
    * bit-identical across engines, then floor is exact). Interpolated
    * quartiles of integers at p ∈ {.25, .75} are dyadic rationals
    * (denominator 4), exact in doubles, so the fences (± 1.5·IQR —
    * denominator 8) are bit-exact in BOTH engines regardless of fp
    * quirks, and the outlier counts match to the row.
    *
    * Scale shape: two passes over the source by design (Tukey fences are
    * inherently two-pass — quantiles first, then the tail count): one
    * bounded quantile aggregate (a row per period), broadcast back onto
    * the scan for the counting aggregate. Both aggregates are map-side
    * partial; nothing wide shuffles.
    */
  def outliers(df: DataFrame, timeVar: String, cols: Seq[String],
               k: Double = 1.5, scale: Long = 10000L,
               digits: Int = 4): DataFrame = {
    val q = df.select(col(timeVar) +: cols.map(c =>
        floor(col(c) * scale).as(s"__v_$c")): _*)
    val fenceAggs = cols.map(c =>
      expr(s"percentile(__v_$c, array(0.25, 0.75))").as(s"__q_$c"))
    val fences = q.groupBy(col(timeVar)).agg(fenceAggs.head, fenceAggs.tail: _*)
      .select(col(timeVar) +: cols.flatMap(c => Seq(
        (col(s"__q_$c")(0) - lit(k) * (col(s"__q_$c")(1) - col(s"__q_$c")(0)))
          .as(s"__lo_$c"),
        (col(s"__q_$c")(1) + lit(k) * (col(s"__q_$c")(1) - col(s"__q_$c")(0)))
          .as(s"__hi_$c"))): _*)
    val joined = q.join(broadcast(fences), Seq(timeVar))
    val outAggs = cols.flatMap(c => Seq(
      count(col(s"__v_$c")).as(s"__n_$c"),
      sum(when(col(s"__v_$c") < col(s"__lo_$c") ||
               col(s"__v_$c") > col(s"__hi_$c"), 1L).otherwise(0L))
        .as(s"__out_$c"),
      first(col(s"__lo_$c")).as(s"__flo_$c"),
      first(col(s"__hi_$c")).as(s"__fhi_$c")))
    val wide = joined.groupBy(col(timeVar)).agg(outAggs.head, outAggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __n_$c, __out_$c, __flo_$c, __fhi_$c").mkString(", ")
    wide.select(col(timeVar),
        expr(s"stack(${cols.size}, $stackArgs) as (varname, n, n_outliers, __lo, __hi)"))
      .select(col(timeVar), col("varname"), col("n"), col("n_outliers"),
        round(col("n_outliers") / col("n").cast("double"), digits)
          .as("p_outliers"),
        // fences stay UNROUNDED: the dyadic quantized fence divided by
        // `scale` is one IEEE op — bit-identical in both engines —
        // whereas round() on a decimal tie is engine-divergent (Spark
        // rounds the shortest decimal rendering, DuckDB the scaled
        // binary value; they disagreed on 2 of 30 periods at sf0.01)
        (col("__lo") / scale.toDouble).as("fence_lo"),
        (col("__hi") / scale.toDouble).as("fence_hi"))
  }

  /** DuckDB oracle for [[outliers]] over a single numeric column —
    * identical quantization, identical dyadic fence arithmetic.
    */
  def outliersSql(table: String, periodExpr: String, c: String,
                  k: Double = 1.5, scale: Long = 10000L): String =
    s"""WITH q AS (
         SELECT $periodExpr AS period, cast(floor($c * $scale) as bigint) AS v
         FROM $table),
       f AS (
         SELECT period,
                quantile_cont(v, 0.25) - $k * (quantile_cont(v, 0.75)
                  - quantile_cont(v, 0.25)) AS lo,
                quantile_cont(v, 0.75) + $k * (quantile_cont(v, 0.75)
                  - quantile_cont(v, 0.25)) AS hi
         FROM q GROUP BY period)
     SELECT q.period, '$c' AS varname,
            cast(count(q.v) as bigint) AS n,
            cast(sum(CASE WHEN q.v < f.lo OR q.v > f.hi THEN 1 ELSE 0 END)
              as bigint) AS n_outliers,
            round(cast(sum(CASE WHEN q.v < f.lo OR q.v > f.hi THEN 1 ELSE 0 END)
                as bigint) / cast(cast(count(q.v) as bigint) as double), 4)
              AS p_outliers,
            any_value(f.lo) / $scale.0 AS fence_lo,
            any_value(f.hi) / $scale.0 AS fence_hi
     FROM q JOIN f USING (period)
     GROUP BY q.period"""

  /** Pearson CORRELATION between numeric column pairs — the QA
    * relationship check behind "did the price/quantity coupling change
    * after the reload": one exact pass, then the textbook formula.
    *
    * Exactness discipline: the five moments (Σx, Σy, Σx², Σy², Σxy)
    * accumulate as DECIMALS (inputs quantized to decimal(12,2) — exact
    * for the ≤2-decimal business columns, and narrow enough that the
    * per-row products stay on DuckDB's int64 fast path), so sums are
    * bit-identical in
    * both engines REGARDLESS of partition/accumulation order — a plain
    * double `corr()` is order-dependent in the last ulps and can flip a
    * rounded digit between engines (and between runs at different
    * parallelism). The final r/cov arithmetic runs in doubles cast ONCE
    * from the exact sums, identical operation order both sides, rounded
    * once at the end.
    *
    * Scale shape: ONE scan + one 1-row global aggregate (partial
    * map-side combine does the heavy lifting; the exchange carries one
    * row per task), then a pure projection unpivots the requested
    * pairs. Adding pairs/columns widens the aggregate row, never adds a
    * pass.
    */
  def correlation(df: DataFrame, pairs: Seq[(String, String)],
                  digits: Int = 6): DataFrame = {
    require(pairs.nonEmpty, "correlation: need at least one column pair")
    val cols = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    def dec(c: String) = col(c).cast("decimal(12,2)")
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
        cols.map(c => sum(dec(c)).as(s"__s_$c")) ++
        cols.map(c => sum(dec(c) * dec(c)).as(s"__ss_$c")) ++
        pairs.map { case (x, y) =>
          sum(dec(x) * dec(y)).as(s"__sp_${x}_$y")
        }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val derived = pairs.zipWithIndex.foldLeft(one) {
      case (d, ((x, y), i)) =>
        val nd = col("__n").cast("double")
        val sx = col(s"__s_$x").cast("double")
        val sy = col(s"__s_$y").cast("double")
        val sxx = col(s"__ss_$x").cast("double")
        val syy = col(s"__ss_$y").cast("double")
        val sxy = col(s"__sp_${x}_$y").cast("double")
        d.withColumn(s"__corr_$i",
          round((nd * sxy - sx * sy) /
            (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), digits))
          .withColumn(s"__cov_$i",
            round((sxy - sx * sy / nd) / (nd - 1.0), digits))
    }
    val stackArgs = pairs.zipWithIndex.map { case ((x, y), i) =>
      s"'$x', '$y', __corr_$i, __cov_$i"
    }.mkString(", ")
    derived.select(col("__n").as("n_rows"),
        expr(s"stack(${pairs.size}, $stackArgs) as (x_var, y_var, corr, cov)"))
      .select(col("x_var"), col("y_var"), col("n_rows"), col("corr"),
        col("cov"))
  }

  /** DuckDB oracle for [[correlation]] — identical decimal quantization
    * and exact sums, identical double formula and single rounding.
    */
  def correlationSql(table: String, pairs: Seq[(String, String)],
                     digits: Int = 6): String = {
    val cols = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    def dec(c: String) = s"cast($c as decimal(12,2))"
    val sums =
      (Seq("count(*) AS __n") ++
        cols.map(c => s"sum(${dec(c)}) AS __s_$c") ++
        cols.map(c => s"sum(${dec(c)} * ${dec(c)}) AS __ss_$c") ++
        pairs.map { case (x, y) =>
          s"sum(${dec(x)} * ${dec(y)}) AS __sp_${x}_$y"
        }).mkString(",\n                ")
    val rows = pairs.map { case (x, y) =>
      s"""SELECT '$x' AS x_var, '$y' AS y_var, __n AS n_rows,
            round((cast(__n as double) * cast(__sp_${x}_$y as double)
                   - cast(__s_$x as double) * cast(__s_$y as double))
                  / (sqrt(cast(__n as double) * cast(__ss_$x as double)
                          - cast(__s_$x as double) * cast(__s_$x as double))
                     * sqrt(cast(__n as double) * cast(__ss_$y as double)
                            - cast(__s_$y as double) * cast(__s_$y as double))),
                  $digits) AS corr,
            round((cast(__sp_${x}_$y as double)
                   - cast(__s_$x as double) * cast(__s_$y as double)
                     / cast(__n as double))
                  / (cast(__n as double) - 1.0), $digits) AS cov
         FROM a"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH a AS (
         SELECT $sums
         FROM $table)
       $rows"""
  }

  /** Benford's-law expected share of leading digit d, quantized to
    * integer micro-units ONCE on the driver (floor(log10(1+1/d)·10^6))
    * so both engines consume the identical BIGINT literal — no libm
    * call crosses an engine boundary (the micro-nat discipline, see
    * Text.entropy).
    */
  def benfordExpMicro(d: Int): Long =
    math.floor(math.log(1.0 + 1.0 / d) / math.log(10.0) * 1e6).toLong

  /** Benford first-digit audit of a positive currency-like column — the
    * classic fabricated-data / unit-mixup screen a QA pipeline runs on
    * amount fields (the reference's distribution checks in spirit,
    * etl_qa_run_pipeline.R's continuous family; Benford is the standard
    * extension for amounts). One row per digit 1–9, zero-filled:
    * observed count, observed share and Benford's expected share in
    * integer micro-units, and their signed deviation.
    *
    * Engine-exact arithmetic: the leading digit is taken from the
    * DECIMAL STRING of integer cents (both engines render BIGINTs
    * identically; no log10/pow on data), shares are integer division in
    * micro-space (`n·10^6 div total`), and the expected shares are
    * driver-side literals. One scan, one 9-group aggregate with map-side
    * partials — the digit extraction runs inside the scan, so at 100 TB
    * this is a single pass with a 9-row shuffle.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame =
    // ≤ 10 rows after the aggregate, consumed twice (per-digit join +
    // total): cut so the fact scan runs ONCE — without it each branch
    // re-aggregates from parquet
    benfordPublish(graft.config.Checkpoints.cut(
      benfordCounts(df, valueCol)))

  /** The foldable half of [[benford]]: (digit, n) counts — a monoid
    * under [[benfordMerge]], which is what lets the audit run LIVE
    * (per-micro-batch counts folded into ≤9 rows of carried state, see
    * Streams.benfordAvailableNow) with the batch gate's oracle intact.
    * Cents: round half-up at the 2nd decimal (both engines round
    * positive halves away from zero), then the first char of the
    * decimal rendering is the first significant digit of the value.
    */
  def benfordCounts(df: DataFrame, valueCol: String): DataFrame = df
    .filter(col(valueCol).isNotNull && col(valueCol) > 0)
    .select(substring(round(col(valueCol) * 100, 0).cast("bigint")
      .cast("string"), 1, 1).cast("int").as("digit"))
    .groupBy(col("digit")).agg(count(lit(1)).as("n"))

  /** Fold a batch's counts into the running state — ≤ 9+9 input rows,
    * ≤ 9 out; associative and commutative, so state == rebuild.
    */
  def benfordMerge(state: DataFrame, batchCounts: DataFrame): DataFrame =
    state.unionByName(batchCounts)
      .groupBy(col("digit")).agg(sum(col("n")).as("n"))

  /** Empty [[benfordCounts]] state for the streaming fold. */
  def benfordEmptyState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long)].toDF("digit", "n")
  }

  /** Render the digit-counts state into the gate frame (zero-filled
    * digits 1–9, micro-unit shares, expected table, deviations).
    */
  def benfordPublish(digits: DataFrame): DataFrame = {
    val spark = digits.sparkSession
    import spark.implicits._
    val expected = (1 to 9).map(d => (d, benfordExpMicro(d)))
      .toDF("digit", "exp_micro")
    val total = digits.agg(sum(col("n")).as("__total"))
    expected.crossJoin(broadcast(total))
      .join(digits, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("__total") > 0,
          expr("coalesce(n, 0) * 1000000 div __total"))
          .otherwise(lit(0L)).as("obs_micro"),
        col("exp_micro"))
      .withColumn("dev_micro", col("obs_micro") - col("exp_micro"))
  }

  /** DuckDB oracle for [[benford]] — identical cents rendering, integer
    * micro-division, and the same driver-side expected literals.
    */
  def benfordSql(table: String, valueCol: String): String = {
    val expectedRows = (1 to 9)
      .map(d => s"($d, ${benfordExpMicro(d)})").mkString(", ")
    s"""WITH d AS (
          SELECT cast(substring(cast(cast(round($valueCol * 100, 0) as bigint)
                                as varchar), 1, 1) as int) AS digit
          FROM $table WHERE $valueCol IS NOT NULL AND $valueCol > 0
        ), counts AS (
          SELECT digit, cast(count(*) as bigint) AS n FROM d GROUP BY digit
        ), total AS (
          -- sum(bigint) is HUGEINT in DuckDB; pin back to bigint so the
          -- micro-division lane (and its output dtype) matches Spark
          SELECT cast(coalesce(sum(n), 0) as bigint) AS t FROM counts
        ), expected(digit, exp_micro) AS (VALUES $expectedRows)
        SELECT e.digit,
               coalesce(c.n, 0) AS n,
               CASE WHEN t > 0 THEN (coalesce(c.n, 0) * 1000000) // t
                    ELSE 0 END AS obs_micro,
               cast(e.exp_micro as bigint) AS exp_micro,
               (CASE WHEN t > 0 THEN (coalesce(c.n, 0) * 1000000) // t
                     ELSE 0 END) - e.exp_micro AS dev_micro
        FROM expected e LEFT JOIN counts c ON c.digit = e.digit, total"""
  }

  /** Day-of-week volume profile — the seasonality screen next to
    * [[autocorrDaily]]'s serial-correlation screen: one row per weekday
    * 0=Monday..6=Sunday (zero-filled) with observed count, share in
    * integer micro-units, and signed deviation from the uniform 1/7
    * (⌊10^6/7⌋ = 142857 micro, a driver literal). A feed that "only
    * delivers weekdays" or double-ships Mondays shows up as a ±micro
    * deviation no calendar library disagreement can fake: the weekday
    * comes from pure day arithmetic ((days-since-epoch + 3) mod 7,
    * epoch day 0 being a Thursday) — no engine dow() convention
    * (Sunday=0 vs 1 vs 7) crosses the oracle boundary. One scan, one
    * 7-group map-side-combining aggregate; shares are integer division
    * in micro-space. The [[benford]] scale shape: a 7-row shuffle at
    * any corpus size.
    */
  def seasonalityDow(df: DataFrame, dateCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = graft.config.Checkpoints.cut(df
      .filter(col(dateCol).isNotNull)
      .select(expr(
        s"cast(((datediff($dateCol, DATE'1970-01-01') + 3) % 7 + 7) % 7" +
          " as int)").as("dow"))
      .groupBy(col("dow")).agg(count(lit(1)).as("n")))
    val dows = (0 to 6).toDF("dow")
    val total = counts.agg(sum(col("n")).as("__total"))
    dows.crossJoin(broadcast(total))
      .join(counts, Seq("dow"), "left")
      .select(col("dow"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("__total") > 0,
          expr("coalesce(n, 0) * 1000000 div __total"))
          .otherwise(lit(0L)).as("share_micro"))
      .withColumn("dev_micro", col("share_micro") - lit(142857L))
  }

  /** DuckDB oracle for [[seasonalityDow]] — identical day arithmetic
    * and integer micro-division.
    */
  def seasonalityDowSql(table: String, dateCol: String): String =
    s"""WITH d AS (
          SELECT cast((((date_diff('day', DATE '1970-01-01', $dateCol) + 3)
                        % 7 + 7) % 7) as int) AS dow
          FROM $table WHERE $dateCol IS NOT NULL
        ), counts AS (
          SELECT dow, cast(count(*) as bigint) AS n FROM d GROUP BY dow
        ), total AS (
          SELECT cast(coalesce(sum(n), 0) as bigint) AS t FROM counts
        ), dows(dow) AS (VALUES (0), (1), (2), (3), (4), (5), (6))
        SELECT w.dow,
               coalesce(c.n, 0) AS n,
               CASE WHEN t > 0 THEN (coalesce(c.n, 0) * 1000000) // t
                    ELSE 0 END AS share_micro,
               (CASE WHEN t > 0 THEN (coalesce(c.n, 0) * 1000000) // t
                     ELSE 0 END) - 142857 AS dev_micro
        FROM dows w LEFT JOIN counts c ON c.dow = w.dow, total"""

  /** Lag-1 autocorrelation of the DAILY VOLUME series — the temporal
    * structure screen next to [[volumeAnomaly]]'s level screen: a load
    * whose consecutive days strongly co-move (r→1) is trend/batch-
    * driven; r→−1 flags alternating over/under-delivery (a half-feed
    * arriving every other day); r≈0 is memoryless. The reference's
    * time-series QA family in spirit (qa_compare_periods generalized
    * from one period pair to the whole series).
    *
    * Engine-exactness: daily counts are exact BIGINTs; consecutive
    * OBSERVED days pair via lead() over the date order; all six
    * Pearson sums (n, Σx, Σy, Σxy, Σx², Σy²) stay integer, and the
    * coefficient is ONE double expression over them — numerator and
    * both variance terms cast exactly (they fit 2^53 comfortably at
    * any tested SF), sqrt is correctly-rounded IEEE in both engines,
    * rounded once via the halfUp spelling. Zero-variance series pin
    * r = 0.0 instead of dividing by zero.
    *
    * Scale shape: one scan → one groupBy(day) with map-side partials
    * (shuffle = |days| rows), then the lead() window and the final
    * 1-row aggregate run over the DAILY frame, whose size is bounded
    * by the calendar span — not the data — so the unpartitioned
    * window's single-reducer stage touches thousands of rows at any
    * corpus size. Integer envelope: exact while n·Σx² < 2^63, i.e.
    * daily volumes to ~10^7 over decades; beyond that the sums want
    * the decimal lane (documented, not silently wrong — ANSI mode
    * faults the overflow loudly).
    */
  def autocorrDaily(df: DataFrame, dateCol: String): DataFrame = {
    val daily = df.filter(col(dateCol).isNotNull)
      .groupBy(col(dateCol).as("__d")).agg(count(lit(1)).as("c"))
    val pairs = daily
      .withColumn("cnext", lead(col("c"), 1).over(Window.orderBy(col("__d"))))
      .filter(col("cnext").isNotNull)
    val sums = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("c")).as("sx"),
      sum(col("cnext")).as("sy"),
      sum(col("c") * col("cnext")).as("sxy"),
      sum(col("c") * col("c")).as("sxx"),
      sum(col("cnext") * col("cnext")).as("syy"))
    val vx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
    val vy = col("n_pairs") * col("syy") - col("sy") * col("sy")
    val num = col("n_pairs") * col("sxy") - col("sx") * col("sy")
    sums.select(col("n_pairs"), col("sx"), col("sy"), col("sxy"),
      col("sxx"), col("syy"),
      when(vx > 0 && vy > 0,
        graft.text.Text.halfUp(
          num.cast("double") / sqrt(vx.cast("double") * vy.cast("double")),
          6))
        .otherwise(lit(0.0)).as("r_lag1"))
  }

  /** DuckDB oracle for [[autocorrDaily]] — identical integer sums
    * (HUGEINT lanes pinned back to bigint) and the same one-shot
    * double expression.
    */
  def autocorrDailySql(table: String, dateCol: String): String = {
    val num = "cast(n_pairs * sxy - sx * sy as double)"
    val den = "sqrt(cast(n_pairs * sxx - sx * sx as double) * " +
      "cast(n_pairs * syy - sy * sy as double))"
    s"""WITH daily AS (
          SELECT $dateCol AS d, cast(count(*) as bigint) AS c
          FROM $table WHERE $dateCol IS NOT NULL GROUP BY 1
        ), p AS (
          SELECT c, lead(c) OVER (ORDER BY d) AS cnext FROM daily
        ), q AS (
          SELECT c, cnext FROM p WHERE cnext IS NOT NULL
        ), s AS (
          SELECT cast(count(*) as bigint)      AS n_pairs,
                 cast(sum(c) as bigint)        AS sx,
                 cast(sum(cnext) as bigint)    AS sy,
                 cast(sum(c * cnext) as bigint)     AS sxy,
                 cast(sum(c * c) as bigint)         AS sxx,
                 cast(sum(cnext * cnext) as bigint) AS syy
          FROM q
        )
        SELECT n_pairs, sx, sy, sxy, sxx, syy,
               CASE WHEN n_pairs * sxx - sx * sx > 0
                     AND n_pairs * syy - sy * sy > 0
                    THEN ${graft.text.Text.halfUpSql(s"$num / $den", 6)}
                    ELSE 0.0 END AS r_lag1
        FROM s"""
  }
}
