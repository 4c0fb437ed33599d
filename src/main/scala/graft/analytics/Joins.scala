package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic temporal join operators — the reusable library surface behind
  * `Queries.asofJoin` / `Queries.intervalJoin` (which bind them to the
  * events table for the oracle gate).
  *
  * Both avoid the planner's range-join trap: a raw inequality predicate
  * plans BroadcastNestedLoopJoin (O(n·m)); these stay equi-join/window
  * shaped — one shuffle on the key (as-of) or the time bin (interval).
  */
object Joins {

  /** As-of join: every probe row annotated with the build side's most
    * recent values at-or-before the probe's `ts`, per `key`.
    *
    * Union + carry-forward window: ONE shuffle on the key, running
    * `last(..., ignoreNulls)` in (ts, build-first) order — build rows at
    * the exact probe timestamp are visible (DuckDB ASOF `>=` semantics).
    * The carried value is ONE struct of (ts, buildCols) built only for
    * build rows — row-atomic, so a matched build row's NULL payload
    * column stays NULL (a per-column carry would instead back-fill it
    * from an OLDER build row, silently mixing two rows' values — the
    * divergence a self-review caught; struct-carry matches DuckDB ASOF
    * and [[asofFused]] exactly).
    * Output: all probe columns + `<prefix><ts>` (matched build
    * timestamp, NULL when no build row precedes) + `<prefix><c>` for
    * each requested build column. `buildCols` must not collide with
    * probe column names (they share the union schema).
    */
  def asof(probe: DataFrame, build: DataFrame, key: String, ts: String,
           buildCols: Seq[String] = Nil, prefix: String = "asof_"): DataFrame = {
    val clash = buildCols.filter(probe.columns.contains)
    require(clash.isEmpty, s"asof: buildCols collide with probe columns: $clash")
    val pb = probe.withColumn("__side", lit(1))
    val bd = build.select((key +: ts +: buildCols).distinct.map(col): _*)
      .withColumn("__side", lit(0))
    val unioned = pb.unionByName(bd, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buildStruct = when(col("__side") === 0,
      struct((ts +: buildCols).map(col): _*))
    val withCarry = unioned
      .withColumn("__carry", last(buildStruct, ignoreNulls = true).over(w))
    (ts +: buildCols).foldLeft(withCarry) { (d, c) =>
        d.withColumn(prefix + c, col(s"__carry.$c"))
      }
      .filter(col("__side") === 1)
      .drop("__side", "__carry").drop(buildCols: _*)
  }

  /** [[asof]] via the fused physical operator
    * ([[graft.plans.AsofJoinNode]] → AsofJoinExec): same output schema
    * and row set (spec-proven equal to the window form; oracle-gated vs
    * DuckDB ASOF as `q_asof_join_fused`), but each side shuffles with
    * its OWN schema instead of the widened union schema — see the
    * measured comparison in the `plans/AsofJoin.scala` header (taken
    * with AsofProfile, deleted; source at commit d5abd67). Requires the
    * session to carry GraftFunctions.register (the planner strategy);
    * probe/build key and ts columns must have matching types.
    */
  def asofFused(probe: DataFrame, build: DataFrame, key: String, ts: String,
                buildCols: Seq[String] = Nil,
                prefix: String = "asof_"): DataFrame =
    asofFusedKeys(probe, build, Seq(key), ts, buildCols, prefix)

  /** [[asofFused]] with a COMPOSITE key (e.g. (user_id, device)): both
    * sides cluster on all key columns and the merge compares them
    * lexicographically — same contract otherwise.
    *
    * Pruning note: a custom logical node is opaque to ColumnPruning —
    * Catalyst cannot push a parent's column selection through it into
    * the probe scan. SELECT the probe columns you need BEFORE calling
    * (the build side is already narrowed to key+ts+buildCols here).
    * The union-window [[asof]] does not have this edge; prefer it when
    * the probe projection is decided far above the join.
    */
  def asofFusedKeys(probe: DataFrame, build: DataFrame, keys: Seq[String],
                    ts: String, buildCols: Seq[String] = Nil,
                    prefix: String = "asof_"): DataFrame = {
    val clash = buildCols.filter(probe.columns.contains)
    require(clash.isEmpty, s"asofFused: buildCols collide with probe columns: $clash")
    val spark = probe.sparkSession
    val pPlan = probe.queryExecution.analyzed
    // fresh exprIds on the build side: a self-asof (probe and build
    // carved from the same scan) would otherwise present the SAME
    // attribute ids on both sides and the node couldn't tell them apart
    val bNarrow = build.select((keys ++ (ts +: buildCols)).distinct.map(col): _*)
      .queryExecution.analyzed
    val bPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      bNarrow.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), bNarrow)
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
             n: String) = out.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"asofFused: no column $n"))
    val payload = buildCols.map(attr(bPlan.output, _))
    val bTs = attr(bPlan.output, ts)
    // fail at plan-build time, not as a ClassCastException mid-merge on
    // the executors: the interpreted orderings are built from the
    // PROBE side's types and applied to both
    (keys :+ ts).foreach { c =>
      val (pt, bt) = (attr(pPlan.output, c).dataType, attr(bPlan.output, c).dataType)
      require(pt == bt,
        s"asofFused: column $c type mismatch probe=$pt build=$bt")
    }
    val matchedOut = (bTs +: payload).map(a =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        prefix + a.name, a.dataType, nullable = true)())
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.AsofJoinNode(pPlan, bPlan,
        keys.map(attr(pPlan.output, _)), attr(pPlan.output, ts),
        keys.map(attr(bPlan.output, _)), bTs, payload, matchedOut))
  }

  /** Interval join: all (left, right) pairs with
    * |left.`lTs` − right.`rTs`| ≤ `windowMs` (and equal `keyCols`, if
    * given). Timestamps are integer epoch-ms columns. Bin-explode on the
    * left, equi-join on (bin ++ keys), exact filter — each qualifying
    * pair matches exactly one candidate bin, so no dedup; cost is
    * O(n + output), never a nested loop.
    */
  def interval(left: DataFrame, right: DataFrame, lTs: String, rTs: String,
               windowMs: Long, keyCols: Seq[String] = Nil): DataFrame = {
    val lBin = expr(s"$lTs div $windowMs")
    val rBin = expr(s"$rTs div $windowMs")
    val l = left.withColumn("__bin",
      explode(array((-1 to 1).map(d => lBin + d): _*)))
    val r = right.withColumn("__bin", rBin)
    l.join(r, Seq("__bin") ++ keyCols)
      .filter(abs(col(rTs) - col(lTs)) <= windowMs)
      .drop("__bin")
  }
}
