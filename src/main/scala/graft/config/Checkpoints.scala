package graft.config

import org.apache.spark.sql.{DataFrame, Dataset}

/** Session-level policy for the operator-internal lineage cuts on
  * bounded intermediates (SURVEY §5 cluster-loss contract, size class
  * (b): candidate pairs, postings, LM counts).
  *
  * `localCheckpoint()` blocks are EXECUTOR-LOCAL and non-recoverable —
  * on a preemptible cluster, losing the executor kills the job instead
  * of recomputing the lost partitions. The §5 contract documented the
  * swap ("use reliable checkpoint() on preemptible clusters"); this
  * knob makes it EXECUTABLE without editing library code (VERDICT r11
  * item 3):
  *
  * {{{
  * spark.conf.set("graft.checkpoint", "reliable")
  * spark.sparkContext.setCheckpointDir("hdfs:///graft-ckpt") // required
  * }}}
  *
  * Values:
  *  - `local` (default): `localCheckpoint` — executor-local blocks, no
  *    IO round-trip; right for local mode and non-preemptible clusters.
  *  - `reliable`: `checkpoint()` to the session's checkpoint dir — one
  *    HDFS/S3 round-trip per cut frame buys recomputability on executor
  *    loss. Requires `setCheckpointDir` (Spark raises if unset — loud,
  *    not silent).
  *
  * Value-neutral by construction: both spellings materialize the same
  * frame and truncate lineage; only the block store differs. Class-(a)
  * small frames (1-row fingerprints, vocab counts collected into
  * literals) and class-(c) staged-parquet state (incremental dedup
  * index) keep their own §5 paths — this knob is exactly the middle
  * class. No library or gate code calls `localCheckpoint` directly:
  * every cut goes through `cut` / `cutLazy`, so one conf moves them all.
  */
object Checkpoints {
  /** The session conf key. Unknown keys are legal custom SQLConf
    * entries, so `spark.conf.set(KEY, "reliable")` needs no
    * registration.
    */
  val KEY = "graft.checkpoint"

  private def reliable(ds: Dataset[_]): Boolean =
    ds.sparkSession.conf.get(KEY, "local") match {
      case "reliable" => true
      case "local" => false
      case other => throw new IllegalArgumentException(
        s"$KEY must be 'local' or 'reliable', got '$other'")
    }

  /** Eagerly materialize a bounded intermediate and cut its lineage per
    * the session policy.
    */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy variant (the connected-components loop's per-round cut: the
    * frame is consumed exactly once downstream, eager materialization
    * would add a pass).
    */
  def cutLazy(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Chaining syntax so call sites read like the `.localCheckpoint()`
    * they replace: `frame.cutLineage()`.
    */
  implicit class CutSyntax(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
    def cutLineageLazy(): DataFrame = cutLazy(df)
  }
}
