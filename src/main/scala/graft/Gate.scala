package graft

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Streams.RunStats

/** What one run of a gate yields: the frame; the replay stats, for a
  * stream gate; the oracle SQL, for a trained gate, whose oracle replays
  * the model that this run trained.
  */
final case class GateRun(frame: DataFrame,
                         stream: Option[RunStats] = None,
                         oracle: Option[String] = None)

/** One oracle-gated query: its key, the build that runs it on a session
  * and a testdata dir, and its DuckDB oracle SQL over the same dir, with
  * identical column names and types. `oracle` is `None` only for a
  * trained gate: its run carries the oracle instead. The oracle text is
  * built on first use, so loading the registry builds no SQL and keeps
  * none resident for a process that only runs queries.
  */
final class Gate(val key: String,
                 val build: (SparkSession, String) => GateRun,
                 oracleSql: => Option[String]) {
  lazy val oracle: Option[String] = oracleSql
}

object Gate {
  /** Index `gates` by key, in key order. A key given twice is an error,
    * not a silent replacement of the earlier gate.
    */
  def registry(gates: Gate*): SortedMap[String, Gate] = {
    val twice = gates.groupBy(_.key).collect { case (k, gs) if gs.size > 1 => k }
    require(twice.isEmpty,
      s"gate keys registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    SortedMap(gates.map(g => g.key -> g): _*)
  }
}
