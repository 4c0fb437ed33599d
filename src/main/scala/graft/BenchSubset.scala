package graft

/** The sf1 wall-time baseline runner (SURVEY §8h; VERDICT-r11 item 1):
  * [[Bench.runSuite]] — the exact full-suite harness (sf0.001 warmup,
  * calib sentinel pre/post, fully-cold min-of-reps, artifact on disk) —
  * over the HEAVIEST gates only, at a staged SF the full 142-query
  * sweep would take too long to rep properly at.
  *
  * Rationale: wall-time regressions are the one class that ships
  * through green plan/shuffle/stream audits (the r10 lesson), and the
  * interpreted-eval cost class is ~10× more expensive at sf1 — a
  * regression invisible inside sf0.1's +25%+0.3s headroom is
  * unmissable here. The subset is the top batch gates by sf0.1 cost
  * (streaming gates excluded: their cost is the O(1) harness floor,
  * sf0.001 ≈ sf0.1 per gate) plus `dedup_minhash_lsh` and
  * `sim_near_dup` as the fused-minhash-kernel representatives (the r10
  * regression's family).
  *
  * Usage (the §8g sf1 discipline — big heap, min-of-3, idle box):
  *   SPARK_GRAFT_CPUS=32 sbt -J-Xmx48g \
  *     "runMain graft.BenchSubset target/sf1 3"
  * then gate/record via scripts/bench_audit.py bench_out_sf1.json
  * (the audit picks bench_baseline_sf1.json from the artifact's sf).
  * Optional extra args override the default query list.
  */
object BenchSubset {
  /** Top sf0.1 batch gates (bench_baseline_sf0.1.json order) + the two
    * fused-kernel representatives. Keep in sync with
    * bench_baseline_sf1.json when editing — BenchAudit fails on a
    * missing baseline query either way.
    */
  val DefaultQueries: Seq[String] = Seq(
    "dedup_incremental_loop", "corpus_curate",
    "dedup_incremental_prestaged", "dedup_keep_best", "dedup_containment",
    "emb_recall_ivfpq_refined", "dedup_corpus_clean", "dedup_cc_clusters",
    "emb_recall_ivfpq_trained_kc64", "dedup_ngram_jaccard",
    "emb_recall_ivfpq_trained_m32", "emb_recall_ivfpq_trained",
    "dedup_incremental", "qa_correlation", "text_bigram_logprob",
    "sim_knn_graph", "dedup_minhash_lsh", "sim_near_dup")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "target/sf1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else DefaultQueries
    val missing = names.filterNot(SparkEntry.gates.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-bench-subset", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    Bench.runSuite(spark, names.sorted.map(SparkEntry.gates), sfDir,
      reps = reps, cpus = cpus, outPath = "bench_out_sf1.json")
    spark.stop()
  }
}
