package graft

/** Plan-audit utility: prints the formatted physical plan of selected
  * queries so shuffle/broadcast/pushdown regressions are visible.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  *
  * Caveat: operators that eagerly localCheckpoint an intermediate
  * (MinHash signatures, bm25 postings) RUN that sub-job at plan
  * construction and print its subtree as a lineage-truncated
  * `Scan ExistingRDD` — audit those subtrees through their builder
  * functions (and through [[PlanAudit]], which counts scans and
  * exchanges in the EXECUTED plan).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("etl_load_select", "q1_agg", "q_join_star", "q_join_large",
        "q_semi_anti", "dedup_minhash_lsh", "sim_cosine_topk",
        "sim_ann_ivf", "qa_categorical_top8", "text_pii_scrub",
        "dedup_exact_normalized", "q_interval_join", "q_asof_join",
        "dedup_corpus_clean", "split_assign",
        // r4/r5 additions (stream_* excluded: constructing them RUNS
        // the streaming job; use StreamAudit/BenchOne for those)
        "text_repetition", "text_bm25", "text_corpus_filter",
        "emb_group_centroids")
    val spark = Tables.session("graft-explain", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      SparkEntry.gates(n).build(spark, sfDir).frame.explain("formatted")
    }
    spark.stop()
  }
}
