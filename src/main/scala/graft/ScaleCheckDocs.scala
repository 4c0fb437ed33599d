package graft

import org.apache.spark.sql.functions._

/** Non-replicated scale evidence for the pair-emitting dedup family.
  *
  * [[ScaleCheck]]'s replication makes every clone a TRUE duplicate, so
  * for pair-emitting operators (MinHash propose, Jaccard verify, corpus
  * clean, CC clusters) the measured 10× ratio is dominated by a ~100×
  * OUTPUT explosion — a replication artifact, not operator scaling.
  * This tool instead synthesizes a corpus of UNIQUE documents with the
  * SOURCE's generator shape — its vocabulary, its token-length
  * distribution, its lang/source value mix — at 10× the document count,
  * with the planted duplicate structure scaled to 10× the source's
  * MEASURED counts (verified near-dup pairs per the repo's own
  * propose→verify path; exact-duplicate rows by normalized text). Under
  * that corpus the expected output grows ~10×, so the timing ratio
  * finally measures the OPERATOR at scale.
  *
  * The synthetic corpus lives under target/ and feeds ONLY these scale
  * ratios — the oracle-gated correctness queries always run on the
  * driver's parquet, never on generated data.
  *
  * Usage: runMain graft.ScaleCheckDocs [N] [query ...]
  * (default N=10, all dedup-family queries; the labeled quadratic
  * baseline dedup_ngram_jaccard is included LAST — its candidate space
  * is all-pairs BY DESIGN, so its ratio stays ~N², which is the honest
  * demonstration of why D13 is the scale path.)
  */
object ScaleCheckDocs {
  def main(args: Array[String]): Unit = {
    // N is genuinely optional: a first arg that isn't an integer is a
    // query name ("ScaleCheckDocs dedup_exact_docs" must work)
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val only = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0).toSeq
    val src = "/root/testdata/sf0.1"
    // v2: clone perturbation guarantees replaced tokens differ from the
    // originals (v1 could regenerate the identical block for short docs,
    // silently turning planted near-dups into exact dups)
    val dst = s"target/scale_unique_v2_x$n"
    val spark = Tables.session("graft-scale-docs", cores = 32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val marker = new java.io.File(s"$dst/_GENERATED")
    val embMarkerPre = new java.io.File(s"$dst/_GENERATED_EMB")
    val generatedThisRun = !marker.exists() || !embMarkerPre.exists()
    if (marker.exists()) println(s"reusing unique corpus at $dst")
    else {
      val t0 = System.nanoTime()
      val docs = Tables(spark, src, "documents")
      // --- source shape, all measured (never assumed) ---
      val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
        .distinct().as[String].collect().sorted
      val lengths = docs.select(size(split(col("text"), " ")))
        .as[Int].collect()
      val langs = docs.groupBy("lang").count()
        .as[(String, Long)].collect().sortBy(_._1)
      val sources = docs.groupBy("source").count()
        .as[(String, Long)].collect().sortBy(_._1)
      val nSrc = lengths.length
      // planted structure, measured with the repo's own operators:
      // verified near-dup pairs (propose→verify at the gate threshold)
      // and exact-duplicate rows by normalized text
      val srcPairs = graft.dedup.Dedup
        .jaccardOnCandidates(docs, threshold = 0.5).count().toInt
      val srcExact = (docs.count() -
        docs.select(graft.text.Text.normalize(col("text"))).distinct()
          .count()).toInt
      println(s"source: $nSrc docs, $srcPairs verified near-dup pairs, " +
        s"$srcExact exact-dup rows, vocab ${vocab.length}")

      // --- deterministic generation (seeded; no wall-clock anywhere) ---
      val rng = new scala.util.Random(42)
      def weighted(dist: Array[(String, Long)]): String = {
        val total = dist.map(_._2).sum
        var r = rng.nextLong() % total
        if (r < 0) r += total
        dist.find { case (_, c) => { r -= c; r < 0 } }.get._1
      }
      val nTotal = n * nSrc
      val nPairs = n * srcPairs
      val nExact = n * srcExact
      val nBase = nTotal - nPairs - nExact
      val base = Array.tabulate(nBase) { _ =>
        val len = lengths(rng.nextInt(nSrc))
        Array.fill(len)(vocab(rng.nextInt(vocab.length))).toSeq
      }
      // near-dup clones: replace one contiguous ~10% block — a block of
      // m tokens kills only m+k-1 shingles, keeping shingle-Jaccard
      // ~0.8, comfortably over the 0.5 verify threshold (scattered
      // single-token edits would kill k shingles EACH and sink clones
      // below threshold)
      val nearClones = Array.fill(nPairs) {
        val toks = base(rng.nextInt(nBase)).toArray
        val blockLen = math.max(1, toks.length / 10)
        val start = rng.nextInt(math.max(1, toks.length - blockLen))
        (start until (start + blockLen)).foreach { i =>
          // replacement must DIFFER from the original token, or a
          // 1-token block (short docs) can regenerate the base verbatim
          // and the planted near-dup silently becomes an exact dup
          val orig = toks(i)
          var w = orig
          while (w == orig) w = vocab(rng.nextInt(vocab.length))
          toks(i) = w
        }
        toks.toSeq
      }
      val exactClones = Array.fill(nExact)(base(rng.nextInt(nBase)))
      // shuffle so planted clones are scattered across the id range like
      // the source's, then assign sequential ids
      val all = rng.shuffle((base ++ nearClones ++ exactClones).toSeq)
      val rows = all.zipWithIndex.map { case (toks, id) =>
        val text = toks.mkString(" ")
        (id.toLong, text, weighted(langs), weighted(sources),
          text.length.toLong)
      }
      spark.createDataset(rows)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      println(f"generated $nTotal unique docs ($nPairs planted near-dup " +
        f"pairs, $nExact exact dups) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      java.nio.file.Files.writeString(marker.toPath, "ok"): Unit
    }

    // --- embeddings: same idea for the vector pair family. Unique
    // vectors with the SOURCE's measured cluster geometry: each new
    // vector is its source cluster's centroid plus a seeded PERMUTATION
    // of a source vector's residual — residual norms (hence
    // cosine-to-centroid spread) are preserved exactly, while
    // independent permutations decorrelate residual directions, so
    // generated base vectors don't accidentally pair. Planted near-dup
    // clones (base + 5% relative noise, cosine ≈ 0.99) at 10× the
    // source's MEASURED verified pair count keep the dup rate constant.
    val embMarker = new java.io.File(s"$dst/_GENERATED_EMB")
    if (embMarker.exists()) println(s"reusing unique embeddings at $dst")
    else {
      val t0 = System.nanoTime()
      val emb = Tables(spark, src, "embeddings")
      val srcVecs = emb.select(col("vec_id"), col("embedding"), col("label"))
        .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
      val dim = srcVecs.head._2.length
      val srcPairsE = graft.similarity.Similarity
        .cosineNearDup(emb, threshold = 0.4).count().toInt
      println(s"source: ${srcVecs.length} vectors dim $dim, " +
        s"$srcPairsE verified near-dup pairs (cosine >= 0.4)")
      val centroids = srcVecs.groupBy(_._3).map { case (l, vs) =>
        val c = Array.fill(dim)(0.0f)
        vs.foreach(v => (0 until dim).foreach(i => c(i) += v._2(i)))
        (0 until dim).foreach(i => c(i) /= vs.length)
        l -> c
      }
      val rngE = new scala.util.Random(43)
      val nSrcE = srcVecs.length
      val nTotalE = n * nSrcE
      val nPairsE = n * srcPairsE
      val nBaseE = nTotalE - nPairsE
      def perm(): Array[Int] = rngE.shuffle((0 until dim).toList).toArray
      val baseE = Array.fill(nBaseE) {
        val (_, v, l) = srcVecs(rngE.nextInt(nSrcE))
        val c = centroids(l)
        val p = perm()
        val out = Array.tabulate(dim)(i => c(i) + (v(p(i)) - c(p(i))))
        (out, l)
      }
      val cloneE = Array.fill(nPairsE) {
        val (v, l) = baseE(rngE.nextInt(nBaseE))
        val rnorm = math.sqrt(v.map(x => x * x).sum) / math.sqrt(dim)
        (v.map(x => x + (rngE.nextGaussian() * 0.05 * rnorm).toFloat), l)
      }
      val allE = rngE.shuffle((baseE ++ cloneE).toSeq)
      spark.createDataset(allE.zipWithIndex.map { case ((v, l), id) =>
          (id.toLong, v, l) })
        .toDF("vec_id", "embedding", "label")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
      println(f"generated $nTotalE unique vectors ($nPairsE planted " +
        f"near-dup pairs) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      java.nio.file.Files.writeString(embMarker.toPath, "ok"): Unit
    }

    val allNames = Seq("dedup_exact_docs", "dedup_exact_normalized",
      "dedup_minhash_lsh", "dedup_lsh_jaccard", "dedup_corpus_clean",
      "dedup_cc_clusters", "sim_near_dup", "sim_cosine_topk",
      "sim_ann_lsh", "sim_ann_ivf_seeded", "emb_group_centroids",
      "dedup_ngram_jaccard", "dedup_spans", "text_unigram_logprob",
      "text_contamination", "corpus_pack_sequences", "sim_semdedup",
      "text_entropy", "sample_temperature", "dedup_containment",
      "emb_quantize", "text_tfidf_keywords", "text_collocations",
      "text_heavy_hitters", "emb_norm_filter", "emb_project", "sample_group_topk",
      "dedup_cluster_stats", "dedup_boilerplate", "corpus_source_stats",
      "dedup_incremental", "dedup_incremental_loop", "dedup_bloom_screen",
      "sim_knn_join", "sim_knn_graph", "sample_mix_upsample",
      "emb_pq_encode", "sim_ann_pq", "text_chunk", "dedup_keep_best",
      "emb_pq_distortion", "corpus_shuffle", "text_bigram_logprob", "sim_ann_ivfpq",
      "corpus_curate", "sim_range_search", "emb_recall_eval", "emb_recall_ivfpq",
      "emb_recall_ivfpq_trained", "sim_ann_ivf")
    val unknown = only.toSet -- allNames.toSet
    require(unknown.isEmpty,
      s"unknown query names (would be silently skipped): ${unknown.mkString(", ")}")
    val names = if (only.nonEmpty) allNames.filter(only.contains) else allNames
    def timeAndCount(dir: String, name: String): (Double, Long) = {
      // one execution: the timed noop write carries an Observation for
      // the row count (a separate count() would re-run the whole query)
      val obs = new org.apache.spark.sql.Observation()
      val t = System.nanoTime()
      SparkEntry.gates(name).build(spark, dir).frame
        .observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t) / 1e9
      val rows = obs.get("rows").asInstanceOf[Long]
      Tables.release(spark)
      (secs, rows)
    }
    // warm BOTH dirs: first-touch costs (file listing, parquet footers,
    // AQE replanning at 10×) must not land inside the Nx timing only —
    // that would systematically inflate the published ratios
    names.foreach { q => timeAndCount(src, q); timeAndCount(dst, q); () }
    // Generating the corpora materializes 50k docs + 20k vectors on the
    // driver; the heap/GC churn it leaves behind has been observed to
    // inflate subsequent timings 10-40×. Numbers from a generating run
    // are untrustworthy — demand a clean re-run (which reuses the
    // staged corpus and times in a fresh JVM).
    if (generatedThisRun) {
      println("[scale-docs] WARNING: corpus was GENERATED in this session;" +
        " timings below are unreliable (driver heap churn). Re-run to" +
        " time against the staged corpus in a clean JVM.")
    }
    println(f"${"query"}%-22s ${"sf0.1"}%8s ${"x" + n}%8s  ratio " +
      f"${"out_1x"}%9s ${"out_Nx"}%9s  out_ratio (linear=$n)")
    names.foreach { q =>
      val (s1, c1) = timeAndCount(src, q)
      val (sN, cN) = timeAndCount(dst, q)
      println(f"$q%-22s $s1%8.2f $sN%8.2f  ${sN / s1}%5.1f $c1%9d $cN%9d  " +
        f"${cN.toDouble / c1}%5.1f")
    }
    // sim_near_dup's gated threshold (0.4) sits in the BIRTHDAY TAIL of
    // the source's near-isotropic unit vectors (measured: |centroid| ≈
    // 0.07 vs |residual| ≈ 1.0 — the labels are not geometric clusters;
    // random 64-dim pairs land ≥ 0.4 at ~5e-4), so its output grows
    // quadratically with ANY corpus of the source's statistics — a
    // property of the data, not the operator. The true-duplicate regime
    // is a high threshold where random pairs are impossible and output
    // is exactly the planted clone structure: time THAT too, so the
    // operator's scaling is measured in the regime a deduper runs it in.
    if (names.contains("sim_near_dup")) {
      def timeHi(dir: String): (Double, Long) = {
        val t = System.nanoTime()
        val c = graft.similarity.Similarity
          .cosineNearDup(Tables(spark, dir, "embeddings"), threshold = 0.9)
          .count()
        Tables.release(spark)
        ((System.nanoTime() - t) / 1e9, c)
      }
      timeHi(src) // warm
      val (s1, c1) = timeHi(src)
      val (sN, cN) = timeHi(dst)
      println(f"sim_near_dup@0.9       $s1%8.2f $sN%8.2f  ${sN / s1}%5.1f " +
        f"$c1%9d $cN%9d  (true-dup regime: src has no planted vector " +
        "dups; generated output = planted clones)")
    }
    spark.stop()
  }
}
