package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.Checkpoints.CutSyntax

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline; the
  * hyperplane-LSH bucketed variant is the scale path (buckets bound the
  * candidate set, so the join cost is Σ bucket² instead of n²). Both use
  * pure `zip_with`/`aggregate` expressions — codegen'd, no UDFs.
  */
object Similarity {

  /** THE double-literal spelling of every trained/seeded-literal
    * contract in this file: `cast('<Double.toString>' as double)` is the
    * one rendering both Spark and DuckDB parse back to the bit-identical
    * double (correctly-rounded string→double on both engines). All
    * centroid/codebook literal builders MUST go through this — a second
    * spelling (e.g. raw digits, or special-casing NaN/Infinity) would
    * silently desynchronize the engines' quantizers.
    */
  private def dLit(x: Double): String = s"cast('$x' as double)"
  /** DuckDB list literal of doubles through [[dLit]]. */
  private def duckVecLit(xs: Array[Double]): String =
    xs.map(dLit).mkString("[", ",", "]")
  /** Spark `array(...)` literal of doubles through [[dLit]]. */
  private def sparkVecLit(xs: Array[Double]): String =
    xs.map(dLit).mkString("array(", ",", ")")

  /** Cosine similarity between two array<float> columns, computed in
    * double precision in index order (matches DuckDB's list_dot_product
    * accumulation to the ulp for 64-dim vectors). Uses the native fused
    * `cosine_sim` Catalyst expression when the session registered it
    * (graft.functions.GraftFunctions); otherwise composes builtins —
    * identical arithmetic, more per-row allocation.
    */
  private def cosineExpr(a: String, b: String): String = {
    def normSq(v: String) =
      s"aggregate(transform($v, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    // zero-norm guard mirrors the native expression and the DuckDB oracle:
    // degenerate vectors score 0.0, never NaN/Infinity
    s"""CASE WHEN ${normSq(a)} = 0.0 OR ${normSq(b)} = 0.0 THEN 0.0
       ELSE aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)
       / (sqrt(${normSq(a)}) * sqrt(${normSq(b)})) END"""
  }

  private def cosineSql(df: DataFrame, a: String, b: String): String =
    if (df.sparkSession.catalog.functionExists("cosine_sim")) s"cosine_sim($a, $b)"
    else cosineExpr(a, b)

  /** Scale-safe per-group top-k: phase 1 ranks within (group, salt) —
    * partitions are corpus/S sized, never the whole corpus per group —
    * and keeps k per salt; phase 2 ranks the ≤ k×S survivors per group.
    * A single `Window.partitionBy(group)` over the full candidate set
    * would funnel every scored row of a group into ONE task — correct at
    * test scale, a per-group single-reducer at 100×. The two-phase shape
    * is identical in result (row_number over the same total order) for
    * any salt count.
    */
  private[graft] def topKPerGroup(scored: DataFrame, groupCol: String, k: Int,
                                  order: Seq[Column], saltCol: Column,
                                  salts: Int = 32): DataFrame = {
    val w1 = Window.partitionBy(col(groupCol), pmod(saltCol, lit(salts)))
      .orderBy(order: _*)
    val survivors = scored.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k).drop("__r1")
    val w2 = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    survivors.withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
  }

  /** Rank the top k scored candidates per group, preferring the native
    * `topk_by` bounded-heap aggregate when registered: ONE shuffle with
    * map-side partial top-k (each map task ships ≤ k rows per group),
    * O(k) state per group at any corpus size. Falls back to the
    * two-phase salted window. Both produce the identical total order
    * (cosine DESC, cand_id ASC) and output columns.
    */
  private def rankTopK(scored: DataFrame, groupCol: String, k: Int): DataFrame =
    if (scored.sparkSession.catalog.functionExists("topk_by")) {
      scored.groupBy(col(groupCol))
        .agg(expr(
          s"topk_by(cosine, cast(cand_id as bigint), struct(cand_id, cosine), $k)")
          .as("__top"))
        .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col(groupCol), col("__e.payload.cand_id").as("cand_id"),
          col("__e.payload.cosine").as("cosine"),
          (col("__pos") + 1).cast("int").as("rnk"))
    } else
      topKPerGroup(scored, groupCol, k,
        Seq(col("cosine").desc, col("cand_id")), hash(col("cand_id")))
        .select(col(groupCol), col("cand_id"), col("cosine"), col("rnk"))

  /** Brute-force cosine top-k: each probe vector against the full corpus.
    * The probe set is broadcast (it is small by definition); ranking is
    * the bounded-heap aggregate (or the salted two-phase fallback) — no
    * per-probe single-partition exchange either way.
    */
  def cosineTopK(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 digits: Int = 4): DataFrame = {
    val probes = embeddings
      .filter(col(idCol).isInCollection(probeIds))
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val cands = embeddings.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val scored = cands.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(expr(cosineSql(embeddings, "probe_vec", "cand_vec")), digits))
    rankTopK(scored, "probe_id", k)
  }

  /** Deterministic ±1 hyperplane component for (plane, dim) — a splitmix64
    * finalizer over the index, evaluated ONCE on the driver. The planes
    * ship to executors as array literals, so per-row work is just the dot
    * products (no hashing in the hot loop).
    */
  private[graft] def planeSign(plane: Int, d: Int): Double = {
    var z = (plane.toLong << 32 | d.toLong) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** Random-hyperplane LSH with `nTables` independent hash tables
    * (OR-amplification: a pair is a candidate if it collides in ANY
    * table — recall 1-(1-p^b)^T instead of p^b). Output: one row per
    * (vector, table) with that table's bucket id.
    */
  def lshBuckets(embeddings: DataFrame, nBits: Int = 6, nTables: Int = 8,
                 dim: Int = 64, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val buckets =
      if (embeddings.sparkSession.catalog.functionExists("lsh_buckets"))
        // native fused expression: one pass, zero per-projection allocation
        expr(s"lsh_buckets($vecCol, $nBits, $nTables, $dim)")
      else array((0 until nTables).map { t =>
        (0 until nBits).map { j =>
          val plane = Array.tabulate(dim)(d => planeSign(t * nBits + j, d))
          val proj = aggregate(
            zip_with(col(vecCol), typedLit(plane), (x, r) => x.cast("double") * r),
            lit(0.0), (acc, v) => acc + v)
          when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*)
    embeddings
      .withColumn("__buckets", buckets)
      .select(col(idCol), col(vecCol),
        posexplode(col("__buckets")).as(Seq("table", "bucket")))
  }

  /** ANN via multi-table LSH: probes compare only against corpus vectors
    * sharing a bucket in at least one table. Candidates are deduped
    * before scoring so each pair is scored once. At scale the join is
    * keyed on (table, bucket) — cost is Σ bucket², never n².
    */
  def annTopK(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
              nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              digits: Int = 4): DataFrame = {
    val bucketed = lshBuckets(embeddings, nBits, nTables, dim, idCol, vecCol)
    val probes = bucketed.filter(col(idCol).isInCollection(probeIds))
      .select(col(idCol).as("probe_id"), col("table"), col("bucket"))
    val cands = bucketed.select(col(idCol).as("cand_id"),
      col("table"), col("bucket"))
    // Dedup the (probe, candidate) pair space on IDS ONLY — vectors would
    // otherwise ride the multi-table join and the dedup shuffle nTables
    // times over. They are attached exactly once post-dedup: probe vectors
    // via a broadcast (|probes| is small by contract), candidate vectors
    // via one equi-join against the corpus.
    val pairs = cands.join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id")).distinct()
    val probeVecs = embeddings.filter(col(idCol).isInCollection(probeIds))
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val candVecs = embeddings
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val scored = pairs
      .join(broadcast(probeVecs), Seq("probe_id"))
      .join(candVecs, Seq("cand_id"))
      .withColumn("cosine",
        round(expr(cosineSql(embeddings, "probe_vec", "cand_vec")), digits))
    rankTopK(scored, "probe_id", k)
  }

  /** k-nearest-neighbor JOIN between two embedding TABLES: every probe
    * row gets its top-k corpus neighbors by cosine, LSH-blocked so the
    * |P|×|C| pair space never materializes. This is [[annTopK]]'s
    * contract lifted from "small driver-side probe id list" to
    * "arbitrary probe DataFrame": no broadcast assumption on either
    * side. Both sides are bucketed independently with the SAME plane
    * matrix (a probe and a candidate collide iff they'd collide in a
    * self-join), the candidate join is keyed on (table, bucket), ids
    * only ride the multi-table join and the pair dedup, and each side's
    * vectors attach exactly once on the deduped pairs. Ranking is the
    * bounded-heap `topk_by` aggregate (map-side partial top-k).
    *
    * `probes eq corpus` with `excludeSelf = true` builds the kNN GRAPH
    * of a table — the input to kNN clustering, graph dedup and
    * retrieval-style analyses. At 100 TB: shuffle ∝ nTables×(|P|+|C|)
    * id/bucket rows + the deduped candidate pairs (Σ per-bucket
    * |P_b|×|C_b|, bounded by nBits), never |P|×|C|.
    *
    * Recall caveat (same contract as [[annTopK]]): a true neighbor in
    * no shared bucket is unreachable; nTables OR-amplifies recall.
    */
  def knnJoin(probes: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              excludeSelf: Boolean = false, digits: Int = 4): DataFrame =
    rankTopK(scoredCandidates(probes, corpus, nBits, nTables, dim, idCol,
      vecCol, excludeSelf, digits), "probe_id", k)

  /** Range search — the OTHER standard retrieval query next to top-k
    * (FAISS `range_search`): every corpus vector within a cosine radius
    * of each probe, rather than a fixed count. Same bucketed candidate
    * machinery as [[knnJoin]] (candidates = bucket collisions, part of
    * the operator contract exactly as in the ANN family); the threshold
    * filter replaces the bounded-heap ranking, so output size is
    * data-dependent — the caller owns the radius-vs-tail trade the
    * near-dup operator documents (an absolute cosine radius must be
    * chosen against the corpus's random-pair tail).
    */
  def rangeSearch(probes: DataFrame, corpus: DataFrame, threshold: Double,
                  nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  excludeSelf: Boolean = false, digits: Int = 4): DataFrame =
    scoredCandidates(probes, corpus, nBits, nTables, dim, idCol, vecCol,
      excludeSelf, digits)
      .filter(col("cosine") >= threshold)
      .select(col("probe_id"), col("cand_id"), col("cosine"))

  /** Shared candidate + exact-score pipeline of [[knnJoin]] /
    * [[rangeSearch]]: both sides bucket with the same plane matrix,
    * ids-only pair dedup across tables, vectors attach once per side.
    *
    * SELF-JOIN halving (r12): when probes and corpus are the SAME frame
    * (the kNN-graph / self-range case — detected by reference equality,
    * the only sound test) and self-pairs are excluded, bucket
    * collisions are symmetric, so the directed candidate set is exactly
    * the mirror closure of the `probe_id < cand_id` half. Dedup, both
    * vector-attach joins and the cosine are computed on HALF the pairs,
    * the scored half is materialized once (`cutLineage` — the §5
    * class-(b) knob; without the cut the union would re-execute the
    * whole subtree per branch and win nothing), then mirrored by a free
    * projection. Value-identical: per-element multiply and the norm
    * product commute in IEEE double, so cosine(a,b) ≡ cosine(b,a)
    * bitwise, and the directed row SET is unchanged. On the near-dup
    * corpora where LSH families collide densely (the sf1 staging, crawl
    * boilerplate in production) the pair space dominates this operator —
    * halving it is the single biggest lever the plan has.
    */
  private def scoredCandidates(probes: DataFrame, corpus: DataFrame,
                               nBits: Int, nTables: Int, dim: Int,
                               idCol: String, vecCol: String,
                               excludeSelf: Boolean, digits: Int): DataFrame = {
    val selfJoin = (probes eq corpus) && excludeSelf
    val pb = lshBuckets(probes, nBits, nTables, dim, idCol, vecCol)
      .select(col("table"), col("bucket"), col(idCol).as("probe_id"))
    val cb = lshBuckets(corpus, nBits, nTables, dim, idCol, vecCol)
      .select(col("table"), col("bucket"), col(idCol).as("cand_id"))
    val joined = pb.join(cb, Seq("table", "bucket"))
    val pairs =
      (if (selfJoin) joined.filter(col("probe_id") < col("cand_id"))
       else if (excludeSelf) joined.filter(col("probe_id") =!= col("cand_id"))
       else joined)
        .select(col("probe_id"), col("cand_id")).distinct()
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val scored = pairs.join(pv, Seq("probe_id")).join(cv, Seq("cand_id"))
      .withColumn("cosine",
        round(expr(cosineSql(probes, "probe_vec", "cand_vec")), digits))
    if (selfJoin) {
      val half = graft.config.Checkpoints.cut(
        scored.select(col("probe_id"), col("cand_id"), col("cosine")))
      half.unionByName(half.select(col("cand_id").as("probe_id"),
        col("probe_id").as("cand_id"), col("cosine")))
    } else scored
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversified re-rank — the retrieval-diversity operator a
    * training-data pipeline runs between ANN candidate generation and
    * selection (diverse few-shot pools, dedup-aware retrieval: the
    * plain top-k of a near-dup-heavy corpus returns k copies of one
    * document; MMR's redundancy penalty returns the cluster once).
    *
    * Greedy selection, unrolled `k` times: pick 1 = pure relevance
    * (the kNN rank-1); pick i>1 maximizes
    * λ·cos(probe, c) − (1−λ)·max_{s∈selected} cos(c, s)
    * over the remaining SHORTLIST (the bounded kNN top-`shortlist`).
    * Every input cosine is the family's 4-digit rounded value and every
    * score is the same two-multiply-one-subtract double expression in
    * both engines, ties broken on cand_id — so the greedy argmax chain
    * is engine-exact and the oracle replays selection for selection.
    *
    * Scale shape: the shortlist bounds everything — pair similarities
    * are |shortlist|² per probe computed via two vector-attach joins
    * (the family's cosine expression, engine-exact), and the greedy
    * chain itself is PER-PROBE-LOCAL: one groupBy collects each probe's
    * ≤ shortlist candidates and ≤ shortlist² pair sims and a bounded
    * closure replays the k-step argmax in one pass. The r15 shape
    * unrolled the chain as k−1 global join+window+checkpoint rounds —
    * ~30 sub-0.3 s Spark jobs whose driver fixed cost dominated the
    * gate (3.4 s wall for 2.0 s busy at 32 cores, and 8 cores BEAT 32).
    * Selection is embarrassingly parallel by probe; only the scoring
    * arithmetic must be engine-exact, and it stays bit-identical: the
    * closure compares/combines the SAME rounded doubles the SQL rounds
    * produced (λ·cos − (1−λ)·red is two multiplies and a subtract in
    * both spellings, ties on cand_id).
    */
  def mmrRerank(probes: DataFrame, corpus: DataFrame, k: Int = 3,
                shortlist: Int = 8, lambda: Double = 0.7,
                nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding",
                digits: Int = 4): DataFrame = {
    require(k >= 1 && k <= shortlist, s"mmrRerank: need 1 <= k <= shortlist")
    val short = graft.config.Checkpoints.cut(
      knnJoin(probes, corpus, shortlist, nBits, nTables, dim, idCol,
        vecCol, excludeSelf = false, digits))
    val cv = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cvec"))
    // pairwise sims WITHIN each probe's shortlist (≤ shortlist² rows
    // per probe), vectors attached once per side
    // pairs consumed ONCE below (the per-probe aggregation), so no cut:
    // the r15 unrolled chain read it k−1 times and checkpointed it
    val pairs = short.select(col("probe_id"), col("cand_id").as("c"))
      .join(short.select(col("probe_id"), col("cand_id").as("s")),
        Seq("probe_id"))
      .filter(col("c") =!= col("s"))
      .join(cv.select(col("__cid").as("c"), col("__cvec").as("va")), Seq("c"))
      .join(cv.select(col("__cid").as("s"), col("__cvec").as("vb")), Seq("s"))
      .select(col("probe_id"), col("c"), col("s"),
        round(expr(cosineSql(corpus, "va", "vb")), digits).as("sim"))
    // The greedy chain, per probe, over the collected (bounded)
    // shortlist + pair sims. Exactly the unrolled-join semantics:
    //   pick 1 = the shortlist's rnk-1 row, score = cosine;
    //   pick i = argmax (λ·cosine − (1−λ)·max_{s∈selected} sim(c,s)),
    //            ties on smaller cand_id, over remaining cands that
    //            have a sim row to ≥1 selected member (the inner join's
    //            drop-if-no-pair behavior, kept for value identity);
    //   a step with no scorable candidate emits nothing and removes
    //   nothing (the old anti-join removed only the pick).
    val lamD = lambda
    val omD = 1.0 - lambda
    val kk = k
    val greedy = udf((cands: Seq[org.apache.spark.sql.Row],
                      sims: Seq[org.apache.spark.sql.Row]) => {
      val byRnk = cands.sortBy(_.getInt(0))
      val first = byRnk.head
      val out = scala.collection.mutable.ArrayBuffer(
        (1, first.getLong(1), first.getDouble(2), first.getDouble(2)))
      var selIds: List[Long] = first.getLong(1) :: Nil
      var remaining = byRnk.tail.map(r => (r.getLong(1), r.getDouble(2)))
      val simMap: Map[(Long, Long), Double] =
        if (sims == null) Map.empty
        else sims.iterator
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      var step = 2
      while (step <= kk && remaining.nonEmpty) {
        var bc = 0L; var bcos = 0.0; var bs = 0.0; var found = false
        remaining.foreach { case (c, cos) =>
          var red = Double.NegativeInfinity; var any = false
          selIds.foreach { s =>
            simMap.get((c, s)).foreach { v =>
              any = true; if (v > red) red = v
            }
          }
          if (any) {
            val score = lamD * cos - omD * red
            if (!found || score > bs || (score == bs && c < bc)) {
              bc = c; bcos = cos; bs = score; found = true
            }
          }
        }
        if (found) {
          out += ((step, bc, bcos, bs))
          selIds = bc :: selIds
          remaining = remaining.filterNot(_._1 == bc)
        }
        step += 1
      }
      out.toSeq
    })
    short
      .groupBy(col("probe_id"))
      .agg(collect_list(struct(col("rnk"), col("cand_id"), col("cosine")))
        .as("__cands"))
      .join(pairs.groupBy(col("probe_id"))
        .agg(collect_list(struct(col("c"), col("s"), col("sim")))
          .as("__sims")),
        Seq("probe_id"), "left")
      .select(col("probe_id"),
        explode(greedy(col("__cands"), col("__sims"))).as("__pick"))
      .select(col("probe_id"),
        col("__pick._1").as("mmr_rank"),
        col("__pick._2").as("cand_id"),
        col("__pick._3").as("cosine"),
        col("__pick._4").as("mmr_score"))
  }

  /** DuckDB oracle for [[mmrRerank]]: the identical unrolled greedy
    * chain — one selected/remaining CTE pair per step over the kNN
    * shortlist oracle.
    */
  def mmrRerankDuckdbSql(probeWhere: String, corpusWhere: String,
                         k: Int = 3, shortlist: Int = 8,
                         lambda: Double = 0.7,
                         nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                         table: String = "embeddings",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         digits: Int = 4): String = {
    val lam = lambda
    val om = 1.0 - lambda
    val steps = (2 to k).map { i =>
      s"""pick$i AS (
            SELECT probe_id, cand_id, cosine, mmr_score FROM (
              SELECT r.probe_id, r.cand_id, r.cosine,
                     $lam * r.cosine - $om * max(p.sim) AS mmr_score
              FROM rem${i - 1} r
              JOIN pairs p ON p.probe_id = r.probe_id AND p.c = r.cand_id
              JOIN sel${i - 1} s ON s.probe_id = p.probe_id
                                AND s.cand_id = p.s
              GROUP BY r.probe_id, r.cand_id, r.cosine
            ) QUALIFY row_number() OVER (PARTITION BY probe_id
                        ORDER BY mmr_score DESC, cand_id) = 1
          ), sel$i AS (
            SELECT probe_id, cand_id FROM sel${i - 1}
            UNION ALL SELECT probe_id, cand_id FROM pick$i
          ), rem$i AS (
            SELECT r.* FROM rem${i - 1} r
            ANTI JOIN pick$i p USING (probe_id, cand_id)
          )"""
    }.mkString(", ")
    val out = (2 to k).map(i =>
      s"UNION ALL SELECT probe_id, $i AS mmr_rank, cand_id, cosine, mmr_score FROM pick$i")
      .mkString("\n         ")
    s"""WITH short AS (
          ${knnJoinDuckdbSql(probeWhere, corpusWhere, shortlist, nBits,
            nTables, dim, table, idCol, vecCol, excludeSelf = false, digits)}
        ), pairs AS (
          SELECT a.probe_id, a.cand_id AS c, b.cand_id AS s,
                 ${duckdbCosine(s"ea.$vecCol", s"eb.$vecCol", digits)} AS sim
          FROM short a
          JOIN short b ON b.probe_id = a.probe_id
                      AND b.cand_id <> a.cand_id
          JOIN $table ea ON ea.$idCol = a.cand_id
          JOIN $table eb ON eb.$idCol = b.cand_id
        ), pick1 AS (
          SELECT probe_id, cand_id, cosine, cosine AS mmr_score
          FROM short WHERE rnk = 1
        ), sel1 AS (
          SELECT probe_id, cand_id FROM pick1
        ), rem1 AS (
          SELECT probe_id, cand_id, cosine FROM short WHERE rnk > 1
        ), $steps
        SELECT probe_id, 1 AS mmr_rank, cand_id, cosine, mmr_score
        FROM pick1
         $out"""
  }

  /** ANN recall@k evaluation — the measurement loop of the ANN family:
    * the bucketed kNN join ([[knnJoin]]) scored against brute-force
    * ground truth on a probe TABLE, one (n_hits, recall) row per probe.
    * This is how an index's (nBits, nTables) — or any ANN variant — is
    * actually tuned: run the approximate path and the exact path on a
    * probe sample, count the overlap. The probe side broadcasts (it is
    * a sample by construction — recall eval over every vector IS the
    * brute-force join); the corpus side stays one scan per path. Both
    * rankings share the deterministic total order (rounded cosine DESC,
    * cand_id), so the intersection — and therefore recall — is
    * engine-exact, not approximately compared.
    */
  def recallEval(probes: DataFrame, corpus: DataFrame, k: Int,
                 nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 digits: Int = 4): DataFrame = {
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val brute = rankTopK(
      cv.crossJoin(broadcast(pv))
        .withColumn("cosine",
          round(expr(cosineSql(probes, "probe_vec", "cand_vec")), digits)),
      "probe_id", k)
    recallOf(
      knnJoin(probes, corpus, k, nBits, nTables, dim, idCol, vecCol,
        excludeSelf = false, digits),
      brute, probes, k, idCol, digits)
  }

  /** Recall of ANY approximate retrieval against ANY ground truth: both
    * frames are (probe_id, cand_id, ...) rankings; output is one dense
    * (n_hits, recall) row per probe. The measurement core shared by
    * [[recallEval]] (LSH kNN vs brute cosine) and [[recallIvfPq]]
    * (IVFPQ vs brute L2) — and by any future variant: recall is always
    * |approx ∩ truth| / k, whatever produced the two rankings.
    */
  def recallOf(approx: DataFrame, truth: DataFrame, probes: DataFrame,
               k: Int, idCol: String = "vec_id",
               digits: Int = 4): DataFrame = {
    val hits = truth.select(col("probe_id"), col("cand_id"))
      .join(approx.select(col("probe_id"), col("cand_id")),
        Seq("probe_id", "cand_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).cast("int").as("n_hits"))
    probes.select(col(idCol).as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0)).as("n_hits"),
        // halfUp, not round(): n/k lands on exact decimal midpoints for
        // power-of-2 k ≥ 32 (1/32 = 0.03125), where the engines' round()
        // diverges — the quality_score rule applied to recall
        graft.text.Text.halfUp(
          coalesce(col("n_hits"), lit(0)) / lit(k.toDouble), digits)
          .as("recall"))
  }

  /** Recall@k of the PRODUCTION index ([[ivfPqSearch]], seeded
    * contracts) against exact-L2 brute force — the number an IVFPQ
    * deployment actually watches when tuning (kc, nprobe, m, k).
    * Ground truth is squared L2 via the strict index-order fold
    * (zip_with + aggregate — one IEEE sequence, replayed by the oracle
    * with the identical prepend-0.0 list_reduce), so the intersection
    * is engine-exact like [[recallEval]]'s.
    */
  def recallIvfPq(probes: DataFrame, corpus: DataFrame, topK: Int,
                  kc: Int = 16, nprobe: Int = 4, m: Int = 8, k: Int = 16,
                  dim: Int = 64, idCol: String = "vec_id",
                  vecCol: String = "embedding", digits: Int = 4,
                  centroids: Option[Array[Array[Double]]] = None,
                  codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame =
    recallOf(
      ivfPqSearch(probes, corpus, topK, kc, nprobe, m, k, dim, idCol, vecCol,
        centroids, codebooks),
      bruteL2TopK(probes, corpus, topK, idCol, vecCol),
      probes, topK, idCol, digits)

  /** Recall@k of the REFINED index ([[ivfPqSearchRefined]]) against the
    * same exact-L2 ground truth — the number that shows what the refine
    * step buys back when the corpus outgrows PQ resolution.
    */
  def recallIvfPqRefined(probes: DataFrame, corpus: DataFrame, topK: Int,
                         refine: Int = 4, kc: Int = 16, nprobe: Int = 4,
                         m: Int = 8, k: Int = 16, dim: Int = 64,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding", digits: Int = 4,
                         centroids: Option[Array[Array[Double]]] = None,
                         codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame =
    recallOf(
      ivfPqSearchRefined(probes, corpus, topK, refine, kc, nprobe, m, k,
        dim, idCol, vecCol, centroids, codebooks),
      bruteL2TopK(probes, corpus, topK, idCol, vecCol),
      probes, topK, idCol, digits)

  /** Pairwise squared-L2 between two `array<float>` columns: the fused
    * native `l2_sq` when registered (one codegen'd loop per pair, zero
    * allocation — on a |probes|×|corpus| cross join the interpreted
    * lambda cost IS the query), else the builtin zip_with/aggregate
    * fold. Same values bit-for-bit UNDER THE EQUAL-LENGTH CONTRACT
    * every caller here satisfies (both accumulate (x−y)² in index order
    * from 0.0 in doubles, spec-asserted); on unequal lengths the forms
    * deliberately diverge — zip_with null-pads (total = NULL) while the
    * native sums to the shorter length (PairDistances.scala documents
    * the scoping).
    */
  private def pairL2Col(spark: SparkSession, a: String, b: String): Column =
    if (spark.catalog.functionExists("l2_sq")) expr(s"l2_sq($a, $b)")
    else expr(
      s"""aggregate(
         zip_with($a, $b,
           (x, y) -> (cast(x as double) - cast(y as double))
                   * (cast(x as double) - cast(y as double))),
         cast(0.0 as double), (acc, v) -> acc + v)""")

  /** ADC lookup-sum Σ_s dt[s][code_s] over a probe's per-subspace
    * distance-table column and a candidate's codes column: the fused
    * native `adc_dist` when registered, else the builtin
    * zip_with/element_at/aggregate fold — identical left fold from 0.0
    * in subspace order (spec-asserted) for the in-contract inputs the
    * PQ encoders produce (equal lengths, codes in [0, k)); out of
    * contract the forms diverge (negative code: element_at(t, 0) errors
    * where the native yields null; length mismatch: null-pad vs
    * shorter-length sum) — see PairDistances.scala for the scoping.
    * The scan-side inner loop of the PQ/IVFPQ candidate scans.
    */
  private def adcDistCol(spark: SparkSession, dtCol: String,
                         codesCol: String): Column =
    if (spark.catalog.functionExists("adc_dist"))
      expr(s"adc_dist($dtCol, $codesCol)")
    else
      aggregate(
        zip_with(col(dtCol), col(codesCol),
          (t, c) => element_at(t, (c + 1).cast("int"))),
        lit(0.0), (acc, v) => acc + v)

  /** Exact squared-L2 top-k by brute force — the ground truth of the
    * distance-based ANN family. Strict left fold in index order; probe
    * side broadcasts (it is a sample by construction).
    */
  def bruteL2TopK(probes: DataFrame, corpus: DataFrame, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val scored = cv.crossJoin(broadcast(pv))
      .withColumn("adist", pairL2Col(probes.sparkSession,
        "probe_vec", "cand_vec"))
      .select(col("probe_id"), col("cand_id"), col("adist"))
    rankMinDist(scored, k)
  }

  /** DuckDB oracle for [[recallEval]]: the bucketed candidate CTEs plus
    * a brute-force cross-join ranking, intersected per probe.
    */
  def recallEvalDuckdbSql(probeWhere: String, corpusWhere: String, k: Int,
                          nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                          table: String = "embeddings",
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          digits: Int = 4): String =
    s"""${scoredCandidatesDuckdbCtes(probeWhere, corpusWhere, nBits, nTables,
          dim, table, idCol, vecCol, excludeSelf = false, digits)},
       ann AS (
         SELECT probe_id, cand_id FROM (
           SELECT probe_id, cand_id, $knnRankSql AS rnk
           FROM s) WHERE rnk <= $k),
       brute AS (
         SELECT probe_id, cand_id FROM (
           SELECT probe_id, cand_id, $knnRankSql AS rnk
           FROM (
             SELECT pe.$idCol AS probe_id, ce.$idCol AS cand_id,
                    ${duckdbCosine(s"pe.$vecCol", s"ce.$vecCol", digits)} AS cosine
             FROM p pe CROSS JOIN c ce)) WHERE rnk <= $k),
       hits AS (
         SELECT b.probe_id, cast(count(*) as int) AS n_hits
         FROM brute b JOIN ann a
           ON b.probe_id = a.probe_id AND b.cand_id = a.cand_id
         GROUP BY 1)
     SELECT p.$idCol AS probe_id,
            coalesce(h.n_hits, 0) AS n_hits,
            ${graft.text.Text.halfUpSql(
              s"coalesce(h.n_hits, 0) / cast($k as double)", digits)}
              AS recall
     FROM p LEFT JOIN hits h ON p.$idCol = h.probe_id"""

  /** DuckDB oracle for [[recallIvfPq]]: the seeded IVFPQ oracle as the
    * approx branch, exact-L2 brute force (the identical prepend-0.0
    * index-order fold) as ground truth, intersected per probe.
    */
  def recallIvfPqDuckdbSql(probeWhere: String, corpusWhere: String,
                           topK: Int, kc: Int = 16, nprobe: Int = 4,
                           m: Int = 8, k: Int = 16, dim: Int = 64,
                           table: String = "embeddings",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): String =
    recallIvfPqWrapSql(
      ivfPqSeededDuckdbSql(probeWhere, corpusWhere, topK, kc, nprobe, m, k,
        dim, table, idCol, vecCol),
      probeWhere, corpusWhere, topK, dim, table, idCol, vecCol)

  /** DuckDB oracle for [[recallIvfPq]] with TRAINED quantizers: the
    * driver-trained centroid/codebook matrices replayed as SQL literals
    * (the [[ivfPqTrainedDuckdbSql]] approx branch) against the identical
    * exact-L2 ground truth. The literals round-trip through
    * `cast('<Double.toString>' as double)` — the same correctly-rounded
    * string→double parse [[centroidDistsCol]] uses on the Spark side —
    * so both engines score with bit-identical quantizers.
    */
  def recallIvfPqTrainedDuckdbSql(probeWhere: String, corpusWhere: String,
                                  topK: Int,
                                  cents: Array[Array[Double]],
                                  cbs: Array[Array[Array[Double]]],
                                  nprobe: Int = 4, dim: Int = 64,
                                  table: String = "embeddings",
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): String =
    recallIvfPqWrapSql(
      ivfPqTrainedDuckdbSql(probeWhere, corpusWhere, topK, cents, cbs,
        nprobe, dim, table, idCol, vecCol),
      probeWhere, corpusWhere, topK, dim, table, idCol, vecCol)

  /** Shared recall wrapper: any IVFPQ approx-branch SQL intersected with
    * the exact-L2 brute ranking (the identical prepend-0.0 index-order
    * fold as [[bruteL2TopK]]), one dense (n_hits, recall) row per probe.
    */
  /** The exact-squared-L2 fold between aliases `pe` and `ce`, replaying
    * [[bruteL2TopK]]'s prepend-0.0 index-order accumulation — shared by
    * the recall wrap's ground-truth branch and the refine rerank.
    */
  private def exactL2FoldSql(dim: Int, vecCol: String): String =
    s"""list_reduce(list_prepend(cast(0.0 as double),
       list_transform(range(1, ${dim + 1}),
         d -> (cast(pe.$vecCol[d] as double) - cast(ce.$vecCol[d] as double))
            * (cast(pe.$vecCol[d] as double) - cast(ce.$vecCol[d] as double)))),
       (acc, v) -> acc + v)"""

  /** The refine step in DuckDB: any IVFPQ approx-branch SQL as the
    * shortlist, exact-L2 rerank of its (probe, cand) pairs from the raw
    * vectors, cut at topK — the oracle twin of [[ivfPqSearchRefined]]'s
    * rerank, same fold, same (adist, cand_id) tie order.
    */
  private def refinedApproxSql(shortlistSql: String, probeWhere: String,
                               corpusWhere: String, topK: Int, dim: Int,
                               table: String, idCol: String,
                               vecCol: String): String =
    s"""WITH sl AS (
         SELECT probe_id, cand_id FROM ($shortlistSql)),
       rp AS (SELECT $idCol, $vecCol FROM $table WHERE $probeWhere),
       rc AS (SELECT $idCol, $vecCol FROM $table WHERE $corpusWhere),
       ex AS (
         SELECT sl.probe_id, sl.cand_id,
                ${exactL2FoldSql(dim, vecCol)} AS adist
         FROM sl
         JOIN rp pe ON pe.$idCol = sl.probe_id
         JOIN rc ce ON ce.$idCol = sl.cand_id)
       SELECT probe_id, cand_id, adist, cast(rnk as int) AS rnk FROM (
         SELECT probe_id, cand_id, adist,
                row_number() OVER (PARTITION BY probe_id
                  ORDER BY adist, cand_id) AS rnk
         FROM ex) WHERE rnk <= $topK"""

  /** DuckDB oracle for [[recallIvfPqRefined]] with TRAINED quantizers:
    * the trained shortlist at topK × refine, refined, then the shared
    * recall wrap.
    */
  def recallIvfPqRefinedTrainedDuckdbSql(probeWhere: String,
                                         corpusWhere: String, topK: Int,
                                         refine: Int,
                                         cents: Array[Array[Double]],
                                         cbs: Array[Array[Array[Double]]],
                                         nprobe: Int = 4, dim: Int = 64,
                                         table: String = "embeddings",
                                         idCol: String = "vec_id",
                                         vecCol: String = "embedding")
      : String =
    recallIvfPqWrapSql(
      refinedApproxSql(
        ivfPqTrainedDuckdbSql(probeWhere, corpusWhere, topK * refine,
          cents, cbs, nprobe, dim, table, idCol, vecCol),
        probeWhere, corpusWhere, topK, dim, table, idCol, vecCol),
      probeWhere, corpusWhere, topK, dim, table, idCol, vecCol)

  /** NOTE: `table` here feeds ONLY the ground-truth CTEs (p2/c2/bt) —
    * the approx branch is a closed subquery. The PCA-rotated gate
    * exploits exactly that: its approx SQL searches the rotated inline
    * table while `table` stays the original, so recall is scored
    * against exact-L2 neighbors in the ORIGINAL space (what a user of
    * the index cares about).
    */
  private def recallIvfPqWrapSql(approxSql: String, probeWhere: String,
                                 corpusWhere: String, topK: Int, dim: Int,
                                 table: String, idCol: String,
                                 vecCol: String): String = {
    val l2 = exactL2FoldSql(dim, vecCol)
    s"""WITH approx AS (
         SELECT probe_id, cand_id
         FROM ($approxSql)),
       p2 AS (SELECT $idCol, $vecCol FROM $table WHERE $probeWhere),
       c2 AS (SELECT $idCol, $vecCol FROM $table WHERE $corpusWhere),
       bt AS (
         SELECT probe_id, cand_id FROM (
           SELECT pe.$idCol AS probe_id, ce.$idCol AS cand_id,
                  row_number() OVER (PARTITION BY pe.$idCol
                    ORDER BY $l2, ce.$idCol) AS rnk
           FROM p2 pe CROSS JOIN c2 ce) WHERE rnk <= $topK),
       hits AS (
         SELECT b.probe_id, cast(count(*) as int) AS n_hits
         FROM bt b JOIN approx a
           ON b.probe_id = a.probe_id AND b.cand_id = a.cand_id
         GROUP BY 1)
     SELECT p2.$idCol AS probe_id,
            coalesce(h.n_hits, 0) AS n_hits,
            ${graft.text.Text.halfUpSql(
              s"coalesce(h.n_hits, 0) / cast($topK as double)", 4)}
              AS recall
     FROM p2 LEFT JOIN hits h ON p2.$idCol = h.probe_id"""
  }

  /** Shared DuckDB CTE fragment: every (vector, table, bucket) row of the
    * multi-table hyperplane LSH, with the driver-computed ±1 plane matrix
    * embedded as SQL literals. Expects a CTE `$src($idCol, $vecCol)`.
    */
  private def duckdbBucketBranches(nBits: Int, nTables: Int, dim: Int,
                                   idCol: String, vecCol: String,
                                   src: String = "e"): String = {
    def planeList(p: Int): String =
      Array.tabulate(dim)(d => planeSign(p, d)).mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      (0 until nBits).map { j =>
        s"(CASE WHEN list_dot_product(CAST($vecCol AS DOUBLE[]), ${planeList(t * nBits + j)}) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    (0 until nTables).map(t =>
      s"SELECT $idCol, $vecCol, $t AS tbl, ${bucketExpr(t)} AS bucket FROM $src")
      .mkString("\n  UNION ALL ")
  }

  /** Zero-norm-guarded rounded cosine between two vector expressions
    * (DuckDB SQL) — mirrors the native `cosine_sim` exactly.
    */
  private def duckdbCosine(a: String, b: String, digits: Int = 4): String = {
    // CAST to DOUBLE[] or DuckDB accumulates list_dot_product(FLOAT[],
    // FLOAT[]) in FLOAT while every Spark kernel (native cosine_sim and
    // the aggregate fallback) accumulates double — a ~1e-7 relative
    // drift that flips the 4th rounded digit on ~1/1000 pairs (first
    // surfaced by the sf0.1 oracle sweep; the emb_project literal-dot
    // lesson applied to the cosine family)
    val (ad, bd) = (s"CAST($a AS DOUBLE[])", s"CAST($b AS DOUBLE[])")
    s"""round(CASE WHEN list_dot_product($ad, $ad) = 0
                     OR list_dot_product($bd, $bd) = 0 THEN 0.0
              ELSE list_dot_product($ad, $bd) /
                (sqrt(list_dot_product($ad, $ad)) * sqrt(list_dot_product($bd, $bd)))
              END, $digits)"""
  }

  /** DuckDB oracle for [[annTopK]]: the full multi-table hyperplane-LSH
    * pipeline in SQL, with the ±1 plane matrix embedded as literals
    * (the planes are driver-computed constants, so the oracle replays
    * them exactly). Projections accumulate in index order in both
    * engines (`list_dot_product` vs the fused loop), so bucket ids are
    * bit-identical and the candidate sets match. Zero-norm cosine guard
    * mirrored from the native expression.
    */
  def annTopKDuckdbSql(probeIds: Seq[Long], k: Int, nBits: Int = 6,
                       nTables: Int = 8, dim: Int = 64,
                       table: String = "embeddings", idCol: String = "vec_id",
                       vecCol: String = "embedding"): String = {
    val branches = duckdbBucketBranches(nBits, nTables, dim, idCol, vecCol)
    val probes = probeIds.mkString(", ")
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       b AS (
         $branches),
       p AS (SELECT $idCol AS probe_id, tbl, bucket FROM b
             WHERE $idCol IN ($probes)),
       cand AS (
         SELECT DISTINCT p.probe_id, c.$idCol AS cand_id
         FROM p JOIN b c USING (tbl, bucket)
         WHERE c.$idCol <> p.probe_id),
       s AS (
         SELECT probe_id, cand_id,
                ${duckdbCosine(s"pe.$vecCol", s"ce.$vecCol")} AS cosine
         FROM cand
         JOIN e pe ON cand.probe_id = pe.$idCol
         JOIN e ce ON cand.cand_id = ce.$idCol)
       SELECT probe_id, cand_id, cosine,
              cast(row_number() OVER (PARTITION BY probe_id
                ORDER BY cosine DESC, cand_id) as int) AS rnk
       FROM s
       QUALIFY rnk <= $k"""
  }

  /** DuckDB oracle for [[knnJoin]]: both sides' LSH buckets replayed
    * with the literal plane matrix, candidate join on (tbl, bucket),
    * pair dedup, cosine scoring, per-probe rank. `probeWhere` /
    * `corpusWhere` carve the two sides out of the same table exactly as
    * the gate's DataFrame filters do; pass the same predicate (and
    * `excludeSelf = true`) for the kNN-graph form.
    */
  def knnJoinDuckdbSql(probeWhere: String, corpusWhere: String, k: Int,
                       nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                       table: String = "embeddings", idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       excludeSelf: Boolean = false,
                       digits: Int = 4): String =
    s"""${scoredCandidatesDuckdbCtes(probeWhere, corpusWhere, nBits, nTables,
          dim, table, idCol, vecCol, excludeSelf, digits)}
       SELECT probe_id, cand_id, cosine,
              cast($knnRankSql as int) AS rnk
       FROM s
       QUALIFY rnk <= $k"""

  /** The ONE definition of the kNN oracle ranking (over CTE `s`):
    * shared by [[knnJoinDuckdbSql]] and [[recallEvalDuckdbSql]]'s ann
    * branch so a tie-break change cannot drift between the gated join
    * and the recall measurement of that same join.
    */
  private val knnRankSql: String =
    "row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id)"

  /** DuckDB oracle for [[rangeSearch]] — the shared candidate/score
    * CTEs with the radius filter instead of the ranking.
    */
  def rangeSearchDuckdbSql(probeWhere: String, corpusWhere: String,
                           threshold: Double,
                           nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                           table: String = "embeddings",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           excludeSelf: Boolean = false,
                           digits: Int = 4): String =
    s"""${scoredCandidatesDuckdbCtes(probeWhere, corpusWhere, nBits, nTables,
          dim, table, idCol, vecCol, excludeSelf, digits)}
       SELECT probe_id, cand_id, cosine
       FROM s WHERE cosine >= $threshold"""

  /** Shared DuckDB CTE chain of [[knnJoinDuckdbSql]] /
    * [[rangeSearchDuckdbSql]]: probe/corpus carve, both sides' literal
    * plane buckets, distinct candidate pairs, exact rounded cosine.
    * Ends with CTE `s(probe_id, cand_id, cosine)`.
    */
  private def scoredCandidatesDuckdbCtes(probeWhere: String,
                                         corpusWhere: String,
                                         nBits: Int, nTables: Int, dim: Int,
                                         table: String, idCol: String,
                                         vecCol: String,
                                         excludeSelf: Boolean,
                                         digits: Int = 4): String = {
    val pBranches = duckdbBucketBranches(nBits, nTables, dim, idCol, vecCol, "p")
    val cBranches = duckdbBucketBranches(nBits, nTables, dim, idCol, vecCol, "c")
    val selfGuard = if (excludeSelf) "AND cb.$id <> pb.$id".replace("$id", idCol) else ""
    s"""WITH p AS (SELECT $idCol, $vecCol FROM $table WHERE $probeWhere),
       c AS (SELECT $idCol, $vecCol FROM $table WHERE $corpusWhere),
       pb AS (
         $pBranches),
       cb AS (
         $cBranches),
       cand AS (
         SELECT DISTINCT pb.$idCol AS probe_id, cb.$idCol AS cand_id
         FROM pb JOIN cb USING (tbl, bucket)
         WHERE 1 = 1 $selfGuard),
       s AS (
         SELECT probe_id, cand_id,
                ${duckdbCosine(s"pe.$vecCol", s"ce.$vecCol", digits)} AS cosine
         FROM cand
         JOIN p pe ON cand.probe_id = pe.$idCol
         JOIN c ce ON cand.cand_id = ce.$idCol)"""
  }

  /** DuckDB oracle for [[cosineNearDup]]: LSH-blocked pair generation
    * (literal plane matrix), pair dedup across tables, threshold filter —
    * the embedding near-dup operator, fully cross-engine.
    */
  def cosineNearDupDuckdbSql(threshold: Double = 0.95, nBits: Int = 6,
                             nTables: Int = 8, dim: Int = 64,
                             table: String = "embeddings",
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): String = {
    val branches = duckdbBucketBranches(nBits, nTables, dim, idCol, vecCol)
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       b AS (
         $branches),
       pairs AS (
         SELECT DISTINCT x.$idCol AS id_a, y.$idCol AS id_b
         FROM b x JOIN b y USING (tbl, bucket)
         WHERE x.$idCol < y.$idCol),
       s AS (
         SELECT id_a, id_b,
                ${duckdbCosine(s"ea.$vecCol", s"eb.$vecCol")} AS cosine
         FROM pairs
         JOIN e ea ON id_a = ea.$idCol
         JOIN e eb ON id_b = eb.$idCol)
       SELECT id_a, id_b, cosine FROM s WHERE cosine >= $threshold"""
  }

  /** DuckDB oracle for the IVF SEARCH path with a seeded quantizer
    * (`ivfTopK(iters = 0)`): centroids are the first k vectors by id —
    * expressible in SQL — so assignment, nprobe probe-list selection,
    * bucketed candidate generation and ranking are all cross-engine
    * verified. Distances use the same (x−c)·(x−c) index-order double
    * accumulation as the Spark side; ties broken by (distance, cluster
    * index) in both engines.
    */
  def ivfSeededDuckdbSql(probeIds: Seq[Long], topK: Int, k: Int = 16,
                         nprobe: Int = 4, dim: Int = 64,
                         table: String = "embeddings",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): String =
    ivfDuckdbCore(probeIds, topK, nprobe, dim, table, idCol, vecCol,
      centSql = s"""SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cluster,
                $vecCol AS cv
         FROM (SELECT * FROM e WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)""")

  /** DuckDB replay of [[ivfTopK]] with a TRAINED (driver-literal)
    * quantizer: the centroid matrix is embedded as a literal VALUES
    * table, every element `cast('<Double.toString>' as double)` — the
    * identical string→double parse as the Spark side's
    * [[centroidDistsCol]] literals, so both engines hold bit-identical
    * matrices. This is what upgrades `sim_ann_ivf` from rows-only to
    * oracle-gated: the TRAINING is driver state, but its OUTPUT is a
    * k×dim literal both engines can replay exactly (the same contract
    * the trained-IVFPQ recall gate uses).
    */
  def ivfTrainedDuckdbSql(probeIds: Seq[Long], topK: Int,
                          cents: Array[Array[Double]], nprobe: Int = 4,
                          dim: Int = 64, table: String = "embeddings",
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): String = {
    require(cents.forall(_.length == dim),
      s"ivfTrainedDuckdbSql: centroids must be dim=$dim")
    val centVals = cents.zipWithIndex.map { case (cv, i) =>
      s"($i, ${duckVecLit(cv)})"
    }.mkString(",\n    ")
    ivfDuckdbCore(probeIds, topK, nprobe, dim, table, idCol, vecCol,
      centSql = s"SELECT * FROM (VALUES\n    $centVals) t(cluster, cv)")
  }

  /** The IVF oracle pipeline around any centroid source (seeded carve
    * or trained literals): full-L2 assignment, nprobe probe lists,
    * cluster-equi-join candidates, rounded-cosine ranking — shared by
    * the seeded and trained contracts.
    */
  private def ivfDuckdbCore(probeIds: Seq[Long], topK: Int, nprobe: Int,
                            dim: Int, table: String, idCol: String,
                            vecCol: String, centSql: String): String = {
    val probes = probeIds.mkString(", ")
    val l2 =
      s"""list_sum(list_transform(range(1, ${dim + 1}),
         d -> (cast(e.$vecCol[d] as double) - cast(c.cv[d] as double))
            * (cast(e.$vecCol[d] as double) - cast(c.cv[d] as double))))"""
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       cent AS ($centSql),
       dists AS (
         SELECT e.$idCol, e.$vecCol, c.cluster, $l2 AS l2
         FROM e CROSS JOIN cent c),
       assign AS (
         SELECT $idCol AS cand_id, cluster FROM dists
         QUALIFY row_number() OVER (PARTITION BY $idCol
           ORDER BY l2, cluster) = 1),
       pc AS (
         SELECT $idCol AS probe_id, cluster FROM dists
         WHERE $idCol IN ($probes)
         QUALIFY row_number() OVER (PARTITION BY $idCol
           ORDER BY l2, cluster) <= $nprobe),
       s AS (
         SELECT pc.probe_id, a.cand_id,
                ${duckdbCosine(s"pe.$vecCol", s"ce.$vecCol")} AS cosine
         FROM pc
         JOIN assign a USING (cluster)
         JOIN e pe ON pc.probe_id = pe.$idCol
         JOIN e ce ON a.cand_id = ce.$idCol
         WHERE a.cand_id <> pc.probe_id)
       SELECT probe_id, cand_id, cosine,
              cast(row_number() OVER (PARTITION BY probe_id
                ORDER BY cosine DESC, cand_id) as int) AS rnk
       FROM s
       QUALIFY rnk <= $topK"""
  }

  /** Squared-L2 distance of a vector expression (a column name or any
    * array<float> SQL fragment, e.g. a `slice(...)`) to a literal
    * centroid. Accumulates over min(|vec|, dim) elements — BOTH sides
    * are sliced to the shorter length before the fold, so a ragged
    * (short) vector scores over its present coordinates instead of
    * null-padding through `zip_with` into a NULL distance (ADVICE r13:
    * the old form made the composed fallback disagree with the fused
    * `centroid_dists` kernel, which has always used min(len, dim) —
    * see CentroidDists.scala:50).
    */
  private[graft] def l2Sq(vecCol: String, centroid: Array[Double]): Column = {
    val v = expr(vecCol)
    val n = least(size(v), lit(centroid.length))
    aggregate(
      zip_with(slice(v, lit(1), n), slice(typedLit(centroid), lit(1), n),
        (x, c) => { val d = x.cast("double") - c; d * d }),
      lit(0.0), (acc, v) => acc + v)
  }

  /** Squared-L2 distances to ALL centroids as one array column. Uses the
    * fused native `centroid_dists` expression when registered (one plan
    * node, one pass per row); falls back to k composed [[l2Sq]] trees —
    * same values, k× the plan size and per-row lambda overhead.
    */
  private def centroidDistsCol(df: DataFrame, vecCol: String,
                               cents: Array[Array[Double]]): Column =
    if (df.sparkSession.catalog.functionExists("centroid_dists"))
      // Direct construction (r15): the kernel holds the matrix as a
      // reference object, so spelling it as SQL text only to be folded
      // back at resolution paid a parse+analyze of k×dim cast nodes per
      // frame — ~10⁴ expression nodes for a √n-sized quantizer.
      org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.CentroidDists(
          org.apache.spark.sql.GraftPlanBridge.expression(expr(vecCol)),
          cents))
    else array(cents.toIndexedSeq.map(c => l2Sq(vecCol, c)): _*)

  /** The default coarse-quantizer size rule, kc = ⌈√n⌉ over the corpus'
    * non-null vector count, bounded by the trainer's sample size — the
    * classic IVF sizing (the public FAISS guideline): per probe, the
    * coarse scan costs kc·dim and the candidate scan costs
    * nprobe·(n/kc)·m, so total probe cost is minimized at kc ∝ √n.
    * The r13 dial study (§8 tuning table) measured the trade at fixed
    * kc values; this makes the rule CODE — an index built without an
    * explicit kc scales its cluster count with the corpus instead of
    * freezing a literal that was tuned at one SF. The upper bound is
    * `maxTrainSamples` (the bounded-sample Lloyd trainer cannot
    * usefully seed more centroids than it has samples — take(kc) of a
    * shorter sample would just duplicate the short-codebook case).
    * One count() scan at train time — train-once state, never per-query.
    */
  def kcSqrtN(embeddings: DataFrame, vecCol: String = "embedding",
              maxTrainSamples: Int = 4096): Int = {
    val n = embeddings.where(col(vecCol).isNotNull).count()
    math.max(1, math.min(
      math.ceil(math.sqrt(n.toDouble)).toInt, maxTrainSamples))
  }

  /** IVF coarse quantizer: k-means centroids trained with deterministic
    * init (the k lowest vector ids) and a fixed iteration count. Only
    * the k×dim centroid matrix ever reaches the driver — the classic
    * IVF "train then probe" shape; assignments and averages stay
    * distributed.
    */
  /** The deterministic bounded training sample every driver-side trainer
    * ([[ivfCentroids]], [[pqCodebooks]], [[pcaFit]]) collects: the first
    * `maxTrainSamples` NON-NULL vectors by id (TakeOrdered — one
    * parallel pass, no full sort), each padded/truncated to `dim`
    * (copyOf zero-fills) so the local Lloyd/power loops never index past
    * a short vector — matching the scoring paths' min(|vec|, dim)
    * tolerance. Factored out (r15) so a gate that trains BOTH quantizers
    * on the same corpus collects the sample once, not once per trainer.
    */
  private[graft] def trainSample(embeddings: DataFrame, idCol: String,
                                 vecCol: String, dim: Int,
                                 maxTrainSamples: Int): Array[Array[Double]] =
    embeddings
      .select(col(idCol), col(vecCol))
      // null vectors carry no training signal and would NPE the
      // driver-side Lloyd loops; the seeded contract is therefore the
      // first k NON-NULL vectors by id (oracle carves filter identically)
      .where(col(vecCol).isNotNull).orderBy(col(idCol))
      .limit(maxTrainSamples)
      .select(col(vecCol)).collect()
      .map(r => java.util.Arrays.copyOf(
        r.getSeq[Float](0).toArray.map(_.toDouble), dim))

  def ivfCentroids(embeddings: DataFrame, k: Int = 16, iters: Int = 5,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   maxTrainSamples: Int = 4096): Array[Array[Double]] =
    // Standard IVF practice (FAISS-style): train the coarse quantizer on
    // a BOUNDED sample, not the corpus. The collect is
    // O(maxTrainSamples × dim) — constant in corpus size — and the Lloyd
    // iterations then run on the driver in microseconds, instead of
    // `iters` distributed rounds that each pay plan+codegen+job overhead
    // on k×dim-literal expression trees.
    ivfCentroidsFrom(
      trainSample(embeddings, idCol, vecCol, dim, maxTrainSamples),
      k, iters, dim)

  /** [[ivfCentroids]] over an already-collected [[trainSample]]. */
  private[graft] def ivfCentroidsFrom(sample: Array[Array[Double]],
                                      k: Int, iters: Int,
                                      dim: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = sample.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = Array.fill(k)(0L)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0L) cents(c) // empty cluster keeps its centroid
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c)))
    }
    cents
  }

  /** Persist a trained coarse quantizer: one row per centroid,
    * (cluster id, centroid vector). The production IVF pattern is
    * train once on a sample ([[ivfCentroids]]) → [[saveCentroids]] →
    * every query job [[loadCentroids]] + `ivfTopK(centroids = Some(...))`
    * — query jobs never re-train or re-scan the corpus for the quantizer.
    */
  def saveCentroids(spark: SparkSession, cents: Array[Array[Double]],
                    path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read back a quantizer written by [[saveCentroids]], in cluster order
    * (cluster ids are the array index — order is part of the contract:
    * `ivfTopK` bucket ids are positions in this matrix).
    */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path)
      .orderBy(col("cluster"))
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Persist trained PQ codebooks ([[pqCodebooks]]): one row per
    * (subspace, code) with its sub-dim codeword — the same
    * train-once/load-per-job loop as the IVF quantizer. Parquet doubles
    * are exact, so a loaded codebook is bit-identical to the trained one.
    */
  def savePqCodebooks(spark: SparkSession, cbs: Array[Array[Array[Double]]],
                      path: String): Unit = {
    import spark.implicits._
    (for {
      s <- cbs.indices
      j <- cbs(s).indices
    } yield (s, j, cbs(s)(j).toSeq)).toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read back codebooks written by [[savePqCodebooks]] as [m][k][sub]
    * (subspace/code ids are array positions — the [[pqEncode]] layout
    * contract).
    */
  def loadPqCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Double]]] =
    spark.read.parquet(path)
      .orderBy(col("subspace"), col("code"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.map(_._2))

  /** Persist SEVERAL trained models through ONE parquet round trip —
    * the multi-model twin of [[saveCentroids]]/[[savePqCodebooks]]
    * (r15): a trained-index job that fits both quantizers (and
    * optionally a rotation) was paying one write job + one read+collect
    * job PER model for frames of a few KB each, and those four-to-six
    * driver-side jobs were the measured bulk of the gate's frame-
    * construction time (GateSplitProbe, deleted, source at commit
    * d5abd67: 1.2-1.9 s construct vs 0.6-0.9 s execute). One bundle table keeps the identical production contract
    * — train once, persist, every query job reloads bit-exact parquet
    * doubles — at a single round trip. Layout: (model, i, j, centroid)
    * with each model a [i][j][*] cube; 2-D models (IVF centroids, the
    * stacked PCA mean+components) ride as cube slice i=0, j=row.
    */
  def saveModelBundle(spark: SparkSession,
                      models: Seq[(String, Array[Array[Array[Double]]])],
                      path: String): Unit = {
    import spark.implicits._
    models.flatMap { case (name, cube) =>
      for { i <- cube.indices; j <- cube(i).indices }
        yield (name, i, j, cube(i)(j).toSeq)
    }.toDF("model", "i", "j", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read back a bundle written by [[saveModelBundle]]: model name →
    * [i][j][*] cube, inner arrays in (i, j) order (positions are the
    * layout contract, exactly as the single-model loaders).
    */
  def loadModelBundle(spark: SparkSession, path: String)
      : Map[String, Array[Array[Array[Double]]]] =
    spark.read.parquet(path)
      .orderBy(col("model"), col("i"), col("j"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
      .groupBy(_._1).map { case (m, rows) =>
        m -> rows.groupBy(_._2).toArray.sortBy(_._1)
          .map(_._2.sortBy(_._3).map(_._4))
      }

  /** K-MEANS CLUSTERING as a first-class corpus operator: every vector
    * labeled with its nearest trained centroid plus the squared-L2
    * distance to it — the semantic-clustering primitive of curation
    * pipelines (SemDeDup clusters before within-cluster dedup; DataComp
    * and domain-mixture recipes cluster before reweighting). The IVF
    * coarse quantizer ([[ivfCentroids]]) IS a k-means fit, so this is
    * the same train-once/load-per-job loop exposed as a product
    * operator rather than index plumbing: one corpus scan, the k×dim
    * centroid matrix rides as a literal into the fused `centroid_dists`
    * kernel (or its composed fallback — same index-order accumulation),
    * and nothing shuffles — assignment is embarrassingly parallel, so
    * the plan survives any scale-up that the scan itself does.
    *
    * Tie-break: the FIRST centroid index attaining the minimum distance
    * (array_position of the min), i.e. lowest cluster id — the same
    * deterministic rule as [[ivfTopK]]'s assignment. Null vectors carry
    * no position in any cluster and are excluded (callers that need
    * them keep a left join back on the id); short vectors accumulate
    * over min(|vec|, dim) like every scoring path here. `l2` is
    * half-up-rounded at `digits` (the engine-exact rounding rule —
    * see [[graft.text.Text.halfUp]]).
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 16, iters: Int = 5,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding", digits: Int = 4,
                   centroids: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    val cents = centroids.getOrElse(
      ivfCentroids(embeddings, k, iters, dim, idCol, vecCol))
    embeddings
      .where(col(vecCol).isNotNull)
      .withColumn("__dists", centroidDistsCol(embeddings, vecCol, cents))
      .select(col(idCol),
        (array_position(col("__dists"), array_min(col("__dists")))
          .cast("int") - 1).as("cluster"),
        graft.text.Text.halfUp(array_min(col("__dists")), digits).as("l2"))
  }

  /** DuckDB replay of [[kmeansAssign]] under the trained-literal
    * contract: the centroid matrix as a VALUES table of
    * `cast('<Double.toString>' as double)` literals (the [[dLit]]
    * discipline — identical string→double parse on both engines), the
    * squared-L2 as the prepend-0.0 index-order `list_reduce` fold (the
    * exact accumulation the fused kernel and the composed fallback
    * perform, see CentroidDists.scala), argmin by (l2, cluster) — the
    * first-min tie-break — and the same half-up rounding of the
    * winning distance.
    */
  def kmeansTrainedDuckdbSql(cents: Array[Array[Double]], dim: Int = 64,
                             table: String = "embeddings",
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             digits: Int = 4): String = {
    require(cents.forall(_.length == dim),
      s"kmeansTrainedDuckdbSql: centroids must be dim=$dim")
    val centVals = cents.zipWithIndex.map { case (cv, i) =>
      s"($i, ${duckVecLit(cv)})"
    }.mkString(",\n    ")
    // range bound = min(len(vec), dim), matching the fused kernel's and
    // the composed fallback's min(|vec|, dim) accumulation — a ragged
    // short vector scores over its present coordinates on BOTH engines
    // instead of the oracle indexing past the list into NULLs (ADVICE
    // r13); no-op for fixed-dim corpora (range is identical there)
    val l2 =
      s"""list_reduce(list_prepend(cast(0.0 as double),
         list_transform(range(1, least(len(e.$vecCol), ${dim}) + 1),
           d -> (cast(e.$vecCol[d] as double) - c.cv[d])
              * (cast(e.$vecCol[d] as double) - c.cv[d]))),
         (acc, v) -> acc + v)"""
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table
         WHERE $vecCol IS NOT NULL),
       cent AS (SELECT * FROM (VALUES\n    $centVals) t(cluster, cv)),
       dists AS (
         SELECT e.$idCol, c.cluster, $l2 AS l2
         FROM e CROSS JOIN cent c)
       SELECT $idCol, cluster, ${graft.text.Text.halfUpSql("l2", digits)} AS l2
       FROM dists
       QUALIFY row_number() OVER (PARTITION BY $idCol
         ORDER BY l2, cluster) = 1"""
  }

  /** PCA fit on the bounded lowest-id sample — the third member of the
    * trained-quantizer family (k-means coarse [[ivfCentroids]], PQ
    * [[pqCodebooks]], and now the linear-projection model): mean vector
    * plus the top `p` principal components, trained deterministically
    * (same TakeOrdered sample contract; sample mean/covariance
    * accumulated in sample order; power iteration with Hotelling
    * deflation, fixed iteration count, uniform deterministic init,
    * sign fixed so each component's first non-negligible coordinate is
    * positive). Only (1+p)×dim doubles reach the driver — constant in
    * corpus size, the train-once/load-per-job loop.
    *
    * Why it's here: dimensionality reduction before similarity is a
    * standard curation step (PCA-reduced embeddings for clustering /
    * SemDeDup; OPQ-style rotations in ANN stacks), and [[project]]'s
    * random signs are the untrained baseline of exactly this operator.
    *
    * Degenerate corpora (no non-null vectors) yield the zero mean and
    * the first p standard-basis vectors — a defined, loud-in-output
    * fallback rather than a throw.
    */
  def pcaFit(embeddings: DataFrame, p: Int = 4, dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding",
             maxTrainSamples: Int = 4096, powerIters: Int = 100)
      : (Array[Double], Array[Array[Double]]) = {
    require(p >= 1 && p <= dim, s"pcaFit: p=$p out of range 1..$dim")
    val sample = trainSample(embeddings, idCol, vecCol, dim, maxTrainSamples)
    if (sample.isEmpty)
      return (new Array[Double](dim),
        Array.tabulate(p)(c => Array.tabulate(dim)(d => if (d == c) 1.0 else 0.0)))
    val n = sample.length
    val mean = new Array[Double](dim)
    sample.foreach { v =>
      var d = 0; while (d < dim) { mean(d) += v(d); d += 1 }
    }
    locally { var d = 0; while (d < dim) { mean(d) /= n; d += 1 } }
    val cov = Array.fill(dim, dim)(0.0)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        val ci = v(i) - mean(i)
        var j = 0
        while (j < dim) { cov(i)(j) += ci * (v(j) - mean(j)); j += 1 }
        i += 1
      }
    }
    locally { var i = 0; while (i < dim) {
        var j = 0; while (j < dim) { cov(i)(j) /= n; j += 1 }; i += 1 } }
    val comps = Array.ofDim[Double](p, dim)
    for (c <- 0 until p) {
      var w = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 0 until powerIters) {
        val nw = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          var s = 0.0; var j = 0
          while (j < dim) { s += cov(i)(j) * w(j); j += 1 }
          nw(i) = s; i += 1
        }
        // Gram–Schmidt against the already-extracted components every
        // iteration: deflation alone leaves O(residual) cross-talk when
        // the eigengap is small, re-orthogonalizing pins orthogonality
        // at machine precision regardless of the spectrum
        var cc = 0
        while (cc < c) {
          val prev = comps(cc)
          var dot = 0.0; var d = 0
          while (d < dim) { dot += nw(d) * prev(d); d += 1 }
          d = 0
          while (d < dim) { nw(d) -= dot * prev(d); d += 1 }
          cc += 1
        }
        val norm = math.sqrt(nw.map(x => x * x).sum)
        // a zero image means the remaining spectrum is (numerically)
        // empty — keep the current direction rather than divide by 0
        w = if (norm > 1e-300) nw.map(_ / norm) else w
      }
      // sign convention: first coordinate with |w_d| > 1e-9 is positive
      val lead = w.indexWhere(x => math.abs(x) > 1e-9)
      if (lead >= 0 && w(lead) < 0) w = w.map(-_)
      comps(c) = w
      // Hotelling deflation: remove the captured direction's variance
      val lambda = {
        var s = 0.0; var i = 0
        while (i < dim) {
          var t = 0.0; var j = 0
          while (j < dim) { t += cov(i)(j) * w(j); j += 1 }
          s += w(i) * t; i += 1
        }
        s
      }
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { cov(i)(j) -= lambda * w(i) * w(j); j += 1 }
        i += 1
      }
    }
    (mean, comps)
  }

  /** Project every vector onto trained principal components: one scan,
    * zero shuffle, one output column `pc<c>` per component, each the
    * strict index-order fold Σ_d (v[d] − mean[d])·w_c[d] from 0.0
    * (half-up-rounded at `digits`). Null vectors are excluded (the
    * [[kmeansAssign]] contract); short vectors null-pad through
    * zip_with, so their projections are NULL — visibly degenerate,
    * never silently wrong.
    */
  def pcaProject(embeddings: DataFrame, mean: Array[Double],
                 comps: Array[Array[Double]],
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 digits: Int = 4): DataFrame = {
    val centered = zip_with(col(vecCol), typedLit(mean.toSeq),
      (x, m) => x.cast("double") - m)
    val cols = comps.zipWithIndex.map { case (w, c) =>
      graft.text.Text.halfUp(
        aggregate(
          zip_with(centered, typedLit(w.toSeq), (cx, wd) => cx * wd),
          lit(0.0), (acc, v) => acc + v),
        digits).as(s"pc$c")
    }
    embeddings.where(col(vecCol).isNotNull)
      .select(col(idCol) +: cols.toIndexedSeq: _*)
  }

  /** DuckDB replay of [[pcaProject]] under the trained-literal contract:
    * mean and components as [[dLit]] literals, the identical
    * centered-then-weighted per-element product folded prepend-0.0 in
    * index order, the same half-up rounding.
    */
  def pcaProjectDuckdbSql(mean: Array[Double], comps: Array[Array[Double]],
                          dim: Int = 64, table: String = "embeddings",
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          digits: Int = 4): String = {
    require(mean.length == dim && comps.forall(_.length == dim),
      s"pcaProjectDuckdbSql: mean/components must be dim=$dim")
    val meanLit = duckVecLit(mean)
    val cols = comps.zipWithIndex.map { case (w, c) =>
      val fold =
        s"""list_reduce(list_prepend(cast(0.0 as double),
           list_transform(range(1, ${dim + 1}),
             d -> (cast($vecCol[d] as double) - (${meanLit})[d])
                * (${duckVecLit(w)})[d])),
           (acc, v) -> acc + v)"""
      s"${graft.text.Text.halfUpSql(fold, digits)} AS pc$c"
    }.mkString(",\n       ")
    s"""SELECT $idCol,
       $cols
       FROM $table WHERE $vecCol IS NOT NULL"""
  }

  /** OPQ-style rotation: every vector re-expressed in the trained PCA
    * basis as an `array<float>` column — the full-rank (p = dim)
    * companion of [[pcaProject]]'s per-component output, shaped so the
    * ENTIRE downstream quantizer stack (IVF assignment, PQ encode, ADC
    * scan) runs unchanged on the rotated vectors. This is the public
    * FAISS OPQ idea in its simplest effective form: an orthonormal
    * rotation decorrelates the coordinates so PQ's independent
    * subspace quantizers waste less of their code budget (Ge et al.,
    * "Optimized Product Quantization", CVPR 2013 — their OPQ-P
    * variant: PCA rotation, no iterative refinement).
    *
    * One scan, zero shuffle: the (1+p)×dim model rides as expression
    * literals into the fused `mat_rotate` kernel (one codegen'd node —
    * the composed fallback builds p interpreted HOF trees, bit-equal
    * values, spec-pinned). Each coordinate is the strict index-order
    * double fold Σ_d (v[d] − mean[d])·w_c[d] from 0.0 over
    * min(|vec|, dim), cast to float — the same correctly-rounded cast
    * as DuckDB `cast(x as real)`, so both engines hold bit-identical
    * rotated vectors. Null vectors are excluded (the [[kmeansAssign]]
    * contract).
    */
  def pcaRotate(embeddings: DataFrame, mean: Array[Double],
                comps: Array[Array[Double]],
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val rotated =
      if (embeddings.sparkSession.catalog.functionExists("mat_rotate"))
        // direct construction — no (1+p)×dim literal tree (see
        // centroidDistsCol)
        org.apache.spark.sql.GraftPlanBridge.column(
          graft.functions.MatRotate(
            org.apache.spark.sql.GraftPlanBridge.expression(expr(vecCol)),
            mean, comps))
      else pcaRotateComposedCol(vecCol, mean, comps)
    embeddings.where(col(vecCol).isNotNull)
      .select(col(idCol), rotated.as(vecCol))
  }

  /** The composed (no-extension) rotation column — p HOF fold trees.
    * Mirrors the fused kernel's ragged-row contract: MatRotate (and the
    * DuckDB rotcent CTE) accumulate over min(len(vec), dim), so slice
    * BOTH zip_with sides to n before combining — an unsliced zip_with
    * null-pads the shorter side and a single null coordinate nulls the
    * whole dot product (the l2Sq bug class). Exposed private[graft] so
    * the spec can pin this path even when mat_rotate is registered.
    */
  private[graft] def pcaRotateComposedCol(vecCol: String,
                                          mean: Array[Double],
                                          comps: Array[Array[Double]])
      : Column = {
    val n = least(size(col(vecCol)), lit(mean.length))
    val centered = zip_with(
      slice(col(vecCol), lit(1), n),
      slice(typedLit(mean.toSeq), lit(1), n),
      (x, m) => x.cast("double") - m)
    array(comps.toIndexedSeq.map { w =>
      aggregate(
        zip_with(centered, slice(typedLit(w.toSeq), lit(1), n),
          (cx, wd) => cx * wd),
        lit(0.0), (acc, v) => acc + v).cast("float")
    }: _*)
  }

  /** The rotated corpus as a DuckDB WITH-clause FRAGMENT defining a
    * `rotemb($idCol, $vecCol)` CTE — the [[pcaRotate]] rotation
    * replayed as: center once per row (cent, MATERIALIZED), components
    * as a VALUES table (pcomp), one prepend-0.0 index-order fold per
    * (row, component) pair, `list(... ORDER BY c)` back to a vector,
    * `cast(... as real)` for the identical double→float rounding.
    *
    * Why this shape and not a matrix literal indexed in a nested
    * lambda: DuckDB re-CONSTRUCTS a constant list literal on every
    * lambda access, so `(compsLit)[c][d]` inside the per-dim lambda
    * costs O(p·dim) per element — the measured straight-line form took
    * minutes on 500 rows where this join form takes 0.6 s. Both CTE
    * bodies are MATERIALIZED because the IVFPQ core references its
    * table several times and DuckDB inlines plain CTEs per reference.
    */
  private def rotatedCtesSql(mean: Array[Double],
                             comps: Array[Array[Double]],
                             dim: Int, table: String, idCol: String,
                             vecCol: String): String = {
    val meanLit = duckVecLit(mean)
    val pvals = comps.zipWithIndex
      .map { case (w, c) => s"($c, ${duckVecLit(w)})" }.mkString(",\n    ")
    // CTE names are rot-prefixed: the IVFPQ core nested below defines
    // its own `cent`/`cb` CTEs, and duplicate names across the nesting
    // confuse DuckDB's binder (observed: "Referenced table ct not found")
    s"""rotcent AS MATERIALIZED (
         SELECT $idCol, list_transform(range(1, least(len($vecCol), $dim) + 1),
           d -> cast($vecCol[d] as double) - ($meanLit)[d]) AS cv
         FROM $table WHERE $vecCol IS NOT NULL),
       rotcomp AS (SELECT * FROM (VALUES
    $pvals) t(c, w)),
       rotemb AS MATERIALIZED (
         SELECT rotcent.$idCol,
           list(cast(list_reduce(list_prepend(cast(0.0 as double),
             list_transform(range(1, len(rotcent.cv) + 1),
               d -> rotcent.cv[d] * pc.w[d])),
             (acc, v) -> acc + v) as real) ORDER BY pc.c) AS $vecCol
         FROM rotcent CROSS JOIN rotcomp pc GROUP BY rotcent.$idCol)"""
  }

  /** Recall@k of the PCA-ROTATED trained IVFPQ index ([[pcaRotate]] →
    * IVF+PQ trained in the rotated space) against exact-L2 ground truth
    * in the ORIGINAL space — the OPQ-lite composition's tuning number,
    * directly comparable to [[recallIvfPq]] at identical dials (same
    * probes, same truth, only the indexed representation differs).
    * The rotation is orthonormal so candidate L2 ordering is preserved
    * up to float rounding; what changes is how well PQ's subspace
    * quantizers fit — the decorrelated coordinates are the whole point.
    */
  def recallIvfPqPca(probes: DataFrame, corpus: DataFrame, topK: Int,
                     mean: Array[Double], comps: Array[Array[Double]],
                     kc: Int = 16, nprobe: Int = 4, m: Int = 8, k: Int = 16,
                     dim: Int = 64, idCol: String = "vec_id",
                     vecCol: String = "embedding", digits: Int = 4,
                     centroids: Option[Array[Array[Double]]] = None,
                     codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame =
    recallOf(
      ivfPqSearch(pcaRotate(probes, mean, comps, idCol, vecCol),
        pcaRotate(corpus, mean, comps, idCol, vecCol),
        topK, kc, nprobe, m, k, dim, idCol, vecCol, centroids, codebooks),
      bruteL2TopK(probes, corpus, topK, idCol, vecCol),
      probes, topK, idCol, digits)

  /** DuckDB oracle for [[recallIvfPqPca]]: the trained-literal IVFPQ
    * approx branch over the ROTATED table — materialized ONCE as a
    * `rotemb` CTE ([[rotatedCtesSql]] explains why the join form and
    * MATERIALIZED are both load-bearing), with the core's own WITH
    * nested inside a subquery — ground truth over the ORIGINAL table
    * (the wrap's `table` feeds only the truth CTEs).
    */
  def recallIvfPqPcaTrainedDuckdbSql(probeWhere: String, corpusWhere: String,
                                     topK: Int,
                                     mean: Array[Double],
                                     comps: Array[Array[Double]],
                                     cents: Array[Array[Double]],
                                     cbs: Array[Array[Array[Double]]],
                                     nprobe: Int = 4, dim: Int = 64,
                                     table: String = "embeddings",
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding"): String = {
    val core = ivfPqTrainedDuckdbSql(probeWhere, corpusWhere, topK, cents,
      cbs, nprobe, dim, "rotemb", idCol, vecCol)
    val approx =
      s"""WITH ${rotatedCtesSql(mean, comps, dim, table, idCol, vecCol)}
         SELECT * FROM (
           $core
         )"""
    recallIvfPqWrapSql(approx, probeWhere, corpusWhere, topK, dim, table,
      idCol, vecCol)
  }

  /** ANN via IVF: vectors assigned to their nearest centroid's list;
    * probes search only the `nprobe` nearest lists. Candidate cost is
    * (nprobe/k) of the corpus per probe — the standard recall/latency
    * dial. Centroids are driver-held literals; everything else is joins.
    * Pass pre-trained `centroids` to skip query-time training (the 100 TB
    * shape: train once on a sample via [[ivfCentroids]], persist, reuse).
    */
  def ivfTopK(embeddings: DataFrame, probeIds: Seq[Long], topK: Int,
              k: Int = 16, nprobe: Int = 4, iters: Int = 5, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              digits: Int = 4,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      ivfCentroids(embeddings, k, iters, dim, idCol, vecCol))
    val distArr = centroidDistsCol(embeddings, vecCol, cents)
    val assigned = embeddings
      .withColumn("__dists", distArr)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
        (array_position(col("__dists"), array_min(col("__dists")))
          .cast("int") - 1).as("cluster"))
    // probe side: nprobe nearest centroid ids as an exploded column
    val probeClusters = expr(
      s"""transform(
         array_sort(transform(__dists, (d, i) -> struct(d as d, i as i))),
         s -> s.i)""")
    val probes = embeddings
      .filter(col(idCol).isInCollection(probeIds))
      .withColumn("__dists", distArr)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        explode(slice(probeClusters, 1, nprobe)).as("cluster"))
    val scored = assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(expr(cosineSql(embeddings, "probe_vec", "cand_vec")), digits))
    rankTopK(scored, "probe_id", topK)
  }

  /** Per-vector int8 scalar quantization (the SQ8 storage layout of an
    * IVF+SQ ANN stack): q_i = round(x_i / s) with per-vector scale
    * s = max|x|/127, published LONG (vec_id, pos, q) with the scale on
    * every row so a reader can dequantize without a second join.
    * 4× smaller vectors ⇒ 4× the candidates per IO/memory budget —
    * at 100 TB the quantized copy is what the candidate scan reads,
    * full-precision vectors join back only for re-ranking the top
    * candidates.
    *
    * Cross-engine determinism: s is one max (order-independent) and
    * one division; rounding is floor(x/s + 0.5) — a fixed IEEE op
    * sequence, NOT round(), whose decimal-tie behavior differs between
    * engines (SURVEY §8a). Zero vectors quantize to 0 under a guarded
    * scale. Pure projection + posexplode: no shuffle at all.
    */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val scale = expr(
      s"array_max(transform($vecCol, x -> abs(cast(x as double)))) / 127.0")
    embeddings
      .withColumn("scale", scale)
      .select(col(idCol), col("scale"),
        posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .select(col(idCol), col("pos"), col("scale"),
        when(col("scale") === 0.0, lit(0L)).otherwise(
          least(greatest(
            floor(col("__v").cast("double") / col("scale") + lit(0.5)),
            lit(-127L)), lit(127L))).as("q"))
  }

  /** DuckDB oracle for [[quantizeInt8]] — identical scale, rounding
    * sequence, and clamp.
    */
  def quantizeInt8Sql(table: String = "embeddings",
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): String =
    s"""WITH s AS (
        SELECT $idCol,
               list_max(list_transform($vecCol,
                 x -> abs(cast(x as double)))) / 127.0 AS scale,
               unnest(range(0, len($vecCol))) AS pos,
               unnest($vecCol) AS v
        FROM $table)
      SELECT $idCol, cast(pos as int) AS pos, scale,
             CASE WHEN scale = 0.0 THEN 0
                  ELSE least(greatest(
                    cast(floor(cast(v as double) / scale + 0.5) as bigint),
                    -127), 127) END AS q
      FROM s"""

  /** Product-quantization codebooks (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * space is split into `m` contiguous subspaces of dim/m dims; each
    * subspace gets its own k-codeword quantizer trained independently.
    * Same driver-side bounded-sample Lloyd shape as [[ivfCentroids]]
    * (deterministic lowest-id init and sample; O(sample × dim) collect,
    * constant in corpus size); `iters = 0` is the SEEDED contract —
    * codebook j of every subspace is the j-th lowest-id vector's
    * subvector, which the DuckDB oracle can replay from the table.
    * Returns [m][k][dim/m].
    */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                  iters: Int = 5, dim: Int = 64, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  maxTrainSamples: Int = 4096): Array[Array[Array[Double]]] =
    pqCodebooksFrom(
      trainSample(embeddings, idCol, vecCol, dim, maxTrainSamples),
      m, k, iters, dim)

  /** [[pqCodebooks]] over an already-collected [[trainSample]]. */
  private[graft] def pqCodebooksFrom(sample: Array[Array[Double]],
                                     m: Int, k: Int, iters: Int,
                                     dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"pqCodebooks: m=$m must divide dim=$dim")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val subSample = sample.map(v => v.slice(s * sub, (s + 1) * sub))
      var cents = subSample.take(k).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(k, sub)(0.0)
        val counts = Array.fill(k)(0L)
        subSample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) == 0L) cents(c)
          else Array.tabulate(sub)(i => sums(c)(i) / counts(c)))
      }
      cents
    }
  }

  /** PQ ENCODE: each vector compresses to `m` small codes (one byte
    * each at k ≤ 256 — a 64-dim float vector becomes 8 bytes, 32×
    * smaller than SQ8's 64). Output long shape (id, subspace, code);
    * assignment is argmin squared-L2 within each subspace, ties to the
    * lowest code (`array_position` returns the FIRST minimum).
    *
    * Pure projection — one scan, 0 exchanges, no shuffle: the m×k×(dim/m)
    * codebook ships as expression literals exactly like the IVF
    * centroids. Distances per subspace reuse the same index-order
    * double arithmetic as [[ivfTopK]], so with the seeded codebooks
    * (`pqCodebooks(iters = 0)`) the DuckDB oracle reproduces every code
    * bit-for-bit; trained codebooks are driver state, persistable via
    * the same save/load loop as the IVF quantizer.
    */
  def pqEncode(embeddings: DataFrame, m: Int = 8, k: Int = 16,
               dim: Int = 64, idCol: String = "vec_id",
               vecCol: String = "embedding",
               codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(dim % m == 0, s"pqEncode: m=$m must divide dim=$dim")
    val sub = dim / m
    val cbs = codebooks.getOrElse(
      pqCodebooks(embeddings, m, k, iters = 0, dim, idCol, vecCol))
    require(cbs.length == m && cbs.forall(_.forall(_.length == sub)),
      "pqEncode: codebook shape must be [m][k][dim/m]")
    embeddings
      .withColumn("__codes", pqCodesCol(embeddings, vecCol, cbs, sub))
      .select(col(idCol), posexplode(col("__codes")).as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("int").as("subspace"),
        col("code"))
  }

  /** The m PQ codes of a vector as one `array<int>` column — argmin
    * squared-L2 per subspace, first minimum on ties. The fused native
    * `centroid_dists` when registered (one plan node per subspace), else
    * k composed [[l2Sq]] trees — [[centroidDistsCol]] picks; either way
    * the slice fragments keep it a pure projection, 0 shuffle. Shared by
    * [[pqEncode]] (the long output shape) and [[pqSearch]] (the
    * compressed corpus side of the ADC scan).
    */
  private def pqCodesCol(df: DataFrame, vecCol: String,
                         cbs: Array[Array[Array[Double]]],
                         sub: Int): Column =
    if (df.sparkSession.catalog.functionExists("pq_codes"))
      // ONE fused node for all m subspaces: the composed form below
      // builds m copies of slice→centroid_dists→min/position (the dists
      // subtree duplicated inside array_position), and at m=16 the
      // generated processNext crosses the JVM's huge-method JIT
      // threshold — the scan silently runs interpreted, measured 30×
      // slower than the identical m=8 query. Values are bit-equal
      // (spec-asserted): same slices, same index-order folds, same
      // first-minimum tie rule. Direct construction — no m×k×sub
      // literal tree (see centroidDistsCol).
      org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.PqCodes(
          org.apache.spark.sql.GraftPlanBridge.expression(expr(vecCol)),
          cbs))
    else array(cbs.indices.map { s =>
      val dists = centroidDistsCol(df,
        s"slice($vecCol, ${s * sub + 1}, $sub)", cbs(s))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

  /** Per-probe ADC distance table (m arrays of k exact subspace L2s):
    * the fused native `pq_dt` when registered (one node at any m —
    * same JIT-cliff rationale as [[pqCodesCol]]), else m composed
    * [[centroidDistsCol]] slices.
    */
  private def pqDtCol(df: DataFrame, vecCol: String,
                      cbs: Array[Array[Array[Double]]],
                      sub: Int): Column =
    if (df.sparkSession.catalog.functionExists("pq_dt"))
      org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.PqDistTable(
          org.apache.spark.sql.GraftPlanBridge.expression(expr(vecCol)),
          cbs))
    else array(cbs.indices.map { s =>
      centroidDistsCol(df, s"slice($vecCol, ${s * sub + 1}, $sub)", cbs(s))
    }: _*)

  /** [m][k][sub] codebooks as a foldable SQL literal — Double.toString
    * round-trips exactly through cast(varchar as double), and the
    * literal is folded to a reference object at resolution time (never
    * reaches the physical plan).
    */
  private def codebooksLit(cbs: Array[Array[Array[Double]]]): String =
    cbs.map(_.map(sparkVecLit).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** DuckDB oracle for [[pqEncode]] with SEEDED codebooks: codebook j of
    * subspace s is the subvector of the j-th lowest-id vector — in SQL,
    * a join against the first-k rows with per-subspace slices. Distances
    * accumulate in index order via the same list_transform/list_sum
    * shape as [[ivfSeededDuckdbSql]]; the QUALIFY tie rule (l2, then
    * code) mirrors `array_position`'s first-minimum.
    */
  def pqEncodeSeededDuckdbSql(m: Int = 8, k: Int = 16, dim: Int = 64,
                              table: String = "embeddings",
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): String = {
    val sub = dim / m
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       cb AS (SELECT row_number() OVER (ORDER BY $idCol) - 1 AS code,
                     $vecCol AS cv
              FROM (SELECT * FROM e WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)),
       subs AS (SELECT unnest(range(0, $m)) AS subspace),
       dists AS (
         SELECT e.$idCol, subs.subspace, cb.code,
                list_sum(list_transform(range(1, ${sub + 1}),
                  d -> (cast(e.$vecCol[subspace * $sub + d] as double)
                        - cast(cb.cv[subspace * $sub + d] as double))
                     * (cast(e.$vecCol[subspace * $sub + d] as double)
                        - cast(cb.cv[subspace * $sub + d] as double))))
                  AS l2
         FROM e CROSS JOIN subs CROSS JOIN cb)
       SELECT $idCol, cast(subspace as int) AS subspace,
              cast(code as int) AS code
       FROM dists
       QUALIFY row_number() OVER (PARTITION BY $idCol, subspace
         ORDER BY l2, code) = 1"""
  }

  /** PQ DISTORTION AUDIT: each vector's squared L2 reconstruction error
    * under the codebooks — the per-subspace distance to the NEAREST
    * codeword (which is exactly the assigned code's reconstruction
    * error), summed in subspace order. The QA gate for compression
    * loss: this measurement is how m and k get chosen before an encode
    * job commits a 100 TB corpus to 8-byte codes, and its distribution
    * (not just the mean) exposes out-of-distribution vectors the
    * codebooks cannot represent. No code materialization needed —
    * `array_min` over the same fused [[centroidDistsCol]] kernels as
    * [[pqEncode]]. Pure projection: 1 scan, 0 exchanges.
    */
  def pqDistortion(embeddings: DataFrame, m: Int = 8, k: Int = 16,
                   dim: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(dim % m == 0, s"pqDistortion: m=$m must divide dim=$dim")
    val sub = dim / m
    val cbs = codebooks.getOrElse(
      pqCodebooks(embeddings, m, k, iters = 0, dim, idCol, vecCol))
    require(cbs.length == m && cbs.forall(_.forall(_.length == sub)),
      "pqDistortion: codebook shape must be [m][k][dim/m]")
    // same left fold from 0.0 in subspace order either way; the fused
    // pq_dt keeps the expression ONE node at any m (the pqCodesCol
    // JIT-cliff rationale — the composed form is m duplicated subtrees)
    val dist =
      if (embeddings.sparkSession.catalog.functionExists("pq_dt"))
        aggregate(
          transform(pqDtCol(embeddings, vecCol, cbs, sub),
            r => array_min(r)),
          lit(0.0), (acc, v) => acc + v)
      else (0 until m).map { s =>
        array_min(centroidDistsCol(embeddings,
          s"slice($vecCol, ${s * sub + 1}, $sub)", cbs(s)))
      }.foldLeft(lit(0.0))(_ + _)
    embeddings.select(col(idCol), dist.as("distortion"))
  }

  /** DuckDB oracle for [[pqDistortion]] with SEEDED codebooks: per
    * (vector, subspace) min L2 over the first-k-row codewords
    * (order-independent), summed with the identical subspace-order left
    * fold from 0.0.
    */
  def pqDistortionSeededDuckdbSql(m: Int = 8, k: Int = 16, dim: Int = 64,
                                  table: String = "embeddings",
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): String = {
    val sub = dim / m
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       cb AS (SELECT row_number() OVER (ORDER BY $idCol) - 1 AS code,
                     $vecCol AS cv
              FROM (SELECT * FROM e WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)),
       subs AS (SELECT unnest(range(0, $m)) AS subspace),
       cd AS (
         SELECT e.$idCol, subs.subspace,
                list_sum(list_transform(range(1, ${sub + 1}),
                  d -> (cast(e.$vecCol[subspace * $sub + d] as double)
                        - cast(cb.cv[subspace * $sub + d] as double))
                     * (cast(e.$vecCol[subspace * $sub + d] as double)
                        - cast(cb.cv[subspace * $sub + d] as double))))
                  AS l2
         FROM e CROSS JOIN subs CROSS JOIN cb),
       mn AS (
         SELECT $idCol, subspace, min(l2) AS ml
         FROM cd GROUP BY 1, 2)
       SELECT $idCol,
              list_reduce(list_prepend(cast(0.0 as double),
                list(ml ORDER BY subspace)), (acc, v) -> acc + v)
                AS distortion
       FROM mn GROUP BY 1"""
  }

  /** PQ ADC SEARCH (Jégou et al. TPAMI 2011 §IV.A, asymmetric distance
    * computation) — the payoff of [[pqEncode]]: top-k nearest corpus
    * vectors per probe, scanning only the m-byte CODES instead of the
    * dim-float vectors. Each probe precomputes its m×k distance table
    * (exact squared L2 from the probe's own subvectors to every
    * codeword); a corpus vector's approximate distance is then m array
    * lookups summed — no float-vector arithmetic in the scan loop.
    *
    * Scale shape: the corpus side carries (id, m codes) only — at 100 TB
    * the codes table is the 32× smaller persisted artifact and the raw
    * vectors are never read by the scan (encode once, search many). The
    * probe side is a broadcast of |probes| rows × (m·k doubles); the scan
    * is embarrassingly parallel with NO shuffle of corpus data — the only
    * exchange is the final bounded-heap `topk_by` on probe_id (map-side
    * partial top-k, ≤ topK rows per probe per task). Exact re-rank of the
    * survivors on full vectors (the standard two-stage retrieval) is
    * [[cosineTopK]] over the returned candidate ids.
    *
    * adist sums the per-subspace table entries in subspace order (a left
    * fold from 0.0), and each entry is the same index-order accumulation
    * as [[pqEncode]] — with seeded codebooks the DuckDB oracle reproduces
    * every distance bit-for-bit, so ranks (ties: adist, then cand_id)
    * are engine-exact. Trained codebooks are driver state behind the
    * same save/load loop as the IVF quantizer.
    */
  def pqSearch(probes: DataFrame, corpus: DataFrame, topK: Int,
               m: Int = 8, k: Int = 16, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding",
               codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(dim % m == 0, s"pqSearch: m=$m must divide dim=$dim")
    val sub = dim / m
    val cbs = codebooks.getOrElse(
      pqCodebooks(corpus, m, k, iters = 0, dim, idCol, vecCol))
    require(cbs.length == m && cbs.forall(_.forall(_.length == sub)),
      "pqSearch: codebook shape must be [m][k][dim/m]")
    val codes = corpus.select(col(idCol).as("cand_id"),
      pqCodesCol(corpus, vecCol, cbs, sub).as("__codes"))
    // per-probe ADC distance tables: m arrays of k exact subspace L2s
    val dt = pqDtCol(probes, vecCol, cbs, sub)
    val pdt = probes.select(col(idCol).as("probe_id"), dt.as("__dt"))
    val scored = codes.crossJoin(broadcast(pdt))
      .withColumn("adist",
        adcDistCol(probes.sparkSession, "__dt", "__codes"))
      .select(col("probe_id"), col("cand_id"), col("adist"))
    rankMinDist(scored, topK)
  }

  /** Min-first rank of an ADC-scored (probe_id, cand_id, adist) frame:
    * `topk_by` orders (score DESC, tiebreak ASC), so the negated
    * distance gives (adist ASC, cand_id ASC) — exact negation, no
    * precision loss. Salted two-phase window fallback, same total order.
    */
  private def rankMinDist(scored: DataFrame, topK: Int): DataFrame =
    if (scored.sparkSession.catalog.functionExists("topk_by")) {
      scored.groupBy(col("probe_id"))
        .agg(expr(
          s"topk_by(-adist, cast(cand_id as bigint), struct(cand_id, adist), $topK)")
          .as("__top"))
        .select(col("probe_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("probe_id"), col("__e.payload.cand_id").as("cand_id"),
          col("__e.payload.adist").as("adist"),
          (col("__pos") + 1).cast("int").as("rnk"))
    } else
      topKPerGroup(scored, "probe_id", topK,
        Seq(col("adist"), col("cand_id")), hash(col("cand_id")))
        .select(col("probe_id"), col("cand_id"), col("adist"), col("rnk"))

  /** DuckDB oracle for [[pqSearch]] with SEEDED codebooks (codeword j =
    * j-th lowest-id CORPUS vector's subvector): corpus codes and probe
    * distance tables replayed from the same first-k rows, adist as the
    * identical subspace-order left fold (a 0.0-seeded list_reduce over
    * the per-probe ADC table indexed by the cand's per-subspace codes
    * — the memory-linear shape shared with [[ivfPqDuckdbCore]], whose
    * Scaladoc carries the bit-exactness argument; here the pair scan
    * is the explicit probes×corpus CROSS JOIN brute ADC implies),
    * ranks by (adist, cand_id).
    */
  def pqSearchSeededDuckdbSql(probeWhere: String, corpusWhere: String,
                              topK: Int, m: Int = 8, k: Int = 16,
                              dim: Int = 64, table: String = "embeddings",
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): String = {
    val sub = dim / m
    def l2(side: String) =
      s"""list_sum(list_transform(range(1, ${sub + 1}),
         d -> (cast($side.$vecCol[subspace * $sub + d] as double)
               - cast(cb.cv[subspace * $sub + d] as double))
            * (cast($side.$vecCol[subspace * $sub + d] as double)
               - cast(cb.cv[subspace * $sub + d] as double))))"""
    s"""WITH p AS (SELECT $idCol, $vecCol FROM $table WHERE $probeWhere),
       c AS (SELECT $idCol, $vecCol FROM $table WHERE $corpusWhere),
       cb AS (SELECT row_number() OVER (ORDER BY $idCol) - 1 AS code,
                     $vecCol AS cv
              FROM (SELECT * FROM c WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)),
       subs AS (SELECT unnest(range(0, $m)) AS subspace),
       cd AS (
         SELECT c.$idCol AS cand_id, subs.subspace, cb.code,
                ${l2("c")} AS l2
         FROM c CROSS JOIN subs CROSS JOIN cb),
       codes AS (
         SELECT cand_id, subspace, code FROM cd
         QUALIFY row_number() OVER (PARTITION BY cand_id, subspace
           ORDER BY l2, code) = 1),
       pd AS (
         SELECT p.$idCol AS probe_id, subs.subspace, cb.code,
                ${l2("p")} AS l2
         FROM p CROSS JOIN subs CROSS JOIN cb),
       codes_l AS (
         SELECT cand_id, list(code ORDER BY subspace) AS codes
         FROM codes GROUP BY 1),
       pd_l AS (
         SELECT probe_id, list(l2 ORDER BY subspace, code) AS tbl
         FROM pd GROUP BY 1),
       s AS (
         SELECT pl.probe_id, cl.cand_id,
                list_reduce(list_prepend(cast(0.0 as double),
                  list_transform(range(0, $m),
                    i -> pl.tbl[i * (len(pl.tbl) // $m) + cl.codes[i + 1] + 1])),
                  (acc, v) -> acc + v) AS adist
         FROM codes_l cl CROSS JOIN pd_l pl)
       SELECT probe_id, cand_id, adist,
              cast(row_number() OVER (PARTITION BY probe_id
                ORDER BY adist, cand_id) as int) AS rnk
       FROM s
       QUALIFY rnk <= $topK"""
  }

  /** IVF-PQ SEARCH — the classic two-level ANN index (FAISS IVFPQ;
    * Jégou et al. TPAMI 2011 §V): the IVF coarse quantizer prunes the
    * corpus to the probe's `nprobe` nearest clusters, then PQ ADC ranks
    * ONLY those candidates from their codes. The composition is what
    * actually ships at 100 TB: the coarse filter cuts the scan to
    * ~nprobe/kc of the corpus and the fine ranking never touches a raw
    * vector — memory per corpus row is one small int (cluster) + m
    * bytes (codes).
    *
    * Corpus side is ONE pure-projection scan emitting (id, cluster,
    * codes); the probe side broadcasts (probe, probed-cluster, ADC
    * table) rows; the candidate join is a hash equi-join on cluster
    * (each candidate lives in exactly ONE cluster, so no pair dedup is
    * needed); ranking is the bounded-heap `topk_by`. Same seeded
    * contracts as [[ivfTopK]] (centroids = first kc corpus vectors) and
    * [[pqSearch]] (codewords = first k corpus subvectors), so the
    * DuckDB oracle replays clusters, codes, tables, and folds
    * bit-for-bit; trained centroids/codebooks are driver state behind
    * the same save/load loop.
    */
  def ivfPqSearch(probes: DataFrame, corpus: DataFrame, topK: Int,
                  kc: Int = 16, nprobe: Int = 4, m: Int = 8, k: Int = 16,
                  dim: Int = 64, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  centroids: Option[Array[Array[Double]]] = None,
                  codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(dim % m == 0, s"ivfPqSearch: m=$m must divide dim=$dim")
    val sub = dim / m
    val cents = centroids.getOrElse(
      ivfCentroids(corpus, kc, iters = 0, dim, idCol, vecCol))
    val cbs = codebooks.getOrElse(
      pqCodebooks(corpus, m, k, iters = 0, dim, idCol, vecCol))
    // same fail-fast contract as pqSearch: a codebook trained at a
    // different m would silently read wrong vector ranges (and the
    // fused/composed paths would disagree on HOW wrongly)
    require(cbs.length == m && cbs.forall(_.forall(_.length == sub)),
      s"ivfPqSearch: codebook shape must be [m=$m][k][dim/m=$sub]")
    require(cents.forall(_.length == dim),
      s"ivfPqSearch: centroids must be dim=$dim")
    rankMinDist(ivfPqScored(probes, corpus, nprobe, sub, idCol, vecCol,
      cents, cbs, broadcastProbes = true), topK)
  }

  /** Shared IVFPQ candidate+ADC pipeline of [[ivfPqSearch]] (bounded
    * probe set → broadcast the probe side) and [[knnJoinPq]] (arbitrary
    * probe TABLE → plain equi-join on cluster, no broadcast
    * assumption). Values are identical either way — only the join
    * strategy hint differs.
    */
  private def ivfPqScored(probes: DataFrame, corpus: DataFrame,
                          nprobe: Int, sub: Int, idCol: String,
                          vecCol: String, cents: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]],
                          broadcastProbes: Boolean): DataFrame = {
    val codes = corpus
      .withColumn("__cd", centroidDistsCol(corpus, vecCol, cents))
      .select(col(idCol).as("cand_id"),
        (array_position(col("__cd"), array_min(col("__cd"))) - 1)
          .cast("int").as("cluster"),
        pqCodesCol(corpus, vecCol, cbs, sub).as("__codes"))
    val probeClusters = expr(
      """transform(
         array_sort(transform(__cd, (d, i) -> struct(d as d, i as i))),
         s -> s.i)""")
    val dt = pqDtCol(probes, vecCol, cbs, sub)
    val pdt = probes
      .withColumn("__cd", centroidDistsCol(probes, vecCol, cents))
      .withColumn("__dt", dt)
      .select(col(idCol).as("probe_id"), col("__dt"),
        explode(slice(probeClusters, 1, nprobe)).as("cluster"))
    val probeSide = if (broadcastProbes) broadcast(pdt) else pdt
    codes.join(probeSide, Seq("cluster"))
      .withColumn("adist",
        adcDistCol(probes.sparkSession, "__dt", "__codes"))
      .select(col("probe_id"), col("cand_id"), col("adist"))
  }

  /** [[ivfPqSearch]] plus the standard refine step (the public
    * shortlist-rerank design, e.g. FAISS IndexRefineFlat): keep the ADC
    * ranking's top `topK × refine` shortlist per probe, recompute EXACT
    * squared L2 on those pairs from the raw vectors, re-rank, cut at
    * topK. This closes the resolution gap PQ structurally cannot: when
    * the corpus contains vector families tighter than the quantizer's
    * distortion (near-duplicate embeddings — re-encoded documents,
    * crawl boilerplate), ADC ranks WITHIN a family at random and
    * recall@k collapses even though the family is in the probed lists
    * (measured on the staged sf1 corpus of 10-member ±6e-3 families:
    * trained m=16 recall@5 falls 0.295 → 0.049 going sf0.1 → sf1; the
    * refine step buys it back at |probes| × refine·topK exact
    * distances — see SURVEY §8g).
    *
    * Scale shape: the shortlist (|probes| × refine·topK (probe, cand)
    * pairs — a probe SAMPLE by this family's contract, so bounded)
    * broadcasts against one extra corpus scan that fetches candidate
    * vectors; at deployment scale a vector-store point-lookup replaces
    * that scan. No corpus-sized shuffle is introduced; the exact
    * distance is the same fused `l2_sq` / index-order fold contract as
    * [[bruteL2TopK]], so the refined ranking is engine-exact.
    */
  def ivfPqSearchRefined(probes: DataFrame, corpus: DataFrame, topK: Int,
                         refine: Int = 4, kc: Int = 16, nprobe: Int = 4,
                         m: Int = 8, k: Int = 16, dim: Int = 64,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         centroids: Option[Array[Array[Double]]] = None,
                         codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(refine >= 1, s"ivfPqSearchRefined: refine=$refine must be >= 1")
    val shortlist = ivfPqSearch(probes, corpus, topK * refine, kc, nprobe,
      m, k, dim, idCol, vecCol, centroids, codebooks)
      .select(col("probe_id"), col("cand_id"))
    val withVecs = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
      .join(broadcast(shortlist), Seq("cand_id"))
    val pv = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"))
    val exact = withVecs.join(broadcast(pv), Seq("probe_id"))
      .withColumn("adist",
        pairL2Col(probes.sparkSession, "probe_vec", "cand_vec"))
      .select(col("probe_id"), col("cand_id"), col("adist"))
    rankMinDist(exact, topK)
  }

  /** Refined IVFPQ k-NN as a JOIN of two embedding TABLES — the
    * trained-index deployment twin of [[knnJoin]] (VERDICT-r11 item 5):
    * [[ivfPqSearchRefined]]'s semantics (IVF prune → ADC shortlist at
    * topK × refine → exact-L2 rerank → cut at topK) with NO broadcast
    * assumption on the probe side, so an unbounded probe table (e.g.
    * "re-rank every new document against the corpus index") is legal.
    * Value-identical to [[ivfPqSearchRefined]] at the same dials — only
    * join strategy differs, and that is Catalyst's to pick (AQE
    * broadcasts a small probe side on its own).
    *
    * Scale shape: the candidate join keys on `cluster`, so parallelism
    * is ∝ kc distinct keys — at the production dial (kc ≈ √corpus,
    * thousands-plus) that is far above core counts, and AQE's skew
    * split handles hot clusters; the kc=16 default here is the test
    * dial. The rerank joins the shortlist (|probes| × refine·topK rows)
    * back to both vector tables by id — an equi-join a vector store
    * serves as point lookups at deployment. Corpus-sized state per row
    * stays one int + m code bytes, exactly [[ivfPqSearch]]'s contract.
    */
  def knnJoinPq(probes: DataFrame, corpus: DataFrame, topK: Int,
                refine: Int = 4, kc: Int = 16, nprobe: Int = 4,
                m: Int = 8, k: Int = 16, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding",
                centroids: Option[Array[Array[Double]]] = None,
                codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    require(dim % m == 0, s"knnJoinPq: m=$m must divide dim=$dim")
    require(refine >= 1, s"knnJoinPq: refine=$refine must be >= 1")
    val sub = dim / m
    val cents = centroids.getOrElse(
      ivfCentroids(corpus, kc, iters = 0, dim, idCol, vecCol))
    val cbs = codebooks.getOrElse(
      pqCodebooks(corpus, m, k, iters = 0, dim, idCol, vecCol))
    require(cbs.length == m && cbs.forall(_.forall(_.length == sub)),
      s"knnJoinPq: codebook shape must be [m=$m][k][dim/m=$sub]")
    require(cents.forall(_.length == dim),
      s"knnJoinPq: centroids must be dim=$dim")
    val shortlist = rankMinDist(
      ivfPqScored(probes, corpus, nprobe, sub, idCol, vecCol, cents, cbs,
        broadcastProbes = false), topK * refine)
      .select(col("probe_id"), col("cand_id"))
    val exact = shortlist
      .join(corpus.select(col(idCol).as("cand_id"),
        col(vecCol).as("cand_vec")), Seq("cand_id"))
      .join(probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("probe_vec")), Seq("probe_id"))
      .withColumn("adist",
        pairL2Col(probes.sparkSession, "probe_vec", "cand_vec"))
      .select(col("probe_id"), col("cand_id"), col("adist"))
    rankMinDist(exact, topK)
  }

  /** DuckDB oracle for [[knnJoinPq]] with SEEDED quantizers: the seeded
    * IVFPQ shortlist at topK × refine ([[ivfPqSeededDuckdbSql]])
    * re-ranked by the shared exact-L2 fold ([[refinedApproxSql]]) —
    * exactly how the Spark side composes, so (probe, cand, adist, rnk)
    * replay bit-for-bit.
    */
  def knnJoinPqSeededDuckdbSql(probeWhere: String, corpusWhere: String,
                               topK: Int, refine: Int, kc: Int = 16,
                               nprobe: Int = 4, m: Int = 8, k: Int = 16,
                               dim: Int = 64, table: String = "embeddings",
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): String =
    refinedApproxSql(
      ivfPqSeededDuckdbSql(probeWhere, corpusWhere, topK * refine, kc,
        nprobe, m, k, dim, table, idCol, vecCol),
      probeWhere, corpusWhere, topK, dim, table, idCol, vecCol)

  /** DuckDB oracle for [[ivfPqSearch]] with SEEDED centroids AND
    * codebooks: coarse assignment / nprobe probe lists replayed as in
    * [[ivfSeededDuckdbSql]], codes and ADC tables as in
    * [[pqSearchSeededDuckdbSql]], candidates joined on cluster (one
    * cluster per candidate — no dedup), identical subspace-order fold.
    */
  def ivfPqSeededDuckdbSql(probeWhere: String, corpusWhere: String,
                           topK: Int, kc: Int = 16, nprobe: Int = 4,
                           m: Int = 8, k: Int = 16, dim: Int = 64,
                           table: String = "embeddings",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): String =
    ivfPqDuckdbCore(probeWhere, corpusWhere, topK, nprobe, m, dim / m, dim,
      table, idCol, vecCol,
      centSql = s"""SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cluster,
                       $vecCol AS cv
                FROM (SELECT * FROM c WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $kc)""",
      cbSql = s"""SELECT row_number() OVER (ORDER BY $idCol) - 1 AS code,
                     $vecCol AS cv
              FROM (SELECT * FROM c WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)""")

  /** DuckDB replay of [[ivfPqSearch]] with TRAINED (driver-literal)
    * quantizers: the centroid matrix and the per-subspace codebooks are
    * embedded as literal VALUES tables — codeword j's per-subspace
    * vectors concatenate to one full-dim row (`cv[subspace*sub+d]`
    * addresses exactly codebook[subspace][j][d], the same layout the
    * seeded contract reads off the first-k corpus rows). Every element
    * is `cast('<Double.toString>' as double)` — the identical
    * string→double parse as the Spark side's literal centroids, so both
    * engines hold bit-identical matrices.
    */
  def ivfPqTrainedDuckdbSql(probeWhere: String, corpusWhere: String,
                            topK: Int,
                            cents: Array[Array[Double]],
                            cbs: Array[Array[Array[Double]]],
                            nprobe: Int = 4, dim: Int = 64,
                            table: String = "embeddings",
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): String = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val k = cbs(0).length
    require(m * sub == dim,
      s"ivfPqTrainedDuckdbSql: m=$m × sub=$sub must equal dim=$dim")
    require(cents.forall(_.length == dim),
      s"ivfPqTrainedDuckdbSql: centroids must be dim=$dim")
    def vec(xs: Array[Double]): String = duckVecLit(xs)
    val centVals = cents.zipWithIndex
      .map { case (cv, i) => s"($i, ${vec(cv)})" }.mkString(",\n    ")
    // codeword j across subspaces, concatenated to one full-dim row
    val cbVals = (0 until k)
      .map(j => s"($j, ${vec(cbs.flatMap(_(j)))})")
      .mkString(",\n    ")
    ivfPqDuckdbCore(probeWhere, corpusWhere, topK, nprobe, m, sub, dim,
      table, idCol, vecCol,
      centSql = s"SELECT * FROM (VALUES\n    $centVals) t(cluster, cv)",
      cbSql = s"SELECT * FROM (VALUES\n    $cbVals) t(code, cv)")
  }

  /** The IVFPQ oracle pipeline around any centroid/codebook source:
    * coarse assignment, nprobe probe lists, per-subspace codes, ADC
    * tables, cluster-equi-join candidates, identical subspace-order
    * fold — shared by the seeded and trained contracts.
    *
    * The adist stage is deliberately LINEAR in memory: per-cand code
    * lists (m ints, `list(code ORDER BY subspace)`) and per-probe ADC
    * tables (m×k doubles, `list(l2 ORDER BY subspace, code)` — pd has
    * exactly one row per (probe, subspace, code), so position
    * i·k + code indexes l2(subspace i, code) 0-based), then one
    * in-row fold per candidate pair. The earlier formulation — join
    * cand×codes×pd to pairs×m rows and `list(l2 ORDER BY subspace)`
    * per pair — is the same doubles in the same order (bit-exact equal
    * fold), but its pairs×m list-aggregate cannot spill in DuckDB 1.0
    * and OOMs a 105 GB limit at sf1 m=32 (125M+ join rows); the
    * list-indexed form streams the pair scan and verified bit-equal at
    * all SFs. `tbl[i*(len(tbl)//m) + codes[i+1] + 1]` is 1-based list
    * addressing over 0-based (subspace, code); the stride is DERIVED
    * from the table length rather than the nominal k so a corpus slice
    * with fewer than k non-null vectors (seeded cbSql's LIMIT k comes
    * up short, matching the Spark side's take(k) of a short sample)
    * still indexes its shorter per-subspace blocks correctly instead
    * of over-indexing into NULL adists.
    */
  private def ivfPqDuckdbCore(probeWhere: String, corpusWhere: String,
                              topK: Int, nprobe: Int, m: Int, sub: Int,
                              dim: Int, table: String, idCol: String,
                              vecCol: String, centSql: String,
                              cbSql: String): String = {
    def fullL2(side: String) =
      s"""list_sum(list_transform(range(1, ${dim + 1}),
         d -> (cast($side.$vecCol[d] as double) - cast(ct.cv[d] as double))
            * (cast($side.$vecCol[d] as double) - cast(ct.cv[d] as double))))"""
    def subL2(side: String) =
      s"""list_sum(list_transform(range(1, ${sub + 1}),
         d -> (cast($side.$vecCol[subspace * $sub + d] as double)
               - cast(cb.cv[subspace * $sub + d] as double))
            * (cast($side.$vecCol[subspace * $sub + d] as double)
               - cast(cb.cv[subspace * $sub + d] as double))))"""
    s"""WITH p AS (SELECT $idCol, $vecCol FROM $table WHERE $probeWhere),
       c AS (SELECT $idCol, $vecCol FROM $table WHERE $corpusWhere),
       cent AS ($centSql),
       cb AS ($cbSql),
       subs AS (SELECT unnest(range(0, $m)) AS subspace),
       ccd AS (
         SELECT c.$idCol AS cand_id, ct.cluster, ${fullL2("c")} AS l2
         FROM c CROSS JOIN cent ct),
       assign AS (
         SELECT cand_id, cluster FROM ccd
         QUALIFY row_number() OVER (PARTITION BY cand_id
           ORDER BY l2, cluster) = 1),
       pcd AS (
         SELECT p.$idCol AS probe_id, ct.cluster, ${fullL2("p")} AS l2
         FROM p CROSS JOIN cent ct),
       pc AS (
         SELECT probe_id, cluster FROM pcd
         QUALIFY row_number() OVER (PARTITION BY probe_id
           ORDER BY l2, cluster) <= $nprobe),
       cd AS (
         SELECT c.$idCol AS cand_id, subs.subspace, cb.code,
                ${subL2("c")} AS l2
         FROM c CROSS JOIN subs CROSS JOIN cb),
       codes AS (
         SELECT cand_id, subspace, code FROM cd
         QUALIFY row_number() OVER (PARTITION BY cand_id, subspace
           ORDER BY l2, code) = 1),
       pd AS (
         SELECT p.$idCol AS probe_id, subs.subspace, cb.code,
                ${subL2("p")} AS l2
         FROM p CROSS JOIN subs CROSS JOIN cb),
       cand AS (
         SELECT pc.probe_id, a.cand_id
         FROM pc JOIN assign a USING (cluster)),
       codes_l AS (
         SELECT cand_id, list(code ORDER BY subspace) AS codes
         FROM codes GROUP BY 1),
       pd_l AS (
         SELECT probe_id, list(l2 ORDER BY subspace, code) AS tbl
         FROM pd GROUP BY 1),
       s AS (
         SELECT cand.probe_id, cand.cand_id,
                list_reduce(list_prepend(cast(0.0 as double),
                  list_transform(range(0, $m),
                    i -> pl.tbl[i * (len(pl.tbl) // $m) + cl.codes[i + 1] + 1])),
                  (acc, v) -> acc + v) AS adist
         FROM cand
         JOIN codes_l cl ON cl.cand_id = cand.cand_id
         JOIN pd_l pl ON pl.probe_id = cand.probe_id)
       SELECT probe_id, cand_id, adist,
              cast(row_number() OVER (PARTITION BY probe_id
                ORDER BY adist, cand_id) as int) AS rnk
       FROM s
       QUALIFY rnk <= $topK"""
  }

  /** Embedding hygiene screen — the row-level QA gate an embedding
    * pipeline runs before any similarity work: per vector, its
    * dimensionality, squared L2 norm, and two audit flags — `dim_ok`
    * (length == expected; ragged vectors break every fused dot-product
    * path) and `norm_ok` (0 < ‖v‖² within [lo², hi²]; zero vectors make
    * cosine meaningless and runaway norms signal corrupt or
    * un-normalized encoder output). An AUDIT frame like validateRows —
    * callers filter on the flags; nothing is silently dropped.
    *
    * Pure projection: one scan, no shuffle, scan-speed at any size.
    * norm_sq is the same index-order double fold as [[cosineExpr]], so
    * both engines accumulate identically.
    */
  def normFilter(embeddings: DataFrame, lo: Double = 0.5, hi: Double = 2.0,
                 expectedDim: Int = 64, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val normSq = expr(
      s"aggregate(transform($vecCol, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (acc, v) -> acc + v)")
    embeddings.select(
      col(idCol),
      size(col(vecCol)).as("n_dims"),
      normSq.as("norm_sq"),
      when(size(col(vecCol)) === expectedDim, 1).otherwise(0).as("dim_ok"),
      when(normSq > 0.0 && normSq >= lo * lo && normSq <= hi * hi, 1)
        .otherwise(0).as("norm_ok"))
  }

  /** DuckDB oracle for [[normFilter]] — identical sequential fold
    * (list_reduce is a left fold in index order) and identical bounds.
    */
  def normFilterSql(lo: Double = 0.5, hi: Double = 2.0,
                    expectedDim: Int = 64, table: String = "embeddings",
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): String =
    s"""WITH n AS (
        SELECT $idCol, cast(len($vecCol) as int) AS n_dims,
               list_reduce(
                 list_prepend(cast(0.0 as double),
                   list_transform($vecCol,
                     x -> cast(x as double) * cast(x as double))),
                 (acc, v) -> acc + v) AS norm_sq
        FROM $table)
      SELECT $idCol, n_dims, norm_sq,
             CASE WHEN n_dims = $expectedDim THEN 1 ELSE 0 END AS dim_ok,
             CASE WHEN norm_sq > 0.0 AND norm_sq >= ${lo * lo}
                   AND norm_sq <= ${hi * hi} THEN 1 ELSE 0 END AS norm_ok
      FROM n"""

  // Plane-index namespace for the projection matrix — disjoint from the
  // LSH tables' planes (t*nBits+j, small ints) so the two operators
  // never share a row of signs.
  private val projPlaneBase = 1 << 20

  /** Random-projection dimensionality reduction (Achlioptas 2003: R_ij
    * ∈ {±1} i.i.d., x' = R·x / √k preserves pairwise distances within
    * 1±ε per Johnson–Lindenstrauss): 64-dim float embeddings down to
    * `outDims` doubles — the cheap pre-ANN compression stage (4×-16×
    * smaller vectors for the candidate scan, exact re-rank on the full
    * vectors afterwards).
    *
    * Pure projection: the ±1 matrix is a deterministic driver constant
    * ([[planeSign]] splitmix64, same generator as the LSH planes but a
    * disjoint index namespace), so this is one scan, zero shuffle,
    * scan-speed at any corpus size. Each output dim accumulates in
    * double precision in index order, then scales by the PRE-COMPUTED
    * 1/√k multiplier (multiply, never divide — the oracle embeds the
    * same double literal, keeping both engines on the identical IEEE
    * rounding sequence).
    */
  def project(embeddings: DataFrame, outDims: Int = 8, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              digits: Int = 4): DataFrame = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val cols = (0 until outDims).map { j =>
      val row = Array.tabulate(dim)(d => planeSign(projPlaneBase + j, d))
      round(aggregate(
        zip_with(col(vecCol), typedLit(row), (x, r) => x.cast("double") * r),
        lit(0.0), (acc, v) => acc + v) * lit(scale), digits).as(s"p$j")
    }
    embeddings.select(col(idCol) +: cols: _*)
  }

  /** DuckDB oracle for [[project]]: the same ±1 rows as literals,
    * `list_dot_product`'s index-order accumulation, the same 1/√k
    * multiplier literal (Scala's Double formatting round-trips, so both
    * engines multiply by the bit-identical double).
    */
  def projectDuckdbSql(outDims: Int = 8, dim: Int = 64,
                       table: String = "embeddings", idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       digits: Int = 4): String = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val cols = (0 until outDims).map { j =>
      val row = Array.tabulate(dim)(d => planeSign(projPlaneBase + j, d))
        .mkString("[", ", ", "]")
      // cast the float vector up front: list_dot_product(FLOAT[], literal)
      // otherwise resolves to FLOAT arithmetic, not the double fold the
      // Spark side runs
      s"round(list_dot_product(CAST($vecCol AS DOUBLE[]), $row) * $scale, $digits) AS p$j"
    }.mkString(", ")
    s"SELECT $idCol, $cols FROM $table"
  }

  /** Per-group embedding centroids (mean pooling): the elementwise mean
    * vector of each group — class prototypes, query-free cluster seeds,
    * pooled document representations. Emitted LONG (group, dim position,
    * value) rather than as an array column: the relational shape
    * aggregates with plain sum/count (map-side partial aggregation on
    * (group, pos) — one shuffle, combiner-friendly) and is directly
    * cross-engine comparable. Reassemble with collect_list over pos when
    * an array is needed.
    */
  def groupCentroids(embeddings: DataFrame, groupCol: String = "label",
                     vecCol: String = "embedding",
                     digits: Int = 4): DataFrame =
    embeddings
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("v").cast("double")), digits).as("centroid_val"),
        count(lit(1)).cast("int").as("n_vectors"))

  /** DuckDB oracle for [[groupCentroids]] (parallel unnests zip
    * positionally; range is 0-based to match posexplode).
    */
  def groupCentroidsSql(table: String = "embeddings",
                        groupCol: String = "label",
                        vecCol: String = "embedding"): String =
    s"""WITH x AS (
        SELECT $groupCol,
               unnest(range(0, len($vecCol))) AS pos,
               unnest($vecCol) AS v
        FROM $table)
      SELECT $groupCol, cast(pos as int) AS pos,
             round(avg(cast(v as double)), 4) AS centroid_val,
             cast(count(*) as int) AS n_vectors
      FROM x GROUP BY 1, 2"""

  /** SemDeDup-style semantic deduplication (arXiv:2303.09540): assign
    * every embedding to a coarse k-means cluster, compare pairs ONLY
    * within a cluster, and drop every vector that has cosine ≥
    * `threshold` with a lower-id cluster-mate (deterministic keep-min
    * policy). Output: the surviving (id, cluster) rows.
    *
    * Scale shape: the cluster assignment is the IVF quantizer reused as
    * a blocking function — the pair space is Σ cluster² instead of n²,
    * and k is the dial (k ≈ n / target-cluster-size keeps within-cluster
    * work constant per vector; the paper runs 50k clusters for 5B
    * embeddings). One shuffle on cluster id for the self-join; vectors
    * ride the join once per side; the drop set applies as a broadcast-
    * able anti-join on id.
    *
    * `centroids` defaults to the SEEDED quantizer (iters = 0: the k
    * lowest-id vectors — cross-engine expressible, same contract as
    * `sim_ann_ivf_seeded`); pass trained centroids for the production
    * path (train once on a sample, persist via [[saveCentroids]]).
    */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.4,
               k: Int = 16, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding",
               centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // cosine rounding is fixed at 4 digits: the oracle's duckdbCosine
    // hardcodes round(..., 4), so a digits knob here could silently
    // diverge the survivor set between engines
    val digits = 4
    val cents = centroids.getOrElse(
      ivfCentroids(embeddings, k, iters = 0, dim, idCol, vecCol))
    val distArr = centroidDistsCol(embeddings, vecCol, cents)
    // materialized ONCE (house policy, the categoricalChange lesson):
    // `assigned` feeds both self-join sides AND the survivor base — the
    // unmaterialized lineage would re-scan the corpus and re-evaluate
    // the k×dim distance expression three times
    val assigned = embeddings
      .withColumn("__dists", distArr)
      .select(col(idCol),
        col(vecCol),
        (array_position(col("__dists"), array_min(col("__dists")))
          .cast("int") - 1).as("cluster"))
      // §5 cluster-loss contract (executor-local cut; reliable
      // checkpoint() — class (b) — on preemptible clusters)
      .cutLineage()
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    val drops = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(expr(cosineSql(embeddings, "vec_a", "vec_b")), digits))
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(drops, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** DuckDB oracle for [[semDedup]] with the seeded quantizer — the
    * same assignment CTE as [[ivfSeededDuckdbSql]], within-cluster
    * pair generation, threshold drop, anti-join survivors.
    */
  def semDedupDuckdbSql(threshold: Double = 0.4, k: Int = 16,
                        dim: Int = 64, table: String = "embeddings",
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): String = {
    val l2 =
      s"""list_sum(list_transform(range(1, ${dim + 1}),
         d -> (cast(e.$vecCol[d] as double) - cast(c.cv[d] as double))
            * (cast(e.$vecCol[d] as double) - cast(c.cv[d] as double))))"""
    s"""WITH e AS (SELECT $idCol, $vecCol FROM $table),
       cent AS (
         SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cluster,
                $vecCol AS cv
         FROM (SELECT * FROM e WHERE $vecCol IS NOT NULL ORDER BY $idCol LIMIT $k)),
       dists AS (
         SELECT e.$idCol, e.$vecCol, c.cluster, $l2 AS l2
         FROM e CROSS JOIN cent c),
       assign AS (
         SELECT $idCol, $vecCol, cluster FROM dists
         QUALIFY row_number() OVER (PARTITION BY $idCol
           ORDER BY l2, cluster) = 1),
       drops AS (
         SELECT DISTINCT y.$idCol
         FROM assign x JOIN assign y USING (cluster)
         WHERE x.$idCol < y.$idCol
           AND ${duckdbCosine(s"x.$vecCol", s"y.$vecCol")} >= $threshold)
       SELECT a.$idCol, cast(a.cluster as int) AS cluster
       FROM assign a ANTI JOIN drops d ON a.$idCol = d.$idCol"""
  }

  /** Embedding-cosine near-dup pairs: all pairs above `threshold`,
    * multi-table-LSH-blocked so the pair space never materializes.
    */
  def cosineNearDup(embeddings: DataFrame, threshold: Double = 0.95,
                    nBits: Int = 6, nTables: Int = 8, dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    digits: Int = 4): DataFrame = {
    val bucketed = lshBuckets(embeddings, nBits, nTables, dim, idCol, vecCol)
    // Ids-only through the bucket self-join and the pair dedup: carrying
    // vectors here would shuffle every vector nTables× (once per table it
    // collides in). Vectors are joined back exactly once per side on the
    // deduped pair set — shuffle bytes ∝ corpus + pairs, not tables×pairs.
    val a = bucketed.select(col("table"), col("bucket"), col(idCol).as("id_a"))
    val b = bucketed.select(col("table"), col("bucket"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val vecsA = embeddings.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vecsB = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    pairs.join(vecsA, Seq("id_a")).join(vecsB, Seq("id_b"))
      .withColumn("cosine",
        round(expr(cosineSql(embeddings, "vec_a", "vec_b")), digits))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
