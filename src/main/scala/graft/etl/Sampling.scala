package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.Checkpoints.CutSyntax
import graft.dedup.MinHashSpec

/** Deterministic, cross-engine-reproducible sampling and dataset splits —
  * the selection layer of a training-data pipeline.
  *
  * `rand()`-based sampling is not replayable (a retry or a second engine
  * draws a different sample) and cannot be oracle-checked. These
  * operators derive the selection decision from a content hash of a key
  * column: the same row lands in the same sample/split on every run, in
  * every engine, at any parallelism. All are pure projections/filters —
  * no shuffle, scan-speed at 100 TB — and the hash is the md5-derived
  * cross-engine [[MinHashSpec.hpExpr]] family, so DuckDB reproduces the
  * exact row set.
  */
object Sampling {

  private val BUCKETS = 10000

  /** Hash bucket in [0, 10000) for a key column — the shared selection
    * coordinate for samples and splits.
    */
  private def bucket(df: DataFrame, keyCol: String): Column =
    expr(s"${MinHashSpec.hpExpr(df.sparkSession, s"cast($keyCol as string)")} % $BUCKETS")

  private def bucketSql(keyCol: String): String =
    s"(md5_number_lower(cast($keyCol as varchar)) % ${MinHashSpec.P}) % $BUCKETS"

  /** Deterministic Bernoulli sample: keep rows whose key-hash bucket
    * falls under `fraction`. Replayable and engine-independent, unlike
    * `df.sample` (seeded per-partition) or SQL `TABLESAMPLE`.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(bucket(df, keyCol) < (fraction * BUCKETS).round)

  /** Stratified deterministic sample: per-stratum fractions (e.g. keep 5%
    * of English but 100% of low-resource languages — the standard
    * corpus-balancing move). Strata absent from `rates` keep
    * `defaultRate`. One scan, no shuffle; the rate map is a broadcast
    * literal CASE.
    */
  def stratifiedHashSample(df: DataFrame, strataCol: String, keyCol: String,
                           rates: Map[String, Double],
                           defaultRate: Double = 0.0): DataFrame = {
    // thresholds rounded ONCE on the driver — the SQL twin embeds the
    // identical integer literals, so the row sets match exactly
    val cutCol = rates.foldLeft(lit((defaultRate * BUCKETS).round)) {
      case (acc, (s, r)) =>
        when(col(strataCol) === s, lit((r * BUCKETS).round)).otherwise(acc)
    }
    df.filter(bucket(df, keyCol) < cutCol)
  }

  /** Deterministic train/val/test assignment: weights are normalized and
    * laid end-to-end over the bucket space; each row's bucket picks its
    * split. Adds a `split` column — rows never move, so the split is
    * stable under reruns, appends, and engine changes.
    */
  def hashSplit(df: DataFrame, keyCol: String,
                weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "hashSplit: weights must be positive")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(f => (f * BUCKETS).round)
    val b = bucket(df, keyCol)
    val splitCol = weights.init.zipWithIndex.foldRight(lit(weights.last._1): Column) {
      case (((name, _), i), acc) => when(b < cuts(i + 1), lit(name)).otherwise(acc)
    }
    df.withColumn("split", splitCol)
  }

  /** Deterministic GLOBAL SHUFFLE into shards — the reproducible
    * "shuffle the corpus before training" op: every row gets a
    * pseudo-random (shard, pos) coordinate from its content-hash, so
    * the order is stable under reruns, appends, engine changes, and
    * cluster size (none of which is true of `orderBy(rand())`).
    * shard = hash mod `nShards`; pos = the row's rank within its shard
    * by (hash, key) — pseudo-random order WITHIN each shard too, keys
    * adjacent in the source scattered across and within shards.
    *
    * Scale shape: one scan + ONE exchange on shard; the ranking window
    * partitions per shard, never globally — `nShards` is the
    * parallelism dial (size it so a shard's (hash, key) pairs fit a
    * task's sort buffer; the row payload never enters the sort). This
    * is the [[packSequences]] per-shard-window layout applied to
    * ordering.
    */
  def shuffleShards(df: DataFrame, keyCol: String,
                    nShards: Int = 64): DataFrame = {
    require(nShards > 0, "shuffleShards: nShards must be positive")
    val h = expr(
      s"${MinHashSpec.hpExpr(df.sparkSession, s"cast($keyCol as string)")}")
    val withH = df.withColumn("__h", h)
      .withColumn("shard", (col("__h") % nShards).cast("int"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col(keyCol))
    withH.withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Deterministic SOURCE-INTERLEAVED emit order — the training-stream
    * assembly step after [[shuffleShards]]' plain shuffle: within each
    * (source, shard) docs rank on the hash lane, each source gets a
    * stable lexicographic index, and the global emit order is the
    * lexicographic sort on (shard, rank, src_idx) — consecutive
    * positions CYCLE through sources round-robin (every source
    * contributes its rank-r doc before any source contributes rank
    * r+1 within a shard), so a 100×-larger source cannot clump the
    * stream the way a plain hash shuffle lets it. Sort keys are
    * emitted as columns rather than a dense global position: a global
    * row_number is a total-order window (single reducer at 100 TB),
    * while the keys sort/partition distributively and any consumer
    * that needs densification does it per shard.
    *
    * Scale shape: one scan, ONE exchange on (source, shard) for the
    * bounded ranking window (shard count is the same parallelism dial
    * as shuffleShards), plus a broadcast of the tiny source-index
    * frame. Engine-exact: hash lane + row_number with full tie-break,
    * lexicographic source indexing.
    */
  def interleaveSources(df: DataFrame, sourceCol: String, keyCol: String,
                        nShards: Int = 16): DataFrame = {
    require(nShards > 0, "interleaveSources: nShards must be positive")
    val h = expr(
      s"${MinHashSpec.hpExpr(df.sparkSession, s"cast($keyCol as string)")}")
    // n_sources rows: the unpartitioned window is bounded by the
    // source vocabulary, not the corpus
    val srcIdx = df.select(col(sourceCol)).distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy(col(sourceCol))).cast("int"))
    val withH = df.withColumn("__h", h)
      .withColumn("shard", (col("__h") % nShards).cast("int"))
    val w = Window.partitionBy(col(sourceCol), col("shard"))
      .orderBy(col("__h"), col(keyCol))
    withH.withColumn("rank", row_number().over(w))
      .join(broadcast(srcIdx), Seq(sourceCol))
      .drop("__h")
  }

  /** DuckDB oracle twin of [[interleaveSources]] over a table. */
  def interleaveSourcesSql(table: String, sourceCol: String,
                           keyCol: String, nShards: Int = 16,
                           selectCols: String = "*"): String = {
    val h = s"(md5_number_lower(cast($keyCol as varchar)) % ${MinHashSpec.P})"
    s"""WITH s AS (
         SELECT $selectCols, $h AS __h, cast($h % $nShards as int) AS shard
         FROM $table),
       si AS (
         SELECT $sourceCol,
                cast(row_number() OVER (ORDER BY $sourceCol) as int)
                  AS src_idx
         FROM (SELECT DISTINCT $sourceCol FROM $table))
       SELECT $selectCols, shard,
              cast(row_number() OVER (PARTITION BY $sourceCol, shard
                                      ORDER BY __h, $keyCol) as int) AS rank,
              si.src_idx
       FROM s JOIN si USING ($sourceCol)"""
  }

  /** DuckDB oracle twin of [[shuffleShards]] over a table. */
  def shuffleShardsSql(table: String, keyCol: String, nShards: Int = 64,
                       selectCols: String = "*"): String = {
    val h = s"(md5_number_lower(cast($keyCol as varchar)) % ${MinHashSpec.P})"
    s"""WITH s AS (
         SELECT $selectCols, $h AS __h, cast($h % $nShards as int) AS shard
         FROM $table)
       SELECT $selectCols, shard,
              cast(row_number() OVER (PARTITION BY shard ORDER BY __h, $keyCol)
                as int) AS pos
       FROM s"""
  }

  /** DuckDB oracle twin of [[hashSample]] (as a WHERE fragment). */
  def hashSampleSql(keyCol: String, fraction: Double): String =
    s"${bucketSql(keyCol)} < ${(fraction * BUCKETS).round}"

  /** DuckDB oracle twin of [[stratifiedHashSample]]'s filter. */
  def stratifiedSampleSql(strataCol: String, keyCol: String,
                          rates: Map[String, Double],
                          defaultRate: Double = 0.0): String = {
    val cases = rates.map { case (s, r) =>
      s"WHEN $strataCol = '$s' THEN ${(r * BUCKETS).round}"
    }.mkString(" ")
    s"${bucketSql(keyCol)} < (CASE $cases ELSE ${(defaultRate * BUCKETS).round} END)"
  }

  /** DuckDB oracle twin of [[hashSplit]]'s split expression. */
  def hashSplitSql(keyCol: String, weights: Seq[(String, Double)]): String = {
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(f => (f * BUCKETS).round)
    val cases = weights.init.zipWithIndex.map { case ((name, _), i) =>
      s"WHEN ${bucketSql(keyCol)} < ${cuts(i + 1)} THEN '$name'"
    }.mkString(" ")
    s"(CASE $cases ELSE '${weights.last._1}' END)"
  }

  /** Data-mix rebalancing — the domain-mixing step of a training-data
    * pipeline: downsample each source so the sampled corpus matches the
    * `targets` proportions as closely as possible WITHOUT upsampling.
    * The feasible sampled size is m = min_s(n_s / t_s); each source's
    * acceptance rate is then (m·t_s)/n_s ≤ 1 (the scarcest source
    * relative to its target keeps everything). Selection is the same
    * deterministic hash-bucket filter as [[hashSample]], so the row set
    * is replayable and engine-exact. Sources absent from `targets` are
    * dropped (rate 0) — the mix is a whitelist.
    *
    * Scale shape: one small groupBy for the per-source counts, the rate
    * arithmetic stays IN-FRAME (no driver collect), and the bounded
    * rates frame broadcast-joins onto the scan — the corpus itself is
    * filtered at scan speed, no shuffle. Rates derive from counts with
    * the identical IEEE double operation order on both engines
    * ((m · t) / n, then floor(rate · buckets)), so the integer cut
    * thresholds — and hence the sampled rows — match DuckDB exactly.
    */
  def mixRebalance(df: DataFrame, sourceCol: String, keyCol: String,
                   targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "mixRebalance: target shares must be positive")
    val tgtCol = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (s, t)) => when(col(sourceCol) === s, lit(t)).otherwise(acc)
    }
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", tgtCol)
      .filter(col("__w").isNotNull)
    weightedCutFilter(df, sourceCol, keyCol, counts)
  }

  /** Shared rate-derivation + selection of the share-weighted samplers
    * ([[mixRebalance]]: __w = target share; [[temperatureMix]]:
    * __w = n^α): rate_s = min_u(n_u/w_u)·w_s/n_s — the feasibility min
    * is order-independent and every op is a fixed IEEE sequence, so the
    * integer cut thresholds (and hence the row sets) are engine-exact.
    * `counts` is bounded (one row per source) but consumed TWICE (the
    * min and the per-source cuts) — materialized once, or the corpus
    * scan behind it runs per reference (the categoricalChange lesson).
    *
    * Argmin strata are keep-all BY CONSTRUCTION, not by arithmetic:
    * (m·w)/n for the argmin can land 1 ulp below 1.0 (e.g. w = √n with
    * a non-dyadic n), which would floor to BUCKETS−1 and silently drop
    * ~1/BUCKETS of the stratum the contract says keeps everything. The
    * argmin row is detected by exact double equality n/w = m (m IS one
    * of those ratios bitwise, and min is order-independent, so the test
    * is engine-exact) and its cut pinned to BUCKETS.
    */
  private def weightedCutFilter(df: DataFrame, sourceCol: String,
                                keyCol: String, counts: DataFrame): DataFrame = {
    val cp = counts.cutLineage()
    val m = cp.agg(min(col("__n") / col("__w")).as("__m"))
    val cuts = cp.crossJoin(m)
      .select(col(sourceCol),
        when(col("__n") / col("__w") === col("__m"), lit(BUCKETS.toLong))
          .otherwise(floor((col("__m") * col("__w")) / col("__n") * BUCKETS))
          .as("__cut"))
    df.join(broadcast(cuts), Seq(sourceCol))
      .filter(bucket(df, keyCol) < col("__cut"))
      .drop("__cut")
  }

  /** DuckDB oracle twin of [[mixRebalance]]: same counts → min-feasible
    * → per-source cut pipeline with the identical double operation
    * order, returning (selectCols) of the sampled rows.
    */
  def mixRebalanceSql(table: String, sourceCol: String, keyCol: String,
                      targets: Map[String, Double],
                      selectCols: String): String = {
    val values = targets.toSeq.sortBy(_._1)
      .map { case (s, t) => s"('$s', cast($t as double))" }.mkString(", ")
    s"""WITH tgt($sourceCol, t) AS (VALUES $values),
        counts AS (
          SELECT $sourceCol, cast(count(*) as bigint) AS n
          FROM $table GROUP BY $sourceCol),
        j AS (SELECT c.$sourceCol, c.n, tgt.t
              FROM counts c JOIN tgt USING ($sourceCol)),
        mm AS (SELECT min(n / t) AS m FROM j),
        cuts AS (
          SELECT $sourceCol,
                 CASE WHEN n / t = (SELECT m FROM mm)
                      THEN cast($BUCKETS as bigint)
                      ELSE cast(floor(((SELECT m FROM mm) * t) / n * $BUCKETS)
                        as bigint) END AS cut
          FROM j)
      SELECT $selectCols FROM $table d
      JOIN cuts USING ($sourceCol)
      WHERE ${bucketSql(keyCol)} < cut"""
  }

  /** Epochs-based UPSAMPLING — the complement of [[mixRebalance]]'s
    * no-upsampling contract: training mixes repeat scarce, high-value
    * sources (the classic "N epochs of Wikipedia/books" pattern) while
    * passing the rest through once. Each row is emitted ⌊r⌋ times, plus
    * one more iff its hash bucket clears the fractional part — so a
    * source at r = 2.5 yields exactly 2 copies of half its rows
    * (deterministically chosen: the SAME half [[hashSample]] at 0.5
    * would keep) and 3 of the other half. r < 1 degrades to plain
    * downsampling, r = 0 drops the source; sources absent from `epochs`
    * get `defaultEpochs` (1.0 = pass-through — upsampling is not a
    * whitelist). The output `epoch` column (1..copies) makes each
    * repeat addressable downstream (e.g. epoch-aware shuffling).
    *
    * Scale shape: pure projection + bounded explode (≤ ⌈max r⌉ rows per
    * input row), NO shuffle and no counts pass — unlike the rate
    * samplers there is no feasibility min to derive, so the factor map
    * is a driver literal CASE. The ⌊r⌋/fraction-cut split is computed
    * ONCE on the driver and embedded as integer literals in both
    * engines, so the copy sets match exactly.
    */
  def upsampleEpochs(df: DataFrame, sourceCol: String, keyCol: String,
                     epochs: Map[String, Double],
                     defaultEpochs: Double = 1.0): DataFrame = {
    require(epochs.values.forall(_ >= 0) && defaultEpochs >= 0,
      "upsampleEpochs: epoch factors must be >= 0")
    def baseOf(r: Double): Long = math.floor(r).toLong
    def cutOf(r: Double): Long = ((r - math.floor(r)) * BUCKETS).round
    val baseCol = epochs.foldLeft(lit(baseOf(defaultEpochs))) {
      case (acc, (s, r)) =>
        when(col(sourceCol) === s, lit(baseOf(r))).otherwise(acc)
    }
    val cutCol = epochs.foldLeft(lit(cutOf(defaultEpochs))) {
      case (acc, (s, r)) =>
        when(col(sourceCol) === s, lit(cutOf(r))).otherwise(acc)
    }
    df.withColumn("__copies",
        baseCol + when(bucket(df, keyCol) < cutCol, 1L).otherwise(0L))
      // the >= 1 guard is load-bearing: Spark's sequence(1, 0) counts
      // DOWN ([1, 0]), it does not return empty
      .filter(col("__copies") >= 1L)
      .withColumn("epoch",
        explode(sequence(lit(1), col("__copies").cast("int"))))
      .drop("__copies")
  }

  /** DuckDB oracle twin of [[upsampleEpochs]]: the same driver-rounded
    * (base, cut) literals per source, LEFT JOIN + COALESCE for the
    * default, `generate_series` for the repeats (inclusive bounds match
    * Spark's `sequence`).
    */
  def upsampleEpochsSql(table: String, sourceCol: String, keyCol: String,
                        epochs: Map[String, Double],
                        defaultEpochs: Double = 1.0,
                        selectCols: String): String = {
    def baseOf(r: Double): Long = math.floor(r).toLong
    def cutOf(r: Double): Long = ((r - math.floor(r)) * BUCKETS).round
    val values = epochs.toSeq.sortBy(_._1)
      .map { case (s, r) =>
        s"('$s', cast(${baseOf(r)} as bigint), cast(${cutOf(r)} as bigint))" }
      .mkString(", ")
    s"""WITH f($sourceCol, base, cut) AS (VALUES $values),
        c AS (
          SELECT $selectCols,
                 coalesce(f.base, ${baseOf(defaultEpochs)})
                   + CASE WHEN ${bucketSql(keyCol)}
                            < coalesce(f.cut, ${cutOf(defaultEpochs)})
                          THEN 1 ELSE 0 END AS copies
          FROM $table d LEFT JOIN f USING ($sourceCol))
      SELECT $selectCols,
             cast(unnest(generate_series(1, copies)) as int) AS epoch
      FROM c WHERE copies >= 1"""
  }

  /** Deterministic per-group sample of exactly `k` rows (the group-wise
    * "reservoir" of eval-set construction: k docs per language, k users
    * per cohort): rows are ranked inside each group by content-hash
    * order (bucket, then key — total, engine-independent) and the first
    * k kept, so the sample is replayable anywhere and stable under
    * reruns. Unlike the RATE samplers above, the output size per group
    * is exact, not expected.
    *
    * Scale shape: the `topk_by` bounded-heap aggregate when the session
    * registered it — map-side partial top-k, k rows per (group,
    * partition) shuffled, O(k) state per group, never a whole-group
    * window funnel. The hash bucket rides as the (negated) score —
    * bucket is a small integer, exact in a double — with the key as the
    * integer tiebreak, so the rank order is the same total integer
    * order the SQL twin's (bucket, key) window uses. Falls back to the
    * window formulation (spec-equal) without the extension.
    */
  def groupSample(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    require(k > 0, "groupSample: k must be positive")
    val withB = df.withColumn("__b", bucket(df, keyCol).cast("long"))
    // the topk_by path needs the key as its bigint tiebreak — a
    // non-integral key would cast to NULL and the aggregate would
    // silently skip every row (self-review catch); string/uuid keys
    // take the spec-equal window path instead
    val integralKey = df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralKey && df.sparkSession.catalog.functionExists("topk_by")) {
      withB.groupBy(col(groupCol))
        .agg(expr(s"topk_by(cast(-__b as double), cast($keyCol as bigint)," +
          s" struct($keyCol), $k)").as("__top"))
        .select(col(groupCol),
          posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col(groupCol), col(s"__e.payload.$keyCol").as(keyCol),
          (col("__pos") + 1).cast("int").as("rnk"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol)).orderBy(col("__b"), col(keyCol))
      withB.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col(groupCol), col(keyCol), col("rnk"))
    }
  }

  /** DuckDB oracle twin of [[groupSample]]. */
  def groupSampleSql(table: String, groupCol: String, keyCol: String,
                     k: Int): String =
    s"""SELECT $groupCol, $keyCol,
              cast(row_number() OVER (PARTITION BY $groupCol
                ORDER BY ${bucketSql(keyCol)}, $keyCol) as int) AS rnk
       FROM $table QUALIFY rnk <= $k"""

  /** Token-budget selection — cap each source's contribution at `budget`
    * whitespace tokens: documents are taken in deterministic hash order
    * (bucket, then key — total and engine-independent) until the
    * running token total would pass the budget. The counterpart of
    * [[mixRebalance]] when the mix is specified in tokens, as training
    * mixes usually are.
    *
    * Scale shape: one window (partition by source, sort by hash) — an
    * ordered prefix selection is inherently a per-source sort; when the
    * budget can be approximate, prefer [[mixRebalance]]'s sort-free
    * rate filter. Token counts and the running sum are integers, so
    * engines agree exactly.
    */
  def tokenBudget(df: DataFrame, sourceCol: String, keyCol: String,
                  textCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(bucket(df, keyCol), col(keyCol))
    df.withColumn("n_tokens", size(graft.text.Text.tokens(col(textCol))))
      .withColumn("__cum", sum(col("n_tokens").cast("long")).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** DuckDB oracle twin of [[tokenBudget]], returning (selectCols,
    * n_tokens) of the selected rows.
    */
  def tokenBudgetSql(table: String, sourceCol: String, keyCol: String,
                     textCol: String, budget: Long,
                     selectCols: String): String =
    s"""WITH toks AS (
         SELECT *, cast(len(string_split_regex(trim(lower($textCol)),
                '${graft.text.Text.wsRe}')) as int) AS n_tokens
         FROM $table),
       cum AS (
         SELECT *, sum(cast(n_tokens as bigint)) OVER (
             PARTITION BY $sourceCol
             ORDER BY ${bucketSql(keyCol)}, $keyCol) AS c
         FROM toks)
     SELECT $selectCols, n_tokens FROM cum WHERE c <= $budget"""

  /** Temperature-based mix sampling (the mT5/multilingual scheme):
    * sample source s proportionally to n_s^α with α < 1, boosting
    * low-resource sources relative to their raw share, without
    * upsampling. α is expressed as `sqrtApplications` repeated square
    * roots (1 → α=0.5, 2 → α=0.25): sqrt is the ONE power operation
    * IEEE 754 requires correctly rounded, so both engines compute
    * bit-identical weights — a general `pow(n, α)` is libm-dependent
    * and could flip a cut threshold at the floor boundary.
    *
    * The acceptance rate derives WITHOUT the usual Σ n_s^α normalizer:
    * rate_s = min_u(n_u/w_u) · w_s / n_s (the normalizer cancels
    * algebraically, and dropping it removes the only cross-row double
    * SUM — a sum's accumulation order is engine- and plan-dependent,
    * while min is order-independent). The argmin source keeps
    * everything; sampled counts are ∝ w_s = n_s^α. Same scale shape as
    * [[mixRebalance]]: bounded counts frame, rates in-frame,
    * broadcast cuts onto the scan, no corpus shuffle.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, keyCol: String,
                     sqrtApplications: Int = 1): DataFrame = {
    require(sqrtApplications >= 1, "temperatureMix: sqrtApplications >= 1")
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", (1 to sqrtApplications)
        .foldLeft(col("__n").cast("double")) { case (c, _) => sqrt(c) })
    weightedCutFilter(df, sourceCol, keyCol, counts)
  }

  /** DuckDB oracle twin of [[temperatureMix]] — identical weight,
    * min-ratio, and cut arithmetic in the identical operation order.
    */
  def temperatureMixSql(table: String, sourceCol: String, keyCol: String,
                        sqrtApplications: Int, selectCols: String): String = {
    val w = (1 to sqrtApplications)
      .foldLeft("cast(n as double)") { case (c, _) => s"sqrt($c)" }
    s"""WITH counts AS (
         SELECT $sourceCol, cast(count(*) as bigint) AS n
         FROM $table GROUP BY $sourceCol),
       wts AS (SELECT $sourceCol, n, $w AS w FROM counts),
       mm AS (SELECT min(n / w) AS m FROM wts),
       cuts AS (
         SELECT $sourceCol,
                CASE WHEN n / w = (SELECT m FROM mm)
                     THEN cast($BUCKETS as bigint)
                     ELSE cast(floor((SELECT m FROM mm) * w / n * $BUCKETS)
                       as bigint) END AS cut
         FROM wts)
     SELECT $selectCols FROM $table d
     JOIN cuts USING ($sourceCol)
     WHERE ${bucketSql(keyCol)} < cut"""
  }

  /** Sequence packing — the layout step after selection: documents are
    * concatenated in a deterministic order and chunked into fixed
    * `seqLen`-token training sequences (the standard concat-and-chunk
    * packing of an LLM pretraining pipeline). The output maps each
    * document to its place in the packed stream: the sequence its first
    * token lands in, the offset within that sequence, and how many
    * sequences it spans — everything a writer needs to emit packed
    * shards without ever materializing the token stream.
    *
    * Packing is PER SHARD (shard = key-hash mod `shards`), which is how
    * real pipelines run it: each output shard packs independently, so
    * the computation is embarrassingly parallel — the window sorts
    * within a shard, never globally. `shards` is the parallelism knob;
    * waste is at most one partial sequence per shard. The order within
    * a shard is (hash bucket, key) — total, deterministic, and
    * engine-independent, so the packed layout is replayable anywhere.
    * All arithmetic is integer, hence engine-exact.
    */
  def packSequences(df: DataFrame, keyCol: String, textCol: String,
                    seqLen: Int, shards: Int = 8): DataFrame = {
    require(seqLen > 0 && shards > 0, "packSequences: seqLen and shards must be positive")
    val b = bucket(df, keyCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(b, col(keyCol))
    df.withColumn("shard", (b % shards).cast("int"))
      .withColumn("n_tokens",
        size(graft.text.Text.tokens(col(textCol))).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("__end", sum(col("n_tokens")).over(w))
      .withColumn("__start", col("__end") - col("n_tokens"))
      .select(col(keyCol), col("shard"), col("n_tokens").cast("int").as("n_tokens"),
        floor(col("__start") / seqLen).as("seq_first"),
        (col("__start") % seqLen).as("off_in_seq"),
        (floor((col("__end") - 1) / seqLen) - floor(col("__start") / seqLen) + 1)
          .cast("int").as("n_seqs"))
  }

  /** DuckDB oracle twin of [[packSequences]]. */
  def packSequencesSql(table: String, keyCol: String, textCol: String,
                       seqLen: Int, shards: Int = 8): String =
    s"""WITH toks AS (
         SELECT $keyCol,
                cast(${bucketSql(keyCol)} % $shards as int) AS shard,
                cast(len(string_split_regex(trim(lower($textCol)),
                  '${graft.text.Text.wsRe}')) as bigint) AS n_tokens,
                ${bucketSql(keyCol)} AS b
         FROM $table),
       cum AS (
         SELECT *, sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY b, $keyCol) AS e
         FROM toks WHERE n_tokens > 0)
     SELECT $keyCol, shard, cast(n_tokens as int) AS n_tokens,
            cast(floor((e - n_tokens) / $seqLen) as bigint) AS seq_first,
            cast((e - n_tokens) % $seqLen as bigint) AS off_in_seq,
            cast(floor((e - 1) / $seqLen)
              - floor((e - n_tokens) / $seqLen) + 1 as int) AS n_seqs
     FROM cum"""

  /** Corpus composition report: per-source document / token / character
    * counts plus parts-per-million shares — the mixture table every
    * selection decision ([[mixRebalance]], [[temperatureMix]],
    * [[tokenBudget]]) starts from, and the number a pipeline prints
    * before and after every cleaning stage. Shares are integer ppm
    * (`n * 1_000_000 div total`): engine-exact, no float division.
    *
    * Scale shape: ONE corpus scan with a partial-combined per-source
    * aggregate; the totals come from an unpartitioned window over that
    * aggregate's |sources| rows (bounded — one source list fits one
    * partition by definition), so the corpus is never scanned twice and
    * never shuffles beyond the per-source combine.
    */
  def sourceStats(df: DataFrame, sourceCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val per = df
      .select(col(sourceCol),
        size(graft.text.Text.tokens(col(textCol))).cast("long").as("__t"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // ppm products in decimal: bigint n_tokens * 1e6 overflows Long
    // around 9e12 total tokens — inside 100 TB corpus range
    per.withColumn("__td", sum(col("n_docs")).over(all))
      .withColumn("__tt", sum(col("n_tokens")).over(all))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("cast(n_docs as decimal(38,0)) * 1000000" +
          " div cast(__td as decimal(38,0))").as("doc_ppm"),
        expr("cast(n_tokens as decimal(38,0)) * 1000000" +
          " div cast(__tt as decimal(38,0))").as("tok_ppm"))
  }

  /** DuckDB oracle twin of [[sourceStats]]. */
  def sourceStatsSql(table: String = "documents",
                     sourceCol: String = "source",
                     textCol: String = "text"): String =
    s"""WITH per AS (
         SELECT $sourceCol,
                cast(count(*) as bigint) AS n_docs,
                cast(sum(len(string_split_regex(trim(lower($textCol)),
                  '${graft.text.Text.wsRe}'))) as bigint) AS n_tokens,
                cast(sum(length($textCol)) as bigint) AS n_chars
         FROM $table GROUP BY $sourceCol)
       SELECT $sourceCol, n_docs, n_tokens, n_chars,
              cast(cast(n_docs as hugeint) * 1000000
                // (SELECT sum(n_docs) FROM per) as bigint) AS doc_ppm,
              cast(cast(n_tokens as hugeint) * 1000000
                // (SELECT sum(n_tokens) FROM per) as bigint) AS tok_ppm
       FROM per"""
}
