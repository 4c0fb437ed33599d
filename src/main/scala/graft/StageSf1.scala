package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage a deterministic sf1 dataset (10× sf0.1) for REAL-DATA scale
  * evidence — the driver generates sf0.001/0.01/0.1 only, and the §8a
  * synthetic ScaleCheck tables measure operator shapes, not the full
  * oracle loop. This stager closes that loop: the staged tables feed
  * the SAME Verify + DuckDB-oracle sweep and Bench harness as the
  * driver SFs (both engines read the staged files, so the comparison is
  * self-consistent by construction).
  *
  * Construction = 10 key-shifted replicas of sf0.1, NOT naive
  * replication (§8 scale-evidence honesty rule: replication multiplies
  * duplicate-cluster sizes, so pair-emitting operators would measure
  * output explosion, not scaling):
  *  - every table's dense 0-based keys shift by replica × cardinality,
  *    FK-aligned (orders.o_custkey shifts exactly like customer's PK,
  *    lineitem's three FKs like their parents, events.user_id by the
  *    user range) — join selectivities and per-user/event structure are
  *    IDENTICAL to sf0.1, there are just 10× as many entities, which is
  *    what a larger SF of the same generator family looks like;
  *  - document TEXT gets a per-replica suffix token (replica 0 is
  *    byte-identical to sf0.1), so within-replica duplicate structure
  *    is preserved and nothing duplicates across replicas: the corpus
  *    dup RATE matches sf0.1 instead of every cluster growing 10×
  *    (null/empty text passes through untouched — degenerate rows must
  *    stay degenerate);
  *  - embeddings get a deterministic per-replica, per-dimension ±6e-3
  *    perturbation WRITTEN INTO the staged file (both engines read the
  *    same floats, so nothing cross-engine depends on the formula) —
  *    identical vectors across replicas would make every ANN top-k a
  *    10-way tie.
  *
  * Deterministic end to end: no RNG, no clock; rerunning overwrites
  * with identical values. Usage:
  *   runMain graft.StageSf1 [outDir=target/sf1] [replicas=10]
  */
object StageSf1 {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/sf1")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    // the embedding-perturbation uniqueness proof below only covers
    // |r1 - r2| < 13 (mod-13 residues); reps > 13 would silently
    // recreate the byte-equal ANN ties the stager exists to avoid
    require(reps >= 1 && reps <= 13,
      s"replicas=$reps out of the perturbation formula's proven range 1..13")
    val srcDir = "/root/testdata/sf0.1"
    val spark = Tables.session("graft-stage-sf1")
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame = Tables(spark, srcDir, name)

    /** key cardinality = max(key)+1 (all test keys are dense 0-based;
      * asserted so a generator change can't silently break FK shifts) */
    def card(df: DataFrame, key: String): Long = {
      val Array(mn, mx, n) = df.agg(min(col(key)), max(col(key)),
        count(lit(1))).head().toSeq.map(_.toString.toLong).toArray
      require(mn == 0 && mx == n - 1,
        s"$key not dense 0-based ($mn..$mx over $n rows)")
      n
    }

    /** 10 replicas in one pass: explode a replica index, shift each
      * listed key by r × its parent cardinality. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val exploded = df
        .withColumn("__r", explode(sequence(lit(0L), lit(reps - 1L))))
      shifts.foldLeft(exploded) { case (d, (c, n)) =>
        d.withColumn(c, col(c) + col("__r") * n)
      }
    }

    def write(df: DataFrame, name: String): Unit = {
      // the driver layout is one plain FILE per table (`name.parquet`),
      // and the DuckDB side of the oracle sweep reads exactly that path.
      // Row-group splitting keeps a single 60 MB file scan parallel.
      graft.sources.Sources.writeParquetFile(df.drop("__r"),
        new java.io.File(s"$outDir/$name.parquet"))
      println(s"[stage-sf1] $name staged")
    }

    val customer = src("customer"); val custN = card(customer, "c_custkey")
    val orders = src("orders"); val orderN = card(orders, "o_orderkey")
    val part = src("part"); val partN = card(part, "p_partkey")
    val supplier = src("supplier"); val suppN = card(supplier, "s_suppkey")
    val events = src("events"); val eventN = card(events, "event_id")
    val userN = events.agg(max(col("user_id"))).head().getLong(0) + 1
    val documents = src("documents"); val docN = card(documents, "doc_id")
    val embeddings = src("embeddings"); val vecN = card(embeddings, "vec_id")

    // fixed dims: byte-identical copies
    write(src("region"), "region")
    write(src("nation"), "nation")

    write(replicate(customer, "c_custkey" -> custN), "customer")
    write(replicate(supplier, "s_suppkey" -> suppN), "supplier")
    write(replicate(part, "p_partkey" -> partN), "part")
    write(replicate(orders,
      "o_orderkey" -> orderN, "o_custkey" -> custN), "orders")
    write(replicate(src("lineitem"),
      "l_orderkey" -> orderN, "l_partkey" -> partN,
      "l_suppkey" -> suppN), "lineitem")
    write(replicate(events,
      "event_id" -> eventN, "user_id" -> userN), "events")

    // documents: suffix token per replica (r>0, non-degenerate text
    // only) — preserves within-replica dup structure, no cross-replica
    // dups; n_chars tracks the new text length like the generator's
    write(replicate(documents, "doc_id" -> docN)
      .withColumn("text",
        when(col("__r") > 0 && col("text").isNotNull && col("text") =!= "",
          concat(col("text"), lit(" r"), col("__r")))
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(col("text").isNotNull, length(col("text")).cast("long"))
          .otherwise(col("n_chars"))),
      "documents")

    // embeddings: deterministic per-(replica, dimension) perturbation,
    // ±6e-3 — small against unit-ish vectors, large against float ulps,
    // so replicas are distinct points, not ANN ties
    // (mod-13 residues differ at EVERY dimension for any two replicas —
    // (r1-r2)*31 is never ≡ 0 mod 13 for 0<|r1-r2|<13 — so no two
    // replica vectors are equal; replica 0 is byte-identical to sf0.1)
    write(replicate(embeddings, "vec_id" -> vecN)
      .withColumn("embedding", when(col("__r") === 0, col("embedding"))
        .otherwise(expr(
          """transform(embedding, (e, j) ->
             cast(e + ((__r * 31 + j * 7) % 13 - 6) * 0.001d as float))"""))),
      "embeddings")

    spark.stop()
  }
}
