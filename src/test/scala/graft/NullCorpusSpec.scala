package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Hostile-corpus robustness sweeps: a production pipeline WILL ingest
  * rows with missing, empty, ragged, or NaN payloads, and at 100 TB a
  * single unguarded NPE (or a codegen null-deref in a native
  * expression) kills an hours-long job. The targeted NULL-contract
  * specs (TextDedup/Streaming/Similarity) pin the row-accounting
  * semantics for ops where hostile handling is part of the CONTRACT;
  * this suite pins the weaker but universal property for the whole
  * surface: every batch query that reads a dirty table must EXECUTE —
  * no exception, no codegen crash — when that table carries hostile
  * rows.
  *
  * Coverage discovers itself from the plans (any query whose analyzed
  * plan scans the staged table's parquet is executed), so new
  * operators join the sweep automatically. The three dirty tables a
  * real deployment distrusts are swept: documents (crawl text),
  * embeddings (encoder output), events (client telemetry). The TPC-H
  * relational tables are NOT-NULL by schema contract and stay clean.
  */
class NullCorpusSpec extends SparkSpec {

  /** Stage a copy of sf0.001 where `table`.parquet is the real table
    * plus `hostile(realDf)` rows appended; every other table symlinks
    * to the real dir.
    */
  private def stageHostile(table: String)
                          (hostile: DataFrame => DataFrame): String = {
    val dir = tempDir("graft_hostile_")
    val real = spark.read.parquet(s"$sfDir/$table.parquet")
    real.unionByName(hostile(real)).coalesce(1)
      .write.parquet(s"$dir/$table.parquet")
    Files.list(Paths.get(sfDir)).forEach { p =>
      val name = p.getFileName.toString
      if (name != s"$table.parquet")
        Files.createSymbolicLink(Paths.get(dir, name), p): Unit
    }
    dir
  }

  private def readsStaged(df: DataFrame, dir: String,
                          table: String): Boolean =
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
          .exists(_.toString.contains(s"$dir/$table.parquet"))
        case _ => false
      }
    }.exists(identity)

  /** Execute every batch query that reads `table` from the staged dir
    * (plus any whose name `alwaysRun` forces); return (swept, failures).
    */
  private def sweep(dir: String, table: String,
                    alwaysRun: String => Boolean = _ => false)
      : (Int, Seq[String]) = {
    val names = SparkEntry.gates.keys.toSeq
      .filterNot(_.startsWith("stream_"))
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var swept = 0
    for (name <- names) {
      try {
        val df = SparkEntry.gates(name).build(spark, dir).frame
        if (readsStaged(df, dir, table) || alwaysRun(name)) {
          swept += 1
          df.queryExecution.toRdd.count(): Unit
        }
      } catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName} ${
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString}"
      }
    }
    (swept, failures.toSeq)
  }

  test("every documents-reading batch query executes on a corpus with " +
    "null/empty/whitespace text") {
    val dir = stageHostile("documents") { docs =>
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      spark.createDataFrame(
        java.util.Arrays.asList(
          Row(maxId + 1, null, "en", "hostile", 0L),
          Row(maxId + 2, "", "en", "hostile", 0L),
          Row(maxId + 3, "   ", "en", "hostile", 3L)),
        docs.schema)
    }
    // zst gates read staged shards, not documents.parquet, but their
    // builders stage FROM the hostile corpus — always execute them.
    val (swept, failures) = sweep(dir, "documents", _.contains("zst"))
    // the documents surface is ~half the suite; a sweep that silently
    // matched nothing would be a green lie
    assert(swept >= 40, s"sweep matched only $swept queries — " +
      "discovery broke, not the operators")
    assert(failures.isEmpty,
      s"null-hostile corpus crashed ${failures.size} queries:\n" +
        failures.mkString("\n"))
  }

  test("null-id+null-text rows raise the identity contract instead of " +
    "silently dropping or collapsing") {
    import spark.implicits._
    // null id with REAL text: hashes fine, row survives the class join
    val okRows = Seq((Option(1L), Option("alpha beta")),
      (Option.empty[Long], Option("alpha beta")),
      (Option(3L), Option.empty[String]))
      .toDF("doc_id", "text")
    assert(graft.dedup.Dedup.exact(okRows).count() == 3)
    // null id AND null text: no identity — loud error, not silent loss
    val bad = Seq((Option.empty[Long], Option.empty[String]))
      .toDF("doc_id", "text")
    val eBatch = intercept[Exception] {
      graft.dedup.Dedup.exact(bad).collect()
    }
    assert(eBatch.getMessage.contains("no identity")
      || Option(eBatch.getCause).exists(_.getMessage.contains("no identity")))
    // streaming twin: dedupDocsNormalized keys through the SAME shared
    // surrogateKey helper — exercise it batch-side with its arguments
    val keyed = bad.withColumn("__text_hash",
      graft.dedup.Dedup.surrogateKey(
        md5(graft.text.Text.normalize(col("text"))),
        col("doc_id"), "dedupDocsNormalized"))
    val eStream = intercept[Exception] { keyed.collect() }
    assert(eStream.getMessage.contains("no identity")
      || Option(eStream.getCause).exists(_.getMessage.contains("no identity")))
  }

  test("every embeddings-reading batch query executes with null/empty/" +
    "ragged/NaN vectors present") {
    val dir = stageHostile("embeddings") { emb =>
      val maxId = emb.agg(max("vec_id")).head().getLong(0)
      val base = emb.orderBy("vec_id").limit(1)
      base.select(lit(maxId + 1).as("vec_id"),
          expr("cast(null as array<float>)").as("embedding"), col("label"))
        .unionByName(base.select(lit(maxId + 2).as("vec_id"),
          expr("slice(embedding, 1, 0)").as("embedding"), col("label")))
        .unionByName(base.select(lit(maxId + 3).as("vec_id"),
          expr("slice(embedding, 1, 32)").as("embedding"), col("label")))
        .unionByName(base.select(lit(maxId + 4).as("vec_id"),
          expr("transform(embedding, x -> cast('NaN' as float))")
            .as("embedding"), col("label")))
    }
    val (swept, failures) = sweep(dir, "embeddings")
    assert(swept >= 15, s"sweep matched only $swept queries — " +
      "discovery broke, not the operators")
    assert(failures.isEmpty,
      s"hostile embeddings crashed ${failures.size} queries:\n" +
        failures.mkString("\n"))
  }

  test("every events-reading batch query executes with null ts/user/" +
    "type/props rows present") {
    val dir = stageHostile("events") { ev =>
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val base = ev.orderBy("event_id").limit(1)
      def rowWith(id: Long, nullCol: String): DataFrame =
        base.select(ev.columns.map {
          case "event_id" => lit(id).as("event_id")
          case c if c == nullCol =>
            lit(null).cast(ev.schema(c).dataType).as(c)
          case c => col(c)
        }.toSeq: _*)
      // extreme-but-valid event times (clock skew / epoch bugs in
      // producers): must flow through truncation, windows, and lag
      // arithmetic without ANSI overflow
      def tsWith(id: Long, tsLit: String): DataFrame =
        base.select(ev.columns.map {
          case "event_id" => lit(id).as("event_id")
          case "ts" => expr(s"timestamp'$tsLit'")
            .cast(ev.schema("ts").dataType).as("ts")
          case c => col(c)
        }.toSeq: _*)
      rowWith(maxId + 1, "ts")
        .unionByName(rowWith(maxId + 2, "user_id"))
        .unionByName(rowWith(maxId + 3, "event_type"))
        .unionByName(rowWith(maxId + 4, "props"))
        .unionByName(rowWith(maxId + 5, "value"))
        .unionByName(tsWith(maxId + 6, "1900-01-01 00:00:00"))
        .unionByName(tsWith(maxId + 7, "9999-12-31 23:59:59"))
    }
    val (swept, failures) = sweep(dir, "events")
    assert(swept >= 8, s"sweep matched only $swept queries — " +
      "discovery broke, not the operators")
    assert(failures.isEmpty,
      s"hostile events crashed ${failures.size} queries:\n" +
        failures.mkString("\n"))
  }
}
