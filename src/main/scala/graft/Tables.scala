package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the TPC-H-ish test schema (see TESTDATA.md).
  *
  * At cluster scale each of these would be a catalog table (or a path
  * prefix with partition discovery); here they are single parquet files.
  * Reads are lazy: projection and predicates applied by callers are
  * pushed into the scan by Catalyst, so every operator built on these
  * readers inherits column pruning + filter pushdown for free.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Normalize events.ts to session-tz TIMESTAMP regardless of how the
    // generator encoded it: parquet TIMESTAMP(NANOS) arrives as a
    // nanosecond long (spark.sql.legacy.parquet.nanosAsLong, set by
    // [[session]]); plain timestamp[us] with
    // isAdjustedToUTC=false arrives as TIMESTAMP_NTZ. Sessions run in
    // UTC, so the NTZ→LTZ cast is value-preserving.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      // integer `div`, NOT `/`: double division loses µs precision for
      // epoch-nanos beyond 2^51 (observed: ...885461000 ns → ...885460 µs)
      case Some(LongType) => df.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) => df.withColumn("ts",
        org.apache.spark.sql.functions.expr("cast(ts as timestamp)"))
      case _ => df
    }
  }

  /** The one session builder for graft's mains and specs: graft
    * extensions, UTC, nanos-as-long parquet, no UI. A fresh session gets
    * `local[cores]` with shuffle partitions sized to cores (AQE coalesces
    * further); an already-active session keeps its master and partition
    * count. `EntrySmoke` alone builds its own, extension-free session.
    */
  def session(appName: String = "graft", cores: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(graft.functions.GraftFunctions.register)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val withMaster =
      if (SparkSession.getActiveSession.isEmpty) b.master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
      else b
    withMaster.getOrCreate()
  }

  /** Between-query release: drops CacheManager entries AND every
    * persistent RDD. `clearCache()` alone leaves `localCheckpoint()`
    * blocks resident; over a 100+-query sweep they squeeze execution
    * memory until heavy queries spill (r6: text_repetition 3.88 s vs
    * 1.2-1.5 s in a clean JVM) and shift AQE plan choices for later
    * queries (qa_drift_psi flapped 6/7 exchanges in PlanAudit).
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
