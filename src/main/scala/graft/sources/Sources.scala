package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.config.{ColumnSpec, TableConfig}
import graft.config.Checkpoints.CutSyntax
import graft.etl.Etl

/** File sources/sinks honoring the reference's load contract
  * (R/load_table_from_file.R): delimited files with configurable field
  * terminator (`field_term` → `sep`), row terminator (`row_term` →
  * `lineSep`), header skip (`first_row = 2` → header row present), and an
  * explicit column/type list (`vars`).
  *
  * Where BCP bulk-copies bytes into SQL Server pages, the Spark-native
  * meaning of "load" is a declarative scan: schema applied at read,
  * malformed rows quarantined via PERMISSIVE + corrupt-record column, and
  * the write side controls physical layout (partitioning/clustering)
  * instead of indexes. All of it streams through executors — no driver
  * materialization at any size.
  */
object Sources {

  /** Spark schema from a config's vars list. */
  def schemaOf(vars: Seq[ColumnSpec]): StructType = StructType(vars.map(c =>
    org.apache.spark.sql.types.StructField(c.name,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(Etl.sparkType(c.sqlType)), nullable = true)))

  private def delimitedReader(spark: SparkSession, cfg: TableConfig,
                              yearKey: String,
                              quarantine: Boolean = false): DataFrameReader = {
    val sep = cfg.fieldTerm.getOrElse(yearKey,
      cfg.fieldTerm.getOrElse("overall", "\t"))
    val rowTerm = cfg.rowTerm.get(yearKey).orElse(cfg.rowTerm.get("overall"))
    val schema =
      if (quarantine) schemaOf(cfg.allVars)
        .add("_corrupt_record", org.apache.spark.sql.types.StringType)
      else schemaOf(cfg.allVars)
    val r0 = spark.read
      .option("sep", sep)
      .option("header", cfg.firstRow > 1) // first_row=2 ⇒ line 1 is a header
      .option("mode", "PERMISSIVE")
      .schema(schema)
    val r = if (quarantine)
      r0.option("columnNameOfCorruptRecord", "_corrupt_record") else r0
    rowTerm.fold(r)(t => r.option("lineSep", t))
  }

  /** `load_table_from_file(overall=TRUE)`: one delimited file → one typed
    * frame per the config's vars. With `quarantine = true`, malformed
    * lines survive the load with their raw text in `_corrupt_record`
    * (typed columns NULL) instead of being silently nulled — callers
    * split the frame on `_corrupt_record IS NULL` into clean rows and a
    * quarantine table. The quarantined frame is returned MATERIALIZED by a
    * lineage cut (`Checkpoints`): Spark refuses queries that reference
    * only the internal corrupt-record column on a raw scan ("referencing
    * internal corrupt record column is not allowed"), so the frame must
    * be materialized before the split queries are legal. The cut (the
    * house policy for multi-consumer intermediates) reads the file
    * once and leaves NOTHING registered in the CacheManager — the
    * `.cache()` this replaces was never unpersisted, so every quarantine
    * load leaked a cache entry for the session's lifetime.
    */
  def loadDelimited(spark: SparkSession, cfg: TableConfig,
                    quarantine: Boolean = false): DataFrame = {
    val df = delimitedReader(spark, cfg, "overall", quarantine)
      .csv(cfg.filePath.getOrElse("overall",
        sys.error(s"config ${cfg.toTable}: no overall file_path")))
    if (quarantine) df.cutLineage() else df
  }

  /** `load_table_from_file(ind_yr=TRUE, combine_yr=TRUE)`: per-year files
    * (each with possibly different terminators and year-specific columns)
    * unioned by name with NULL padding. The union is metadata-only — each
    * file is still scanned exactly once, in parallel.
    */
  def loadYears(spark: SparkSession, cfg: TableConfig): DataFrame = {
    val frames = cfg.years.map { y =>
      val path = cfg.filePath.getOrElse(y.toString,
        sys.error(s"config ${cfg.toTable}: no file_path for year $y"))
      val yearCfg = cfg.copy(vars = cfg.varsForYear(y), yearVars = Map.empty)
      delimitedReader(spark, yearCfg, y.toString)
        .schema(schemaOf(yearCfg.vars)).csv(path)
    }
    Etl.combineYears(frames.map(f => Etl.conform(f,
      cfg.allVars.filter(c => f.columns.contains(c.name)))))
  }

  /** JSON source with explicit schema (schema-on-read, no inference scan). */
  def loadJson(spark: SparkSession, vars: Seq[ColumnSpec], path: String): DataFrame =
    spark.read.schema(schemaOf(vars)).json(path)

  /** `load_df_bcp` / table write: persist with explicit physical layout.
    * `clusterKeys` reproduces a clustered index (range partition + local
    * sort → parquet min/max page skipping); `partitionCols` gives
    * directory-level partition pruning. At 100 TB this is the difference
    * between a full scan and reading one partition.
    */
  def writeTable(df: DataFrame, path: String,
                 partitionCols: Seq[String] = Nil,
                 clusterKeys: Seq[String] = Nil,
                 mode: String = "overwrite",
                 format: String = "parquet",
                 compression: Option[String] = None): Unit = {
    val laid = if (clusterKeys.nonEmpty) Etl.clusterBy(df, clusterKeys) else df
    val w0 = laid.write.mode(mode).format(format)
    val w = compression.fold(w0)(c => w0.option("compression", c))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  /** Write `df` as ONE plain parquet file at `dest`: the frame coalesced
    * to a single part in a hidden sibling dir, whose part file is then
    * moved over `dest` (same directory, so the move is a rename). A
    * file-per-table layout is what a DuckDB view or a file stream
    * source that replays one file per trigger reads.
    */
  def writeParquetFile(df: DataFrame, dest: java.io.File): Unit = {
    val tmp = new java.io.File(dest.getParentFile, s".stage_${dest.getName}")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $dest"))
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } finally graft.Scratch.delete(tmp)
  }

  /** Stage a partition-layout copy of a test table through
    * [[graft.Scratch]] (built once per JVM, deleted at its exit): the
    * write side of [[writeTable]]'s `partitionCols` path, materialized
    * so the READ side's directory pruning is drivable end to end.
    * Returns the staged path.
    */
  def stagePartitioned(df: DataFrame, sfDir: String, table: String,
                       partitionCol: String): String =
    graft.Scratch.staged("part", sfDir, s"$table-by-$partitionCol") { dir =>
      writeTable(df, dir, partitionCols = Seq(partitionCol))
    }

  /** `copy_into` read side (reference: copy_into.R — `file_format`
    * parquet/csv/orc, `compression`, auto-`create_table` from config):
    * read the lake file in its declared format, conform to the config's
    * vars (the target "table" is created from the config — columns the
    * source lacks materialize as typed NULLs), stamp the audit columns.
    * Compression on read is self-describing for parquet/orc and
    * extension-detected for csv, matching COPY INTO's auto handling
    * (copy_into.R:100-103). Pair with [[writeTable]] (same format/
    * compression options) for the warehouse side.
    */
  def copyInto(spark: SparkSession, cfg: TableConfig, path: String,
               batchId: String, format: String = "parquet",
               idCols: Seq[String] = Nil): DataFrame = {
    val reader = spark.read.format(format)
    val raw = (format match {
      case "csv" => reader.schema(schemaOf(cfg.allVars))
        .option("header", cfg.firstRow > 1)
        .option("sep", cfg.fieldTerm.getOrElse("overall", "\t"))
      case _ => reader
    }).load(path)
    Etl.copyInto(Etl.conform(raw, cfg.allVars), batchId, idCols)
  }

  /** Load-around-index orchestration (reference: load_table_from_file.R
    * :124-125 `drop_index` before load, add_index after :348): bulk loads
    * are fastest into an UNCLUSTERED table, with the physical layout
    * rebuilt once at the end. Spark-native twin: append unclustered with
    * [[writeTable]](clusterKeys = Nil), then call this to rewrite the
    * table with clustered layout in one pass (write to a scratch path,
    * atomically swap via rename).
    */
  def reclusterTable(spark: SparkSession, path: String,
                     clusterKeys: Seq[String],
                     format: String = "parquet"): Unit = {
    val df = spark.read.format(format).load(path)
    val tmp = path + "__reclustered"
    writeTable(df, tmp, clusterKeys = clusterKeys, format = format)
    // Swap order keeps a complete copy of the data on disk at every
    // instant: old table is renamed ASIDE (not deleted) before the new
    // one takes its place, and only then removed. A crash between the
    // renames leaves `path__old` + `path__reclustered` — recoverable —
    // never an empty path. (True single-rename atomicity needs a
    // catalog/table-format pointer swap, out of scope for raw paths.)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(path)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(dst, old))
      sys.error(s"reclusterTable: rename $path -> $old failed")
    if (!fs.rename(src, dst)) {
      fs.rename(old, dst) // restore the original table before failing
      sys.error(s"reclusterTable: rename $tmp -> $path failed")
    }
    fs.delete(old, true): Unit
  }

  /** Compressed-corpus ingest: JSON-lines shards with an EXPLICIT
    * schema — the interchange format crawl corpora actually arrive in
    * (`*.jsonl`, `*.jsonl.gz`, `*.jsonl.zst`; one document object per
    * line). Registers [[ZstdCodec]] so `.zst` decodes by extension
    * exactly like the built-in `.gz`.
    *
    * Scale contract: the schema is REQUIRED — schema inference is a
    * full extra pass over the corpus, unaffordable at ingest scale and
    * nondeterministic across shards; PERMISSIVE mode + an explicit
    * `_corrupt_record` column quarantines malformed lines instead of
    * failing the load (the loadDelimited discipline). Neither gz nor
    * zst is splittable, so parallelism = shard count: corpora must
    * arrive as many bounded files (the standard crawl-dump layout),
    * never one giant archive.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                quarantine: Boolean = false): DataFrame = {
    ZstdCodec.register(spark.sparkContext.hadoopConfiguration)
    val full =
      if (quarantine)
        schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      else schema
    val r = spark.read.schema(full).option("mode", "PERMISSIVE")
    val df = (if (quarantine)
      r.option("columnNameOfCorruptRecord", "_corrupt_record") else r)
      .json(path)
    // same materialization rule as loadDelimited: queries touching only
    // the internal corrupt-record column are illegal on a raw scan
    if (quarantine) df.cutLineage() else df
  }

  /** The write side: one zstd-compressed JSON-lines shard per partition
    * — `repartition(n)` upstream controls the shard count (and thus the
    * read-side parallelism the non-splittable format allows).
    */
  def writeJsonlZst(df: DataFrame, path: String,
                    mode: String = "overwrite"): Unit = {
    ZstdCodec.register(df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode(mode)
      .option("compression", classOf[ZstdCodec].getName)
      .json(path)
  }
}
