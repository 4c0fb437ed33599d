package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.{ColumnSpec, TableConfig}
import graft.config.Checkpoints.CutSyntax

/** Config-driven ETL core: the Spark-first re-expression of the reference's
  * table load / create / copy / index / diff / dedup surface.
  *
  * Every operator is a pure `DataFrame => DataFrame` (or reader) so chains
  * stay one Catalyst plan: projection pruning and predicate pushdown reach
  * the parquet scan no matter how many operators compose. Nothing here
  * collects to the driver — all operators are safe at 100 TB.
  */
object Etl {

  /** Map a reference SQL type name to a Spark cast target.
    * (reference: create_table.R vars map — VARCHAR(x)/INTEGER/BIGINT/
    * NUMERIC/DATE/DATETIME...)
    */
  def sparkType(sqlType: String): String = {
    val t = sqlType.trim.toUpperCase
    if (t.startsWith("VARCHAR") || t.startsWith("NVARCHAR") || t.startsWith("CHAR")) "string"
    else if (t.startsWith("INTEGER") || t == "INT") "int"
    else if (t.startsWith("BIGINT")) "bigint"
    else if (t.startsWith("SMALLINT")) "smallint"
    else if (t.startsWith("TINYINT")) "tinyint"
    else if (t.startsWith("NUMERIC") || t.startsWith("DECIMAL")) {
      val args = t.dropWhile(_ != '(')
      if (args.nonEmpty) "decimal" + args else "decimal(18,2)"
    }
    else if (t.startsWith("FLOAT") || t.startsWith("DOUBLE")) "double"
    else if (t.startsWith("REAL")) "float"
    else if (t == "DATE") "date"
    else if (t.startsWith("DATETIME") || t.startsWith("TIMESTAMP")) "timestamp"
    else if (t.startsWith("BIT") || t.startsWith("BOOL")) "boolean"
    else if (t.startsWith("VARBINARY") || t.startsWith("BINARY")) "binary"
    else "string"
  }

  /** `load_table_from_file` / `create_table` core: conform a frame to the
    * config's ordered column list, casting each column to its declared
    * type. Missing columns materialize as typed NULLs (the reference pads
    * year-specific columns the same way, load_table_from_file.R:641-647).
    * This is a single projection — Catalyst prunes unreferenced source
    * columns out of the scan.
    */
  def conform(df: DataFrame, vars: Seq[ColumnSpec]): DataFrame = {
    val existing = df.columns.toSet
    val cols = vars.map { c =>
      if (existing.contains(c.name)) col(c.name).cast(sparkType(c.sqlType)).as(c.name)
      else lit(null).cast(sparkType(c.sqlType)).as(c.name)
    }
    df.select(cols: _*)
  }

  /** Empty typed frame from a config — `create_table` without a source. */
  def createTable(spark: SparkSession, vars: Seq[ColumnSpec]): DataFrame = {
    val schema = StructType(vars.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name, org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(sparkType(c.sqlType)), nullable = true)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** `load_table_from_file(ind_yr=TRUE, combine_yr=TRUE)`: union
    * year-partitioned frames by NAME, padding columns absent in a given
    * year with NULL (reference: load_table_from_file.R:557-666 builds
    * `SELECT ..., NULL AS missing_col ... UNION ALL ...`).
    * `unionByName(allowMissingColumns=true)` is the Spark-native
    * equivalent: a metadata-only union, no shuffle.
    */
  def combineYears(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** `load_table_from_sql(truncate_date=TRUE)`: incremental load = archive
    * rows strictly before the cutpoint plus new rows at/after it
    * (reference: load_table_from_sql.R:63-76). Both filters are pushed to
    * the scans; on a date-partitioned lake layout this prunes partitions.
    */
  def incrementalLoad(archive: DataFrame, fresh: DataFrame,
                      dateVar: String, cutpoint: Column): DataFrame =
    archive.filter(col(dateVar) < cutpoint)
      .unionByName(fresh.filter(col(dateVar) >= cutpoint))

  /** `copy_into`: lake→warehouse ingest with load-audit columns
    * (reference: copy_into.R). Audit values must be deterministic for
    * replay: the batch id is caller-supplied (not wall-clock) and the row
    * id is a 62-bit content fingerprint of the id columns — stable across
    * partition layouts, unlike `monotonically_increasing_id()`. It
    * identifies CONTENT: duplicate source rows share it by design
    * (replay/dedup idempotence); give `idCols` a business key when
    * per-row uniqueness is required.
    */
  def copyInto(source: DataFrame, batchId: String,
               idCols: Seq[String] = Nil): DataFrame = {
    val cols = if (idCols.nonEmpty) idCols else source.columns.toSeq
    // coalesce each column to a chr(1) sentinel BEFORE the join:
    // concat_ws SKIPS nulls, so (a, null, b) and (a, b, null) would
    // otherwise render to the same 'a|b' — an audit fingerprint that
    // cannot see a null-shift is not an audit. chr(1) spells and hashes
    // identically in Spark and DuckDB and cannot occur in real text.
    val rendered = "concat_ws('|', " +
      cols.map(c => s"coalesce(cast(`$c` as string), chr(1))")
        .mkString(", ") + ")"
    source
      .withColumn("etl_batch_id", lit(batchId))
      .withColumn("etl_load_row",
        expr(graft.dedup.MinHashSpec.fingerprint62Expr(source.sparkSession, rendered)))
  }

  /** `add_index`: the Spark-native meaning of a clustered index is physical
    * layout — range-partition by the index keys and sort within partitions
    * so downstream range scans and merge joins read clustered data
    * (reference: add_index.R:238-247 CREATE CLUSTERED [COLUMNSTORE] INDEX).
    * Parquet min/max page stats then give the same skipping behavior a
    * columnstore index provides.
    */
  def clusterBy(df: DataFrame, keys: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    df.repartitionByRange(kcols: _*).sortWithinPartitions(kcols: _*)
  }

  /** Z-order (Morton) key over non-negative integer columns, `bits` low
    * bits each: bit i of column j lands at output bit i·m + (m−1−j) for
    * m columns — the bit-interleaved curve index behind multi-dimension
    * data clustering (Delta/Iceberg OPTIMIZE ZORDER). [[clusterBy]] on
    * the single interleaved key then gives parquet min/max locality on
    * EVERY participating column at once, where linear clustering keys
    * only the leading column (see the layout spec for the measured
    * per-file range comparison). Pure integer arithmetic — the gate's
    * oracle reproduces it exactly. Callers bucketize non-integer
    * columns first (the curve needs a bounded non-negative domain).
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits > 0 && bits * cols.size <= 62,
      s"zorderKey: need 1+ columns and bits*cols <= 62")
    val m = cols.size
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        // bit i of column j -> output bit i*m + (m-1-j)
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * m + (m - 1 - j))
      }
    }.reduce(_ + _)
  }

  /** DuckDB oracle twin of [[zorderKey]] — identical bit placement. */
  def zorderKeySql(cols: Seq[String], bits: Int): String = {
    val m = cols.size
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        s"(((cast($c as bigint) >> $i) & 1) << ${i * m + (m - 1 - j)})"
      }
    }.mkString(" + ")
  }

  /** `table_duplicate`: copy with row-count verification metadata
    * (reference: table_duplicate.R:231-237 SELECT * + row-count compare).
    * Returns (copy, qa) — qa is a 1-row frame with the source count.
    */
  def tableDuplicate(df: DataFrame): (DataFrame, DataFrame) =
    (df, df.agg(count(lit(1)).as("row_cnt")))

  /** Order-independent table checksum: Σ H(row) mod P over a canonical
    * row rendering — the scale-grade upgrade of the reference's
    * row-count copy verification (equal counts can still hide divergent
    * rows; equal checksums can't, short of collisions). One pass, one
    * scalar out; two sides of a copy compare checksums without moving
    * data. Cross-engine: DuckDB computes the identical value (see
    * [[rowChecksumSql]]).
    */
  def rowChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    // Sum in decimal(38,0), then reduce mod P: well-defined at any row
    // count (a raw bigint sum would wrap past ~2^33 rows, diverging from
    // the DuckDB twin's HUGEINT sum).
    df.select(expr(graft.dedup.MinHashSpec.hpExpr(df.sparkSession,
        "concat_ws('|', " + cols.map(c =>
          s"coalesce(cast($c as string), chr(1))").mkString(", ") + ")"))
        .as("__h"))
      .agg(
        (sum(col("__h").cast("decimal(38,0)")) % graft.dedup.MinHashSpec.P)
          .cast("bigint").as("checksum"),
        count(lit(1)).as("row_cnt"))
  }

  /** DuckDB twin of [[rowChecksum]] (HUGEINT sum, same final mod P). */
  def rowChecksumSql(table: String, cols: Seq[String]): String = {
    val rendered = "concat_ws('|', " +
      cols.map(c => s"coalesce(cast($c as varchar), chr(1))")
        .mkString(", ") + ")"
    s"""SELECT cast(sum(cast(md5_number_lower($rendered) % ${graft.dedup.MinHashSpec.P} as bigint)) % ${graft.dedup.MinHashSpec.P} as bigint) AS checksum,
              count(*) AS row_cnt
       FROM $table"""
  }

  /** `external_table_check` / address-table `sync`: symmetric difference of
    * two tables, tagged by side (reference: external_table_check.R:50-100,
    * deduplicate_addresses.R sync()). Implemented as two hash anti-joins —
    * one shuffle per side on the full-row hash, no driver collection.
    */
  def tableDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.toSeq
    // Null-safe (<=>) per-column condition: a row containing NULLs still
    // matches its identical twin (EqualTo would report it on both sides).
    def anti(l: DataFrame, r: DataFrame): DataFrame = {
      val lt = l.alias("__dl")
      val rt = r.alias("__dr")
      val cond = cols.map(c => col(s"__dl.$c") <=> col(s"__dr.$c")).reduce(_ && _)
      lt.join(rt, cond, "left_anti")
    }
    anti(a, b).withColumn("diff_side", lit("left_only"))
      .unionByName(anti(b, a).withColumn("diff_side", lit("right_only")))
  }

  /** `deduplicate_addresses` two-sided sync(): anti-join each way, then
    * apply the rows missing from each side to that side (reference:
    * deduplicate_addresses.R:112-124 — collect rows absent from ref /
    * absent from source, insert into both). Null-safe row comparison
    * throughout (NULL-bearing identical rows are not diffs). Two
    * anti-joins total, each consumed once — no caching needed.
    *
    * Row-SET convergence: after sync both sides contain the same set of
    * distinct rows. As in the reference (which dedups before syncing),
    * inputs are expected deduplicated; duplicate rows WITHIN a side are
    * preserved there and not replicated to the other side.
    */
  def sync(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val cols = a.columns.toSeq
    def anti(l: DataFrame, r: DataFrame): DataFrame = {
      val lt = l.alias("__sl")
      val rt = r.alias("__sr")
      val cond = cols.map(c => col(s"__sl.$c") <=> col(s"__sr.$c")).reduce(_ && _)
      lt.join(rt, cond, "left_anti")
    }
    (a.unionByName(anti(b, a)), b.unionByName(anti(a, b)))
  }

  /** `deduplicate_addresses` dedup(): keep exactly one row per key,
    * preferring the most recent by `orderCol` (reference:
    * deduplicate_addresses.R:72-106 — sort by (key, last_run), keep first).
    * One shuffle on the key; ties broken deterministically by the full
    * ordering so reruns are stable.
    */
  def dedupKeepLatest(df: DataFrame, keys: Seq[String],
                      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Merge/upsert without a table format: rows from `updates` replace
    * target rows with the same key; ties resolved by `orderCols` max
    * (updates win when strictly newer). This is `load_table_from_sql`'s
    * effective semantics (replace the slice being reloaded) expressed as
    * one union + one keep-latest aggregation — no per-row lookups, scales
    * as a single shuffle on the key.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String],
             orderCols: Seq[String]): DataFrame = {
    val tagged = target.withColumn("__src_rank", lit(0))
      .unionByName(updates.withColumn("__src_rank", lit(1)),
        allowMissingColumns = true)
    dedupKeepLatestByMax(tagged, keys, orderCols :+ "__src_rank")
      .drop("__src_rank")
  }

  /** Sort-free variant of [[dedupKeepLatest]]: when the ordering columns
    * are all descending-max (the reference's "keep newest" policy), the
    * winner per key is `max_by(row, order_struct)` — one shuffle with
    * partial aggregation, no per-partition sort. At 100 TB this halves
    * the dedup cost vs the window version. The order struct must make
    * the winner unique (or remaining ties must be identical rows).
    */
  def dedupKeepLatestByMax(df: DataFrame, keys: Seq[String],
                           orderCols: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains).toSeq
    val rowStruct = struct(valueCols.map(col): _*)
    val ordStruct = struct(orderCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(rowStruct, ordStruct).as("__row"))
      .select(keys.map(col) ++ valueCols.map(c => col(s"__row.$c")): _*)
  }

  /** Slowly-changing-dimension type-2 history build: collapse a change
    * stream into validity intervals per key. Consecutive rows (in
    * `tsCol`+`tieCols` order) with identical `attrCols` merge into one
    * interval; each interval is valid from its first row's timestamp
    * until the next attribute change (open-ended for the current state).
    * The reference's load pipelines keep only the latest row per key
    * ([[dedupKeepLatest]]); this is the full-history counterpart a
    * warehouse load needs when the target is versioned.
    *
    * Shape: one shuffle on the keys; both window passes share the same
    * partitioning + sort so the second adds no exchange. Null-safe
    * change detection via a struct `<=>` so NULL attribute values
    * compare like values, not like SQL unknowns.
    */
  def scd2(df: DataFrame, keys: Seq[String], attrCols: Seq[String],
           tsCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieCols).map(col): _*)
    val attrs = struct(attrCols.map(col): _*)
    val starts = df
      .withColumn("__chg", !(attrs <=> lag(attrs, 1).over(w)))
      .filter(col("__chg")).drop("__chg")
    starts
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
  }

  /** Point-in-time query over an [[scd2]] history: the rows valid AT
    * `asOf` (valid_from ≤ t, valid_to > t or open) — "what did the
    * dimension look like on date X", the query an SCD2 table exists to
    * answer. Pure filter on the history — scan-speed, and when the
    * history is stored partitioned/clustered on the validity columns
    * the scan prunes to the relevant slices.
    */
  def scd2AsOf(history: DataFrame, asOf: Column,
               fromCol: String = "valid_from",
               toCol: String = "valid_to"): DataFrame =
    history.filter(col(fromCol) <= asOf &&
      (col(toCol).isNull || col(toCol) > asOf))

  /** `table_duplicate_delete`: drop tables whose name matches a suffix
    * pattern — catalog-level operation, modeled over the session catalog.
    */
  def tablesWithSuffix(spark: SparkSession, suffix: String): Seq[String] =
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.endsWith(suffix)).toSeq

  /** Drop every catalog table/view with the given suffix; returns the
    * names dropped (reference: table_duplicate.R:467+ deletes tables whose
    * name matches the `_copy`-style suffix pattern).
    */
  def dropTablesWithSuffix(spark: SparkSession, suffix: String): Seq[String] = {
    val doomed = tablesWithSuffix(spark, suffix)
    doomed.foreach(t => spark.catalog.dropTempView(t))
    doomed
  }

  /** `external_table_check` schema drift: column-level comparison of two
    * schemas (reference: external_table_check.R:50-100 compares
    * INFORMATION_SCHEMA of external vs source table). Driver-side only —
    * schemas are metadata, never data.
    */
  def schemaDiff(spark: SparkSession, a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val am = a.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val bm = b.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val names = (a.schema.map(_.name) ++ b.schema.map(_.name)).distinct
    val rows = names.map { n =>
      val status = (am.get(n), bm.get(n)) match {
        case (Some(x), Some(y)) if x == y => "match"
        case (Some(_), Some(_)) => "type_mismatch"
        case (Some(_), None) => "left_only"
        case _ => "right_only"
      }
      Row(n, am.getOrElse(n, null), bm.getOrElse(n, null), status)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("column_name", StringType),
        StructField("left_type", StringType),
        StructField("right_type", StringType),
        StructField("status", StringType))))
  }

  /** `check_version` parity (reference: check_version.R — compares the
    * installed package version against the published one): pure dotted
    * version compare, no I/O. Returns (isCurrent, message).
    */
  def checkVersion(local: String, remote: String): (Boolean, String) = {
    def parts(v: String): Seq[Int] =
      v.trim.split("[.-]").toSeq.map(p => p.takeWhile(_.isDigit))
        .filter(_.nonEmpty).map(_.toInt)
    val (l, r) = (parts(local), parts(remote))
    val cmp = l.zipAll(r, 0, 0).collectFirst {
      case (a, b) if a != b => a.compareTo(b)
    }.getOrElse(0)
    if (cmp >= 0) (true, s"version $local is current (latest $remote)")
    else (false, s"a newer version is available: $remote (yours: $local)")
  }

  /** Recreation DDL from a config — the Spark-SQL equivalent of the
    * reference's generated CREATE EXTERNAL TABLE script
    * (external_table_check.R:127, create_table.R:288).
    */
  def createTableDdl(schemaName: String, tableName: String,
                     vars: Seq[graft.config.ColumnSpec],
                     location: Option[String] = None): String = {
    val cols = vars.map(c => s"  ${c.name} ${sparkType(c.sqlType).toUpperCase}")
      .mkString(",\n")
    val using = location.map(l => s"\nUSING PARQUET\nLOCATION '$l'").getOrElse("\nUSING PARQUET")
    s"CREATE TABLE $schemaName.$tableName (\n$cols\n)$using"
  }

  /** Primary-key uniqueness audit — the other half of load-time
    * integrity QA next to [[fkCoverage]]: per candidate key, how many
    * distinct key values exist, how many are duplicated, how many rows
    * sit inside duplicate groups, and the worst multiplicity. One
    * map-side-combining groupBy on the key + one bounded aggregate.
    */
  def pkCheck(df: DataFrame, keys: Seq[String], name: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(lit(name).as("pk"),
        sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
        sum(when(col("__c") > 1, col("__c")).otherwise(0L))
          .as("n_rows_in_dups"),
        max(col("__c")).as("max_multiplicity"))

  /** Referential-integrity coverage for one foreign key: orphan fact
    * rows (fk value absent from the dimension — a broken load) AND
    * unreferenced dimension rows (no fact row points at them — not an
    * error, but the number a warehouse watches drift after partial
    * loads). One row out per FK; union several for the integrity
    * report. Shape: the fact side reduces to DISTINCT fk values before
    * any join (bounded by dim cardinality), both checks are anti-joins
    * on that bounded set.
    */
  def fkCoverage(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, name: String): DataFrame = {
    // ONE pass per side: total and miss count ride the same left join
    // (a count subquery per metric would re-scan each table per metric —
    // first cut measured 9 scans for a 2-FK report). Key sets are
    // materialized once; dim keys are unique (PK), so the left joins
    // never multiply rows.
    // dimKeys is consumed twice (both sides) → materialized once;
    // factKeys has ONE consumer, a checkpoint would be an extra eager
    // job for no reuse. coalesce: sum over zero rows is NULL, the
    // oracle's count form gives 0 — empty inputs must agree.
    val factKeys = fact.select(col(factKey).as("__k")).distinct()
    val dimKeys = dim.select(col(dimKey).as("__k")).cutLineage()
    val factSide = fact.select(col(factKey).as("__k"))
      .join(dimKeys.withColumn("__hit", lit(1)), Seq("__k"), "left")
      .agg(count(lit(1)).as("n_fact"),
        coalesce(sum(when(col("__hit").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_orphans"))
    val dimSide = dimKeys
      .join(factKeys.withColumn("__ref", lit(1)), Seq("__k"), "left")
      .agg(count(lit(1)).as("n_dim"),
        coalesce(sum(when(col("__ref").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_dim_unreferenced"))
    factSide.crossJoin(dimSide)
      .select(lit(name).as("fk"), col("n_fact"), col("n_orphans"),
        col("n_dim"), col("n_dim_unreferenced"))
  }

  /** Config-driven row validation — the load-time data-quality gate of
    * the reference's QA-on-load step (qa_load_sql parity, generalized):
    * each rule is (name, predicate); a row VIOLATES a rule when the
    * predicate is false OR null (the conservative reading — an
    * unevaluable check is a failure, so NULL-laden rows can't slip
    * through a `> 0` rule). Output: one audit row per input row with
    * the violation count and the comma-joined names of failed rules in
    * declared order — filter `n_fails > 0` for the quarantine frame,
    * aggregate for the per-rule report. Pure projection: one scan, no
    * shuffle, scan-speed at any size.
    */
  def validateRows(df: DataFrame, keyCols: Seq[String],
                   rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "validateRows: at least one rule")
    val viols = rules.map { case (name, pred) =>
      when(coalesce(pred, lit(false)), lit(null).cast("string")).otherwise(lit(name))
    }
    df.select(
      keyCols.map(col) :+
        concat_ws(",", viols: _*).as("fail_rules") :+
        viols.map(v => when(v.isNotNull, 1).otherwise(0)).reduce(_ + _)
          .as("n_fails"): _*)
  }

  /** Per-rule violation summary over [[validateRows]]' audit frame —
    * bounded output (one row per rule), one map-side-partial aggregate.
    */
  def validateSummary(audit: DataFrame, rules: Seq[String]): DataFrame = {
    val aggs = rules.map(r =>
      sum(when(array_contains(split(col("fail_rules"), ","), r), 1L)
        .otherwise(0L)).as(s"__v_$r"))
    val wide = audit.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = rules.map(r => s"'$r', __v_$r").mkString(", ")
    wide.select(col("__n"),
        expr(s"stack(${rules.size}, $stackArgs) as (rule, n_violations)"))
      .select(col("rule"), col("n_violations"), col("__n").as("n_checked"))
  }
}
