package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Labels, Stats}

/** Sources & sinks (SURVEY §2.1 S1–S8), Spark-first.
  *
  * The reference loads whole CSVs into pandas; here every load is a lazy
  * scan so filters/column pruning reach the reader, and every "repair by
  * convention" (positional schemas, numeric coercion, constant-column
  * drops) is expressed as projections/aggregations over the scan.
  */
object Sources {

  /** S1 — power CSV scan: parse `time` → timestamp, global sort, state_bin.
    * Ref: load_power_data, func_aux/func_preproc.py:128-136. */
  def loadPower(spark: SparkSession, path: String, timeCol: String = "time"): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      .withColumn("timestamp", to_timestamp(col(timeCol)))
      .withColumn("state_bin", Labels.stateBin(col("State")))
      .orderBy("timestamp")

  /** S2 — host CSV scan+clean. Ref: load_and_clean_host_data,
    * func_aux/func_preproc.py:537-589. Positional schema: every column left
    * of `State` is an event counter; `time` excluded from features; all
    * event cols numeric-coerced (failures → null); constant columns
    * (nunique(dropna=False) <= 1) dropped; adds state_bin and a row-index
    * `timestamp` double.
    *
    * Returns (df, eventCols). The row-index timestamp needs a total order:
    * the reference uses file order — reproduced with the distributed
    * zipWithIndex ([[graft.ops.SlidingWindows.withGlobalIndex]]) over the
    * scan's monotonic id, so the load never funnels through one partition
    * (the id encodes (partition, offset), i.e. file order). */
  def loadHost(spark: SparkSession, path: String): (DataFrame, Seq[String]) = {
    val raw = spark.read.option("header", "true").csv(path)
    val names = raw.schema.fieldNames.toSeq
    val stateIdx = names.indexOf("State")
    require(stateIdx >= 0, "host CSV must contain a State column")
    val eventCandidates = names.take(stateIdx).filterNot(_ == "time")
    // pd.to_numeric(errors="coerce") parity: malformed → null, independent
    // of the session's ANSI setting.
    val coerced = eventCandidates.foldLeft(raw) { (d, c) =>
      d.withColumn(c, col(c).try_cast(DoubleType))
    }
    // all candidates are DoubleType after coercion, so the no-Expand
    // min/max form applies — at the reference's real ~900-column width
    // the k-countDistinct Expand is quadratic in k and OOMs (measured,
    // SCALE.md "Round 10"); parity with the exact form is spec-pinned
    val constant = Stats.constantColumnsFast(coerced, eventCandidates)
    val eventCols = eventCandidates.filterNot(constant.contains)
    val cleaned = rowIndexTimestamp(coerced.drop(constant: _*))
      .withColumn("state_bin", Labels.stateBin(col("State")))
    (cleaned, eventCols)
  }

  /** Row-index `timestamp` double (0-based original line order) without a
    * single-partition stage: distributed global index over the scan's
    * monotonic id. */
  private def rowIndexTimestamp(df: DataFrame): DataFrame =
    graft.ops.SlidingWindows
      .withGlobalIndex(df.withColumn("__mid", monotonically_increasing_id()),
        Seq(col("__mid")), "__ridx")
      .withColumn("timestamp", (col("__ridx") - 1).cast(DoubleType))
      .drop("__mid", "__ridx")

  /** S3 — network multi-file merge: read every csv in the dirs, tag
    * filename-derived label + evse + source_file, union, drop text cols,
    * dropna. Ref: preprocess_network_csvs,
    * pipelines_network/pipeline_trainingmodels_network.py:167-250. */
  def mergeNetworkCsvs(spark: SparkSession, evseADir: String, evseBDir: String,
      dropCols: Seq[String]): DataFrame = {
    def read(dir: String, evse: String): DataFrame =
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$dir/*.csv")
        .withColumn("source_file", input_file_name())
        .withColumn("label_mul_raw", Labels.filenameLabel(input_file_name()))
        .withColumn("evse", lit(evse))
    read(evseADir, "A").unionByName(read(evseBDir, "B"), allowMissingColumns = true)
      .drop(dropCols: _*)
      .na.drop()
  }

  /** S4 — network scan with time-column fallback chain: preferred column,
    * else `bidirectional_first_seen_ms`, else `timestamp`, else row index.
    * Ref: _load_network_dataframe, pipeline_trainingmodels_network.py:280-293. */
  def loadNetwork(spark: SparkSession, path: String, timeCol: String): DataFrame = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    val names = df.schema.fieldNames.toSet
    val withTime =
      if (names.contains(timeCol)) df.withColumn("timestamp", col(timeCol).try_cast(DoubleType))
      else if (names.contains("bidirectional_first_seen_ms"))
        df.withColumn("timestamp", col("bidirectional_first_seen_ms").try_cast(DoubleType))
      else if (names.contains("timestamp")) df.withColumn("timestamp", col("timestamp").try_cast(DoubleType))
      else rowIndexTimestamp(df)
    withTime.orderBy("timestamp")
  }

  /** S5 — windows Parquet sink/source (replaces windows.npz,
    * pipeline_trainingmodels_power.py:149-157): partitioned by split so
    * pipeline2/3 reloads prune to one split's files. */
  def writeWindows(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").partitionBy("split").parquet(dir)

  def readWindows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** S6 — JSON-sanitizing metric sink: NaN/±Inf → null on every double
    * column (func_aux/func_preproc.py:481-534), then a single JSON doc. */
  def sanitizeDoubles(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case DoubleType | FloatType =>
          d.withColumn(f.name,
            when(isnan(col(f.name)) || col(f.name).isin(Double.PositiveInfinity,
              Double.NegativeInfinity), lit(null)).otherwise(col(f.name)))
        case _ => d
      }
    }

  def writeMetricsJson(df: DataFrame, path: String): Unit =
    sanitizeDoubles(df).coalesce(1).write.mode("overwrite").json(path)

  /** S10 — newline-delimited JSON (JSONL) corpus reader with
    * corrupt-record quarantine: the standard interchange format for
    * web-scale text corpora (each line one document). PERMISSIVE parse
    * against the caller's schema; malformed lines land intact in
    * `_corrupt_record` with a `corrupt` flag — quarantine them to a dead
    * letter sink instead of silently dropping (a corpus loader that eats
    * lines biases every downstream count).
    *
    * Scale shape: one splittable TEXT scan + a per-line `from_json`
    * against the EXPLICIT schema — no inference pre-pass over 100 TB,
    * and no re-read for the quarantine path. (The direct
    * `spark.read.json` form hits Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN
    * restriction the moment a consumer filters on `corrupt` and selects
    * only the raw line — exactly the dead-letter flow — and the
    * documented workaround is caching the parse, a non-starter at
    * corpus scale. `from_json` has no such restriction, and Catalyst's
    * OptimizeJsonExprs still prunes the parse schema to the consumed
    * fields.) */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not pre-declare _corrupt_record")
    val full = schema.add("_corrupt_record", StringType)
    spark.read.text(path)
      .select(from_json(col("value"), full, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("__p"))
      .select(col("__p.*"))
      .withColumn("corrupt", col("_corrupt_record").isNotNull)
  }

  /** S8 — metrics harvest scan: recursive JSON glob + run_dir from the file
    * name, ready to join metrics ⋈ config by directory (J3).
    * Ref: load_all_metrics_flat, func_aux/func_plot.py:648-697. */
  def harvestJson(spark: SparkSession, root: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json").json(root)
      .withColumn("run_dir", regexp_extract(input_file_name(), "^(.*)/[^/]+$", 1))

  /** Bucketed-table sink — the co-located-join layout for 100 TB fact
    * tables: hash-bucketed (and optionally sorted) by the join/agg key,
    * so a join or aggregation between two tables bucketed the SAME way
    * (same columns, same `numBuckets`) runs with NO shuffle exchange —
    * the scan itself satisfies the partitioning requirement. The table
    * registers in the session catalog at an explicit `path` (external
    * table), because bucket metadata lives in the catalog, not the
    * parquet footers. `BucketedJoinSpec` pins the exchange-free plan.
    *
    * The pre-write `repartition` on the bucket columns uses the SAME
    * murmur3 hash as the bucketing, so each task holds exactly one
    * bucket's rows → ONE file per bucket (not tasks×buckets small
    * files). `sortCols` lays each bucket file out sorted — Spark elides
    * the downstream sort only under the legacy
    * `bucketedTableScan.outputOrdering` flag, but the layout also serves
    * engines (and rowgroup skipping) that do exploit sorted buckets. */
  def writeBucketedTable(df: DataFrame, name: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && numBuckets > 0, "need bucket cols + buckets")
    val w = df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** S8 flattener — nested struct columns to flat `a_b_c` columns;
    * 2-element numeric arrays → `_low`/`_high` (func_plot.py:613-645). */
  def flattenStructs(df: DataFrame): DataFrame = {
    def expand(schema: StructType, prefix: String): Seq[Column] =
      schema.fields.toIndexedSeq.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val flat = (if (prefix.isEmpty) "" else prefix.replace(".", "_") + "_") + f.name
        f.dataType match {
          case s: StructType => expand(s, name)
          case ArrayType(t: NumericType, _) => Seq(
            element_at(col(name), 1).as(s"${flat}_low"),
            element_at(col(name), 2).as(s"${flat}_high"))
          case _ => Seq(col(name).as(flat))
        }
      }
    df.select(expand(df.schema, ""): _*)
  }
}
