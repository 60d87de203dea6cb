package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The columnar trade store — Spark-native equivalent of ClickHouse
 * `MergeTree ORDER BY time_placed` (`db/clickhouse/init.sql:14-15`,
 * SURVEY.md §2.5 D3):
 *
 *  - `partitionBy(trade_date)` → partition pruning for date-range queries
 *    (`PruneFileSourcePartitions`), the analogue of PK-granule pruning;
 *  - `sortWithinPartitions(trade_date, time_placed)` → every file is
 *    time-sorted, so parquet row-group min/max stats are tight on time and
 *    the trends query's pushed range filter skips row groups exactly like
 *    the MergeTree sparse index. The sort keys start with the partition
 *    column on purpose: Spark's planned write requires its input sorted on
 *    the `partitionBy` columns, and a time-only sort does not satisfy that,
 *    so the planner adds its own partition-column sort and the optimizer
 *    drops the inner time sort as redundant. Led by `trade_date`, the one
 *    sort satisfies both and survives into the files;
 *  - dictionary encoding of the low-cardinality currency/country columns
 *    (`init.sql:6,7,11`) is automatic in parquet.
 *
 * Files: `write` range-partitions on (date, time); `writeBatch`
 * rebalances on `trade_date`, so AQE writes a small micro-batch as one
 * file per date directory and splits a large one at its advisory
 * partition size.
 *
 * At 100 TB: writes shuffle once on trade_date (bounded cardinality:
 * days), each partition writes independently; no global sort. Skewed
 * hot days are split by the `repartitionByRange` extra key.
 */
object TradeStore {

  /** Batch append in the date-partitioned, time-sorted layout. Range
    * partitioning on (date, time) rather than hashing on date alone spreads
    * hot dates over several tasks while keeping each one time-clustered;
    * the (date, time) sort is the one the planned write keeps (see the
    * header), so every file it writes is sorted on `time_placed`. */
  def write(trades: DataFrame, path: String): Unit =
    trades
      .withColumn("trade_date", to_date(col("time_placed")))
      .repartitionByRange(col("trade_date"), col("time_placed"))
      .sortWithinPartitions(col("trade_date"), col("time_placed"))
      .write
      .partitionBy("trade_date")
      .mode("append")
      .parquet(path)

  /**
   * Idempotent variant for streaming foreachBatch: each micro-batch lands
   * in its own `batch_id=N` partition with dynamic overwrite, so replaying
   * a batch after a crash REPLACES its previous (possibly partial) output
   * instead of appending a duplicate — upgrading the pipeline from the
   * reference's at-least-once (SURVEY §2.4 ST2: offsets committed after
   * insert, duplicates possible) to effective exactly-once. The batch id
   * is Spark's checkpointed epoch, stable across restarts.
   *
   * Shape: the rebalance on `trade_date` gives one writer task per date
   * rather than one per input partition (one per `MemoryStream` chunk or
   * Kafka partition), so file setup, footer, task commit and rename are
   * paid once per date. AQE sizes it with no knob of its own: a small
   * batch coalesces to one file per date directory, a large one splits at
   * the advisory partition size. `batch_id` is a literal, so the (date,
   * time) sort also meets the planned write's (`batch_id`, `trade_date`)
   * ordering: no second sort is planned and every file stays time-sorted.
   */
  def writeBatch(trades: DataFrame, path: String, batchId: Long): Unit = {
    val spark = trades.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      trades
        .withColumn("batch_id", lit(batchId))
        .withColumn("trade_date", to_date(col("time_placed")))
        .hint("rebalance", col("trade_date"))
        .sortWithinPartitions(col("trade_date"), col("time_placed"))
        .write
        .partitionBy("batch_id", "trade_date")
        .mode("overwrite")
        .parquet(path)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("trade_date")

  /** Time-range read — the store's query entry point. The range is applied
    * BOTH as a `trade_date` bound (partition pruning: directories outside
    * the range are never listed, the PK-granule-prune analogue) and as a
    * `time_placed` bound (pushed to parquet: row-group min/max skip inside
    * the surviving partitions, tight because writes sort within
    * partitions). Asserted in TradeStoreSpec. */
  def readRange(spark: SparkSession, path: String,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame =
    spark.read.parquet(path)
      .filter(col("trade_date") >= to_date(lit(from)) &&
        col("trade_date") <= to_date(lit(to)))
      .filter(col("time_placed") >= lit(from) && col("time_placed") <= lit(to))
      .drop("trade_date")

  def readBatched(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("trade_date", "batch_id")

  /** Schema-evolution read: a long-lived store accumulates files written
    * under successive schema versions (a column added after a year of
    * data exists). `mergeSchema` unions the per-file footers into one
    * schema; files predating a column yield NULLs for it. Reserved for
    * migration reads — the footer union walks EVERY file's metadata, so
    * the steady-state readers above stay on the single-schema fast path,
    * and a store should be compacted to one schema version after a
    * migration window rather than paying this forever. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path).drop("trade_date")

  /** COMPACTION — the maintenance pass every streaming store needs. The
    * exactly-once sink writes one `batch_id=N/trade_date=D` directory per
    * micro-batch: at a 1 s trigger that is ~86 k directories of tiny
    * files per day, and scan time degrades with file COUNT (listing,
    * footer reads, task scheduling) long before data volume matters.
    * Folding them into the batch layout (date-partitioned, one
    * time-sorted run per date range) restores both the file economics
    * and the tight row-group time clustering the batch writer produces.
    * Output goes to a NEW path — swap-on-success (rename/repoint), never
    * an in-place rewrite racing readers; the source stays live until the
    * swap. At 100 TB, compact date-by-date (the partitions are
    * independent) rather than in one job. */
  def compact(spark: SparkSession, batchedPath: String, outPath: String): Unit =
    write(readBatched(spark, batchedPath), outPath)
}
