package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.ExplainMode

import graft.store.TradeStore

/** Plan-level proof that the trades store delivers its MergeTree-analogue
  * properties (SURVEY §2.5 D3): date-partition pruning and a pushed
  * time-range filter that can use the within-partition time sort. Mirrors
  * what PlanSpec proves for the events table. */
class TradeStoreSpec extends SparkSpec {
  import spark.implicits._

  private def t(ts: String, rate: Double) = model.Trade(
    "u", "EUR", "USD", 1000000L, (rate * 1e6).toLong, rate, "US",
    Timestamp.valueOf(ts))

  test("readRange prunes date partitions and pushes the time bounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    TradeStore.write(Seq(
      t("2024-08-10 09:00:00", 1.0), t("2024-08-11 09:00:00", 2.0),
      t("2024-08-12 09:00:00", 3.0), t("2024-08-12 21:00:00", 4.0)
    ).toDF(), dir)

    val df = TradeStore.readRange(spark, dir,
      Timestamp.valueOf("2024-08-12 00:00:00"),
      Timestamp.valueOf("2024-08-12 12:00:00"))
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))

    // date bounds land in PartitionFilters (pruning, not row filtering)
    val partLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("trade_date"),
      s"trade_date bounds missing from PartitionFilters: $partLine")
    // time bounds reach the parquet reader for row-group skipping
    assert(plan.contains("GreaterThanOrEqual(time_placed,"), "lower time bound not pushed")
    assert(plan.contains("LessThanOrEqual(time_placed,"), "upper time bound not pushed")
    // and the result honors both bounds
    assert(df.collect().map(_.getAs[Double]("rate")).toSeq == Seq(3.0))
  }

  test("readRange scans only the in-range partition directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    TradeStore.write(Seq(
      t("2024-08-10 09:00:00", 1.0), t("2024-08-11 09:00:00", 2.0),
      t("2024-08-12 09:00:00", 3.0)
    ).toDF(), dir)
    val df = TradeStore.readRange(spark, dir,
      Timestamp.valueOf("2024-08-11 00:00:00"),
      Timestamp.valueOf("2024-08-11 23:59:59"))
    df.collect() // execute so the scan metrics are populated
    // only the 2024-08-11 directory's files survive pruning (inputFiles
    // reports the pre-pruning listing, so probe the scan's numFiles metric)
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val inRange = new java.io.File(s"$dir/trade_date=2024-08-11")
      .listFiles.count(_.getName.endsWith(".parquet"))
    val total = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("trade_date="))
      .flatMap(_.listFiles).count(_.getName.endsWith(".parquet"))
    assert(inRange < total, "test setup: need multiple date partitions")
    assert(scan.metrics("numFiles").value == inRange,
      s"scan read ${scan.metrics("numFiles").value} files, expected $inRange")
  }

  test("schema evolution: files from older schema versions read with NULLs for new columns") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // v1 files: no `venue` column
    TradeStore.write(Seq(t("2024-08-10 09:00:00", 1.0)).toDF(), dir)
    // v2 files: a column added later
    TradeStore.write(Seq(t("2024-08-11 09:00:00", 2.0)).toDF()
      .withColumn("venue", lit("NYC")), dir)
    val df = TradeStore.readEvolved(spark, dir)
    assert(df.columns.contains("venue"), "merged schema must include the new column")
    val got = df.select(col("rate"), col("venue")).collect()
      .map(r => (r.getDouble(0), Option(r.getString(1)))).toSet
    assert(got == Set((1.0, None), (2.0, Some("NYC"))))
    // the plain reader stays on the single-schema fast path: it must not
    // fail on the mixed store, and serves the latest-footer schema
    assert(TradeStore.read(spark, dir).count() == 2)
  }

  test("compaction folds per-batch directories into the batch layout, rows intact") {
    val src = java.nio.file.Files.createTempDirectory("graft-batched").toString
    // 6 micro-batches across 2 dates — 6 batch dirs, ≥6 files; each batch
    // later in time than the next and in falling time order, 4 partitions
    (0 until 6).foreach { b =>
      TradeStore.writeBatch((0 until 50).reverse.flatMap { m =>
        val hm = f"${5 - b}%02d:$m%02d"
        Seq(t(s"2024-08-10 $hm:00", b + 1.0), t(s"2024-08-11 $hm:30", b + 10.0))
      }.toDF().repartition(4), src, b.toLong)
    }
    val dst = java.nio.file.Files.createTempDirectory("graft-compact").toString
    TradeStore.compact(spark, src, dst)
    // same rows (the full row content, not just counts)
    val before = TradeStore.readBatched(spark, src).collect()
      .map(_.toSeq).toSet
    val after = TradeStore.read(spark, dst).collect().map(_.toSeq).toSet
    assert(after == before)
    // file economics: per-batch sprawl collapses to ~one run per date
    assert(parquetFiles(src).size >= 6)
    assert(parquetFiles(dst).size < parquetFiles(src).size)
    // the compacted store still serves pruned, pushed range reads
    val df = TradeStore.readRange(spark, dst,
      Timestamp.valueOf("2024-08-11 00:00:00"),
      Timestamp.valueOf("2024-08-11 23:59:59"))
    assert(df.count() == 300)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(time_placed,"))
    // time clustering survives: rows within each file are time-sorted
    assert(parquetFiles(dst).nonEmpty)
    parquetFiles(dst).foreach(f => assert(timeSorted(f), s"$f is not time-sorted"))
  }
}
