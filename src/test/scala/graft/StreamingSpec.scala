package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Trends
import graft.store.TradeStore
import graft.streaming.{RateLimiter, TradeStream}

/** SURVEY §5.4: micro-batch store semantics (ST1/ST2/ST5), late data (ST3),
  * stateful rate limiting (ST6). MemoryStream drives the pipeline —
  * identical transform chain to the Kafka-source deployment. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def trade(ts: String, rate: Double = 1.1): String =
    s"""{"userId":"u1","currencyFrom":"EUR","currencyTo":"USD",
       |"amountSell":1000,"amountBuy":${1000 * rate},
       |"timePlaced":"$ts","originatingCountry":"US"}"""
      .stripMargin.replace("\n", "")

  test("stream ingest: valid rows stored, malformed rejected, late rows land in their event-time window, checkpoint restart does not duplicate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val store = s"$dir/store"
    val ckpt = s"$dir/ckpt"

    val src = MemoryStream[String]
    src.addData(trade("12-AUG-24 11:23:45"), trade("12-AUG-24 11:31:00", 1.2),
      "{malformed", trade("BAD-TS", 9.9))
    val q1 = TradeStream.start(src.toDF(), "value", store, ckpt,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    assert(TradeStore.read(spark, store).count() == 2)

    // late row (earlier event time) arrives in a later batch, after restart
    src.addData(trade("12-AUG-24 10:03:45", 2.0))
    val q2 = TradeStream.start(src.toDF(), "value", store, ckpt,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()

    val stored = TradeStore.read(spark, store)
    assert(stored.count() == 3) // no reprocessing of batch 0 after restart
    val stats = Trends.trends(stored,
      Timestamp.valueOf("2024-08-12 00:00:00"),
      Timestamp.valueOf("2024-08-12 23:59:59"), "EUR", "USD").collect()
    // late row retroactively visible in its own 10:00 window (ST3)
    assert(stats.map(_.window.toString).toSeq == Seq(
      "2024-08-12 10:00:00.0", "2024-08-12 11:20:00.0", "2024-08-12 11:30:00.0"))
    assert(stats.head.mean == 2.0)
  }

  test("idempotent batch sink: replaying a batch replaces, never duplicates (exactly-once upgrade of ST2)") {
    val dir = Files.createTempDirectory("graft-idem").toString
    val rows = Seq(
      model.Trade("u", "EUR", "USD", 1L, 2L, 2.0, "US",
        Timestamp.valueOf("2024-08-12 11:00:00")),
      model.Trade("u", "EUR", "USD", 1L, 3L, 3.0, "US",
        Timestamp.valueOf("2024-08-12 11:05:00"))).toDF()
    TradeStore.writeBatch(rows, dir, batchId = 7L)
    TradeStore.writeBatch(rows, dir, batchId = 7L) // crash-replay of batch 7
    assert(TradeStore.readBatched(spark, dir).count() == 2) // not 4
    TradeStore.writeBatch(rows.limit(1), dir, batchId = 8L) // next batch appends
    assert(TradeStore.readBatched(spark, dir).count() == 3)
    // and a partial first attempt of a batch is fully replaced on replay
    TradeStore.writeBatch(rows.limit(1), dir, batchId = 9L)
    TradeStore.writeBatch(rows, dir, batchId = 9L)
    assert(TradeStore.readBatched(spark, dir).count() == 5)
  }

  test("streaming with idempotent sink end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-idem-stream").toString
    val src = MemoryStream[String]
    src.addData(trade("12-AUG-24 11:23:45"), trade("12-AUG-24 11:31:00", 1.2))
    // three more chunks (one input partition each) before the trigger, each
    // spanning two dates and in falling time order
    (0 until 3).foreach { c =>
      src.addData((0 until 4).flatMap { i =>
        val ts = f"${50 - 10 * c - i}%02d"
        Seq(trade(s"12-AUG-24 09:$ts:00"), trade(s"13-AUG-24 09:$ts:00"))
      }: _*)
    }
    val store = s"$dir/store"
    val q = TradeStream.start(src.toDF(), "value", store, s"$dir/ckpt",
      trigger = Trigger.AvailableNow(), idempotent = true)
    q.awaitTermination()
    assert(TradeStore.readBatched(spark, store).count() == 26)
    // one time-sorted file per batch_id=N/trade_date=D directory
    val byDir = parquetFiles(store).groupBy(_.getParent)
    assert(byDir.keySet.map(d => s"${d.getParent.getFileName}/${d.getFileName}") ==
      Set("batch_id=0/trade_date=2024-08-12", "batch_id=0/trade_date=2024-08-13"))
    byDir.foreach { case (d, files) =>
      assert(files.size == 1, s"$d holds ${files.size} files")
      assert(timeSorted(files.head), s"${files.head} is not time-sorted")
    }
  }

  test("streaming dedup: duplicates within the watermark horizon collapse across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamDedup
    val src = MemoryStream[String]
    val deduped = StreamDedup.dedup(
      graft.ingest.TradeIngest.parseTrades(src.toDF(), "value"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    src.addData(trade("12-AUG-24 11:23:45"), trade("12-AUG-24 11:23:45")) // in-batch dup
    q.processAllAvailable()
    src.addData(trade("12-AUG-24 11:23:45"),                    // cross-batch dup
      trade("12-AUG-24 11:31:00", 1.2))                         // new content
    q.processAllAvailable()
    val n = spark.table("dedup_out").count()
    q.stop()
    assert(n == 2) // one copy of each distinct trade
  }

  test("incremental dedup groups: streamed pairs converge to the batch CC, groups only merge") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamGroups
    import graft.operators.Dedup

    val docs = Tables.documents(spark, sf0001)
    val allPairs = Dedup.minhashLshPairs(docs, threshold = 0.8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(allPairs.nonEmpty)
    val expected = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, threshold = 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // three arrival waves, deterministic split
    val waves = allPairs.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val src = MemoryStream[(Long, Long)]
    val table = new StreamGroups.GroupTable(spark)
    val q = StreamGroups.start(src.toDS().toDF("id_a", "id_b"), table)
    var snapshots = Seq.empty[Map[Long, Long]]
    waves.foreach { w =>
      src.addData(w: _*)
      q.processAllAvailable()
      snapshots :+= table.groups.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    q.stop()

    // converged to exactly the batch result
    assert(snapshots.last.toSet == expected)
    // monotone merging: docs grouped together stay together (the partition
    // only coarsens — no component ever splits)
    snapshots.sliding(2).foreach {
      case Seq(prev, next) =>
        prev.groupBy(_._2).values.foreach { members =>
          val repsNow = members.keys.map(next).toSet
          assert(repsNow.size == 1,
            s"group split across batches: ${members.keys} -> $repsNow")
        }
      case _ => ()
    }
  }

  test("store layout: date-partitioned, time-sorted within partitions") {
    val dir = Files.createTempDirectory("graft-store").toString
    // 2000 trades over two dates, in shuffled time order, from 8 partitions
    val t0 = Timestamp.valueOf("2024-08-12 08:00:00").getTime
    val times = new scala.util.Random(7).shuffle((0 until 2000).toVector)
    val rows = spark.sparkContext.parallelize(times.map(i =>
      model.Trade("u", "EUR", "USD", 1L, 2L, 2.0, "US",
        new Timestamp(t0 + i * 60000L))), 8).toDF()
    TradeStore.write(rows, dir)
    val dates = new java.io.File(dir).list().filter(_.startsWith("trade_date="))
    assert(dates.toSet == Set("trade_date=2024-08-12", "trade_date=2024-08-13"))
    assert(TradeStore.read(spark, dir).count() == 2000)
    val files = parquetFiles(dir)
    assert(files.nonEmpty)
    files.foreach(f => assert(timeSorted(f), s"$f is not time-sorted"))
  }

  test("rate limiter: reference Redis-window semantics incl. retry-after (ratelimit.go:38-62)") {
    val reqs = Seq(
      RateLimiter.Request("u1", 1L, 1000L), RateLimiter.Request("u1", 2L, 1100L),
      RateLimiter.Request("u1", 3L, 1200L), RateLimiter.Request("u1", 4L, 1300L),
      RateLimiter.Request("u1", 5L, 1900L),
      RateLimiter.Request("u1", 6L, 2500L), // window slid: 1000-1300 expired... (>1500)
      RateLimiter.Request("u2", 7L, 1000L)  // separate key untouched
    ).toDS()
    val got = RateLimiter(reqs, durationUs = 1000L, limit = 3)
      .collect().sortBy(v => (v.user_id, v.ts_us, v.req_id))
    val u1 = got.filter(_.user_id == "u1")
    assert(u1.map(_.allowed).toSeq ==
      Seq(true, true, true, false, false, true))
    // 4th request: window [1000,1100,1200,1300] → retry = oldest + duration
    assert(u1(3).retry_after_us == 1000L + 1000L)
    // rejected requests still occupy the window (ZADD before verdict):
    // at 1900 window = [1000..1900] minus ≤900 → 5 entries
    assert(u1(4).in_window == 5)
    // at 2500 only {1900, 2500} remain → allowed
    assert(u1(5).in_window == 2)
    assert(got.filter(_.user_id == "u2").forall(_.allowed))
  }

  test("rate limiter: same-microsecond requests tie-break by req_id — the 429 is deterministic") {
    val reqs = Seq(
      RateLimiter.Request("u1", 20L, 5000L),
      RateLimiter.Request("u1", 10L, 5000L) // same ts, lower id → admitted first
    ).toDS()
    val got = RateLimiter(reqs, durationUs = 1000L, limit = 1)
      .collect().sortBy(_.req_id)
    assert(got.map(v => v.req_id -> v.allowed).toSeq ==
      Seq(10L -> true, 20L -> false))
  }

  test("continuous windowed aggregate: watermark finalizes windows in append mode (ST3 deviation path)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[model.Trade]
    val q = TradeStream.continuousTrends(src.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("ct_out")
      .outputMode("append").start()
    def t(ts: String, rate: Double) = model.Trade("u", "EUR", "USD",
      1000000L, (rate * 1e6).toLong, rate, "US", Timestamp.valueOf(ts))
    src.addData(t("2024-08-12 10:01:00", 1.0), t("2024-08-12 10:05:00", 3.0))
    q.processAllAvailable()
    assert(spark.table("ct_out").count() == 0) // window still open
    // event 2h later pushes the watermark past the 10:00 window's end
    src.addData(t("2024-08-12 12:30:00", 9.0))
    q.processAllAvailable()
    val out = spark.table("ct_out").collect()
    q.stop()
    assert(out.length == 1) // exactly the finalized 10:00 window
    val r = out.head
    assert(r.getAs[Timestamp]("window") == Timestamp.valueOf("2024-08-12 10:00:00"))
    assert(r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 3.0)
    assert(r.getAs[Double]("mean") == 2.0 && r.getAs[Long]("n") == 2L)
  }

  test("custom bottom-k sketch aggregate runs under streaming: merged partials equal the batch sketch") {
    // the TypedImperativeAggregate contract (serialize/merge) is what
    // streaming state requires — this proves the custom sketch is a
    // first-class aggregate there, not just in batch
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.ApproxQuantile.approx_median_sketch
    import org.apache.spark.sql.functions.{col, count, lit, window}
    val src = MemoryStream[model.Trade]
    val agg = src.toDF()
      .withWatermark("time_placed", "1 hour")
      .groupBy(window(col("time_placed"), "10 minutes"))
      .agg(approx_median_sketch(col("rate")).as("med"), count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("med"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sk_out")
      .outputMode("append").start()
    def t(ts: String, rate: Double) = model.Trade("u", "EUR", "USD",
      1000000L, (rate * 1e6).toLong, rate, "US", Timestamp.valueOf(ts))
    // two micro-batches land in the SAME window: state must merge sketches
    src.addData(t("2024-08-12 10:01:00", 1.0), t("2024-08-12 10:02:00", 5.0))
    q.processAllAvailable()
    src.addData(t("2024-08-12 10:03:00", 3.0))
    q.processAllAvailable()
    src.addData(t("2024-08-12 12:30:00", 9.0)) // closes the 10:00 window
    q.processAllAvailable()
    val out = spark.table("sk_out").collect()
    q.stop()
    assert(out.length == 1 && out.head.getAs[Long]("n") == 3L)
    // k=1024 ≫ n ⇒ the sketch is exact here: median of {1,5,3} = 3
    assert(out.head.getAs[Double]("med") == 3.0)
  }

  test("dispersion moments stream natively: complete-mode sums assemble to the exact batch stats") {
    // count/sum(DECIMAL) are Spark-native streaming aggregates — the
    // moment-sum formulation makes variance streamable with NO custom
    // state code, and DECIMAL sums are combine-order-free, so streamed
    // moments equal batch moments EXACTLY (not just approximately)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import org.apache.spark.sql.types.DecimalType
    val events = Tables.events(spark, sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val src = MemoryStream[(String, Double)]
    val x = col("value").cast(DecimalType(18, 2))
    val q = src.toDS().toDF("event_type", "value")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .writeStream.format("memory").queryName("disp_out")
      .outputMode("complete").start()
    events.grouped(500).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("disp_out").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString)).toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString)).toSet
    assert(streamed == batch)
  }

  test("continuous SLIDING windows: each event finalizes into two overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[model.Trade]
    val q = TradeStream.continuousTrends(src.toDF(), watermark = "1 hour",
      slide = Some("5 minutes"))
      .writeStream.format("memory").queryName("cts_out")
      .outputMode("append").start()
    def t(ts: String, rate: Double) = model.Trade("u", "EUR", "USD",
      1000000L, (rate * 1e6).toLong, rate, "US", Timestamp.valueOf(ts))
    src.addData(t("2024-08-12 10:07:00", 2.0))
    q.processAllAvailable()
    src.addData(t("2024-08-12 12:30:00", 9.0)) // advance watermark past 10:xx
    q.processAllAvailable()
    val out = spark.table("cts_out").collect()
    q.stop()
    // the 10:07 event belongs to [10:00,10:10) and [10:05,10:15)
    val starts = out.map(_.getAs[Timestamp]("window").toString).sorted.toSeq
    assert(starts == Seq("2024-08-12 10:00:00.0", "2024-08-12 10:05:00.0"))
    assert(out.forall(_.getAs[Double]("min") == 2.0))
  }

  test("streaming sessionization: windows merge across batches, watermark finalizes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EventsOps
    import StreamingSpec.Ev
    val src = MemoryStream[Ev]
    val q = EventsOps.sessionizeStream(src.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def e(u: String, ts: String) = Ev(u, Timestamp.valueOf(ts))
    src.addData(e("u1", "2024-08-12 10:00:00"), e("u1", "2024-08-12 10:10:00"))
    q.processAllAvailable()
    // same session extended from a LATER batch (merging windows, not fixed)
    src.addData(e("u1", "2024-08-12 10:25:00"), e("u1", "2024-08-12 11:30:00"))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0) // watermark hasn't passed
    src.addData(e("u2", "2024-08-12 14:00:00")) // advances the watermark
    q.processAllAvailable()
    val out = spark.table("sess_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
    q.stop()
    // one 3-event merged session (10:00-10:25) and one singleton (11:30)
    assert(out.toSet == Set(
      ("u1", "2024-08-12 10:00:00.0", 3L),
      ("u1", "2024-08-12 11:30:00.0", 1L)))
  }

  test("streaming count-min: waves of documents fold to the exact batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamCms
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val src = MemoryStream[(Long, String)]
    val table = new StreamCms.SketchTable(spark)
    val q = StreamCms.start(src.toDS().toDF("doc_id", "text"), table)
    docs.grouped(200).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = table.cells.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = TextAnalysis.cmsCells(Tables.documents(spark, sf0001)).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch) // mergeable sketch: streamed ≡ batch, exactly
    assert(streamed.size <= 4 * 16384) // state bounded at d·w forever
  }

  test("streaming KMV: waves of events fold to the exact batch sketch, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamKmv
    import graft.operators.EventsOps
    val events = Tables.events(spark, sf0001)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val src = MemoryStream[(String, Long)]
    val table = new StreamKmv.KmvTable(spark, k = 64)
    val q = StreamKmv.start(src.toDS().toDF("event_type", "user_id"), table)
    events.grouped(2000).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = table.estimate.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batch = EventsOps.kmvDistinct(Tables.events(spark, sf0001)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // min-union mergeability: streamed ≡ batch exactly, arrival order moot
    assert(streamed.toSeq == batch.toSeq)
    assert(table.hashes.count() <= 64L * streamed.length) // ≤ groups·k forever
  }

  test("streaming source sketches: document waves fold to the exact batch overlap matrix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamSourceSketch
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val src = MemoryStream[(Long, String, String)]
    val table = new StreamSourceSketch.SketchTable(spark)
    val q = StreamSourceSketch.start(
      src.toDS().toDF("doc_id", "text", "source"), table)
    docs.grouped(docs.length / 3 + 1).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = table.overlap.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val batch = Dedup.corpusOverlapKmv(Tables.documents(spark, sf0001))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // min-union mergeability: the folded state IS the batch sketch, so
    // the whole pair-estimate matrix matches exactly, sketch error and all
    assert(streamed.toSeq == batch.toSeq)
    val nSrc = table.sketch.select("source").distinct().count()
    assert(table.sketch.count() <= 128L * nSrc) // ≤ sources·k forever
  }

  test("streaming HLL: waves of events max-merge to the exact batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamHll
    import graft.operators.EventsOps
    val events = Tables.events(spark, sf0001)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val src = MemoryStream[(String, Long)]
    val table = new StreamHll.HllTable(spark, b = 6)
    val q = StreamHll.start(src.toDS().toDF("event_type", "user_id"), table)
    events.grouped(300).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = table.estimate.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val batch = EventsOps.hllDistinct(Tables.events(spark, sf0001)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // max-mergeable registers: streamed ≡ batch exactly, arrival order moot
    assert(streamed.toSeq == batch.toSeq)
    assert(table.registers.count() <= 64L * streamed.length) // ≤ groups·m
  }

  test("streaming priority sample: waves fold to the exact batch sample, state bounded at k") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamPrioritySample
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // adversarial arrival: sort by doc_id descending so early waves are
    // full of rows the final sample mostly evicts
    val waves = docs.sortBy(-_._1)
    val src = MemoryStream[(Long, String, Long)]
    val table = new StreamPrioritySample.SampleTable(spark, k = 50)
    val q = StreamPrioritySample.start(
      src.toDS().toDF("doc_id", "source", "n_chars"), table)
    waves.grouped(100).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    // at-least-once replay: refeed a wave; same rows ⇒ same priorities ⇒
    // the distinct absorbs them
    src.addData(waves.take(100): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = table.sample.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val batch = Sampling.prioritySample(
      Tables.documents(spark, sf0001), k = 50).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq) // mergeable bottom-k: streamed ≡ batch
    assert(table.sample.count() <= 50)    // state bounded at k forever
  }

  test("streaming funnel: out-of-order waves converge to batch, state prunes to the pre-conversion prefix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamFunnel
    import graft.operators.EventsOps
    import org.apache.spark.sql.functions.{col, unix_micros}
    val events = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // adversarial arrival: reverse time order, so every wave delivers
    // events EARLIER than already-folded ones (late views must retro-
    // qualify already-seen clicks)
    val shuffled = events.sortBy(-_._3)
    val src = MemoryStream[(Long, String, Long)]
    val table = new StreamFunnel.FunnelTable(spark)
    val q = StreamFunnel.start(
      src.toDS().toDF("user_id", "event_type", "us"), table)
    shuffled.grouped(300).foreach { wave =>
      src.addData(wave: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = table.funnel.collect()(0)
    val batch = EventsOps.funnelSteps(Tables.events(spark, sf0001)).collect()(0)
    assert((0 to 3).map(streamed.getLong) == (0 to 3).map(batch.getLong),
      s"streamed $streamed != batch $batch")
    // state kept the pre-conversion prefix only, not the corpus
    val funnelRows = events.count(e =>
      Set("view", "click", "purchase")(e._2))
    assert(table.kept.count() < funnelRows / 2,
      "pruning should drop post-conversion events")
  }

  test("stream-stream event-time join: quotes match within the horizon, state expires by watermark") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import StreamingSpec.Q
    val trades = MemoryStream[model.Trade]
    val quotes = MemoryStream[Q]
    val joined = StreamJoin.tradesWithQuotes(trades.toDF(), quotes.toDF())
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()

    def t(u: String, ts: String) = model.Trade(u, "EUR", "USD", 1000000L,
      1100000L, 1.1, "US", Timestamp.valueOf(ts))
    // quote 2 min before the trade: inside the 5-min horizon.
    // quote 9 min before: outside. quote AFTER the trade: excluded.
    quotes.addData(
      Q("EUR", "USD", 1.09, Timestamp.valueOf("2024-08-12 11:01:00")),
      Q("EUR", "USD", 1.08, Timestamp.valueOf("2024-08-12 10:54:00")),
      Q("EUR", "USD", 1.12, Timestamp.valueOf("2024-08-12 11:04:00")),
      Q("GBP", "USD", 1.30, Timestamp.valueOf("2024-08-12 11:02:00"))) // wrong pair
    trades.addData(t("u1", "2024-08-12 11:03:00"))
    q.processAllAvailable()
    // watermark must pass before inner-join results finalize
    trades.addData(t("late", "2024-08-12 13:00:00"))
    quotes.addData(Q("EUR", "USD", 9.9, Timestamp.valueOf("2024-08-12 13:00:00")))
    q.processAllAvailable()
    val out = spark.table("ssj_out").collect()
    q.stop()
    val u1 = out.filter(_.getAs[String]("user_id") == "u1")
    assert(u1.map(_.getAs[Double]("ref_quote")).sorted.toSeq == Seq(1.09),
      s"expected exactly the in-horizon prior quote, got ${u1.toSeq}")
  }

  test("rate limiter: state persists across streaming micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[RateLimiter.Request]
    val q = RateLimiter(src.toDS(), durationUs = 1000L, limit = 2)
      .writeStream.format("memory").queryName("rl_out")
      .outputMode("append").start()
    src.addData(RateLimiter.Request("u1", 1L, 100L), RateLimiter.Request("u1", 2L, 200L))
    q.processAllAvailable()
    src.addData(RateLimiter.Request("u1", 3L, 300L)) // same window, next batch
    q.processAllAvailable()
    val out = spark.table("rl_out").as[RateLimiter.Verdict]
      .collect().sortBy(_.ts_us)
    q.stop()
    assert(out.map(_.allowed).toSeq == Seq(true, true, false))
    assert(out.last.in_window == 3) // saw both batch-1 requests via state
  }
}

object StreamingSpec {
  /** Reference-quote record for the stream-stream join test (top-level so
    * the encoder derives). */
  case class Q(currency_from: String, currency_to: String, quote: Double,
    quote_ts: java.sql.Timestamp)

  /** Minimal event record for the streaming-sessionization test. */
  case class Ev(user_id: String, ts: java.sql.Timestamp)
}
