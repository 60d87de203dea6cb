package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Trends
import graft.store.TradeStore
import graft.streaming.TradeStream

/** One offered chunk: its MemoryStream offset, and when it was due at the
  * generator and actually offered (wall-clock ms). */
final case class Chunk(offset: Long, dueMs: Long, offeredMs: Long)

/**
 * A running `TradeStream` (1 s trigger, idempotent batches) fed through a
 * MemoryStream, with the bookkeeping that maps chunks to the batches that
 * stored them.
 */
final class Feed(spark: SparkSession, ctx: Ctx, dir: Path, tag: String) {
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  val store: String = dir.resolve("store").toString
  private val src = MemoryStream[String]
  val chunks = ArrayBuffer.empty[Chunk]

  val query = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ctx.engine.Tag)
    sc.setLocalProperty(ctx.engine.Tag, tag)
    try TradeStream.start(src.toDF(), "value", store,
      dir.resolve("checkpoint").toString, Trigger.ProcessingTime("1 second"),
      idempotent = true)
    finally sc.setLocalProperty(ctx.engine.Tag, prev)
  }

  /** Offer msgs[from, until) as one chunk. */
  def offer(msgs: Array[String], from: Int, until: Int, dueMs: Long): Chunk = {
    val at = System.currentTimeMillis()
    val off = src.addData(msgs.slice(from, until).toSeq).json().trim.toLong
    val c = Chunk(off, dueMs, at)
    chunks += c
    c
  }

  /** Wait until everything offered is stored and its batch's progress has
    * been delivered; the batches so far. */
  def drain(): Seq[Batch] = {
    query.processAllAvailable()
    chunks.lastOption.foreach(c => ctx.streams.await(query.id, c.offset))
    ctx.streams.of(query.id)
  }

  def stop(): Unit = {
    query.stop()
    query.awaitTermination(30000)
  }

  /** Parquet files, their bytes, and leaf partition directories. */
  def storeFiles(): (Int, Long, Int) = {
    val s = java.nio.file.Paths.get(store)
    if (!Files.exists(s)) (0, 0L, 0)
    else {
      val files = Files.walk(s).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size, files.map(Files.size).sum, files.map(_.getParent).distinct.size)
    }
  }

  def storedRows(): Long = TradeStore.readBatched(spark, store).count()

  /** Once writes have stopped: stored rows equal the generator's valid
    * count, and `Trends.trends` over the store equals the plain-Scala
    * computation for each (pair, from, to) key. Records the store metrics
    * and the accepted share of offered messages; returns the time of the
    * `readBatched` call in ms. */
  def check(out: Outcome, gen: TradeGen, keys: Seq[(Int, Long, Long)]): Double = {
    val (files, bytes, dirs) = storeFiles()
    val stored = storedRows()
    if (stored != gen.sent.n) out.fail(s"stored $stored rows, generator sent ${gen.sent.n} valid")
    val t0 = System.nanoTime()
    val df = TradeStore.readBatched(spark, store)
    val openMs = Stats.secondsSince(t0) * 1000
    keys.foreach { case (p, from, to) =>
      val (cf, ct) = TradeGen.Pairs(p)
      val got = Trends.trends(df, new Timestamp(from), new Timestamp(to), cf, ct).collect()
      TrendsCheck.diff(got, gen.sent.trends(p, from, to))
        .foreach(d => out.fail(s"trends $cf/$ct [$from, $to]: $d"))
    }
    out.layer.put("ingest.accept_frac", stored.toDouble / gen.offered, "ratio")
    out.layer.put("gen.offered_rows", gen.offered.toDouble, "rows")
    out.detail.put("store_bytes_per_trade", bytes.toDouble / stored, "B")
    out.layer.put("store.bytes_per_trade", bytes.toDouble / stored, "B")
    out.layer.put("store.files", files, "count")
    out.layer.put("store.files_per_batch", files.toDouble / ctx.streams.of(query.id).size, "count")
    out.layer.put("store.partition_dirs", dirs, "count")
    openMs
  }
}

object Feed {
  /** The batch that stored chunk `c`, if any. */
  def batchOf(batches: Seq[Batch], c: Chunk): Option[Batch] =
    batches.find(b => b.startOffset < c.offset && c.offset <= b.endOffset)

  def sleepUntil(ms: Long): Unit = {
    var d = ms - System.currentTimeMillis()
    while (d > 0) { Thread.sleep(d); d = ms - System.currentTimeMillis() }
  }

  /** Freshness of each chunk: due at the generator → its batch committed. */
  def freshness(batches: Seq[Batch], cs: Seq[Chunk]): Seq[(Chunk, Batch, Double)] =
    cs.flatMap(c => batchOf(batches, c).map(b => (c, b, (b.endMs - c.dueMs).toDouble)))

  /** Streaming-layer metrics over the batches that stored `cs`, and the
    * batch/chunk spans of the traced mode. */
  def streamingLayer(m: Metrics, batches: Seq[Batch], cs: Seq[Chunk]): Unit = {
    val fr = freshness(batches, cs)
    val bs = fr.map(_._2).distinct.sortBy(_.id)
    def p50(k: String) = Stats.median(bs.map(_.ms(k)))
    m.put("streaming.batches", bs.size, "count")
    m.put("streaming.rows_per_batch_p50", Stats.median(bs.map(_.rows.toDouble)), "rows")
    m.put("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    m.put("streaming.addBatch_ms_p50", p50("addBatch"), "ms")
    m.put("streaming.queryPlanning_ms_p50", p50("queryPlanning"), "ms")
    m.put("streaming.walCommit_ms_p50", p50("walCommit"), "ms")
    m.put("streaming.commitOffsets_ms_p50", p50("commitOffsets"), "ms")
    m.put("streaming.latestOffset_ms_p50", p50("latestOffset"), "ms")
    m.put("streaming.wait_ms_p50",
      Stats.median(fr.map { case (_, b, f) => f - b.ms("triggerExecution") }), "ms")
    val wall = if (bs.isEmpty) 0.0 else (bs.last.endMs - cs.head.dueMs).toDouble
    m.put("streaming.busy_frac", bs.map(_.ms("triggerExecution")).sum / wall, "ratio")
    m.put("streaming.backlog_rows_max", if (bs.isEmpty) 0.0 else bs.map(_.rows).max.toDouble, "rows")
    m.put("streaming.freshness_p50_ms", Stats.median(fr.map(_._3)), "ms")
    m.put("streaming.freshness_p95_ms", Stats.pct(fr.map(_._3), 0.95), "ms")
    if (Trace.on) {
      // wall-clock ms → the nanoTime base the live spans use
      val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val ids = bs.map(b => b.id -> Trace.record("batch", "streaming", 0,
        b.startMs * 1000000L + off, b.endMs * 1000000L + off)).toMap
      fr.foreach { case (c, b, _) =>
        Trace.record("chunk", "streaming", ids(b.id), c.dueMs * 1000000L + off,
          b.endMs * 1000000L + off)
      }
    }
  }
}
