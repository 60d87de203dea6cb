package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.Statistic
import graft.operators.Trends
import graft.serving.{TrendsCache, TrendsPage}
import graft.store.TradeStore

/** One served trends request. Layer times are 0 where the layer did not
  * run (a cache hit opens no store). */
final case class Request(startMs: Long, endMs: Long, ms: Double, hit: Boolean,
    cacheUs: Double, openMs: Double, trendsMs: Double, pageUs: Double)

/**
 * `serve_live`: reads beside writes. Several days of history are streamed
 * into the store first; then ingest continues at a lower fixed rate while
 * two closed-loop dashboard clients request trends through the cache.
 * Three requests in four ask for a moving "last N hours up to now" range
 * (cache misses); every fourth reuses one of a few fixed historical keys,
 * cached during set-up (hits).
 */
final class ServeLive(spark: SparkSession, ctx: Ctx) extends Workload {
  val HistoryDays = 3
  val HistoryPerDay = 40000
  val Rate = 2000 // live trades/s
  val TickMs = 500
  val ChunkRows: Int = Rate * TickMs / 1000
  val Clients = 2
  /** Seconds of request warmup over the history before the live phase. */
  val WarmRequestSeconds = 8
  /** Live seconds before the measured window, for the stream to settle. */
  val WarmSeconds = 2
  val liveChunks: Int = (WarmSeconds + ctx.seconds) * 1000 / TickMs
  private val Day = 86400000L
  private val histEnd = TradeGen.Origin + HistoryDays * Day

  /** Fixed historical keys: (pair, from, to). */
  private val fixedKeys = Seq(
    (0, TradeGen.Origin, TradeGen.Origin + Day / 2),
    (1, TradeGen.Origin + Day / 4, TradeGen.Origin + Day),
    (2, TradeGen.Origin + Day, TradeGen.Origin + 2 * Day),
    (0, TradeGen.Origin + 2 * Day, TradeGen.Origin + 2 * Day + 6 * 3600000L))

  /** Trends collects issued (cache misses), for the scan listener. */
  private val collects = new AtomicLong
  private var gen: TradeGen = _
  private var history: Seq[Array[String]] = _
  private var live: Array[String] = _

  private def generate(): Unit = {
    gen = new TradeGen(ctx.seed)
    history = (0 until HistoryDays).map { d =>
      gen.messages(HistoryPerDay, TradeGen.Origin + d * Day, Day)
    }
    live = gen.messages(liveChunks * ChunkRows, histEnd, liveChunks.toLong * TickMs)
  }

  def setup(out: Outcome): Double =
    Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); generate(); Stats.secondsSince(t0)
    })

  private def request(cache: TrendsCache, store: String, p: Int, from: Long,
      to: Long): (Request, Array[Statistic]) = {
    val (cf, ct) = TradeGen.Pairs(p)
    val f = new Timestamp(from)
    val t = new Timestamp(to)
    var openMs = 0.0
    var trendsMs = 0.0
    var hit = true
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (stats, cacheNs, pageNs) = Trace.span("request", "serving") {
      val c0 = System.nanoTime()
      val stats = Trace.span("cache", "serving") {
        cache.get(f, t, cf, ct) {
          hit = false
          collects.incrementAndGet()
          val o0 = System.nanoTime()
          val df = Trace.span("store_open", "store")(TradeStore.readBatched(spark, store))
          openMs = Stats.secondsSince(o0) * 1000
          val q0 = System.nanoTime()
          val rows = Trace.span("trends", "operators")(Trends.trends(df, f, t, cf, ct).collect())
          trendsMs = Stats.secondsSince(q0) * 1000
          rows
        }
      }
      val p0 = System.nanoTime()
      Trace.span("page", "serving")(TrendsPage.toJson(f.toString, t.toString, cf, ct, stats.toSeq))
      (stats, p0 - c0, System.nanoTime() - p0)
    }
    (Request(startMs, System.currentTimeMillis(), Stats.secondsSince(t0) * 1000, hit,
      if (hit) cacheNs / 1e3 else 0.0, openMs, trendsMs, pageNs / 1e3), stats)
  }

  def measure(out: Outcome, traced: Boolean): Double = {
    val dir = ctx.freshDir("serve")
    collects.set(0)
    val h0 = System.nanoTime()
    val feed = new Feed(spark, ctx, dir, "stream")
    try {
      history.foreach(h => feed.offer(h, 0, h.length, System.currentTimeMillis()))
      feed.drain()
      // JIT and codegen warmup of the request path: both clients request
      // uncached ranges over the history for a few seconds; then the fixed
      // keys go into the cache (all of this is set-up time)
      val failed = new AtomicLong
      val warmUntil = System.currentTimeMillis() + WarmRequestSeconds * 1000L
      val warmers = (0 until Clients).map { k =>
        new Thread(() => {
          val rng = new java.util.SplittableRandom(ctx.seed * 17 + k)
          val scratch = new TrendsCache()
          while (System.currentTimeMillis() < warmUntil) {
            val to = histEnd - rng.nextLong(Day)
            try request(scratch, feed.store, gen.pickPair(rng), to - 6 * 3600000L, to)
            catch {
              case e: Exception =>
                failed.incrementAndGet()
                System.err.println(s"[perfbench] warmup request failed: ${e.getMessage}")
            }
          }
        }, s"perfbench-warm-$k")
      }
      warmers.foreach(_.start())
      warmers.foreach(_.join())
      val cache = new TrendsCache()
      fixedKeys.foreach { case (p, from, to) => request(cache, feed.store, p, from, to) }
      // the traced run counts scanned files from here on: the live
      // clients' misses only, not the warmup and fixed-key requests
      val scansBefore = if (!traced) 0.0 else {
        ctx.scans.await(collects.get)
        ctx.scans.files.sum
      }
      val historyS = Stats.secondsSince(h0)
      val histChunks = feed.chunks.size

      val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000 + 25
      val deadline = t0 + liveChunks.toLong * TickMs
      val m0 = t0 + WarmSeconds * 1000L
      val done = new ConcurrentLinkedQueue[Request]()
      val generator = new Thread(() => {
        (0 until liveChunks).foreach { i =>
          val due = t0 + i.toLong * TickMs
          Feed.sleepUntil(due)
          feed.offer(live, i * ChunkRows, (i + 1) * ChunkRows, due)
        }
      }, "perfbench-generator")
      val clients = (0 until Clients).map { k =>
        new Thread(() => {
          val rng = new java.util.SplittableRandom(ctx.seed * 31 + k)
          spark.sparkContext.setLocalProperty(ctx.engine.Tag, "trends")
          Feed.sleepUntil(t0)
          var n = 0
          while (System.currentTimeMillis() < deadline) {
            n += 1
            val (p, from, to) =
              if (n % 4 == 0) fixedKeys(rng.nextInt(fixedKeys.size))
              else {
                val now = histEnd + (System.currentTimeMillis() - t0)
                val hours = Seq(2, 6, 12, 24)(rng.nextInt(4))
                (gen.pickPair(rng), now - hours * 3600000L, now)
              }
            try done.add(request(cache, feed.store, p, from, to)._1)
            catch {
              case e: Exception =>
                failed.incrementAndGet()
                System.err.println(s"[perfbench] request failed: ${e.getMessage}")
            }
          }
        }, s"perfbench-client-$k")
      }
      generator.start()
      clients.foreach(_.start())
      generator.join()
      clients.foreach(_.join())
      val batches = feed.drain()
      feed.stop()

      // the measured window is [m0, deadline): latency of the requests
      // started in it, throughput of the requests completed in it
      val rs = done.asScala.toSeq.filter(r => r.startMs >= m0 && r.startMs < deadline)
      val completed = done.asScala.count(r => r.endMs >= m0 && r.endMs < deadline)
      out.attempted += done.size + failed.get + feed.chunks.size
      out.failed += failed.get
      out.e2e.put("latency_p50_ms", Stats.median(rs.map(_.ms)), "ms")
      out.e2e.put("latency_p95_ms", Stats.pct(rs.map(_.ms), 0.95), "ms")
      out.e2e.put("throughput_per_s", completed / ((deadline - m0) / 1000.0), "1/s")
      out.detail.put("requests", rs.size, "count")

      val liveChunksOffered = feed.chunks.drop(histChunks).filter(_.dueMs >= m0).toSeq
      Feed.streamingLayer(out.layer, batches, liveChunksOffered)
      out.detail.put("freshness_p50_ms", out.layer.get("streaming.freshness_p50_ms"), "ms")
      out.detail.put("freshness_p95_ms", out.layer.get("streaming.freshness_p95_ms"), "ms")
      val late = liveChunksOffered.map(c => (c.offeredMs - c.dueMs).toDouble).max
      if (late > 1000) out.fail(s"generator ran $late ms late")
      out.layer.put("gen.late_ms_max", late, "ms")

      val misses = rs.filterNot(_.hit)
      val hits = rs.filter(_.hit)
      out.layer.put("store.open_ms_p50", Stats.median(misses.map(_.openMs)), "ms")
      out.layer.put("operators.trends_ms_p50", Stats.median(misses.map(_.trendsMs)), "ms")
      out.layer.put("serving.hit_frac", hits.size.toDouble / rs.size, "ratio")
      out.layer.put("serving.hit_us_p50", Stats.median(hits.map(_.cacheUs)), "us")
      out.layer.put("serving.page_us_p50", Stats.median(rs.map(_.pageUs)), "us")
      if (traced) {
        // the clients' jobs carry the "trends" tag from their first request
        val clientMisses = done.asScala.count(!_.hit)
        ctx.scans.await(collects.get)
        ctx.engine.fence(spark)
        val tc = ctx.engine.counters("trends")
        out.layer.put("operators.jobs_per_request", tc.jobs.get.toDouble / clientMisses, "count")
        out.layer.put("operators.tasks_per_request", tc.tasks.get.toDouble / clientMisses, "count")
        out.layer.put("operators.files_read_per_request",
          (ctx.scans.files.sum - scansBefore) / clientMisses, "count")
      }

      feed.check(out, gen, fixedKeys.take(2) :+
        ((0, histEnd - 6 * 3600000L, histEnd + liveChunks.toLong * TickMs)))
      historyS
    } finally {
      feed.stop()
      ctx.remove(dir)
    }
  }
}
