package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.ingest.TradeIngest

/**
 * `ingest`: writes only, open loop. One generator thread offers
 * pre-generated wire-JSON trades to `TradeStream.start` in 100 ms chunks at
 * a fixed steady rate, then offers fixed backlogs all at once (cut into
 * the same chunk size) and times how fast they drain.
 */
final class Ingest(spark: SparkSession, ctx: Ctx) extends Workload {
  val Rate = 10000 // trades/s in the steady phase
  val TickMs = 100
  val ChunkRows: Int = Rate * TickMs / 1000
  val BurstRows = 40000
  val Bursts = 3
  val steadyChunks: Int = ctx.seconds * 1000 / TickMs

  private var gen: TradeGen = _
  private var warm: Array[String] = _
  private var steady: Array[String] = _
  private var bursts: Seq[Array[String]] = _

  private def generate(): Unit = {
    gen = new TradeGen(ctx.seed)
    warm = gen.messages(4 * Rate, TradeGen.Origin - 86400000L, 4000L)
    steady = gen.messages(steadyChunks * ChunkRows, TradeGen.Origin,
      steadyChunks.toLong * TickMs)
    bursts = (0 until Bursts).map { b =>
      gen.messages(BurstRows, TradeGen.Origin + 86400000L * (b + 1), 3600000L)
    }
  }

  def setup(out: Outcome): Double =
    Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); generate(); Stats.secondsSince(t0)
    })

  def measure(out: Outcome, traced: Boolean): Double = {
    val dir = ctx.freshDir("ingest")
    val feed = new Feed(spark, ctx, dir, "stream")
    val ch = (0 until steadyChunks).map { i =>
      (i * ChunkRows, (i + 1) * ChunkRows)
    }
    try {
      // JIT and codegen warmup on the same stream (its time is set-up)
      val w0 = System.nanoTime()
      (0 until warm.length / ChunkRows).foreach { i =>
        feed.offer(warm, i * ChunkRows, (i + 1) * ChunkRows, System.currentTimeMillis())
        Thread.sleep(TickMs)
      }
      feed.drain()
      val warmS = Stats.secondsSince(w0)
      // ticks sit 25 ms off the whole seconds the 1 s trigger fires on
      val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000 + 25
      val steadyChunksOffered = ch.zipWithIndex.map { case ((a, b), i) =>
        val due = t0 + i.toLong * TickMs
        Feed.sleepUntil(due)
        feed.offer(steady, a, b, due)
      }
      val late = steadyChunksOffered.map(c => (c.offeredMs - c.dueMs).toDouble).max
      val steadyBatches = feed.drain()
      val fr = Feed.freshness(steadyBatches, steadyChunksOffered)
      System.err.println("[perfbench] steady batches (rows, ms): " + fr.map(_._2).distinct
        .sortBy(_.id).map(b => s"${b.rows}/${b.ms("triggerExecution").toInt}").mkString(" "))
      if (fr.size != steadyChunksOffered.size) out.fail("a steady chunk has no batch")
      // keeping up: the last batches carry about one trigger's worth of rows
      val tail = fr.map(_._2).distinct.sortBy(_.id).takeRight(3)
      if (tail.map(_.rows).sum / tail.size.toDouble > 1.5 * Rate)
        out.fail(s"steady backlog still growing: last batches ${tail.map(_.rows)} rows")
      if (late > 1000) out.fail(s"generator ran $late ms late")

      // bursts: offered just before a trigger boundary so the next
      // trigger takes the whole backlog
      val drains = bursts.map { msgs =>
        val now = System.currentTimeMillis()
        var at = (now / 1000 + 1) * 1000 - 400
        if (at - now < 100) at += 1000
        Feed.sleepUntil(at)
        val offerMs = System.currentTimeMillis()
        val cs = (0 until msgs.length / ChunkRows).map { i =>
          feed.offer(msgs, i * ChunkRows, (i + 1) * ChunkRows, offerMs)
        }
        val bs = feed.drain()
        Feed.batchOf(bs, cs.last) match {
          case Some(b) =>
            System.err.println(s"[perfbench] burst offered in ${cs.last.offeredMs - offerMs} ms, drained in ${b.endMs - offerMs} ms, batches ${bs.filter(_.endOffset >= cs.head.offset).map(_.rows)}")
            msgs.length / ((b.endMs - offerMs) / 1000.0)
          case None => out.fail("burst chunk has no batch"); Double.NaN
        }
      }
      out.attempted += feed.chunks.size
      feed.stop()

      out.e2e.put("latency_p50_ms", Stats.median(fr.map(_._3)), "ms")
      out.e2e.put("latency_p95_ms", Stats.pct(fr.map(_._3), 0.95), "ms")
      out.e2e.put("throughput_per_s", Stats.median(drains.filterNot(_.isNaN)), "1/s")
      Feed.streamingLayer(out.layer, steadyBatches, steadyChunksOffered)
      out.layer.put("gen.late_ms_max", late, "ms")

      val keys = Seq(
        (0, TradeGen.Origin - 86400000L, TradeGen.Origin + steadyChunks.toLong * TickMs),
        (7, TradeGen.Origin + 86400000L * 3 + 600000L, TradeGen.Origin + 86400000L * 3 + 1800000L))
      out.layer.put("store.open_ms_p50", feed.check(out, gen, keys), "ms")
      if (traced) out.layer.put("ingest.parse_rows_per_s", parseRate(), "rows/s")
      warmS
    } finally {
      feed.stop()
      ctx.remove(dir)
    }
  }

  /** Parse throughput alone: the steady messages as a static DataFrame
    * through `parseTrades` into the noop sink (median of three). */
  private def parseRate(): Double = {
    import spark.implicits._
    val df = steady.toSeq.toDF("value").cache()
    df.count()
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      TradeIngest.parseTrades(df, "value").write.format("noop").mode("overwrite").save()
      Stats.secondsSince(t0)
    }
    df.unpersist(blocking = true)
    steady.length / Stats.median(ts)
  }
}
