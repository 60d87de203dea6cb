package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Per-run context: arguments, the run's private work directory and the
  * benchmark-registered listeners. */
final class Ctx(val seed: Long, val seconds: Int, work: Path) {
  val engine = new EngineRecorder
  val streams = new StreamRecorder
  val scans = new ScanRecorder
  private val dirs = new AtomicInteger

  def freshDir(name: String): Path =
    Files.createDirectories(work.resolve(s"$name-${dirs.incrementAndGet()}"))

  def remove(p: Path): Unit =
    if (Files.exists(p)) {
      val ps = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try ps.forEach(x => Files.deleteIfExists(x)) finally ps.close()
    }
}

/**
 * Benchmark entry point. Runs one workload with one seed and prints, as its
 * last stdout line, `{"correct", "attempted", "failed", "metrics"}`: the
 * end-to-end metrics untraced (`--trace 0`), or the per-layer metrics of a
 * traced measurement plus its tracing overhead (`--trace 1`).
 */
object Main {
  /** End-to-end metrics every workload reports (see README). */
  val EndToEnd: Seq[String] = Seq("latency_p50_ms", "latency_p95_ms", "throughput_per_s")

  val Spans: Seq[String] = Seq("request", "cache", "store_open", "trends", "page",
    "batch", "chunk", "query")

  /** Every per-layer metric with its unit; a workload that does not run a
    * layer reports that layer's metrics as 0. */
  def perLayer(board: Seq[String]): Seq[(String, String)] = Seq(
    "ingest.parse_rows_per_s" -> "rows/s", "ingest.accept_frac" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "rows",
    "streaming.trigger_ms_p50" -> "ms", "streaming.addBatch_ms_p50" -> "ms",
    "streaming.queryPlanning_ms_p50" -> "ms", "streaming.walCommit_ms_p50" -> "ms",
    "streaming.commitOffsets_ms_p50" -> "ms", "streaming.latestOffset_ms_p50" -> "ms",
    "streaming.wait_ms_p50" -> "ms", "streaming.busy_frac" -> "ratio",
    "streaming.backlog_rows_max" -> "rows", "streaming.freshness_p50_ms" -> "ms",
    "streaming.freshness_p95_ms" -> "ms",
    "store.files" -> "count", "store.files_per_batch" -> "count",
    "store.partition_dirs" -> "count", "store.open_ms_p50" -> "ms",
    "store.bytes_per_trade" -> "B",
    "operators.trends_ms_p50" -> "ms", "operators.jobs_per_request" -> "count",
    "operators.tasks_per_request" -> "count",
    "operators.files_read_per_request" -> "count",
    "serving.hit_frac" -> "ratio", "serving.hit_us_p50" -> "us",
    "serving.page_us_p50" -> "us",
    "registry.memo_build_s" -> "s") ++
    board.flatMap(q => Seq(s"registry.${q}_s" -> "s", s"registry.${q}_jobs" -> "count",
      s"registry.${q}_tasks" -> "count")) ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.busy_frac" -> "ratio",
    "gen.late_ms_max" -> "ms", "gen.offered_rows" -> "rows") ++
    Spans.map(s => s"trace.${s}_self_ms_p50" -> "ms") ++
    EndToEnd.map(m => s"trace.overhead.$m" -> "ratio")

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = opt.getOrElse("data", "perfbench/data/sf0.01")
    val ctx = new Ctx(seed, seconds, work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    spark.streams.addListener(ctx.streams)
    val sessionS = Stats.secondsSince(t0)

    val wl: Workload = workload match {
      case "ingest" => new Ingest(spark, ctx)
      case "serve_live" => new ServeLive(spark, ctx)
      case "board" => new Board(spark, ctx, data, Paths.get(opt.getOrElse("hashes",
        "perfbench/board_hashes.tsv")), opt.get("record-hashes").contains("1"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val outs = Seq.newBuilder[Outcome]
    val setupOut = new Outcome
    outs += setupOut
    val setupWork = wl.setup(setupOut)
    val base = new Outcome
    outs += base
    val m0 = System.nanoTime()
    val historyS = wl.measure(base, traced = false)
    System.err.println(f"[perfbench] session $sessionS%.2f s, setup $setupWork%.2f s, " +
      f"measure ${Stats.secondsSince(m0)}%.2f s (history $historyS%.2f s)")
    val setupS = sessionS + setupWork + historyS

    val metrics = new Metrics
    // a metric without samples reads 0: the run has nothing to report
    EndToEnd.filter(base.e2e.get(_) == 0).foreach(m => base.fail(s"no samples for $m"))
    if (!trace) {
      metrics.put("setup_s", setupS, "s")
      EndToEnd.foreach(m => metrics.put(m, base.e2e.get(m), if (m.endsWith("_ms")) "ms" else "1/s"))
    } else {
      val tr = new Outcome
      outs += tr
      spark.sparkContext.addSparkListener(ctx.engine)
      spark.listenerManager.register(ctx.scans)
      Trace.reset()
      Trace.on = true
      val w0 = System.nanoTime()
      try wl.measure(tr, traced = true)
      finally Trace.on = false
      val wall = Stats.secondsSince(w0)
      ctx.engine.fence(spark)
      val c = ctx.engine.total
      spark.sparkContext.removeSparkListener(ctx.engine)
      spark.listenerManager.unregister(ctx.scans)
      // a second untraced measurement after the traced one, so the
      // overhead compares against untraced runs on both sides of it
      val after = new Outcome
      outs += after
      wl.measure(after, traced = false)
      tr.layer ++= setupOut.layer
      tr.layer.put("spark.jobs", c.jobs.get.toDouble, "count")
      tr.layer.put("spark.stages", c.stages.get.toDouble, "count")
      tr.layer.put("spark.tasks", c.tasks.get.toDouble, "count")
      tr.layer.put("spark.executor_run_s", c.runMs.get / 1e3, "s")
      tr.layer.put("spark.executor_cpu_s", c.cpuNs.get / 1e9, "s")
      tr.layer.put("spark.gc_s", c.gcMs.get / 1e3, "s")
      tr.layer.put("spark.shuffle_write_mb", c.shuffleWriteBytes.get / 1048576.0, "MB")
      tr.layer.put("spark.spill_mb", c.spillBytes.get / 1048576.0, "MB")
      tr.layer.put("spark.busy_frac", c.runMs.get / 1e3 / (wall * Cores), "ratio")
      val spans = Trace.all
      val self = Trace.selfMs(spans)
      Spans.foreach { n =>
        tr.layer.put(s"trace.${n}_self_ms_p50",
          Stats.median(spans.filter(_.name == n).map(s => self(s.id))), "ms")
      }
      EndToEnd.foreach { m =>
        tr.layer.put(s"trace.overhead.$m",
          tr.e2e.get(m) / ((base.e2e.get(m) + after.e2e.get(m)) / 2) - 1, "ratio")
      }
      val spanFile = Paths.get(opt.getOrElse("out", ".bench_out"))
        .resolve(s"spans-$workload-s$seed.jsonl")
      Trace.write(spanFile)
      System.err.println(s"[perfbench] spans written to $spanFile")
      perLayer(Board.Queries).foreach { case (n, u) => metrics.put(n, tr.layer.get(n), u) }
    }
    spark.stop()

    val all = outs.result()
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val correct = all.forall(_.correct)
    val detail = new Metrics
    all.foreach(o => detail ++= o.detail)
    detail.put("error_frac", failed.toDouble / math.max(1L, attempted), "ratio")
    val problems = all.flatMap(o => scala.jdk.CollectionConverters.IterableHasAsScala(o.problems).asScala)
      .map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
    println(s"""{"workload":"$workload","seed":$seed,"trace":$trace,"detail":${detail.json},"problems":${problems.mkString("[", ",", "]")}}""")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metrics.json}}""")
  }
}
