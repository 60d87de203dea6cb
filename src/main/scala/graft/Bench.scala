package graft

import scala.util.{Failure, Success, Try}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Methodology: one warmup pass at sf0.001 first (JIT/codegen warm — the
  * plans are identical, only the data volume differs), then THREE full
  * INTERLEAVED passes over all queries on the target scale factor with a
  * full materialization through the noop sink (all columns computed, no
  * collect/driver funnel, no sink cost) and the per-query minimum across
  * passes reported — first-execution JIT of a heavy generated class can
  * add ~10s of noise that would poison cross-round comparisons. The
  * three samples per query are scheduled as TWO back-to-back runs
  * followed by one final full interleaved pass (every query once more):
  * the back-to-back pair keeps the whole-stage-codegen cache warm
  * (Spark's generated-class cache is LRU-bounded well below our query
  * count, so a fully interleaved schedule would recompile every class
  * per sample and inflate every min), while the separated third sample
  * defends against a transient contamination window — a concurrent
  * process competing for cores for ~15s lands on the back-to-back pair
  * of ONE query but on a DIFFERENT query in the final pass, so the
  * per-query min absorbs it. With three back-to-back samples the same
  * window poisons all of them and the min is defenseless (observed: a
  * driver capture showing runs [4.7, 6.0, 5.1] on a query whose clean
  * time is 0.4s). The per-run times are ALL emitted (`runs` map) so any
  * remaining contamination is self-evident in the artifact: a clean run
  * has tight per-run spreads, contention shows as inflated samples.
  *
  * Round-16 wall-budget fixes (r15's 32-core driver run hit its timeout
  * with NO parseable output — rc=124 erased the round's ground truth;
  * timing methodology above is UNCHANGED):
  *  - the warmup pass runs CONCURRENTLY from a small thread pool (guide
  *    §2.6): warmup is sf0.001 JIT/codegen warm only, never timed, and
  *    its wall cost was per-job scheduling overhead × 318 queries. The
  *    per-query unpersist sweep is deferred to one sweep after the pool
  *    drains so no thread can evict another's in-flight checkpoint.
  *  - the separate plan-fingerprint pass is GONE: the third timed pass
  *    records PlanTrace prefixes during construction and the sha is
  *    computed from that pass's DataFrame after its timer stops. This
  *    removes a full re-construction of all queries (which re-ran every
  *    eager-checkpoint prefix job). Cost: the cp seams force a
  *    structSha of the pre-checkpoint plan INSIDE the third timed
  *    window (ms-scale string normalization, ~25 affected queries);
  *    the min-of-3 almost always comes from the back-to-back pair, and
  *    the bias direction is conservative (never flatters a query).
  *  - per-query detail is printed INCREMENTALLY (one JSON line per
  *    query per phase, also appended to bench_progress.jsonl) so even a
  *    timed-out run leaves a parseable per-query prefix.
  *  - `memo_sec` (additions-only): build seconds per cross-query memo
  *    tag at the bench scale factor, measured at first build inside the
  *    timed pass (registry.Memo.buildSecs), so totals can be read with
  *    and without memo amortization.
  *  - a failed query is reported, never timed: its pass prints a
  *    `{"q":…,"error":…}` progress line, the query lands in the
  *    `failed` map of the detail file, and it is left out of `queries`,
  *    `runs`, `plan_sha` and `total` (the final line's `nq` drops).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = Harness.session()

    // optional args = subset of query names (targeted iteration)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty) all else all.filter(args.toSet)
    }

    // incremental detail: one line per query per phase, to stdout AND a
    // progress file, flushed per line — a timed-out run leaves a
    // parseable prefix instead of nothing (the r15 rc=124 lesson)
    val progressPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROGRESS",
      "bench_progress.jsonl")
    val progress = new java.io.PrintWriter(
      new java.io.FileWriter(progressPath, false))
    def note(line: String): Unit = {
      println(line); progress.println(line); progress.flush()
    }

    // warmup: JIT + codegen cache, tiny data — concurrent (§2.6: the
    // scheduler backfills; failures are caught per query and only cost
    // that query a slower first timed sample). The sweep waits for the
    // pool to drain so no thread evicts another's in-flight checkpoint;
    // a pool still busy at the deadline is abandoned unswept.
    val warmT0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    names.foreach { n =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(n)(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    if (pool.awaitTermination(60, java.util.concurrent.TimeUnit.MINUTES))
      Harness.sweep(spark)
    else {
      System.err.println("[bench] warmup did not finish in 60 min; abandoning it unswept")
      pool.shutdownNow()
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def r2(v: Double) = math.rint(v * 100) / 100
    note(s"""{"phase":"warmup","sec":${r3((System.nanoTime() - warmT0) / 1e9)},"nq":${names.size}}""")

    // Third-pass variant: records the normalized physical-plan
    // fingerprint from the SAME construction the pass times. The
    // fingerprint hashes plan STRUCTURE (plans.PlanFingerprint: the
    // node/keyword skeleton per line, bracket and paren argument lists,
    // ids, digits, lambda identities stripped) because driver-computed
    // literals are not byte-stable across processes, while the
    // regressions this exists to catch are operator-level: join
    // strategy, exchange kind, added/removed nodes. Since round 12 the
    // fingerprint also folds in the PRE-checkpoint plans recorded by
    // plans.PlanTrace during construction — a localCheckpoint prints as
    // a bare LogicalRDD, so without the trace two queries materializing
    // DIFFERENT prefixes (rnn_pairs's bounded LSH retriever vs
    // rnn_pairs_exact's corpus² brute) fingerprinted identically and
    // the tripwire was blind exactly where it mattered. The main sha is
    // computed AFTER the timer stops (the df's own QueryExecution is
    // lazy and untouched by the noop write, so this plans the identical
    // plan the dedicated pass used to).
    def timedSha(name: String): Try[(Double, String)] = {
      graft.plans.PlanTrace.reset()
      Harness.measure(spark) {
        graft.plans.PlanTrace.recording = true
        try SparkEntry.queries(name)(spark, sfDir)
        finally graft.plans.PlanTrace.recording = false
      }.map { case (dt, df) =>
        val sha =
          try {
            val main = graft.plans.PlanFingerprint.structSha(df)
            val prefixes = graft.plans.PlanTrace.snapshot()
            if (prefixes.isEmpty) main
            else graft.plans.PlanFingerprint.sha6(
              (main +: prefixes).mkString("|"))
          } catch { case _: Throwable => "err" }
        (dt, sha)
      }
    }

    // Host-speed calibration: a fixed pure-CPU probe (xxhash64 fold over
    // spark.range across all cores — data-independent, plan-trivial, no
    // IO) timed min-of-3 AROUND the query passes. Cross-round totals can
    // only be compared after normalizing by this: the sandbox shares a
    // physical host, and sustained sibling contention has been observed
    // to inflate EVERY query ~1.5× (identical code and data, tight
    // per-run spreads — e.g. trade_ingest 0.55 s vs 0.83 s between two
    // same-day runs). calib_sec makes that factor measured, not argued.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{col, max, xxhash64}
      val t0 = System.nanoTime()
      spark.range(1000000000L).select(xxhash64(col("id")).as("h"))
        .agg(max(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // IO-side calibration: a full uncached-schema scan-fold of the
    // largest table, timed like calib_sec. The CPU probe cannot see
    // page-cache state or IO-bandwidth contention, and those have been
    // observed to move EVERY scan-bound query ~+0.4 s uniformly between
    // same-code runs (141.6 s vs 123.4 s totals with the CPU calib
    // BETTER on the slower run). io_calib_sec makes that axis measured
    // too, so cross-round totals normalize on (cpu, io) instead of
    // arguing from one probe.
    def ioCalibrate(): Double = {
      import org.apache.spark.sql.functions.{col, max, xxhash64}
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(xxhash64(col("l_orderkey"), col("l_extendedprice"),
          col("l_shipdate")).as("h"))
        .agg(max(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibPre = calibrate()
    val ioCalibPre = ioCalibrate()
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val planShaMap = scala.collection.mutable.Map.empty[String, String]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(n: String, e: Throwable): Unit = {
      failed(n) = Harness.message(e)
      note(s"""{"q":"$n","error":${Harness.json(failed(n))}}""")
    }
    names.foreach { n =>
      (for (a <- Harness.run(spark, n, sfDir); b <- Harness.run(spark, n, sfDir))
        yield Vector(a, b)) match {
        case Success(ab) =>
          samples(n) = ab
          note(s"""{"q":"$n","runs":[${r3(ab(0))},${r3(ab(1))}]}""")
        case Failure(e) => fail(n, e)
      }
    }
    names.filterNot(failed.contains).foreach { n =>
      timedSha(n) match {
        case Success((c, sha)) =>
          samples(n) = samples(n) :+ c
          planShaMap(n) = sha
          note(s"""{"q":"$n","run3":${r3(c)},"min":${r3(samples(n).min)},"plan_sha":"$sha"}""")
        case Failure(e) => fail(n, e)
      }
    }
    val calib = math.min(calibPre, math.min(calibrate(), calibrate()))
    val ioCalib = math.min(ioCalibPre, math.min(ioCalibrate(), ioCalibrate()))
    val results = names.filterNot(failed.contains).map(n => n -> samples(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v.min) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val shas = results.map { case (k, _) => "\"" + k + "\":\"" + planShaMap(k) + "\"" }
      .mkString("{", ",", "}")
    val failedJson = failed.map { case (k, msg) => "\"" + k + "\":" + Harness.json(msg) }
      .mkString("{", ",", "}")
    // memo build cost at the bench scale factor (first build ran inside
    // the first timed pass; the min-of-3 drops it from the per-query
    // minima, so this is the amortized-away cost, made visible)
    val memoSec = graft.registry.Memo.buildSecs.toSeq
      .collect { case ((tag, d), sec) if d == sfDir => tag -> sec }
      .sortBy(_._1)
      .map { case (tag, sec) => "\"" + tag + "\":" + r3(sec) }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2.min).sum)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":${r3(calib)},"io_calib_sec":${r3(ioCalib)},"memo_sec":$memoSec,"queries":$qs,"runs":$runs,"plan_sha":$shas,"failed":$failedJson,"sf":"$sfDir"}"""
    // Full detail (per-query min + all three per-run samples, so a
    // contaminated measurement is self-evident) goes to an EARLIER stdout
    // line and a file: the harness that records the benchmark keeps only
    // the last ~2000 characters of output, and with 90+ queries the full
    // map cannot fit there alongside sbt's trailing "[success]" line.
    println(full)
    progress.close()
    // targeted (subset) iterations must not clobber the committed
    // full-board record
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (args.isEmpty) "bench_full.json" else "bench_subset.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailFile),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // FINAL line — compact so the whole line survives a 2000-char tail:
    // total + query count + the slowest queries (2dp) that fit a fixed
    // character budget. The slowest queries are the ones any perf audit
    // needs; the full map is on the line above and in bench_full.json.
    // 1200 chars + ~200 of fixed JSON + sbt's trailing "[success]" line
    // stays well inside the harness's 2000-char tail even as nq grows
    val budget = 1200
    val slowest = results.sortBy(-_._2.min)
    val sb = new StringBuilder
    var taken = 0
    slowest.foreach { case (k, v) =>
      val frag = (if (taken == 0) "" else ",") + "\"" + k + "\":" + r2(v.min)
      if (sb.length + frag.length <= budget) { sb.append(frag); taken += 1 }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","nq":${results.size},"calib_sec":${r3(calib)},"io_calib_sec":${r3(ioCalib)},"queries":{${sb.toString}},"detail":"$detailFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
