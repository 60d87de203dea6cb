package graft

/** Same-host INTERLEAVED A/B for the round-10 bench-drift watch-list
  * (r10 verdict directive #1): `winnow_pairs`, `corpus_overlap_kmv`,
  * `tf_cosine_pairs`, `vol_signature` moved +53–59% between the driver's
  * r9 and r10 runs while the CPU calibration probe read the r10 host
  * FASTER — and all four ride the shingle/h60 census paths reworked by
  * the byte-level StaticInvoke h60. The calibration probe is proven
  * non-predictive, so the only clean separation of host variance from a
  * real constant-factor regression is alternating the watch queries with
  * flat controls (`rank_bands`, `vpin_buckets`) in ONE JVM session:
  * contention moves watch and control together; a code regression moves
  * only the watch/control ratio.
  *
  * Schedule: warmup every query at sf0.001 (JIT + codegen cache), then
  * N full rounds, each round running watch and control queries strictly
  * alternated (w1 c1 w2 c2 ...), so any contamination window lands on
  * different queries in different rounds. Emits one JSON line with all
  * per-round samples, per-query min/median, and the min-ratio of each
  * watch query to the control mean — compare against the same ratios
  * computed from BENCH_r09/BENCH_r10 per-query numbers. */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val rounds = sys.env.getOrElse("SPARK_GRAFT_AB_ROUNDS", "8").toInt
    // watch/control sets are env-overridable: each round's verdict names
    // fresh unadjudicated driver-host deltas (r10: the shingle quartet;
    // r11: rnn_pairs/lm_coverage), and the harness is the same every time
    val watch = sys.env.getOrElse("SPARK_GRAFT_AB_WATCH",
      "winnow_pairs,corpus_overlap_kmv,tf_cosine_pairs,vol_signature")
      .split(',').toSeq.filter(_.nonEmpty)
    val controls = sys.env.getOrElse("SPARK_GRAFT_AB_CONTROLS",
      "rank_bands,vpin_buckets")
      .split(',').toSeq.filter(_.nonEmpty)
    require(watch.nonEmpty && controls.nonEmpty,
      "SPARK_GRAFT_AB_WATCH and SPARK_GRAFT_AB_CONTROLS must each name " +
        "at least one query")
    // strict alternation: w c w c w c (controls cycled)
    val order = watch.zipWithIndex.flatMap { case (w, i) =>
      Seq(w, controls(i % controls.length))
    }
    val spark = Harness.session()
    // a failed query aborts the A/B: a ratio over a missing arm means nothing
    def timed(name: String): Double = Harness.run(spark, name, sfDir).get
    (watch ++ controls).foreach(n => Harness.run(spark, n, warmDir).get)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to rounds).foreach { r =>
      order.foreach { n => samples(n) = samples(n) :+ timed(n) }
      System.err.println(s"[ab] round $r/$rounds done")
    }
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def mins(n: String) = samples(n).min
    def med(n: String) = {
      val s = samples(n).sorted
      s(s.length / 2)
    }
    val ctrlMin = controls.map(mins).sum / controls.length
    val runs = (watch ++ controls).map { n =>
      "\"" + n + "\":[" + samples(n).map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val summary = (watch ++ controls).map { n =>
      "\"" + n + "\":{\"min\":" + r3(mins(n)) + ",\"med\":" + r3(med(n)) +
        ",\"ratio_to_ctrl\":" + r3(mins(n) / ctrlMin) + "}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"ab_bench","rounds":$rounds,"ctrl_min_mean":${r3(ctrlMin)},"summary":$summary,"runs":$runs,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_AB_OUT", "ab_bench.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[ab] write failed: $e") }
    spark.stop()
  }
}
