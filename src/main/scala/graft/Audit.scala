package graft

import org.apache.spark.sql.SparkSession

/** Dev-tooling main (the Verify/Bench tier), the release gates run over
  * every registered query at sf0.001. A clean run prints only
  * "AUDIT done".
  *
  *  - `repart`: each query under two shuffle-partition counts — the cheap
  *    detector for combine-order-dependent float aggregation (the
  *    determinism-ladder violation class that customer_value_deciles' raw
  *    double spend sum slipped through before the dec() fix).
  *  - `codegen`: interpreted-vs-codegen parity. Every custom Catalyst
  *    Expression ships BOTH an eval() and a doGenCode(); Spark falls back
  *    to the interpreted path under codegen failures/thresholds, so the
  *    two must agree bit-for-bit.
  *  - `tz`: the session-timezone contract. NTZ wall clocks map to
  *    instants through the session zone, so a non-UTC session must FAIL
  *    FAST at the Tables chokepoint — never run and silently shift every
  *    day/window bucket (47 queries measured TZ-sensitive before the
  *    guard). Flags any query that still RUNS under a non-UTC session.
  *
  * Usage: runMain graft.Audit repart|codegen|tz
  */
object Audit {
  private val dir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    args.toSeq match {
      case Seq("repart") => compare(spark, names, "UNSTABLE",
        Map("spark.sql.shuffle.partitions" -> "7"),
        Map("spark.sql.shuffle.partitions" -> "13"))
      case Seq("codegen") => compare(spark, names, "CODEGEN-DIVERGENT",
        Map("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "FALLBACK"),
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      case Seq("tz") => tz(spark, names)
      case _ =>
        System.err.println("usage: graft.Audit repart|codegen|tz")
        spark.stop()
        sys.exit(2)
    }
    println("AUDIT done")
    spark.stop()
  }

  /** Runs `body` with `confs` set on the session, then puts back what was
    * there before. */
  private def under[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every query collected under conf `a` and conf `b`; any row
    * difference is printed under `label`. */
  private def compare(spark: SparkSession, names: Seq[String], label: String,
      a: Map[String, String], b: Map[String, String]): Unit =
    names.foreach { q =>
      def rows(confs: Map[String, String]) = under(spark, confs) {
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
      }
      try {
        val ra = rows(a)
        val rb = rows(b)
        if (ra != rb) {
          val first = ra.zip(rb).find(p => p._1 != p._2)
          println(s"AUDIT $q $label rows=${ra.size}/${rb.size} first=$first")
        }
      } catch { case e: Throwable =>
        println(s"AUDIT $q ERROR ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(100))
      }
      Harness.sweep(spark)
    }

  private def tz(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { q =>
      try {
        val n = under(spark, Map("spark.sql.session.timeZone" -> "America/New_York")) {
          SparkEntry.queries(q)(spark, dir).collect().length
        }
        println(s"AUDIT $q RAN under non-UTC session ($n rows) — guard missed")
      } catch {
        case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("timeZone") =>
          () // contract enforced
        case e: Throwable =>
          println(s"AUDIT $q unexpected ${e.getClass.getSimpleName}")
      }
    }
}
