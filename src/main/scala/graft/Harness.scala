package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every main (`Bench`, `Verify`, `PlanDump`, `AbBench`, `Audit`)
  * shares: the one session they run on, the one unpersist sweep between
  * queries, and the one way a registry query is run and timed. */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions =
    * cpus, UTC, AQE on and the UI off. The WindowExec "No Partition
    * Defined" warning is silenced: the global-window spines are
    * bounded-cardinality by audit (SCALE.md), and tens of thousands of
    * these lines drowned the only diagnostics of the r15 timed-out run. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { case e: Throwable =>
      System.err.println(s"[harness] window-logger silence failed: ${e.getMessage}")
    }
    spark
  }

  /** Iterative queries (k-means, connected components) leave
    * localCheckpoint blocks behind; drop them so queries are hermetic and
    * no storage pressure accumulates across a run — EXCEPT the cross-query
    * memos SparkEntry pins (truncated lineage: sweeping them would strand
    * later readers, see SparkEntry.pinnedRddIds). */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!SparkEntry.pinnedRddIds.contains(id)) rdd.unpersist(blocking = false)
    }

  /** Builds registry query `name` on `dir`, materializes it through the
    * noop sink (every column computed, no driver funnel, no sink cost) and
    * sweeps: the wall seconds of all three, or the failure. */
  def run(spark: SparkSession, name: String, dir: String): Try[Double] =
    measure(spark)(SparkEntry.queries(name)(spark, dir)).map(_._1)

  /** [[run]] over any DataFrame-producing block, also handing back the
    * built frame (Bench fingerprints its plan after the timer stops).
    * The sweep runs whether or not the block fails: a failed query leaves
    * its checkpoint blocks behind like a passing one. */
  def measure(spark: SparkSession)(build: => DataFrame): Try[(Double, DataFrame)] = {
    val t0 = System.nanoTime()
    // Throwable, not NonFatal: a StackOverflowError in one deep plan must
    // not end the whole run
    val built =
      try Success { val df = build; df.write.format("noop").mode("overwrite").save(); df }
      catch { case e: Throwable => Failure(e) }
    sweep(spark)
    built.map(df => ((System.nanoTime() - t0) / 1e9, df))
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL or an exception message
    * would otherwise make a reader's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A failure's message for a report line: never null. */
  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
}
