package graft

/** Dev tool: dump `.explain("formatted")` for named queries (or all)
  * to one text file per query — the before/after plan evidence the
  * optimization rounds commit under plans/rNN/. Not part of the driver
  * contract; never run by Bench/Verify.
  *
  * Usage: runMain graft.PlanDump <outDir> <sfDir> [names...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names = args.drop(2)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names.toSeq
    all.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$n.txt"),
          txt.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
