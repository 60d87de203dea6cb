package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * `_failed.json`: every query or aux table that failed, with its
  * message (`{}` when clean). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args = subset of query names (targeted iteration)
    val only: String => Boolean =
      if (args.length > 2) args.drop(2).toSet else (_ => true)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    def dump(label: String, df: => DataFrame, path: String): Option[(String, String)] = {
      val failure =
        try { df.coalesce(1).write.mode("overwrite").parquet(path); None }
        catch { case e: Throwable => Some(e) }
      Harness.sweep(spark)
      failure.map { e =>
        System.err.println(s"[verify] $label failed: ${e.getMessage}")
        label -> Harness.message(e)
      }
    }
    val failed = SparkEntry.queries.filter(kv => only(kv._1)).toSeq.flatMap {
      case (name, fn) => dump(name, fn(spark, sfDir), s"$outDir/$name")
    } ++
    // Write-time index state some oracles replay (e.g. the IVF quantizer
    // + cell layout) — ingest-time data a deployment would have on disk.
    SparkEntry.auxTables.toSeq.flatMap {
      case (name, fn) => dump(s"aux $name", fn(spark, sfDir), s"$outDir/_aux/$name")
    }
    val auxDir = Paths.get(outDir).toAbsolutePath.toString + "/_aux"
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v.replace("__AUX__", auxDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failed
      .map { case (k, msg) => s"${Harness.json(k)}: ${Harness.json(msg)}" }
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
