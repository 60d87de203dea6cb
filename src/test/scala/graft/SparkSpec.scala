package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — suites
  * run sequentially in sbt's forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Every `.parquet` file under `root`, at any depth. */
  def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).forEach(p =>
      if (p.toString.endsWith(".parquet")) out += p)
    out.toSeq
  }

  /** Whether one store file's `time_placed` values, read from that file
    * alone in its row order, never decrease. */
  def timeSorted(file: java.nio.file.Path): Boolean = {
    val ts = spark.read.parquet(file.toString).select("time_placed")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    ts == ts.sorted
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
