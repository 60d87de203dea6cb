package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge}

import graft.registry.Memo

/** The memo cell and its pin seam: concurrent first calls build each
  * nested memo once and share it, and `bpeFor` pins exactly the blocks
  * of the frame it returns. */
class MemoSpec extends SparkSpec {

  /** A corpus dir over the sf0.001 documents that nothing else in the
    * JVM has memoized yet, so every call below is a first call. */
  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-memo")
    val link = Files.createSymbolicLink(d.resolve("documents.parquet"),
      Paths.get(sf0001, "documents.parquet"))
    link.toFile.deleteOnExit()
    d.toFile.deleteOnExit()
    d.toString
  }

  test("concurrent first calls share one build of each nested memo") {
    val dir = freshDir()
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val calls = (0 until 4).map { i =>
      pool.submit(new Callable[(DataFrame, DataFrame)] {
        def call(): (DataFrame, DataFrame) = {
          start.await()
          // half the threads reach overlap → postings first
          if (i % 2 == 0) (Memo.shingleTfFor(spark, dir), Memo.overlapFor(spark, dir))
          else { val ov = Memo.overlapFor(spark, dir); (Memo.shingleTfFor(spark, dir), ov) }
        }
      })
    }
    start.countDown()
    val got = try calls.map(_.get(5, TimeUnit.MINUTES)) finally pool.shutdown()
    got.foreach { case (tf, ov) =>
      assert(tf eq got.head._1, "shingle_tf built more than once")
      assert(ov eq got.head._2, "overlap built more than once")
    }
    val built = Memo.buildSecs.keys.collect { case (tag, d) if d == dir => tag }
    assert(built.toSeq.sorted == Seq("overlap", "positions", "postings", "shingle_tf"))
  }

  test("bpeFor pins exactly the checkpoint blocks of the frame it returns") {
    val dir = freshDir()
    def pinned = Memo.pinnedRddIds.asScala.map(_.intValue).toSet
    val before = pinned
    val (merges, encoded) = Memo.bpeFor(spark, dir)
    val own = GraftBridge.checkpointedRddIds(encoded)
    assert(own.nonEmpty, "bpeFor's frame is not a checkpoint")
    assert(pinned -- before == own)
    assert(merges.nonEmpty)
    // the pins keep the frame readable across the per-query sweep
    Harness.sweep(spark)
    assert(encoded.count() == Tables.documents(spark, dir).count())
  }
}
