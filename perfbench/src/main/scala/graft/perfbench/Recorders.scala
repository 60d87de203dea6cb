package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one tag (the `perfbench.tag` local property of the
  * thread that submitted the job). */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/**
 * SparkListener that attributes jobs, stages and task metrics to the tag
 * of the submitting thread. Events arrive on Spark's listener bus, so
 * readers call [[fence]] first: a tagged no-op job whose end event can
 * only be delivered after every earlier event.
 */
final class EngineRecorder extends SparkListener {
  val Tag = "perfbench.tag"
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val fences = new AtomicLong

  def counters(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)

  def tags: Seq[String] = byTag.keySet.asScala.toSeq.filter(_ != "fence")

  def total: Counters = {
    val t = new Counters
    tags.map(counters).foreach { c =>
      t.jobs.addAndGet(c.jobs.get); t.stages.addAndGet(c.stages.get)
      t.tasks.addAndGet(c.tasks.get); t.runMs.addAndGet(c.runMs.get)
      t.cpuNs.addAndGet(c.cpuNs.get); t.gcMs.addAndGet(c.gcMs.get)
      t.shuffleWriteBytes.addAndGet(c.shuffleWriteBytes.get)
      t.spillBytes.addAndGet(c.spillBytes.get)
    }
    t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
      .getOrElse("untagged")
    jobTag.put(e.jobId, tag)
    e.stageIds.foreach(s => stageTag.put(s, tag))
    counters(tag).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobTag.remove(e.jobId) == "fence") fences.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageTag.getOrDefault(e.stageInfo.stageId, "untagged"))
      .stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Block until every event posted before this call has been delivered. */
  def fence(spark: SparkSession): Unit = {
    val want = fences.get + 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, "fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tag, prev)
    val deadline = System.currentTimeMillis() + 10000
    while (fences.get < want && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}

/** One completed micro-batch, from its `StreamingQueryProgress`. The
  * offsets are MemoryStream chunk indices: the batch holds chunks
  * (startOffset, endOffset]. */
final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
    rows: Long, startOffset: Long, endOffset: Long) {
  def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** StreamingQueryListener keeping every data-carrying batch by query id. */
final class StreamRecorder extends StreamingQueryListener {
  private val batches = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[Batch]]()

  private def offset(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    p.sources.headOption.foreach { s =>
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, offset(s.startOffset), offset(s.endOffset))
      if (b.endOffset > b.startOffset)
        batches.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[Batch]()).add(b)
    }
  }

  /** Wait until the progress of the batch holding chunk `offset` has been
    * delivered (progress events trail the batch commit). */
  def await(id: java.util.UUID, offset: Long): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!of(id).exists(_.endOffset >= offset) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def of(id: java.util.UUID): Seq[Batch] =
    Option(batches.get(id)).map(_.asScala.toSeq.sortBy(_.id)).getOrElse(Nil)
}

/** QueryExecutionListener counting the files each `collect` scanned. */
final class ScanRecorder extends QueryExecutionListener {
  val collects = new AtomicLong
  val files = new DoubleAdder

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "collect") {
      files.add(scans(qe.executedPlan)
        .flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum)
      collects.incrementAndGet()
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until `n` collects have been delivered. */
  def await(n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (collects.get < n && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}
