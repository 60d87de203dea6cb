package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Percentiles and medians over measured samples. */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 1]; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Named metrics with units, in insertion order. A metric that does not
  * apply to a workload is reported as 0 (see README). */
final class Metrics {
  private val m =
    scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit =
    m(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)

  def get(name: String): Double = m.get(name).map(_._1).getOrElse(0.0)

  def ++=(o: Metrics): Unit = o.m.foreach { case (k, v) => m(k) = v }

  def json: String = m.map { case (k, (v, u)) =>
    s""""$k":{"value":$v,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * In-memory span recorder for the traced mode. Spans nest per thread; a
 * span opened while another is open on the same thread becomes its child.
 * Nothing is written until [[Trace.write]] at the end of a run.
 */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def reset(): Unit = spans.clear()

  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Record a span whose bounds were observed after the fact (batches and
    * chunks of the stream). Returns the new span's id. */
  def record(name: String, layer: String, parent: Long, startNs: Long,
      endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.add(Span(id, parent, name, layer, startNs, endNs))
    id
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children are clipped to the parent's bounds). */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (if (b > from) sum + (b - from) else sum, math.max(reach, b))
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Span file: one JSON object per span, then one summary line per span
    * name with its count and total and median self time. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all.sortBy(_.startNs)
    val self = selfMs(ss)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,"self_ms":${self(s.id)}%.3f}"""
    } ++ ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) =>
      val selfs = g.map(s => self(s.id))
      f"""{"summary":"$n","layer":"${g.head.layer}","count":${g.size},"total_ms":${g.map(_.ms).sum}%.3f,"self_total_ms":${selfs.sum}%.3f,"self_p50_ms":${Stats.median(selfs)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** A run's verdict: metrics plus operation counts and output checks. */
final class Outcome {
  val e2e = new Metrics
  val layer = new Metrics
  val detail = new Metrics
  var attempted = 0L
  var failed = 0L
  val problems = new ConcurrentLinkedQueue[String]()

  def fail(msg: String): Unit = {
    problems.add(msg)
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  def correct: Boolean = problems.isEmpty && failed == 0
}

/** A workload: a one-time setup, then a measurement that can be repeated
  * (untraced, traced, untraced in the traced mode). */
trait Workload {
  /** Seconds of set-up work beyond the session start (median over
    * repetitions where the work is repeatable). */
  def setup(out: Outcome): Double

  /** Run the measured phase and fill `out`. Returns extra set-up seconds
    * the measurement had to do first (a per-measurement history build). */
  def measure(out: Outcome, traced: Boolean): Double
}
