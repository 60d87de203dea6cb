package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}

import graft.model.Statistic

/** Columnar record of the valid trades a generator produced: the ground
  * truth the output checks compare the store and the trends query with. */
final class Sent {
  var n = 0
  var pair = new Array[Byte](1 << 16)
  var rate = new Array[Double](1 << 16)
  var tMs = new Array[Long](1 << 16)

  def add(p: Int, r: Double, t: Long): Unit = {
    if (n == pair.length) {
      pair = java.util.Arrays.copyOf(pair, n * 2)
      rate = java.util.Arrays.copyOf(rate, n * 2)
      tMs = java.util.Arrays.copyOf(tMs, n * 2)
    }
    pair(n) = p.toByte; rate(n) = r; tMs(n) = t
    n += 1
  }

  /** Trends rows computed in plain Scala: 10-minute windows over
    * [fromMs, toMs] (both inclusive) for one pair, with min, max, mean
    * and the exact median (midpoint of the two middle values). */
  def trends(p: Int, fromMs: Long, toMs: Long): Seq[(Long, Double, Double, Double, Double)] = {
    val byWindow = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Double]]
    var i = 0
    while (i < n) {
      if (pair(i) == p && tMs(i) >= fromMs && tMs(i) <= toMs)
        byWindow.getOrElseUpdate(Math.floorDiv(tMs(i), 600000L) * 600000L,
          scala.collection.mutable.ArrayBuffer.empty[Double]) += rate(i)
      i += 1
    }
    byWindow.toSeq.sortBy(_._1).map { case (w, rs) =>
      val s = rs.toArray.sorted
      val k = s.length
      val med = if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
      (w, s.head, s.last, s.sum / k, med)
    }
  }
}

object TradeGen {
  val Pairs: Array[(String, String)] = Array("EUR" -> "USD", "USD" -> "JPY",
    "GBP" -> "USD", "USD" -> "CHF", "AUD" -> "USD", "USD" -> "CAD",
    "EUR" -> "GBP", "NZD" -> "USD")
  /** Share of traffic per pair, skewed toward EUR/USD. */
  private val Weights = Array(0.40, 0.15, 0.12, 0.08, 0.08, 0.07, 0.06, 0.04)
  private val Cum = Weights.scanLeft(0.0)(_ + _).tail
  private val BaseRate = Array(1.09, 148.5, 1.27, 0.88, 0.66, 1.36, 0.86, 0.61)
  private val Countries = Array("US", "GB", "DE", "FR", "JP", "CH", "AU", "CA", "IE", "NL")
  private val Months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL",
    "AUG", "SEP", "OCT", "NOV", "DEC")

  /** Event-time origin of every generated stream: 2024-08-12 00:00 UTC. */
  val Origin: Long = 1723420800000L

  /** Micros exactly as the ingest computes them from the wire number. */
  def micros(txt: String): Long = (txt.toDouble * 1e6).toLong

  private def two(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }

  def cents(c: Long): String = {
    val r = (c % 100).toInt
    s"${c / 100}.${if (r < 10) "0" else ""}$r"
  }

  /** Wire timestamp "12-AUG-24 11:23:45" (month case varies like real
    * clients; the ingest parses it case-insensitively). */
  def wireTime(sec: Long, lower: Boolean): String = {
    val t = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(18)
    two(sb, t.getDayOfMonth); sb.append('-')
    val m = Months(t.getMonthValue - 1)
    sb.append(if (lower) m.toLowerCase else m); sb.append('-')
    two(sb, t.getYear % 100); sb.append(' ')
    two(sb, t.getHour); sb.append(':'); two(sb, t.getMinute); sb.append(':')
    two(sb, t.getSecond)
    sb.toString
  }
}

/**
 * Seeded wire-JSON trade generator. About 1 % of messages are invalid in
 * one of three ways the ingest must reject: broken JSON, an impossible
 * date, or a wrong-typed field. Valid messages are recorded in [[sent]].
 */
final class TradeGen(seed: Long) {
  import TradeGen._
  private val rng = new java.util.SplittableRandom(seed)
  val sent = new Sent
  var offered = 0L

  def pickPair(r: java.util.SplittableRandom = rng): Int = {
    val u = r.nextDouble()
    val i = Cum.indexWhere(u < _)
    if (i < 0) Cum.length - 1 else i
  }

  /** `n` messages whose event times step evenly through
    * [startMs, startMs + spanMs), truncated to whole seconds. */
  def messages(n: Int, startMs: Long, spanMs: Long): Array[String] =
    Array.tabulate(n)(i => message(startMs + i * spanMs / n))

  private def message(tMs: Long): String = {
    offered += 1
    val p = pickPair()
    val (cf, ct) = Pairs(p)
    val sell = cents(1000 + rng.nextLong(999000))
    val r = BaseRate(p) * (1 + (rng.nextDouble() - 0.5) * 0.02)
    val buy = cents(math.max(1L, math.round(sell.toDouble * 100 * r)))
    val sec = Math.floorDiv(tMs, 1000L)
    val user = 100000 + rng.nextInt(900000)
    val country = Countries(rng.nextInt(Countries.length))
    val time = wireTime(sec, rng.nextInt(10) == 0)
    val invalid = if (rng.nextInt(100) == 0) rng.nextInt(3) else -1
    val json =
      s"""{"userId":"$user","currencyFrom":"$cf","currencyTo":"$ct",""" +
        (if (invalid == 2) s""""amountSell":"$sell",""" else s""""amountSell":$sell,""") +
        s""""amountBuy":$buy,"rate":${math.rint(r * 1e4) / 1e4},""" +
        s""""timePlaced":"${if (invalid == 1) impossibleTime(sec) else time}",""" +
        s""""originatingCountry":"$country"}"""
    invalid match {
      case 0 => json.substring(0, 5 + rng.nextInt(json.length - 6))
      case -1 =>
        sent.add(p, micros(buy).toDouble / micros(sell).toDouble, sec * 1000)
        json
      case _ => json
    }
  }

  private def impossibleTime(sec: Long): String = {
    val yy = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).getYear % 100
    rng.nextInt(3) match {
      case 0 => f"31-FEB-$yy%02d 10:15:00"
      case 1 => f"00-AUG-$yy%02d 10:15:00"
      case _ => f"12-AUG-$yy%02d 25:61:00"
    }
  }
}

/** Output check of the trends query against the generator's record. */
object TrendsCheck {
  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** None when the engine's rows equal the plain-Scala rows. */
  def diff(got: Array[Statistic], want: Seq[(Long, Double, Double, Double, Double)]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} windows, expected ${want.length}")
    else got.zip(want).collectFirst {
      case (g, w) if g.window.getTime != w._1 || g.min != w._2 || g.max != w._3 ||
          !close(g.mean, w._4) || !close(g.median, w._5) =>
        s"window ${g.window}: got ($g), expected $w"
    }
}
