package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/**
 * Engine-portable 60-bit hash: the first 15 hex chars of md5, read as an
 * integer. Exists so the sketch operators (MinHash, SimHash, hyperplane
 * LSH) can be verified by the DuckDB oracle EXACTLY — both engines ship
 * bit-identical md5, and 60 bits stays inside checked signed-64 arithmetic
 * everywhere (`('0x' || substr(md5(x),1,15))::BIGINT` on the DuckDB side).
 *
 * xxhash64 would be ~3× faster but is Spark-private; determinism across
 * engines is worth more here than the last nanoseconds. The extraction is
 * a codegen'd byte-level StaticInvoke: first 8 digest bytes big-endian
 * `>>> 4` ≡ first 15 hex nibbles — measured ~4× cheaper per row than the
 * `conv(substring(md5_hex, 1, 15), 16, 10)` composition it replaces
 * (the hex render + substring + base-16 reparse dominated the digest
 * itself; profile_lineitem_approx's 11-hash scan made it visible).
 */
object PortableHash {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Invoked from generated code — keep signature stable. First 60 bits
    * of the md5 digest: bytes 0..7 big-endian, low nibble dropped —
    * exactly `('0x' || substr(md5_hex, 1, 15))::BIGINT`. */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Column form: h60(s) ∈ [0, 2^60); null in → null out like the md5
    * builtin (StaticInvoke propagates null). Any input is rendered
    * through the string cast first — the same bytes the old
    * `md5(string)` form hashed; `DedupSpec` holds it equal to that
    * `conv(substring(md5(s), 1, 15), 16, 10)` reference. */
  def h60(c: Column): Column = GraftBridge.toColumn(StaticInvoke(
    PortableHash.getClass,
    LongType,
    "md5Prefix60",
    Seq(Cast(Cast(GraftBridge.toExpression(c), StringType), BinaryType)),
    Seq(BinaryType),
    returnNullable = true))

  /** Driver-side twin — MUST stay bit-identical to [[h60]]. */
  def h60String(s: String): Long = md5Prefix60(s.getBytes("UTF-8"))

  /** Deterministic pseudo-uniform hyperplane weight in [-1, 1) for
    * (plane, dim) — computed once on the driver, shipped as a literal. */
  def planeWeight(p: Int, i: Int): Double =
    ((h60String(s"$p,$i") % 2000001L) - 1000000L) / 1000000.0

  /** Modulus for the 2-universal MinHash family: largest prime < 2^30,
    * so a*h + b stays inside signed-64 under DuckDB's checked arithmetic. */
  val MinhashP: Long = 1073741789L

  /** Deterministic (a_i, b_i) pairs for h_i(x) = (a_i·h(x) + b_i) mod P —
    * ONE base hash per element, k derived hashes by arithmetic (the
    * portable, cheap alternative to k independent md5 passes). */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      (h60String(s"a$i") % (MinhashP - 1) + 1, h60String(s"b$i") % MinhashP)
    }
}
