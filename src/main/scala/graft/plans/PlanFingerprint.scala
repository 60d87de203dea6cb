package graft.plans

import org.apache.spark.sql.DataFrame

/**
 * Structural physical-plan fingerprinting — the shared machinery under
 * Bench's per-query `plan_sha` tripwire, factored here (round 12) so
 * the fingerprint can SEE THROUGH `localCheckpoint`: a checkpointed
 * relation prints as a bare `LogicalRDD`/`Scan ExistingRDD`, so two
 * queries that materialize DIFFERENT prefixes but share the readout
 * shape used to fingerprint identically (the r11 blind spot:
 * `rnn_pairs`'s bounded LSH retriever vs `rnn_pairs_exact`'s corpus²
 * brute both collapsed to the reciprocity join over a LogicalRDD).
 *
 * Two pieces:
 *
 *  - [[PlanFingerprint.structSha]] — the normalized STRUCTURE hash of a
 *    plan string (node/keyword skeleton per line; bracket and paren
 *    argument lists, ids, digits and JVM lambda identities stripped).
 *    Content is deliberately excluded: driver-computed literals
 *    (k-means centroids, bloom bits, plane weights) are not byte-stable
 *    across processes, while the regressions this catches are
 *    operator-level — join strategy, exchange kind, added/removed
 *    nodes.
 *
 *  - [[PlanTrace]] — a process-wide recording ring the checkpoint seams
 *    report into. Operators call [[PlanTrace.cp]] instead of raw
 *    `df.localCheckpoint(...)`; every memo in `registry.Memo` is one
 *    cell that records its build-time sha on every access; and
 *    driver-computed operators (power iteration, MMR, BPE) record the
 *    plan of the relation they collect. When `recording` is OFF (all
 *    production/timed paths) the overhead is one volatile read — the
 *    sha thunk is never forced. Bench turns recording on only for its
 *    untimed fingerprint pass and folds the recorded prefix shas into
 *    each query's published `plan_sha`, so the tripwire now covers
 *    exactly the plans `localCheckpoint` hides.
 */
object PlanFingerprint {

  /** Normalize a plan string to its structural skeleton — node names
    * and keywords per line, with bracketed/parenthesized argument
    * lists (expression trees, literal arrays, paths, ids), digits and
    * per-process lambda identities stripped. Stable across JVMs. */
  def structNorm(s: String): String =
    s.linesIterator.map { line =>
      var t = line
      var prev = ""
      while (t != prev) {
        prev = t
        t = t.replaceAll("\\([^()]*\\)", "")
          .replaceAll("\\[[^\\[\\]]*\\]", "")
      }
      // typed-op nodes print the closure's JVM identity
      // (…$$Lambda$/0x…@hash) — per-process, never structural
      t.replaceAll("\\$\\$Lambda\\$?[^,\\s]*", "\\$\\$Lambda")
        .replaceAll("@[0-9a-fA-F]+", "")
        .replaceAll("[#\\d]", "").replaceAll("\\s+", " ").trim
    }.filter(_.nonEmpty).mkString("\n")

  def sha6(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** Structural sha of a DataFrame's physical plan. Building
    * `executedPlan` plans but does not execute — though note that for
    * relations whose CONSTRUCTION already ran jobs (eager checkpoints,
    * driver-computed literals) the work happened before this call. */
  def structSha(df: DataFrame): String =
    sha6(structNorm(df.queryExecution.executedPlan.toString))
}

/** Process-wide recorder for the prefix plans `localCheckpoint` hides.
  * Operator seams record through [[cp]] as they checkpoint. A memo in
  * `registry.Memo` is checkpointed once, possibly in an untraced pass,
  * through that file's one pin seam (`checkpointPinned`); its one memo
  * cell keeps the sha taken BEFORE that checkpoint and records it here
  * on every access, so a traced pass that only reads the memo still
  * sees the prefix plan. Single-writer by convention (Bench's
  * fingerprint pass); the queue is concurrent only so stray
  * multi-threaded construction can't corrupt it. */
object PlanTrace {

  @volatile var recording: Boolean = false

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Record a tagged prefix sha. The sha thunk is only forced while
    * recording — call sites on hot paths pay one volatile read. */
  def record(tag: String, sha: => String): Unit =
    if (recording) buf.add(s"$tag:$sha")

  /** Checkpoint seam: record the PRE-checkpoint structural sha, then
    * checkpoint. Drop-in for `df.localCheckpoint(eager)` on every
    * operator path a fingerprinted query can reach. */
  def cp(df: DataFrame, eager: Boolean = true, tag: String = "cp"): DataFrame = {
    record(tag, PlanFingerprint.structSha(df))
    df.localCheckpoint(eager)
  }

  def reset(): Unit = buf.clear()

  /** Sorted distinct trace — order-independent, so construction-order
    * differences between runs can't move the fingerprint. */
  def snapshot(): Seq[String] = {
    val it = buf.iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result().distinct.sorted
  }
}
