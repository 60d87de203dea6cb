package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.plans.Blocks

/**
 * Streaming exact-substring ingest check — the continuous form of
 * `dup_substrings_against` (Lee et al. 2022 ExactSubstr at the ingest
 * boundary): as document batches arrive, probe the PERSISTED
 * window-hash census (`store.SubstrStore.writeWindowCensus`) and report
 * per incoming doc the spans whose every token is part of a length-L
 * window already present in the corpus — before the doc is admitted.
 * The gate can reject, or admit a cleaned doc via the
 * `dupSubstringsApply` coverage fold over the same spans.
 *
 * Statelessness is the design point (the StreamSemanticCheck contract):
 * the corpus side lives entirely in the write-time census, so the
 * stream carries NO Spark state — no watermark, nothing to checkpoint
 * beyond source offsets. Each micro-batch pays its own window census
 * (∝ batch tokens) plus a hash-keyed semi join against the store;
 * restarts are safe because span reporting is idempotent per doc.
 *
 * The per-batch transform IS [[Dedup.dupSubstringsAgainst]] — the batch
 * code path reused verbatim, so streamed ≡ batch by construction
 * (spec-asserted). Admitted batches append their own hashes back via
 * `SubstrStore.appendWindowCensus`, exactly like the band-state
 * maintenance on the MinHash/semantic sides — [[startAdmitting]] wires
 * that loop so content seen in batch N flags duplicates in batch N+1.
 *
 * REPLAY CAVEAT (unique to this family): the census is deliberately
 * content-addressed — distinct window hashes, NO doc/batch provenance
 * ([[graft.store.SubstrStore]]) — so unlike the chunk/semantic/media
 * admitting loops (whose probes self-exclude the probing ids), a
 * micro-batch REPLAYED after a crash that happened between this loop's
 * census append and the stream-checkpoint commit will find its own
 * window hashes in the census and report its docs as fully covered.
 * The within-batch ordering (probe materialized with truncated lineage
 * BEFORE the append) makes the normal at-least-once re-SINK safe; only
 * the append-then-crash window changes a replayed decision. A deployer
 * who needs strict replay invariance here must commit the gate
 * decision transactionally with the source offsets (e.g. sink the
 * checkpointed spans into the same transactional store as the
 * checkpoint) — id-level self-exclusion is impossible without
 * forfeiting the census's anonymized, DISTINCT-compactable layout.
 */
object StreamSubstrCheck {

  /** Flag incoming docs against the persisted census; deliver
    * (doc_id, start, len, n_windows) span rows per batch via `sink`. */
  def start(docs: DataFrame, censusPath: String,
      sink: (DataFrame, Long) => Unit, minLen: Int = 20,
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = docs.sparkSession
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probe(spark, batch, censusPath, minLen), batchId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The ingest loop with census maintenance: report each batch's
    * corpus-covered spans, then append the batch's own window hashes to
    * the census so later batches check against it too. Every
    * `compactEvery` admitted batches (0 = never) the loop also runs the
    * periodic DISTINCT rewrite + swap (`SubstrStore.compactWindowCensus`
    * / `swapCompacted`) — the append-only census otherwise grows with
    * every admit, not with distinct content. Compaction is
    * probe-invariant (SubstrCompactSpec), so mid-stream swaps cannot
    * change any gate decision; a crash inside the maintenance step is
    * recovered by `SubstrStore.recoverSwap` + re-running (pure function
    * of the source). */
  def startAdmitting(docs: DataFrame, censusPath: String,
      sink: (DataFrame, Long) => Unit, minLen: Int = 20,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = docs.sparkSession
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch feeds two actions (probe + census append): pin it
        // for the pair, release after — a long-running stream must not
        // accumulate per-batch blocks
        val b = batch.persist()
        try {
          // materialize the probe with TRUNCATED lineage BEFORE the
          // census append: a sink that defers evaluation (stores the
          // DataFrame, writes asynchronously) would otherwise evaluate
          // against the already-appended census and self-flag the
          // batch's own windows; a checkpointed result can never
          // re-derive. Blocks are released with the batch — a sink
          // still holding the frame after that fails loudly (missing
          // checkpoint data), never silently wrong.
          Blocks.withCheckpoint(
              probe(spark, b, censusPath, minLen)) { spans =>
            sink(spans, batchId)
            graft.store.SubstrStore.appendWindowCensus(b, censusPath, minLen)
            if (compactEvery > 0 &&
                admitted.incrementAndGet() % compactEvery == 0) {
              // compact output must be a SIBLING of the census: the
              // swap is a directory rename, which cannot cross file
              // stores (java.io.tmpdir may live on a different one)
              val out = censusPath.stripSuffix("/") + ".compact"
              graft.store.Swap.deleteRecursively(new java.io.File(out))
              graft.store.SubstrStore.compactWindowCensus(
                spark, censusPath, out)
              graft.store.SubstrStore.swapCompacted(censusPath, out)
            }
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** One batch's probe — the exact batch operator over the persisted
    * census (kept separable for specs and batch backfills). */
  def probe(spark: SparkSession, batch: DataFrame, censusPath: String,
      minLen: Int = 20): DataFrame =
    Dedup.dupSubstringsAgainst(batch,
      graft.store.SubstrStore.readWindowCensus(spark, censusPath), minLen)

  /** The APPLY half of one batch's probe — per incoming doc the CLEANED
    * normalized token stream (corpus-covered spans removed) + tallies:
    * the batch operator [[graft.operators.Dedup.dupSubstringsAgainstApply]]
    * over the persisted census, reused verbatim (streamed ≡ batch by
    * construction, spec-asserted). */
  def probeApply(spark: SparkSession, batch: DataFrame, censusPath: String,
      minLen: Int = 20): DataFrame =
    Dedup.dupSubstringsAgainstApply(batch,
      graft.store.SubstrStore.readWindowCensus(spark, censusPath), minLen)

  /** The ADMIT-CLEANED ingest loop — the action [[startAdmitting]]'s
    * span report stops short of: each batch's docs are admitted with
    * their corpus-covered spans REMOVED (the Lee et al. ExactSubstr
    * transform at the admission boundary), and the census then grows by
    * the ADMITTED content's windows — the cleaned text's, not the raw
    * batch's, so content the gate just stripped cannot re-enter the
    * corpus as "already present" via its own rejection. Same
    * probe-before-append materialization discipline, same periodic
    * compaction, same REPLAY CAVEAT as [[startAdmitting]] (the census
    * is content-addressed; see the class note). */
  def startAdmittingCleaned(docs: DataFrame, censusPath: String,
      sink: (DataFrame, Long) => Unit, minLen: Int = 20,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = docs.sparkSession
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          // cleaned result materialized with truncated lineage BEFORE
          // the census append (the startAdmitting contract: a deferred
          // sink must never re-derive against the appended census)
          Blocks.withCheckpoint(
              probeApply(spark, b, censusPath, minLen)) { cleaned =>
            sink(cleaned, batchId)
            graft.store.SubstrStore.appendWindowCensus(
              cleaned.select(col("doc_id"), col("clean_text").as("text")),
              censusPath, minLen)
            if (compactEvery > 0 &&
                admitted.incrementAndGet() % compactEvery == 0) {
              val out = censusPath.stripSuffix("/") + ".compact"
              graft.store.Swap.deleteRecursively(new java.io.File(out))
              graft.store.SubstrStore.compactWindowCensus(
                spark, censusPath, out)
              graft.store.SubstrStore.swapCompacted(censusPath, out)
            }
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }
}
