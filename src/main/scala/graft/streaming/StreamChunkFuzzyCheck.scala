package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.store.ChunkStore
import graft.plans.Blocks

/**
 * Streaming fuzzy-chunk ingest check — the continuous form of
 * `chunk_dedup_against`: as document batches arrive, probe the
 * persisted chunk band index ([[ChunkStore]]) and flag every incoming
 * CHUNK that near-duplicates a paragraph the corpus already holds,
 * before the doc is admitted. The fourth member of the against-family
 * loop ([[StreamSubstrCheck]] exact substrings, [[StreamSemanticCheck]]
 * embeddings, [[StreamMediaCheck]] media) — same statelessness point:
 * the corpus side lives entirely in write-time state, the stream
 * carries nothing beyond source offsets, and each micro-batch pays
 * signatures ∝ batch + a band-partition-pruned join, never the corpus.
 *
 * The per-batch transform IS [[Dedup.chunkDedupAgainstStore]] — the
 * batch code path verbatim, so streamed ≡ batch by construction
 * (spec-asserted).
 */
object StreamChunkFuzzyCheck {

  /** Flag incoming chunks against the persisted index; deliver flagged
    * (new_doc, new_idx, corpus_doc, corpus_idx, jaccard6) rows per
    * batch via `sink`. */
  def start(newDocs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      window: Int = 200, stride: Int = 150, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4,
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = newDocs.sparkSession
    val writer = newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probe(spark, batch, indexPath, window, stride, threshold,
          bands, rowsPerBand), batchId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The ingest loop with index maintenance: flag each batch against
    * the persisted index, then append the batch's own representative-
    * chunk state so later batches check against it too (content seen in
    * batch N flags batch N+1 — the admission-loop shape shared across
    * the family). The probe is materialized with TRUNCATED lineage
    * BEFORE the append (a deferring sink must never score a batch
    * against an index already holding its own chunks); blocks are
    * released with the batch. Every `compactEvery` admitted batches
    * (0 = never) the loop runs the DISTINCT rewrite + swap
    * ([[ChunkStore.compactBandIndex]] / `swapCompacted`) — compaction
    * is probe-invariant (StreamChunkFuzzySpec), so mid-stream swaps
    * cannot change any gate decision. */
  def startAdmitting(newDocs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      window: Int = 200, stride: Int = 150, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = newDocs.sparkSession
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          Blocks.withCheckpoint(probe(spark, b, indexPath, window,
              stride, threshold, bands, rowsPerBand)) { flagged =>
            sink(flagged, batchId)
            ChunkStore.appendBandIndex(b, indexPath, window, stride,
              bands, rowsPerBand)
            if (compactEvery > 0 &&
                admitted.incrementAndGet() % compactEvery == 0) {
              // SIBLING of the index: the swap is a directory rename,
              // which cannot cross file stores
              val out = indexPath.stripSuffix("/") + ".compact"
              graft.store.Swap.deleteRecursively(new java.io.File(out))
              ChunkStore.compactBandIndex(spark, indexPath, out)
              ChunkStore.swapCompacted(indexPath, out)
            }
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** One batch's probe — the exact batch operator over the store's
    * three relations (kept separable for specs and batch backfills). */
  def probe(spark: SparkSession, batch: DataFrame, indexPath: String,
      window: Int = 200, stride: Int = 150, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    Dedup.chunkDedupAgainstStore(batch,
      ChunkStore.readSigs(spark, indexPath),
      ChunkStore.readPosts(spark, indexPath),
      ChunkStore.readHot(spark, indexPath),
      window, stride, threshold, bands, rowsPerBand)
}
