package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity
import graft.plans.Blocks

/**
 * Streaming semantic ingest check — the continuous form of
 * `semantic_dedup_against`: as embedding batches arrive, probe the
 * PERSISTED banded hyperplane-LSH index (`store.EmbeddingStore
 * .writeBanded`) and flag every incoming vector that semantically
 * duplicates something already in the corpus, before it is admitted.
 *
 * Statelessness is the design point: the corpus side lives entirely in
 * the write-time index (band signatures + vectors-with-norms on disk),
 * so the stream carries NO Spark state — no watermark, no store, nothing
 * to checkpoint beyond source offsets. Each micro-batch pays
 * signatures ∝ batch + a band-bucket join against the index, which is
 * the same asymmetric cost contract as the batch operator (per-ingest
 * work proportional to the batch, never the corpus). Restart from any
 * offset is safe because flagging is idempotent per vector.
 *
 * The per-batch transform IS [[Similarity.semanticDedupAgainstStore]] —
 * the batch code path, reused verbatim (the StreamDrift lesson: streamed
 * ≡ batch by construction, spec-asserted). foreachBatch is the right
 * shape because the probe joins a STATIC index snapshot; refreshing the
 * index between batches (after a corpus compaction re-writes it) is a
 * re-read of the parquet paths, which this operator does per batch by
 * construction.
 *
 * At 100 TB the index read prunes to the bands the batch actually hits
 * (`sigs/` is partitioned by band — see EmbeddingStore); admitted
 * vectors append their own signatures back via [[startAdmitting]]
 * (`EmbeddingStore.appendBanded`), exactly like the MinHash side's
 * corpus band state and the substring side's census loop.
 */
object StreamSemanticCheck {

  /** Flag incoming vectors against the persisted index; deliver flagged
    * (new_id, corpus_id, cos6) rows per batch via `sink`. */
  def start(newVecs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      threshold: Double = 0.4, bands: Int = 16, bitsPerBand: Int = 4,
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = newVecs.sparkSession
    val writer = newVecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = probe(spark, batch, indexPath,
          threshold, bands, bitsPerBand)
        sink(flagged, batchId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The ingest loop with index maintenance: flag each batch against
    * the persisted index, then append the batch's own signatures +
    * payloads so later batches check against it too — the semantic twin
    * of `StreamSubstrCheck.startAdmitting` (content seen in batch N
    * flags duplicates in batch N+1). The probe is materialized with
    * TRUNCATED lineage BEFORE the append (a sink that defers evaluation
    * would otherwise score the batch against an index already holding
    * its own signatures and self-flag every vector); blocks are
    * released with the batch. Every `compactEvery` admitted batches
    * (0 = never) the loop runs the DISTINCT/election rewrite + swap
    * (`EmbeddingStore.compactBanded` / `swapBanded`) — the append-only
    * index otherwise grows with every admit, not with distinct
    * content, and under at-least-once redelivery duplicate vec rows
    * would duplicate flagged pairs. Compaction is probe-invariant
    * (BandedCompactSpec), so mid-stream swaps cannot change any gate
    * decision. */
  def startAdmitting(newVecs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      threshold: Double = 0.4, bands: Int = 16, bitsPerBand: Int = 4,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = newVecs.sparkSession
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = newVecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          Blocks.withCheckpoint(probe(spark, b, indexPath,
              threshold, bands, bitsPerBand)) { flagged =>
            sink(flagged, batchId)
            graft.store.EmbeddingStore.appendBanded(b, indexPath,
              bands, bitsPerBand)
            if (compactEvery > 0 &&
                admitted.incrementAndGet() % compactEvery == 0) {
              // SIBLING of the index: the swap is a directory rename,
              // which cannot cross file stores
              val out = indexPath.stripSuffix("/") + ".compact"
              graft.store.Swap.deleteRecursively(new java.io.File(out))
              graft.store.EmbeddingStore.compactBanded(
                spark, indexPath, out)
              graft.store.EmbeddingStore.swapBanded(indexPath, out)
            }
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** One batch's probe — the exact batch operator over the store's two
    * halves (kept separable for specs and for batch backfills). */
  def probe(spark: SparkSession, batch: DataFrame, indexPath: String,
      threshold: Double = 0.4, bands: Int = 16,
      bitsPerBand: Int = 4): DataFrame =
    Similarity.semanticDedupAgainstStore(batch,
      graft.store.EmbeddingStore.readBandedSigs(spark, indexPath),
      graft.store.EmbeddingStore.readBandedVecs(spark, indexPath),
      threshold, bands, bitsPerBand)
}
