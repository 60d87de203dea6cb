package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.plans.Blocks

/**
 * Streaming ingest-novelty monitor — the continuous form of
 * `ingest_novelty_kmv`: per micro-batch, estimate how much genuinely
 * NEW distinct-shingle mass the batch adds over everything admitted so
 * far, then min-union the batch's sketch into the standing corpus
 * sketch (the [[StreamSourceSketch.SketchTable]] fold under a single
 * 'corpus' label — bottom-k mergeability makes the standing sketch
 * equal the one-shot sketch over all admitted docs EXACTLY, so each
 * batch's verdict is [[Dedup.noveltyFromSketches]] over corpus-sketch ∪
 * batch-sketch, the batch operator verbatim; spec-asserted).
 *
 * The feed-quality kill switch this enables: a drop whose novelty
 * collapses batch over batch is re-crawl/duplicate traffic — detected
 * at sketch cost (state = k rows FOREVER, per-batch cost ∝ batch
 * shingles), before any dedup pass is paid for.
 *
 * REPLAY CAVEAT (the content-addressed class, like the substring
 * census): sketch hashes carry no provenance, so a batch replayed
 * after a crash that lost the stream checkpoint but kept a post-fold
 * snapshot will see its own hashes in the corpus sketch and read
 * novelty ≈ 0. The fold itself is batchId-idempotent (StandingTable),
 * so the STATE can never double-fold; only the replayed READOUT is
 * pessimistic, and a novelty gate that errs toward "seen before" is
 * conservative, never corrupting.
 */
object StreamNovelty {

  /** One batch's novelty verdict against the standing corpus sketch —
    * the batch code path verbatim. */
  def probe(batch: DataFrame, table: StreamSourceSketch.SketchTable,
      n: Int = 3, k: Int = 128): DataFrame =
    Dedup.noveltyFromSketches(
      table.sketch
        .unionByName(Dedup.sourceSketch(
          batch.select(lit("batch").as("source"), col("text")), n, k)),
      k)

  /** The admission loop: per batch deliver the novelty verdict, then
    * fold the batch into the standing corpus sketch so later batches
    * measure against it (probe materialized with truncated lineage
    * BEFORE the fold — a deferring sink must never score a batch
    * against a sketch already holding its own hashes). */
  def startAdmitting(documents: DataFrame,
      table: StreamSourceSketch.SketchTable,
      sink: (DataFrame, Long) => Unit,
      n: Int = 3, k: Int = 128,
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = documents.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          Blocks.withCheckpoint(probe(b, table, n, k)) { verdict =>
            sink(verdict, batchId)
            table.fold(
              b.select(lit("corpus").as("source"), col("text")), batchId)
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }
}
