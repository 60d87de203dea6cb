package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal
import graft.store.MediaStore
import graft.plans.Blocks

/**
 * Streaming media ingest check — the multimodal twin of
 * [[StreamSemanticCheck]]: as media batches arrive, fingerprint them at
 * the decode seam and probe the PERSISTED perceptual-hash band index
 * ([[MediaStore.writePhashIndex]]); every incoming item that
 * perceptually duplicates something already in the corpus is flagged
 * before admission (re-encoded copies that exact byte dedup misses).
 *
 * Stateless by the same design: the corpus lives entirely in the
 * write-time index, the stream checkpoints nothing but offsets, each
 * batch pays fingerprints ∝ batch + a band equi-join that prunes to
 * the probed chunk partitions. Restart from any offset is safe —
 * flagging is idempotent per item. The per-batch transform is the
 * shared [[probe]], also the batch-backfill entry point, so streamed ≡
 * batch by construction.
 */
object StreamMediaCheck {

  /** Flag incoming media against the persisted index; deliver flagged
    * (new_id, corpus_id, dist) rows per batch via `sink`. */
  def start(newDocs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      maxDist: Int = 3,
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = newDocs.sparkSession
    val writer = newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probe(spark, batch, indexPath, maxDist), batchId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The ingest loop with index maintenance: flag each batch against
    * the persisted index, then append the batch's own band rows so
    * later batches check against it too — the media twin of
    * `StreamSubstrCheck.startAdmitting` / `StreamSemanticCheck
    * .startAdmitting`. The probe is materialized with TRUNCATED lineage
    * BEFORE the append (a deferring sink must never score a batch
    * against an index already holding its own fingerprints); blocks
    * are released with the batch. Every `compactEvery` admitted
    * batches (0 = never) the loop runs the per-chunk DISTINCT rewrite
    * + swap (`MediaStore.compactPhashIndex` / `swapCompacted`) — the
    * append-only index otherwise grows with every admit, not with
    * distinct content. Compaction is probe-invariant
    * (BandedCompactSpec), so mid-stream swaps cannot change any gate
    * decision. */
  def startAdmitting(newDocs: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit,
      maxDist: Int = 3,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery = {
    val spark = newDocs.sparkSession
    val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          Blocks.withCheckpoint(probe(spark, b, indexPath, maxDist)) { flagged =>
            sink(flagged, batchId)
            MediaStore.appendPhashIndex(b, indexPath)
            if (compactEvery > 0 &&
                admitted.incrementAndGet() % compactEvery == 0) {
              // SIBLING of the index: the swap is a directory rename,
              // which cannot cross file stores
              val out = indexPath.stripSuffix("/") + ".compact"
              graft.store.Swap.deleteRecursively(new java.io.File(out))
              MediaStore.compactPhashIndex(spark, indexPath, out)
              MediaStore.swapCompacted(indexPath, out)
            }
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** One batch's probe — batch fingerprints × index band rows, exact
    * Hamming verify on candidates. */
  def probe(spark: SparkSession, batch: DataFrame, indexPath: String,
      maxDist: Int = 3): DataFrame = {
    val ph = Multimodal.perceptualHash(Multimodal.mediaTable(batch)).toDF()
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("phash"), c * 15).bitwiseAND(0x7FFFL).as("cv"))
    }
    val probes = ph.select(col("media_id").as("new_id"),
      col("phash").as("new_ph"), explode(array(chunks: _*)).as("bk"))
      .select(col("new_id"), col("new_ph"),
        col("bk.chunk").as("chunk"), col("bk.cv").as("cv"))
    MediaStore.readPhashIndex(spark, indexPath)
      .join(probes, Seq("chunk", "cv"))
      .filter(col("media_id") =!= col("new_id"))
      .select(col("new_id"), col("media_id").as("corpus_id"),
        bit_count(col("new_ph").bitwiseXOR(col("phash"))).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
      .orderBy(col("new_id"), col("corpus_id"))
  }
}
