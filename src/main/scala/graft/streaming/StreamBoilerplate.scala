package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.plans.Blocks

/**
 * Streaming boilerplate-line census — the continuous form of
 * `Dedup.boilerplateCensus`: the unthresholded census is per-doc
 * DISTINCT per (source, block digest), so per-batch censuses over
 * disjoint doc sets merge by SUMMING n_docs (each doc's blocks arrive
 * in its own batch; a doc never splits across batches). Each
 * micro-batch runs the BATCH raw-census operator on its own rows and
 * folds the result into the standing relation; the threshold readout
 * is `Dedup.boilerplateReadout` VERBATIM over the standing census, so
 * streamed ≡ batch exactly under any batch split (spec-asserted).
 *
 * The live read a crawl pipeline keeps per feed: a template header
 * crossing the distinct-doc threshold mid-crawl flags from that batch
 * on — new docs can be stripped at ingest instead of waiting for the
 * full-corpus pass. State is distinct-block-bounded (content-sized,
 * like the StreamSubstrCheck window census — the standing state such a
 * gate keeps on disk anyway), held as one checkpointed relation with
 * superseded blocks released per fold (the [[StreamEncodingAudit]]
 * table shape).
 */
object StreamBoilerplate {

  /** Running unthresholded census — [[StandingTable]] plumbing
    * (checkpoint-per-fold, batchId idempotence, snapshot/resume: the
    * fold watermark rides inside the snapshot, so a resume under
    * Structured Streaming's crash replay of the last uncommitted batch
    * skips the already-folded copy instead of double-counting its
    * docs). The block width is pinned HERE and carried into every
    * consumer (fold, strip) so an admission loop can never strip at a
    * different granularity than the census votes at — the
    * DupStarts-carrier lesson. */
  final class CensusTable(spark: SparkSession, val blockTokens: Int = 8)
      extends StandingTable(spark) {
    import spark.implicits._
    protected def emptyState: DataFrame =
      Seq.empty[(String, Long, Long, String)]
        .toDF("source", "bh", "n_docs", "block")
    protected def stateColumns: Seq[String] =
      Seq("source", "bh", "n_docs", "block")
    def census: DataFrame = currentState
    /** Flagged readout — the batch operator's threshold half. */
    def flagged(minDocs: Long = 3L): DataFrame =
      Dedup.boilerplateReadout(currentState, minDocs)
    protected def foldInto(state: DataFrame,
        documents: DataFrame): DataFrame =
      state
        .unionByName(Dedup.boilerplateCensusRaw(documents, blockTokens)
          .select(col("source"), col("bh"), col("n_docs").cast("long")
            .as("n_docs"), col("block")))
        .groupBy(col("source"), col("bh"))
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          min(col("block")).as("block"))
  }

  /** Stream of documents (doc_id + text + source) → continuously-folded
    * per-(source, block) distinct-doc census. */
  def start(documents: DataFrame, table: CensusTable): StreamingQuery =
    documents.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        table.fold(batch, batchId))
      .start()

  /** The ingest loop with strip-at-admission: each batch is stripped
    * against the census AS OF the previous batch (the batch operator
    * `Dedup.boilerplateStrip` verbatim — template chrome that already
    * crossed the threshold is removed before the doc lands), the strip
    * receipt goes to `sink`, and only then does the batch's own census
    * fold in — content seen in batch N flags from batch N+1 on, the
    * [[StreamSubstrCheck.startAdmitting]] loop shape. The strip result
    * is materialized with truncated lineage BEFORE the fold, so a sink
    * that defers evaluation can never see the census including the
    * batch's own votes. */
  def startAdmitting(documents: DataFrame, table: CensusTable,
      sink: (DataFrame, Long) => Unit, minDocs: Long = 3L,
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = documents.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          Blocks.withCheckpoint(Dedup.boilerplateStrip(b,
              table.flagged(minDocs), table.blockTokens)) { stripped =>
            sink(stripped, batchId)
            // position-carrying fold: a crash-replayed batch re-strips
            // and re-sinks (at-least-once out) but never re-folds — the
            // census stays exactly-once under any crash/resume point
            table.fold(b, batchId)
          }
        } finally b.unpersist()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }
}
