package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Profiling

/**
 * Streaming join-size audit — the standing-state form of
 * [[Profiling.joinSizeAudit]]'s own premise: the per-table CMS cell
 * tables are "standing sketch state a planner keeps per table", so here
 * a table's state is MAINTAINED under ingest rather than built per
 * audit. Each side folds two sum-mergeable relations per micro-batch:
 *
 *  - the d·w CMS cell table — bounded FOREVER, the sketch half
 *    (cells are linear in the counts, so per-batch tables sum-merge
 *    into exactly the batch-built table — spec-asserted equality, the
 *    StreamCms integer-merge argument);
 *  - the per-key count table — keys-sized (the same table-stats
 *    relation a catalog keeps; grows with distinct keys, not rows),
 *    the exact half.
 *
 * The readout is [[Profiling.joinSizeAuditFrom]] VERBATIM over the
 * standing relations — streamed ≡ batch by construction: a planner can
 * ask "how big is this equi-join" at any moment without touching
 * either table. Same foreachBatch + driver-held-table shape as
 * [[StreamCms]]; at scale each fold is one bounded merge (cells) plus
 * one keys-sized merge per batch.
 */
object StreamJoinSize {

  /** One table's standing audit state (per-key counts + CMS cells),
    * checkpointed per fold. Carries the [[StandingTable]] contract by
    * hand (two coupled relations don't fit the single-table base):
    * per-batchId fold idempotence, and an ATOMIC two-part
    * snapshot/resume ([[graft.store.Snapshot.saveParts]] — both
    * relations + the watermark commit through ONE swap, so a resume
    * can never pair new key counts with old cells). */
  final class SideState(spark: SparkSession, w: Int = 1024, d: Int = 4) {
    import spark.implicits._
    private def emptyKeys: DataFrame =
      Seq.empty[(String, Long)].toDF("k", "cnt")
    private def emptyCells: DataFrame =
      Seq.empty[(Int, Long, Long)].toDF("seed", "pos", "cnt")
    @volatile private var keyTable: DataFrame = emptyKeys
    @volatile private var cellTable: DataFrame = emptyCells
    @volatile private var lastFoldedBatch: Long = -1L
    private var liveBlocks: Set[Int] = Set.empty
    def keys: DataFrame = keyTable
    def cells: DataFrame = cellTable
    def lastFolded: Long = lastFoldedBatch
    /** Positionless fold — always applies (ad-hoc/batch use). */
    def fold(batchKeys: DataFrame): Unit = fold(batchKeys, -1L)
    /** Fold one micro-batch of key values (a single `k` column),
      * idempotent per batchId (the crash-replay double-count guard). A
      * long-running stream must not accumulate checkpoint blocks, so
      * the fold releases the batch-scratch AND the superseded tables'
      * blocks once the new tables are materialized (eager checkpoint =
      * the new state no longer references them). */
    def fold(batchKeys: DataFrame, batchId: Long): Unit = synchronized {
      if (batchId >= 0 && batchId <= lastFoldedBatch) return
      import org.apache.spark.sql.GraftBridge.checkpointedRddIds
      val bk = batchKeys
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      keyTable = keyTable.unionByName(bk)
        .groupBy(col("k")).agg(sum(col("cnt")).cast("long").as("cnt"))
        .localCheckpoint(true)
      cellTable = cellTable.unionByName(Profiling.keyCells(bk, w, d))
        .groupBy(col("seed"), col("pos"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
        .localCheckpoint(true)
      // block ids read off each checkpointed plan — exact attribution,
      // no global registry diff a concurrent fold could race
      val newBlocks =
        checkpointedRddIds(keyTable) ++ checkpointedRddIds(cellTable)
      graft.plans.Blocks.release(spark, checkpointedRddIds(bk) ++ liveBlocks)
      liveBlocks = newBlocks
      if (batchId >= 0) lastFoldedBatch = batchId
    }

    /** Atomic two-part snapshot (keys + cells + watermark, one swap). */
    def save(path: String): Unit = synchronized {
      graft.store.Snapshot.saveParts(
        Seq("keys" -> keyTable, "cells" -> cellTable),
        path, lastFoldedBatch)
    }

    /** Resume both relations + the watermark from a snapshot;
      * fold-after-load ≡ uninterrupted (the StandingTable contract). */
    def load(path: String): Unit = synchronized {
      import org.apache.spark.sql.GraftBridge.checkpointedRddIds
      keyTable = graft.store.Snapshot
        .loadPart(spark, path, "keys", emptyKeys.schema)
        .select(col("k"), col("cnt")).localCheckpoint(true)
      cellTable = graft.store.Snapshot
        .loadPart(spark, path, "cells", emptyCells.schema)
        .select(col("seed"), col("pos"), col("cnt")).localCheckpoint(true)
      lastFoldedBatch = graft.store.Snapshot.lastBatchOf(path)
      val newBlocks =
        checkpointedRddIds(keyTable) ++ checkpointedRddIds(cellTable)
      graft.plans.Blocks.release(spark, liveBlocks)
      liveBlocks = newBlocks
    }
  }

  /** Stream one side's rows into its standing state; `key` names the
    * join column (cast to string — the batch audit's convention). */
  def start(rows: DataFrame, key: String,
      state: SideState): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        state.fold(batch.select(col(key).cast("string").as("k")), batchId))
      .start()

  /** The audit readout over two standing states — the batch arithmetic
    * verbatim ([[Profiling.joinSizeAuditFrom]]). */
  def audit(left: SideState, right: SideState, d: Int = 4): DataFrame =
    Profiling.joinSizeAuditFrom(left.keys, right.keys,
      left.cells, right.cells, d)

  /** The SKEW readout over one side's standing key counts — the other
    * planner audit the same state serves ([[Profiling.skewAuditFrom]]
    * verbatim, so streamed ≡ batch bit-for-bit): a continuously-
    * maintained salt-factor that a shuffle planner can consult at any
    * moment without touching the table. */
  def skewAudit(side: SideState): DataFrame =
    Profiling.skewAuditFrom(side.keys)

  /** The CONCENTRATION readout over one side's standing key counts —
    * the continuous form of `user_gini`/`source_gini`
    * ([[Profiling.giniFrom]] verbatim over the same (k, cnt) relation
    * the audits read, so streamed ≡ batch bit-for-bit and the twin
    * costs ZERO new state): a live Gini + top-decile monitor over
    * whatever key the side folds (users, sources, hosts). Tie-breaks
    * are rank-RANGE-invariant in giniFrom, so the state's string-cast
    * key can never move the verdict. */
  def giniAudit(side: SideState): DataFrame =
    Profiling.giniFrom(side.keys)
}
