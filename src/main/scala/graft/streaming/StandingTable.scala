package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver-held standing-state base — the ONE shared helper behind every
 * foreachBatch-folded table here ([[StreamCms.SketchTable]],
 * [[StreamKmv.KmvTable]], [[StreamManifest.ManifestTable]],
 * [[StreamDrift.DriftTable]], [[StreamEncodingAudit.CensusTable]],
 * [[StreamBoilerplate.CensusTable]], [[StreamDpCounts.CellTable]]).
 * A subclass supplies three things: the empty relation, its column
 * order, and the fold (previous state + micro-batch → next state);
 * the base supplies the parts every table was hand-rolling:
 *
 *  - **eager checkpoint + block release**: each fold materializes the
 *    next state with `localCheckpoint(true)` and unpersists the
 *    superseded state's blocks — a long-running stream holds exactly
 *    one table's blocks, never a growing chain;
 *  - **per-batchId idempotence**: Structured Streaming's contract is
 *    at-least-once per micro-batch — after a crash it REPLAYS the last
 *    uncommitted batch. A fold that blindly re-applies it would
 *    double-count, and a resume from a snapshot saved after that
 *    batch's fold definitely would (the fold already happened; the
 *    checkpoint doesn't know). Tracking the last folded batchId and
 *    skipping `batchId <= lastFolded` makes fold-after-resume ≡
 *    uninterrupted for ANY crash point, not only snapshots aligned
 *    with committed batch boundaries;
 *  - **snapshot/resume**: [[save]]/[[load]] via [[graft.store.Snapshot]]
 *    — swap-committed parquet with the batch watermark riding inside
 *    the snapshot dir, so relation and position commit atomically (the
 *    ST5 restart contract, uniform across all standing tables).
 *
 * The batchId guard only engages for folds that CARRY a position (the
 * streaming `start` wirings pass theirs through); ad-hoc `fold(df)`
 * calls — batch replays in specs, warm-up loads — always apply and
 * leave the watermark untouched.
 */
abstract class StandingTable(protected val spark: SparkSession) {

  /** The empty relation (also fixes the snapshot read schema). */
  protected def emptyState: DataFrame

  /** Column order a loaded snapshot is normalized to. */
  protected def stateColumns: Seq[String]

  /** One fold step: previous state + micro-batch rows → next state.
    * Must be a pure plan construction — the base materializes it. */
  protected def foldInto(state: DataFrame, batch: DataFrame): DataFrame

  @volatile private var currentDf: DataFrame = null
  @volatile private var lastFoldedBatch: Long = -1L
  private var liveBlocks: Set[Int] = Set.empty

  /** The standing relation (empty before any fold/load). */
  protected final def currentState: DataFrame = {
    val c = currentDf
    if (c == null) emptyState else c
  }

  /** Last stream position folded in (−1 = none carried one yet). */
  final def lastFolded: Long = lastFoldedBatch

  /** Positionless-start mode for feeding a LOADED table from a new
    * stream checkpoint (whose batchIds restart at 0 and would
    * otherwise be skipped by the idempotence guard — see [[load]]):
    * clears the fold watermark so every batch of the new lineage
    * applies. */
  final def resetWatermark(): Unit = synchronized {
    lastFoldedBatch = -1L
  }

  /** Positionless fold — always applies (ad-hoc/batch use). */
  final def fold(batch: DataFrame): Unit = fold(batch, -1L)

  /** Fold one micro-batch at its stream position, idempotent per
    * batchId (see class doc — the crash-replay double-count guard). */
  final def fold(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (batchId >= 0 && batchId <= lastFoldedBatch) return
    setCheckpointed(foldInto(currentState, batch))
    if (batchId >= 0) lastFoldedBatch = batchId
  }

  /** Operational snapshot — swap-committed parquet + batch watermark
    * ([[graft.store.Snapshot.save]]; a crash mid-save keeps the
    * previous snapshot; a reader never sees half a state). */
  def save(path: String): Unit = synchronized {
    graft.store.Snapshot.save(currentState, path, lastFoldedBatch)
  }

  /** Resume from a snapshot: the loaded relation replaces the standing
    * table AND restores the fold watermark, so a replayed
    * already-folded batch is skipped — fold-after-load ≡ uninterrupted
    * (spec-asserted per table).
    *
    * CONTRACT: the restored watermark compares against Structured
    * Streaming batchIds, which are monotone only within ONE stream
    * checkpoint lineage. A resumed table must therefore be paired with
    * the ORIGINAL stream `checkpointLocation`; starting a fresh
    * checkpoint restarts batchIds at 0 and the guard would silently
    * skip the first `lastFolded + 1` real batches. To re-feed a loaded
    * table from a NEW source position instead, call
    * [[resetWatermark]] after `load` — every batch of the new stream
    * then applies (positionless-start mode; the data re-fed must be
    * disjoint from what the snapshot already folded, which is the
    * caller's source-offset contract, not something state can check). */
  def load(path: String): Unit = synchronized {
    import org.apache.spark.sql.functions.col
    val (df, lb) =
      graft.store.Snapshot.load(spark, path, emptyState.schema)
    setCheckpointed(df.select(stateColumns.map(col): _*))
    lastFoldedBatch = lb
  }

  // checkpoint the new state, release the superseded blocks — the
  // eager checkpoint no longer references them; state stays one table.
  // Block ids are read off the checkpointed plan itself, never by
  // diffing the global registry (graft.plans.Blocks).
  private def setCheckpointed(next: DataFrame): Unit = {
    currentDf = next.localCheckpoint(true)
    val newBlocks =
      org.apache.spark.sql.GraftBridge.checkpointedRddIds(currentDf)
    graft.plans.Blocks.release(spark, liveBlocks)
    liveBlocks = newBlocks
  }
}
