package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.checkpointedRddIds

/** Release of checkpoint blocks a streaming batch or standing table no
  * longer needs — the counterpart of `registry.Memo`'s pin seam. Block
  * ids are only ever read off a checkpointed plan
  * (GraftBridge.checkpointedRddIds), never by diffing the global
  * persistent-RDD registry: folds run concurrently under per-instance
  * locks, and a diff window could capture another table's fresh blocks
  * and later unpersist its live, lineage-truncated state. */
object Blocks {

  /** Unpersist the given persisted-RDD ids; ids already gone are skipped. */
  def release(spark: SparkSession, ids: Iterable[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))

  /** Eagerly checkpoint `df`, run `body` on the checkpoint and release
    * exactly its blocks afterwards, whether or not `body` fails. A sink
    * still holding the frame after that fails loudly (missing checkpoint
    * data), never silently wrong. */
  def withCheckpoint[T](df: DataFrame)(body: DataFrame => T): T = {
    val cp = df.localCheckpoint(true)
    val ids = checkpointedRddIds(cp)
    try body(cp) finally release(df.sparkSession, ids)
  }
}
