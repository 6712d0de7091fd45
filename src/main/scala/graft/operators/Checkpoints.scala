package graft.operators

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The lifetime of checkpoint blocks. */
object Checkpoints {

  /** Free the blocks behind `df` once nothing will read it again.
    * `Dataset.unpersist()` is a no-op on a `localCheckpoint`ed frame:
    * its blocks belong to the RDD embedded in the frame's
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf (not `df.rdd`,
    * which is a fresh deserializing derivation), and they stay until
    * the context cleaner collects that RDD. This frees that RDD's
    * blocks and drops it from the persistence list, as its `unpersist`
    * would, but without the WARN `unpersist` logs for every locally
    * checkpointed RDD ([[org.apache.spark.GraftCoreShim]]); a frame
    * that is not a checkpoint is left alone. A read of the
    * frame, or of any plan over it, after the release fails (the
    * checkpoint block is gone), so call it only past the last reader —
    * and past the action that materializes a lazy checkpoint built on
    * top of it. */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => GraftCoreShim.unpersist(lr.rdd, blocking)
      case _ => ()
    }
}
