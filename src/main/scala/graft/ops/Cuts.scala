package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing the blocks of a `localCheckpoint`ed loop generation. */
private[graft] object Cuts {

  /** Drops the blocks of `cut`, a frame returned by `localCheckpoint()`.
    * Only once every frame that reads it has materialized: a later read
    * of a released cut fails on the missing blocks, since the cut has no
    * lineage to recompute them from. */
  def release(cut: DataFrame): Unit = cut.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case p => throw new IllegalArgumentException(
      s"not a checkpointed frame: ${p.nodeName}")
  }
}
