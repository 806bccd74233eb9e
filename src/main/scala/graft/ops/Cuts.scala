package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lifetimes of `localCheckpoint`ed frames, the lineage cuts of the
  * iterative operators. A cut's blocks go only when released, or when a
  * GC lets the ContextCleaner drop it; `clearCache` does not drop them.
  *
  * Every loop whose state is one succession of generations, and whose
  * result reads only the last one, runs through [[generations]]; a cut
  * that only such a loop or another eager body reads is [[scoped]].
  * Hand-written, as the loop form does not fit them: [[Betweenness]]
  * and [[Walks]], whose results read every generation of a chain and
  * which scope their leaf cuts; and [[PageRank.hits]] (hub and auth),
  * `SuffixArray.globalRanks`' distributed loop (rank arrays and active
  * buckets) and [[Mst.boruvka]] (forest and component labels), which
  * advance two chains together and release each superseded generation
  * themselves. */
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

  /** Cuts `frame` with an eager `localCheckpoint`, then drops `dead`:
    * cuts, or persisted frames, that only `frame`'s plan read. */
  def superseding(frame: DataFrame, dead: DataFrame*): DataFrame = {
    val cut = frame.localCheckpoint()
    dead.foreach { d =>
      if (d.storageLevel != StorageLevel.NONE) d.unpersist(blocking = false)
      else release(d)
    }
    cut
  }

  /** Runs `body` over `cut`, a `localCheckpoint`ed frame, and releases
    * `cut` when `body` returns, so `body` must end every read of it (end
    * in an eager action, or return a frame that no longer reads it). A
    * cache on the frame the cut was taken from stays cached. */
  def scoped[T](cut: DataFrame)(body: DataFrame => T): T =
    try body(cut) finally release(cut)

  /** Cuts `init` as generation 0 and `step(previous, r)` as generation
    * r = 1..`rounds`, each with an eager `localCheckpoint`, releasing
    * each generation once its successor is cut (so a step reads only
    * the previous one), and returns the last. `done(generation, r)` sees
    * every generation right after its cut, and the loop stops at the
    * first it accepts. A result that does not read the returned
    * generation hands it to [[scoped]]. */
  def generations(init: DataFrame, rounds: Int,
      done: (DataFrame, Int) => Boolean = (_, _) => false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var g = init.localCheckpoint()
    var r = 0
    while (!done(g, r) && r < rounds) {
      r += 1
      g = superseding(step(g, r), g)
    }
    g
  }
}
