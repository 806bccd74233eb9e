package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.storage.RDDBlockId

/** The RDDs that a block of driver code leaves holding storage: those it
  * created that stored blocks and that it did not unpersist itself, plus
  * those still persisted when it returns.
  *
  * A GC cannot hide a missing unpersist here: the ContextCleaner's
  * cleanup of an unreachable RDD posts the same unpersist event as the
  * code's own, so each cleanup (seen through the cleaner's listener
  * hook, which is why this lives in Spark's package) cancels one event. */
object HeldRdds {

  private val cleanups = new ConcurrentHashMap[Int, AtomicInteger]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  private def bump(m: ConcurrentHashMap[Int, AtomicInteger], id: Int): Unit =
    m.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()

  private def count(m: ConcurrentHashMap[Int, AtomicInteger], id: Int): Int =
    Option(m.get(id)).fold(0)(_.get)

  def by(sc: SparkContext)(body: => Unit): Set[Int] = {
    if (hooked.add(sc)) sc.cleaner.foreach(_.attachListener(
      new CleanerListener {
        def rddCleaned(rddId: Int): Unit = bump(cleanups, rddId)
        def shuffleCleaned(shuffleId: Int): Unit = ()
        def broadcastCleaned(broadcastId: Long): Unit = ()
        def accumCleaned(accId: Long): Unit = ()
        def checkpointCleaned(rddId: Long): Unit = ()
      }))
    val stored = ConcurrentHashMap.newKeySet[Int]()
    val unpersists = new ConcurrentHashMap[Int, AtomicInteger]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) if e.blockUpdatedInfo.storageLevel.isValid =>
            stored.add(id)
          case _ =>
        }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        bump(unpersists, e.rddId)
    }
    val firstId = sc.newRddId()
    sc.addSparkListener(listener)
    try {
      body
      // A cleanup posts its event and then calls the hook, both under
      // the cleaner's lock: holding it while the bus drains leaves no
      // cleanup half seen.
      val lock = sc.cleaner.getOrElse(new Object)
      lock.synchronized {
        sc.listenerBus.waitUntilEmpty()
        val released = stored.asScala.filter(id =>
          count(unpersists, id) > count(cleanups, id))
        (stored.asScala.toSet -- released ++ sc.getPersistentRDDs.keySet)
          .filter(_ > firstId)
      }
    } finally sc.removeSparkListener(listener)
  }
}
