package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs that labelled blocks of driver code start, for
  * specs asserting that building a frame runs no job. */
object JobGroups {

  private val GroupPrefix = "job-groups:"
  private val DrainGroup = "job-groups-drain"

  /** Jobs started per `GroupPrefix` job group. Events arrive on Spark's
    * asynchronous listener bus, so the caller runs a marker job in its
    * own group and waits until its end has been seen — the bus is FIFO,
    * so every earlier job start has been counted by then. */
  private final class Counter extends SparkListener {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    @volatile var drained = false
    private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
    private def group(p: java.util.Properties): String =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      if (g != null && g.startsWith(GroupPrefix))
        jobs.computeIfAbsent(g.stripPrefix(GroupPrefix),
          _ => new AtomicInteger).incrementAndGet()
      if (g == DrainGroup) drainJobs.add(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.contains(e.jobId)) drained = true
  }

  /** Runs the blocks in order, each in its own job group, and returns
    * the number of jobs each started; a block that started none is
    * absent from the map. */
  def started(spark: SparkSession)(
      blocks: Seq[(String, () => Any)]): Map[String, Int] = {
    val sc = spark.sparkContext
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      for ((label, block) <- blocks) {
        sc.setJobGroup(GroupPrefix + label, label, interruptOnCancel = false)
        try block()
        finally sc.clearJobGroup()
      }
      sc.setJobGroup(DrainGroup, "listener drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!counter.drained && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(counter.drained, "listener bus did not drain")
    } finally sc.removeSparkListener(counter)
    counter.jobs.asScala.map { case (label, n) => label -> n.get }.toMap
  }
}
