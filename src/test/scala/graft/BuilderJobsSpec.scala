package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Building a query runs no Spark job: every decision a builder makes
  * comes from schemas and plans, not from eager counts or checkpoints.
  * Covers the short relational mix of the interactive benchmark (the
  * reference surface, the quantile/histogram-cumsum routes and the TPC-H
  * joins); the iterative operators are documented driver loops and are
  * out of scope. */
class BuilderJobsSpec extends SparkSuite {

  // the checkout's copy of the sf0.001 testdata (TESTDATA.md)
  private val dir = "perfbench/data/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val mix = Seq("q01_project_filter", "q03_career_stats",
    "q04_ranking_topk", "q05_moving_avg", "q06_trend_alerts",
    "q07_zscore_anomaly", "q08_hourly_rollup", "q09_map_difficulty",
    "q10_kda", "q11_severity", "q12_dedup_exact", "q40_quantiles",
    "q84_decile_bin", "q88_ntile", "q225_abc_class", "q424_tpch_q1",
    "q425_tpch_q3", "q426_tpch_q5", "q438_tpch_q9")

  private val GroupPrefix = "builder-jobs:"
  private val DrainGroup = "builder-jobs-drain"

  /** Jobs started per `GroupPrefix` job group. Events arrive on Spark's
    * asynchronous listener bus, so the test runs a marker job in its own
    * group and waits until its end has been seen — the bus is FIFO, so
    * every earlier job start has been counted by then. */
  private final class JobCounter extends SparkListener {
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

  test("building the interactive mix runs no Spark job") {
    val sc = spark.sparkContext
    // schemas are resolved once per process (Tables); resolve them first
    tables.foreach(Tables(spark, dir)(_))
    val counter = new JobCounter
    sc.addSparkListener(counter)
    try {
      for (q <- mix) {
        sc.setJobGroup(GroupPrefix + q, s"build $q", interruptOnCancel = false)
        try SparkEntry.queries(q)(spark, dir)
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
    val ran = counter.jobs.asScala.map { case (q, n) => q -> n.get }.toMap
    assert(ran.isEmpty, s"builders ran jobs: $ran")
  }
}
