package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The two batch workloads. One op is one registered query: the
  * `SparkEntry.queries(name)(spark, dir)` builder call, then full
  * materialization to the `noop` sink. A pass runs every query of the mix
  * once. */
object Batch {

  /** @param mix (query, family) pairs
    * @param dir fixture scale the timed passes read
    * @param warmUp queries run once each, untimed, before the first timed op
    * @param warmDir fixture scale the warm-up reads
    * @param warmThreads client threads of the warm-up (its queries are
    *        independent)
    * @param passes timed passes for a given `--seconds`
    * @param shuffle run each pass in a seed-drawn order, not in mix order */
  final case class Workload(name: String, mix: Seq[(String, String)],
      dir: String, warmUp: Seq[String], warmDir: String, warmThreads: Int,
      passes: Double => Int, shuffle: Boolean)

  private val interactiveMix =
    Seq("q01_project_filter", "q03_career_stats", "q04_ranking_topk",
      "q05_moving_avg", "q06_trend_alerts", "q07_zscore_anomaly",
      "q08_hourly_rollup", "q09_map_difficulty", "q10_kda", "q11_severity",
      "q12_dedup_exact").map(_ -> "reference") ++
      Seq("q40_quantiles", "q84_decile_bin", "q88_ntile", "q225_abc_class")
        .map(_ -> "quantile") ++
      Seq("q424_tpch_q1", "q425_tpch_q3", "q426_tpch_q5", "q438_tpch_q9")
        .map(_ -> "tpch")

  /** Nominal length of one timed `interactive` pass on a 4-core host. */
  val InteractivePassS = 12.5

  /** Short relational queries: the reference surface, the quantile and
    * histCum routes, and four TPC-H joins. The warm-up is one untimed pass
    * on the timed fixture, one client, in a seed-drawn order. The timed
    * work is a fixed number of passes for a given `--seconds` (at least
    * two), not as many as fit: the JIT keeps warming for minutes, so a run
    * that fit fewer passes on a slow host would also time colder code. */
  val interactive = Workload("interactive", interactiveMix, dir = "sf0.01",
    warmUp = interactiveMix.map(_._1), warmDir = "sf0.01", warmThreads = 1,
    passes = s => math.max(2, math.ceil(s / InteractivePassS).toInt),
    shuffle = true)

  /** One driver-loop query per heavy-tail family, each timed on its first
    * run in the session. The warm-up is four short queries, which pay the
    * session's one-time costs (JIT of the planner and scheduler, common code
    * generation) that would otherwise land on whichever family ran first.
    * The order is fixed: families share plan fragments, so a drawn order
    * would move their code generation from one family to another. */
  def heavyLoops(cores: Int) = Workload("heavy_loops",
    Seq("q110_bpe_train" -> "bpe", "q63_pagerank" -> "graph",
      "q334_global_sa" -> "suffix_array", "q403_release_attrition" -> "release",
      "q72_dedup_report" -> "near_dup"),
    dir = "sf0.001",
    warmUp = Seq("q01_project_filter", "q07_zscore_anomaly", "q12_dedup_exact", "q425_tpch_q3"),
    warmDir = "sf0.001", warmThreads = cores, passes = _ => 1, shuffle = false)

  def run(ctx: Ctx, w: Workload): Map[String, Any] = {
    val spark = ctx.spark
    val data = ctx.args.data
    val rnd = new Random(ctx.args.seed)
    val builders = SparkEntry.queries
    val warmUp = if (w.shuffle) rnd.shuffle(w.warmUp) else w.warmUp
    val pool = java.util.concurrent.Executors.newFixedThreadPool(w.warmThreads)
    try warmUp.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            materialize(builders(q)(spark, s"$data/${w.warmDir}"))
            if (w.warmThreads == 1) spark.catalog.clearCache()
          } catch { case _: Throwable => () }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
    val setupEnd = ctx.now
    val passes = w.passes(ctx.args.seconds)
    println(s"setup done: ${w.warmUp.size} warm-up queries on ${w.warmDir}; $passes timed passes")

    def measure(trace: Trace): Seq[Map[String, Any]] = {
      var opId = 0
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      for (pass <- 0 until passes) {
        val t0 = System.nanoTime()
        (if (w.shuffle) rnd.shuffle(w.mix) else w.mix).foreach { case (q, family) =>
          opId += 1
          ops += op(ctx, trace, opId, pass, q, family,
            builders(q)(_, s"$data/${w.dir}"))
        }
        println(f"pass $pass: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      ops.toList
    }

    val trace = if (ctx.args.trace) ctx.startTracing() else new Trace(false)
    val ops = measure(trace)
    Map("workload" -> w.name, "setup_end_ms" -> setupEnd, "ops" -> ops) ++
      Trace.record(trace)
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One timed op; with a live trace, also its spans and counters. */
  private def op(ctx: Ctx, trace: Trace, id: Int, pass: Int, q: String,
      family: String, build: SparkSession => DataFrame): Map[String, Any] = {
    val spark = ctx.spark
    val plans0 = ctx.planCount
    val t0 = System.nanoTime()
    val w0 = ctx.now
    var w1 = w0
    var buildS = 0.0
    var actionS = 0.0
    var check: Map[String, Any] = Map.empty
    var error: String = null
    try {
      val df = build(spark)
      buildS = (System.nanoTime() - t0) / 1e9
      w1 = ctx.now
      val (wrapped, obs) = Checks.observed(df, s"op$id")
      val t1 = System.nanoTime()
      materialize(wrapped)
      actionS = (System.nanoTime() - t1) / 1e9
      val r = Checks.result(obs, df)
      check = Map("rows" -> r.rows, "checksum" -> r.checksum, "schema" -> r.schema)
    } catch {
      case e: Throwable => error = e.toString.linesIterator.nextOption().getOrElse("").take(300)
    }
    val latency = (System.nanoTime() - t0) / 1e9
    val w2 = ctx.now
    val base = Map("op" -> id, "pass" -> pass, "query" -> q, "family" -> family,
      "latency_s" -> latency, "build_s" -> buildS, "action_s" -> actionS,
      "check" -> check, "error" -> error)
    val layers =
      if (!trace.enabled) Map.empty
      else {
        val w = ctx.window(w0, w2)
        val opSpan = trace.add(0, id, q, "bench", w0, w2)
        val buildSpan = trace.add(opSpan, id, "build", "queries", w0, w1)
        val actSpan = trace.add(opSpan, id, "action", "spark", w1, w2)
        w.jobs.foreach { j =>
          val parent = if (j.start < w1) buildSpan else actSpan
          trace.add(parent, id, s"job ${j.id}", "spark", j.start, math.max(j.end, j.start))
        }
        // the materializing action finishes last
        val (ex, sc) = ctx.plansSince(plans0).lastOption.map(PlanShape.counts).getOrElse((0, 0))
        ctx.sparkCounters(w, latency) ++ Map(
          "queries.build_s" -> buildS,
          "queries.build_jobs" -> w.jobs.count(_.start <= w1),
          "spark.action_s" -> actionS,
          "plan.exchanges" -> ex,
          "plan.scans" -> sc)
      }
    spark.catalog.clearCache()
    base + ("layers" -> layers)
  }
}
