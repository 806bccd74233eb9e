package perfbench

import java.io.File
import java.time.{Instant, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{Jobs, Streams}

/** The reference's deployment shape: PUBG envelopes through
  * `Jobs.EtlJob` (parse, flatten, watermarked dedup, parquet sink) and
  * `Jobs.AnalyticsJob` (ranking, trends, anomalies, aggregates, each handed
  * to this benchmark's sink callback). One op is one batch: from `addData`
  * until both queries have committed it.
  *
  * Each job reads its own `MemoryStream`, fed the same envelopes: a
  * MemoryStream drops its buffered rows when a reader commits, so one
  * stream cannot serve two queries. */
object PubgStream {

  val EnvelopesPerBatch = 400
  val MatchesPerEnvelope = 5
  val Players = 2000
  val WarmBatches = 3
  val BatchesPerPass = 5
  val SubQueries = Seq("ranking", "trends", "anomalies", "aggregates")

  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Seeded envelope generator. Batch b's matches start inside
    * [T0 + 5b min, T0 + 5(b+1) min), so event time advances per batch and
    * no fresh row is ever behind the 10-minute watermark. About 10% of
    * match slots re-poll one of the player's matches from this or the
    * previous batch (same `(match_id, account_id)`, same payload), and
    * about 1% of matches carry an outlier kill count. */
  final class Generator(seed: Long) {
    private val rnd = new Random(seed)
    private var nextMatch = 0L
    private val recent = mutable.HashMap.empty[Int, Vector[(Int, String)]] // player -> (batch, match json)
    val distinctKeys = mutable.HashSet.empty[(String, Int)]
    var bytes = 0L

    def batch(b: Int): Seq[String] = Seq.fill(EnvelopesPerBatch) {
      val p = rnd.nextInt(Players)
      val mine = recent.getOrElse(p, Vector.empty).filter(_._1 >= b - 1)
      val ms = Vector.fill(MatchesPerEnvelope) {
        if (mine.nonEmpty && rnd.nextDouble() < 0.10) mine(rnd.nextInt(mine.size))._2
        else {
          nextMatch += 1
          val mid = f"m$nextMatch%08d"
          distinctKeys += ((mid, p))
          val created = T0.plusSeconds(b * 300L + rnd.nextInt(300)).format(Fmt)
          val outlier = rnd.nextDouble() < 0.01
          val kills = if (outlier) 40 + rnd.nextInt(20) else rnd.nextInt(8)
          val damage = if (outlier) 4000 + rnd.nextInt(2000) else rnd.nextInt(600)
          val place = 1 + rnd.nextInt(100)
          s"""{"match_id":"$mid","game_mode":"${Seq("solo", "duo", "squad")(rnd.nextInt(3))}",""" +
            s""""map_name":"${Seq("erangel", "miramar", "sanhok", "vikendi")(rnd.nextInt(4))}",""" +
            s""""duration":${1200 + rnd.nextInt(900)},"is_custom_match":false,"created_at":"$created",""" +
            s""""player_performance":{"kills":$kills,"assists":${rnd.nextInt(5)},""" +
            s""""headshot_kills":${rnd.nextInt(kills + 1)},"longest_kill":${rnd.nextInt(400)}.5,""" +
            s""""damage_dealt":$damage.25,"time_survived":${60 + rnd.nextInt(1700)}.0,""" +
            s""""death_type":"byplayer","win_place":$place,"walk_distance":${rnd.nextInt(4000)}.0,""" +
            s""""weapons_acquired":${rnd.nextInt(9)},"participant_name":"player$p"}}"""
        }
      }
      recent(p) = (mine ++ ms.map(b -> _)).takeRight(10)
      val ids = ms.map(m => m.substring(13, 22)).mkString("\"", "\",\"", "\"")
      val env = s"""{"player":{"player_name":"player$p","account_id":"account.$p",""" +
        s""""shard_id":"steam","total_matches_count":${MatchesPerEnvelope + rnd.nextInt(50)},""" +
        s""""match_ids":[$ids],"data_collected_at":"${T0.plusSeconds(b * 300L + 299).format(Fmt)}"},""" +
        s""""matches":[${ms.mkString(",")}]}"""
      bytes += env.length
      env
    }
  }

  /** One analytics sink call: sub-query, epoch, rows, wall-clock span. */
  final case class SinkCall(name: String, epoch: Long, rows: Int, start: Long, end: Long)

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val work = ctx.args.work
    val gen = new Generator(ctx.args.seed)
    val etlIn = MemoryStream[String]
    val anIn = MemoryStream[String]
    val calls = mutable.ArrayBuffer.empty[SinkCall]
    val outDir = s"$work/etl-out"
    val every = Trigger.ProcessingTime(0L)

    val etl = Jobs.EtlJob.start(etlIn.toDF(), Jobs.EtlConfig(
      outputPath = outDir, checkpoint = s"$work/etl-ckp", trigger = every))
    val an = Jobs.AnalyticsJob.start(anIn.toDF(), Jobs.AnalyticsConfig(
      checkpoint = s"$work/an-ckp", markerDir = s"$work/an-markers", trigger = every)) {
      (name: String, df: DataFrame, epoch: Long) =>
        val a = System.currentTimeMillis()
        val rows = df.collect().length
        calls.synchronized(calls += SinkCall(name, epoch, rows, a, System.currentTimeMillis()))
    }

    var b = 0
    def feed(): Long = {
      val envs = gen.batch(b)
      b += 1
      etlIn.addData(envs)
      anIn.addData(envs)
      envs.map(_.length.toLong).sum
    }
    def settle(): Unit = { etl.processAllAvailable(); an.processAllAvailable() }

    (1 to WarmBatches).foreach { _ => feed(); settle() }
    val setupEnd = ctx.now
    println(s"setup done: $WarmBatches warm-up batches")

    var sinkBytes = dirBytes(outDir)
    def measure(trace: Trace): Seq[Map[String, Any]] = {
      var opId = 0
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
        (1 to BatchesPerPass).foreach { _ =>
          opId += 1
          val plans0 = ctx.planCount
          val w0 = ctx.now
          val s0 = System.nanoTime()
          val inBytes = feed()
          val w1 = ctx.now
          val s1 = System.nanoTime()
          var error: String = null
          try settle()
          catch { case e: Throwable => error = e.toString.linesIterator.nextOption().getOrElse("").take(300) }
          val s2 = System.nanoTime()
          val w2 = ctx.now
          val mine = calls.synchronized(calls.filter(c => c.start >= w0 && c.start <= w2).toList)
          val epochs = mine.groupBy(_.epoch).view.mapValues(_.map(_.name).toSet).toMap
          val complete = epochs.nonEmpty && epochs.values.forall(_ == SubQueries.toSet)
          val base = Map("op" -> opId, "pass" -> pass, "query" -> "batch",
            "family" -> "stream", "latency_s" -> (s2 - s0) / 1e9,
            "add_data_s" -> (s1 - s0) / 1e9, "action_s" -> (s2 - s1) / 1e9,
            "check" -> Map("epochs" -> epochs.size, "complete" -> complete),
            "error" -> (if (error == null && !complete) "analytics results missing for an epoch" else error))
          val layers =
            if (!trace.enabled) Map.empty
            else {
              val w = ctx.window(w0, w2)
              val opSpan = trace.add(0, opId, "batch", "bench", w0, w2)
              trace.add(opSpan, opId, "add_data", "streaming", w0, w1)
              val etlP = progressIn(etl, w0, w2)
              val anP = progressIn(an, w0, w2)
              val etlSpans = etlP.map(p => progressSpans(trace, opSpan, opId, "etl", p))
              val anSpans = anP.map(p => progressSpans(trace, opSpan, opId, "analytics", p))
              val callSpans = mine.map { c =>
                val parent = anSpans.find { case (_, a, e) => c.start >= a && c.start <= e }
                  .map(_._1).getOrElse(opSpan)
                (trace.add(parent, opId, c.name, "ops", c.start, c.end), c.start, c.end)
              }
              val etlRun = etl.runId.toString
              w.jobs.foreach { j =>
                val cands = if (j.group == etlRun) etlSpans else callSpans ++ anSpans
                val parent = cands.find { case (_, a, e) => j.start >= a && j.start <= e }
                  .map(_._1).getOrElse(opSpan)
                trace.add(parent, opId, s"job ${j.id}", "spark", j.start, math.max(j.end, j.start))
              }
              val nowBytes = dirBytes(outDir)
              val written = nowBytes - sinkBytes
              sinkBytes = nowBytes
              val plans = explain(etl) +: ctx.plansSince(plans0)
              val shape = plans.map(PlanShape.counts)
              val lastState = etlP.lastOption.flatMap(_.stateOperators.headOption)
              def dur(ps: Seq[StreamingQueryProgress], k: String) =
                ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
              def phases(tag: String, ps: Seq[StreamingQueryProgress]) = Map(
                s"streaming.$tag.add_batch_s" -> dur(ps, "addBatch"),
                s"streaming.$tag.planning_s" -> dur(ps, "queryPlanning"),
                s"streaming.$tag.wal_commit_s" -> dur(ps, "walCommit"),
                s"streaming.$tag.commit_offsets_s" -> dur(ps, "commitOffsets"))
              ctx.sparkCounters(w, (s2 - s0) / 1e9) ++ phases("etl", etlP) ++
                phases("analytics", anP) ++ Map(
                "queries.build_s" -> 0.0,
                "queries.build_jobs" -> 0,
                "spark.action_s" -> (s2 - s1) / 1e9,
                "plan.exchanges" -> shape.map(_._1).sum,
                "plan.scans" -> shape.map(_._2).sum,
                "streaming.etl.state_rows" -> lastState.map(_.numRowsTotal).getOrElse(0L),
                "streaming.etl.state_commit_s" ->
                  etlP.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1000.0,
                "streaming.etl.sink_bytes_per_input_byte" -> written.toDouble / inBytes) ++
                SubQueries.map(n => s"streaming.analytics.${n}_s" ->
                  mine.filter(_.name == n).map(c => c.end - c.start).sum / 1000.0)
            }
          ops += base + ("layers" -> layers)
        }
        pass += 1
      }
      ops.toList
    }

    val trace = if (ctx.args.trace) ctx.startTracing() else new Trace(false)
    val ops = measure(trace)
    etl.stop()
    an.stop()

    // Landed rows must equal the generator's distinct (match_id, account_id)
    // count; the landed keys must be distinct as well.
    val landed = Streams.readEvolved(spark, outDir)
    val landedRows = landed.count()
    val landedKeys = landed.select(col("match_id"), col("account_id")).distinct().count()
    Map("workload" -> "pubg_stream", "setup_end_ms" -> setupEnd, "ops" -> ops) ++
      Trace.record(trace) ++ Map(
      "stream_check" -> Map("batches" -> b, "envelope_bytes" -> gen.bytes,
        "expected_rows" -> gen.distinctKeys.size, "landed_rows" -> landedRows,
        "landed_keys" -> landedKeys,
        "ok" -> (landedRows == gen.distinctKeys.size && landedKeys == landedRows)))
  }

  /** Progress of the batches that started inside [from, to]. */
  private def progressIn(q: StreamingQuery, from: Long, to: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter { p =>
      val t = Instant.parse(p.timestamp).toEpochMilli
      t >= from && t <= to && p.durationMs.containsKey("addBatch")
    }

  /** A micro-batch span with one child per timed phase, in the order the
    * engine runs them. Returns (span id, start, end) of its addBatch. */
  private def progressSpans(trace: Trace, parent: Int, op: Int, tag: String,
      p: StreamingQueryProgress): (Int, Long, Long) = {
    val start = Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val batch = trace.add(parent, op, s"$tag batch ${p.batchId}", "streaming",
      start, start + d.getOrElse("triggerExecution", 0L))
    var t = start
    var addBatch = (batch, start, start)
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val ms = d.getOrElse(k, 0L)
        val id = trace.add(batch, op, s"$tag $k", "streaming", t, t + ms)
        if (k == "addBatch") addBatch = (id, t, t + ms)
        t += ms
      }
    addBatch
  }

  private def explain(q: StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(q.explain())
    buf.toString("UTF-8")
  }

  private def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new File(dir))
  }
}
