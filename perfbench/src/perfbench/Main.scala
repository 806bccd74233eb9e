package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark process: one workload, one seed, one client, closed loop.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --work DIR --out FILE
  * }}}
  *
  * It prints human-readable progress on stdout and writes the raw run
  * record (setup end time, every op with its latency and output check, and
  * with `--trace 1` the per-op layer counters and the spans) as one JSON
  * object to `--out`. `perfbench/run.py` turns that record into metrics.
  * With `--trace 1` the listener and the span recorder are on for the
  * measured phase; with `--trace 0` neither exists. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--data"), req("--work"), req("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, cores)
    val record: Map[String, Any] =
      try args.workload match {
        case "interactive" => Batch.run(ctx, Batch.interactive)
        case "heavy_loops" => Batch.run(ctx, Batch.heavyLoops(cores))
        case "pubg_stream" => PubgStream.run(ctx)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    Files.writeString(Paths.get(args.out), Json(record ++ Map(
      "cores" -> cores,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))))
  }
}

/** Shared state of one run: the session, the listener for a traced run,
  * and the plans of the SQL actions that finished while tracing. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cores: Int) {
  val probe = new Probe(spark.sparkContext)
  private var probing = false
  private val plans = mutable.ArrayBuffer.empty[String]

  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (probing) plans.synchronized(plans += qe.executedPlan.toString)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Wall-clock ms, the time base of spans and listener events. */
  def now: Long = System.currentTimeMillis()

  /** Register the listener; an untraced run never calls this. */
  def startTracing(): Trace = {
    spark.sparkContext.addSparkListener(probe)
    probing = true
    new Trace(true)
  }

  /** Wait for the listener bus, then the counters of [from, to]. */
  def window(from: Long, to: Long): probe.Window = {
    probe.drain()
    probe.window(from, to)
  }

  /** How many SQL action plans have been captured so far. */
  def planCount: Int = plans.synchronized(plans.size)

  /** Plans captured after the first `n`, in the order the actions finished;
    * call after [[window]], which drains the listener bus. */
  def plansSince(n: Int): Seq[String] = plans.synchronized(plans.drop(n).toList)

  /** Per-op layer counters shared by every workload. */
  def sparkCounters(w: probe.Window, wallS: Double): Map[String, Any] = {
    val ss = w.stages
    val runS = ss.map(_.runMs).sum / 1000.0
    Map(
      "spark.jobs" -> w.jobs.size,
      "spark.stages" -> ss.size,
      "spark.tasks" -> ss.map(_.tasks).sum,
      "spark.executor_run_s" -> runS,
      "spark.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "spark.scheduler_delay_s" -> ss.map(_.schedDelayMs).sum / 1000.0,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> ss.map(_.spill).sum / 1e6,
      "scan.input_mb" -> ss.map(_.input).sum / 1e6,
      "scan.first_stage_tasks" -> w.firstScanTasks,
      "storage.peak_mb" -> w.storagePeakBytes / 1e6,
      "storage.blocks_left" -> w.blocksLeft)
  }
}

/** Node counts of an executed physical plan's text. Under adaptive
  * execution only the final plan is counted, not the initial one. */
object PlanShape {
  private val Node = """^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)""".r.unanchored

  def counts(plan: String): (Int, Int) = {
    var exchanges = 0
    var scans = 0
    var skipIndent = -1
    plan.linesIterator.foreach { line =>
      val indent = line.indexWhere(c => c.isLetter || c == '=')
      if (skipIndent >= 0 && indent > skipIndent) ()
      else {
        skipIndent = -1
        if (line.contains("== Initial Plan ==")) skipIndent = indent
        else line match {
          case Node(name) =>
            if (name.endsWith("Exchange")) exchanges += 1
            else if (name.endsWith("Scan")) scans += 1
          case _ => ()
        }
      }
    }
    (exchanges, scans)
  }
}
