package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener-side counters for the traced run. Every job, stage and task
  * event is kept with its wall-clock time; the workloads attribute them to
  * an op by its time window (ops run one at a time from one client).
  *
  * Events arrive on Spark's asynchronous listener bus, so a reader first
  * calls [[drain]]: it runs a one-task marker job and waits until this
  * listener has seen that job end. The bus queue is FIFO, so every event
  * posted before the marker has been handled by then. */
final class Probe(sc: SparkContext) extends SparkListener {

  final case class Job(id: Int, start: Long, var end: Long = -1L,
      group: String = null)

  /** Per-stage totals, filled as tasks end. */
  final class Stage(val id: Int, val submitted: Long) {
    var completed = false
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  // (time, total cached RDD bytes) after every block update
  private val storage = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var drained = -1

  private val DrainGroup = "perfbench-drain"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += Job(e.jobId, e.time, group = group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val marker = synchronized {
      jobs.find(_.id == e.jobId).map { j => j.end = e.time; j.group }.orNull
    }
    if (marker != null && marker.startsWith(DrainGroup))
      drained = marker.stripPrefix(DrainGroup).toInt
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.completed = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      val info = e.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      // Spark UI's definition: task duration not spent running,
      // (de)serializing or shipping the result
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      if (size > 0) rddBlocks(b.blockId.name) = size else rddBlocks.remove(b.blockId.name)
      storage += ((System.currentTimeMillis(), rddBlocks.valuesIterator.sum))
    }
  }

  private var drains = 0

  /** Block until every event posted before this call has been handled. */
  def drain(): Unit = {
    drains += 1
    val n = drains
    sc.setJobGroup(s"$DrainGroup$n", "perfbench listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (drained < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  /** Counters of the jobs that started inside [from, to] (wall-clock ms),
    * the drain markers excluded. */
  def window(from: Long, to: Long): Window = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to &&
      (j.group == null || !j.group.startsWith(DrainGroup))).toList
    // drain jobs run after an op's window closes, so a window never holds one
    val ss = stages.valuesIterator
      .filter(s => s.completed && s.submitted >= from && s.submitted <= to && s.tasks > 0)
      .toList
    val inWin = storage.filter { case (t, _) => t >= from && t <= to }
    val before = storage.filter(_._1 < from).lastOption.map(_._2).getOrElse(0L)
    Window(js, ss, (before +: inWin.map(_._2).toList).max, rddBlocks.size)
  }

  final case class Window(jobs: List[Job], stages: List[Stage],
      storagePeakBytes: Long, blocksLeft: Int) {
    def firstScanTasks: Int =
      stages.filter(_.input > 0).sortBy(_.submitted).headOption.map(_.tasks).getOrElse(0)
  }
}
