package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Marker posted on the listener bus at phase boundaries, so block
  * updates (which carry no timestamp) are assigned to the phase that
  * produced them. */
case class PhaseMark(window: String, fitStart: Boolean, fitEnd: Boolean)
  extends SparkListenerEvent

/** One Spark job as the trace records it. `frames` are the `graft.`
  * frames of the job's call site, innermost first (none when the job was
  * launched from a thread without any); report.py assigns the layer. */
final class JobRec(val id: Int, val start: Long, val frames: Seq[String]) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val taskSpans = new ArrayBuffer[(Long, Long)]()
}

/** The benchmark's only SparkListener. Always on: block-manager storage
  * held by RDD blocks (cached and checkpointed), with its peak inside
  * each fit window. With `trace`: every job with its call site and task
  * metrics, and the bytes each RDD creation site stored, per window. */
class Recorder(trace: Boolean) extends SparkListener {
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var total = 0L
  private var inFit = false
  private var peak = 0L
  val fitPeaks = new ArrayBuffer[Long]()

  private var window = ""
  private val rddSite = mutable.HashMap.empty[Int, String]
  /** (window, rdd creation site) → bytes newly stored. */
  val storedBySite = mutable.LinkedHashMap.empty[(String, String), Long]
  val jobs = new ArrayBuffer[JobRec]()
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]

  private val GraftFrame = """(?:^|/)(graft\.[^(\s]*\([^)]*\))""".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case PhaseMark(w, start, end) => synchronized {
      window = w
      if (start) { inFit = true; peak = total }
      if (end) { inFit = false; fitPeaks += peak }
    }
    case _ => ()
  }

  override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit =
    u.blockUpdatedInfo.blockId match {
      case b: RDDBlockId => synchronized {
        val info = u.blockUpdatedInfo
        val now = if (info.storageLevel.isValid)
          info.memSize + info.diskSize else 0L
        val before = blockBytes.getOrElse(b, 0L)
        if (now > 0) blockBytes(b) = now else blockBytes.remove(b)
        total += now - before
        if (inFit && total > peak) peak = total
        if (trace && before == 0L && now > 0L) {
          val key = (window, rddSite.getOrElse(b.rddId, ""))
          storedBySite(key) = storedBySite.getOrElse(key, 0L) + now
        }
      }
      case _ => ()
    }

  // unpersisting an RDD drops its blocks without a block update
  override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val gone = blockBytes.keys.filter(_.rddId == u.rddId).toSeq
      gone.foreach(b => total -= blockBytes.remove(b).getOrElse(0L))
    }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (trace)
    synchronized {
      val site = js.stageInfos.sortBy(-_.stageId).headOption
        .map(_.details).getOrElse("")
      val frames = site.linesIterator.flatMap(l =>
        GraftFrame.findFirstMatchIn(l).map(_.group(1))).toSeq
      val j = new JobRec(js.jobId, js.time, frames)
      jobs += j
      byId(js.jobId) = j
      js.stageIds.foreach(s => stageJob(s) = j)
    }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = if (trace)
    synchronized { byId.get(je.jobId).foreach(_.end = je.time) }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (trace) synchronized {
      s.stageInfo.rddInfos.foreach(r => rddSite.getOrElseUpdate(r.id,
        r.callSite))
      stageJob.get(s.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (trace)
    synchronized {
      stageJob.get(t.stageId).foreach { j =>
        j.tasks += 1
        j.taskSpans += ((t.taskInfo.launchTime, t.taskInfo.finishTime))
        val m = t.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Spans the benchmark records around its calls into the library, one
  * per layer boundary, in wall-clock milliseconds (fractional, so they
  * line up with the listener's job timestamps). */
final class Spans {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  /** (layer, label, window, start ms, end ms) */
  val done = new ArrayBuffer[(String, String, String, Double, Double)]()
  @volatile var window = ""
  @volatile var on = false

  def apply[T](layer: String, label: String)(body: => T): T =
    if (!on) body
    else {
      val s = nowMs
      try body
      finally done += ((layer, label, window, s, nowMs))
    }
}

/** Samples the stacks of the local executor's task threads and charges
  * each sample's elapsed time to the task's `graft.` frames, outermost
  * first: report.py takes the outermost that belongs to a layer, i.e.
  * the library code the task is running on behalf of. This splits
  * task time between layers that one job composes lazily (per-entity
  * solves inside a descent checkpoint job; text and vector functions
  * inside an operator's plan), which job call sites cannot. */
final class Sampler(periodMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile var window = ""
  @volatile var on = false
  @volatile private var stopped = false
  /** (window, graft frames outermost first) → sampled task seconds */
  val seconds = new ConcurrentHashMap[(String, String), java.lang.Double]()

  private def key(stack: Array[StackTraceElement]): String =
    stack.reverseIterator.filter(_.getClassName.startsWith("graft."))
      .map(e => s"${e.getClassName}.${e.getMethodName}(${e.getFileName})")
      .mkString(";")

  private def taskThreads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val ts = new Array[Thread](g.activeCount() * 2 + 16)
    ts.take(g.enumerate(ts, true)).toSeq
      .filter(_.getName.startsWith("Executor task launch"))
  }

  override def run(): Unit = {
    var last = System.nanoTime()
    while (!stopped) {
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      val dt = (now - last) / 1e9
      last = now
      if (on) {
        val w = window
        taskThreads().foreach { t =>
          if (t.getState == Thread.State.RUNNABLE) {
            val st = t.getStackTrace
            if (st.nonEmpty) seconds.merge((w, key(st)), dt, (a, b) => a + b)
          }
        }
      }
    }
  }

  def finish(): Unit = { stopped = true; join() }
}
