package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Spans of one query execution
  * share `query`; `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, parent: Int, name: String, query: Int,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.durMs - Intervals.covered(children.map(c => (c.startMs, c.endMs)),
      s.startMs, s.endMs)
}

/** Epoch milliseconds with nanoTime resolution, on the same clock as the
  * listener's event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-stage task totals, labelled when the stage is submitted. */
final class StageRec(val id: Int, val label: String, val submitMs: Double) {
  var completeMs: Double = Double.NaN
  var tasks, taskMs, maxTaskMs, cpuNs, gcMs, deserMs = 0L
  var rows, bytes, maxTaskRows, shuffleWrite, shuffleRead, fetchWaitMs,
      spill = 0L
}

final class JobRec(val id: Int, val tag: String, val startMs: Double,
    val stageIds: Seq[Int]) {
  var endMs: Double = Double.NaN
}

/** Listener that records every job, stage and task. A job carries the tag
  * of the phase that was the driver thread's local property
  * ([[Collector.Key]]) when it was submitted; the harness sets it around
  * each construct / plan / exec call. */
final class Collector extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()

  private def tagOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Collector.Key)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, tagOf(e.properties), e.time.toDouble,
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId,
        Bridge.stageLabel(i),
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach(_.completeMs =
        i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val d = e.taskInfo.duration
      s.tasks += 1
      s.taskMs += d
      s.maxTaskMs = math.max(s.maxTaskMs, d)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.rows += m.inputMetrics.recordsRead
        s.bytes += m.inputMetrics.bytesRead
        s.maxTaskRows = math.max(s.maxTaskRows, m.inputMetrics.recordsRead)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
      }
    }
  }

  def clear(): Unit = synchronized { jobs.clear(); stages.clear() }
}

object Collector {
  val Key = "perfbench.phase"
}

/** Interval arithmetic for self time and driver gaps. */
object Intervals {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }
}
