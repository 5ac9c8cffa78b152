package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Scheduler, executor, shuffle and IO counters of one operation,
  * gathered from the listener bus for the operation's job group. */
final class LayerCounters {
  var jobs = 0
  val stagesDeclared = mutable.Set.empty[Int]
  val stagesRun = mutable.Set.empty[Int]
  var tasks = 0
  var taskFailures = 0
  var taskDelayMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var ioReadBytes = 0L
  var ioWriteBytes = 0L
  /** (job id, start epoch ms, end epoch ms) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Attributes jobs, stages and tasks to the job group each operation
  * runs under. All callbacks run on the listener bus's one thread; the
  * benchmark reads a group only after draining the bus. */
final class LayerListener extends SparkListener {
  private val groups = mutable.Map.empty[String, LayerCounters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]

  def take(group: String): LayerCounters = synchronized {
    groups.remove(group).getOrElse(new LayerCounters)
  }

  private def acc(g: String) = groups.getOrElseUpdate(g, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      val a = acc(g)
      a.jobs += 1
      a.stagesDeclared ++= e.stageIds
      e.stageIds.foreach(stageGroup(_) = g)
      jobStarts(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, start) =>
      acc(g).jobSpans += ((e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stagesRun += e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDiskBytes += m.diskBytesSpilled
        a.ioReadBytes += m.inputMetrics.bytesRead
        a.ioWriteBytes += m.outputMetrics.bytesWritten
        if (info != null && info.finishTime > 0) {
          // Spark UI's scheduler delay: task time not spent deserializing,
          // running, serializing the result or fetching it
          val fetch =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
            else 0L
          a.taskDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch)
        }
      }
    }
  }
}

/** A span kept in memory until the run ends: name, interval (epoch ms),
  * the span that caused it (0 for a root) and the operation it belongs
  * to. Spans of one operation share its trace id. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Spans {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time: a span's duration minus what its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durMs - covered(children.map(c => (c.startMs, c.endMs)),
      span.startMs, span.endMs)
}
