package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed span: a layer call made by the benchmark. */
final case class Span(name: String, parent: String, runId: String,
                      startMs: Long, startNs: Long, endNs: Long, ok: Boolean)

/** Task, job and plan statistics of one job group (= one span). */
final class GroupStats {
  var firstJobStartMs: Long = Long.MaxValue
  var tasks: Long = 0
  var taskMaxMs: Long = 0
  var runMs: Long = 0
  var cpuNs: Long = 0
  var shuffleBytes: Long = 0
  var spillBytes: Long = 0
  var gcMs: Long = 0
  var exchanges: Long = 0
}

/** Collects per-job-group statistics from the listener bus. The
  * benchmark tags each span's jobs with `setJobGroup(<span>)`; stages
  * and SQL executions are attributed to the group that started them. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val planOf = mutable.HashMap.empty[Long, (String, SparkPlanInfo)]
  val groups: mutable.HashMap[String, GroupStats] = mutable.HashMap.empty

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      e.stageIds.foreach(stageGroup(_) = name)
      val s = stats(name)
      s.firstJobStartMs = math.min(s.firstJobStartMs, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      s.taskMaxMs = math.max(s.taskMaxMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => planOf(s.executionId) = (g, s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        planOf.get(u.executionId).foreach { case (g, _) =>
          planOf(u.executionId) = (g, u.sparkPlanInfo)
        }
      case _ =>
    }
  }

  /** Fold the last known plan of every SQL execution into its group's
    * exchange count (called once the listener bus is drained). */
  def countExchanges(): Unit = synchronized {
    def count(p: SparkPlanInfo): Long =
      (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1L else 0L) +
        p.children.map(count).sum
    planOf.values.foreach { case (g, p) => stats(g).exchanges += count(p) }
    planOf.clear()
  }
}

/** The span recorder. With `traced` off it only measures wall time;
  * with it on, each span's jobs run under the span's job group. Spans
  * stay in memory until the run writes them out. */
final class Tracer(val runId: String, var traced: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var failures: Long = 0
  var attempts: Long = 0

  def span[T](spark: org.apache.spark.sql.SparkSession, name: String, parent: String)(body: => T): T = {
    attempts += 1
    if (traced) spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val sp = Span(name, parent, runId, ms, t0, System.nanoTime(), ok = true)
      spans += sp
      System.err.println(f"[perfbench] span $parent%s $name%s ${(sp.endNs - sp.startNs) / 1e6}%.0f ms")
      r
    } catch {
      case e: Throwable =>
        failures += 1
        spans += Span(name, parent, runId, ms, t0, System.nanoTime(), ok = false)
        throw e
    } finally {
      if (traced) spark.sparkContext.clearJobGroup()
    }
  }
}
