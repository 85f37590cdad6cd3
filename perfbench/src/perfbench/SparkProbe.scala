package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own SparkListener and QueryExecutionListener. It keeps
  * every job start, finished task and Catalyst phase with its wall-clock
  * time, so totals can be taken over any window of the run.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Task(launchMs: Long, finishMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, rowsRead: Long)
  final case class Phases(endMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  private val jobs = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val phases = ArrayBuffer.empty[Phases]
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time; lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sh = m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.jvmGCTime, sh,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
    }
    lastEventMs = System.currentTimeMillis()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    synchronized {
      phases += Phases(end, ms("analysis"), ms("optimization"), ms("planning"))
      lastEventMs = System.currentTimeMillis()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until the listener buses have been quiet for a moment, so the
    * events of work that already returned are all recorded.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 3000
    while (System.currentTimeMillis() - lastEventMs < 250 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Totals over the epoch-ns window [loNs, hiNs). */
  final case class Window(jobs: Int, tasks: Int, cpuS: Double, gcS: Double,
      shuffleBytes: Long, spillBytes: Long, rowsRead: Long,
      analysisMs: Double, optimizationMs: Double, planningMs: Double,
      taskBusyNs: Long)

  def window(loNs: Long, hiNs: Long): Window = synchronized {
    val loMs = loNs / 1000000L
    val hiMs = hiNs / 1000000L + 1
    val ts = tasks.filter(t => t.finishMs >= loMs && t.finishMs <= hiMs)
    val ps = phases.filter(p => p.endMs >= loMs && p.endMs <= hiMs)
    Window(jobs.count(j => j >= loMs && j <= hiMs), ts.size,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum, ts.map(_.rowsRead).sum,
      ps.map(_.analysisMs).sum.toDouble, ps.map(_.optimizationMs).sum.toDouble,
      ps.map(_.planningMs).sum.toDouble,
      Trace.coveredNs(loNs, hiNs,
        ts.map(t => (t.launchMs * 1000000L, t.finishMs * 1000000L)).toSeq))
  }
}

object SparkProbe {
  def attach(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
