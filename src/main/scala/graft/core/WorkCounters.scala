package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Host-independent work counters for one SparkContext: jobs, completed
  * stages, tasks, shuffle bytes written and scan rows (parquet records
  * decoded), beside task run and CPU time, which are not. The same query
  * on the same data repeats jobs, stages, tasks and scan rows exactly, so
  * a wall time that moved while they did not is the host, and one whose
  * counts moved too is the code (Drizzle's split of coordination from
  * compute, by count). Shuffle bytes can differ by a few bytes between
  * identical runs (measured 73,327 against 73,330 on q_tpch_q7 at
  * sf0.01), as compressed blocks depend on row order.
  *
  * One exception: when AQE replaces a plan by an empty relation as soon
  * as one side turns out empty, the stages it launched before that
  * depend on which concurrent stage finished first, and those still
  * running finish after the action returns, inside the next snapshot's
  * window (q_tpch_q7 at sf0.001, where no supplier is in either nation:
  * 4 or 5 jobs between identical runs).
  *
  * Every [[snapshot]] first drains the listener bus, so a snapshot taken
  * after an action has returned includes every event that action posted;
  * deltas between snapshots attribute work to the run between them. */
final class WorkCounters private (sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, taskRunMs, taskCpuNs, shuffleWriteBytes,
    scanRows = new AtomicLong

  /** Each finished task's slot interval in ms. It starts at launch and
    * lasts the executor-side deserialize + run + result-serialize time,
    * not [launchTime, finishTime): the driver stamps finishTime on its
    * result-getter pool after the slot was freed and re-offered, so a
    * successor's launch can precede it (measured: 6 under local[4]). The
    * executor durations end no later than the slot is freed, so the peak
    * overlap of these intervals cannot exceed the pool. */
  val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      scanRows.addAndGet(m.inputMetrics.recordsRead)
      val launch = t.taskInfo.launchTime
      taskSpans.add((launch, launch + m.executorDeserializeTime +
        m.executorRunTime + m.resultSerializationTime))
    }
  }

  /** The totals so far, once the bus has delivered every event posted
    * before this call. */
  def snapshot(): WorkCounters.Snap = {
    ListenerBusAccess.drain(sc)
    WorkCounters.Snap(jobs.get, stages.get, tasks.get, shuffleWriteBytes.get,
      scanRows.get, taskRunMs.get, taskCpuNs.get / 1000000L)
  }
}

object WorkCounters {

  /** Counter totals, or with `-` the work between two snapshots. */
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
                        shuffleWriteBytes: Long, scanRows: Long,
                        taskRunMs: Long, taskCpuMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
      scanRows - o.scanRows, taskRunMs - o.taskRunMs, taskCpuMs - o.taskCpuMs)
  }

  /** A counter listener registered on `sc`. */
  def attach(sc: SparkContext): WorkCounters = {
    val w = new WorkCounters(sc)
    sc.addSparkListener(w)
    w
  }
}
