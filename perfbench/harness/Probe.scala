package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Scheduler work counted between two points of the harness. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                      cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                      shuffleRead: Long, spill: Long, scanBytes: Long,
                      scanRows: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, scanBytes - o.scanBytes, scanRows - o.scanRows)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, scanBytes + o.scanBytes, scanRows + o.scanRows)
}
object Snap { val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** Listener registered by the harness in traced runs only. Stages are
  * counted when they complete, so stages AQE skips are not counted. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  private val shW, shR, spill, scanB, scanR = new AtomicLong
  private val running = new AtomicInteger
  /** Most task-start events seen without their task-end event. */
  val maxRunning = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val r = running.incrementAndGet()
    maxRunning.accumulateAndGet(r, (a: Int, b: Int) => math.max(a, b))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    running.decrementAndGet()
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      scanB.addAndGet(m.inputMetrics.bytesRead)
      scanR.addAndGet(m.inputMetrics.recordsRead)
    }
  }
  def snap(): Snap = Snap(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
    gcMs.get, shW.get, shR.get, spill.get, scanB.get, scanR.get)
}

/** Spans at the boundaries of the harness's calls into the program: name,
  * start, end, parent span and operation id. Held in memory and written
  * out once, after the run. A disabled tracer records nothing. */
final class Tracer(val enabled: Boolean, t0Ns: Long) {
  private final case class Span(id: Int, name: String, startNs: Long,
                                endNs: Long, parent: Int, op: Int)
  private val spans = ArrayBuffer.empty[Span]
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Records a span and returns its id (-1 when disabled). */
  def record(name: String, startNs: Long, endNs: Long, parent: Int = -1,
             op: Int = -1): Int =
    if (!enabled) -1
    else { val id = spans.size; spans += Span(id, name, startNs, endNs, parent, op); id }

  /** Records a span reported by Spark in wall-clock milliseconds. */
  def recordEpochMs(name: String, startMs: Long, durMs: Long, parent: Int, op: Int): Int =
    record(name, startMs * 1000000L - wallOffsetNs,
      (startMs + durMs) * 1000000L - wallOffsetNs, parent, op)

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    f"""{"id":${s.id},"name":${Out.str(s.name)},"start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,""" +
      f""""end_ms":${(s.endNs - t0Ns) / 1e6}%.3f,"parent":${s.parent},"op":${s.op}}"""
  }
}

object Jvm {
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jitSeconds: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** JSON output helpers. Values that must survive exactly (doubles,
  * timestamps, decimals) are tagged so the checker can decode them
  * without a lossy text round trip. */
object Out {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double =>
      s"""{"d":"${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))}"}"""
    case f: Float => value(f.toDouble)
    case s: String => str(s)
    case d: java.math.BigDecimal => s"""{"dec":"${d.toPlainString}"}"""
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case t: java.sql.Timestamp => s"""{"ts":${micros(t.toInstant)}}"""
    case i: java.time.Instant => s"""{"ts":${micros(i)}}"""
    case t: java.time.LocalDateTime =>
      s"""{"ts":${micros(t.toInstant(java.time.ZoneOffset.UTC))}}"""
    case d: java.sql.Date => s"""{"date":"${d.toLocalDate}"}"""
    case d: java.time.LocalDate => s"""{"date":"$d"}"""
    case r: org.apache.spark.sql.Row => r.toSeq.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case o => s"""{"other":${str(o.toString)}}"""
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, lines: Iterator[String]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
