package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What a workload hands back to [[Main]]. Layer figures are per round
  * (one TPC-H pass, one pipeline run, one streaming step) unless their
  * name says otherwise. */
final class Report {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** Wall clock (epoch ms) at the end of warm-up. */
  var setupEndMs = 0L
  var rounds = 0
  var timedNs = 0L
  /** Latency of each operation of the timed phase, in ms. */
  val opMs = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Workload facts the checker reads (counts, step lists, output files). */
  val facts = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }
}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val counters: Option[Counters], val seconds: Double,
                val dataDir: String, val inDir: String, val outDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Scheduler counters so far; waits for the listener bus first. Zero
    * in untraced runs, which register no listener. */
  def snap(): Snap = counters match {
    case Some(c) =>
      org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      c.snap()
    case None => Snap.zero
  }

  /** Runs whole rounds until `seconds` have passed (at least one). A
    * round returns false when the workload has no more input for it.
    * Records the JIT time spent up to here (set-up) and the GC time per
    * round of the timed phase. */
  def timedRounds(rep: Report)(round: Int => Boolean): Unit = {
    rep.layers("jvm.jit_s") = Jvm.jitSeconds
    val gc0 = Jvm.gcSeconds
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var more = true
    while (more && (rep.rounds == 0 || System.nanoTime() < deadline)) {
      more = round(rep.rounds)
      rep.rounds += 1
    }
    rep.timedNs = System.nanoTime() - start
    rep.layers("jvm.gc_s") = (Jvm.gcSeconds - gc0) / rep.rounds
  }

  /** Drops cached frames and persisted blocks a previous round left, so
    * every round starts from the same state. Never inside a timed span. */
  def resetCaches(): Unit = {
    spark.catalog.clearCache()
    graft.SparkEntry.clearMemos(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Task and scheduler figures of a span set, per round, named by layer. */
  def execLayers(rep: Report, s: Snap, wallNs: Long): Unit = {
    val r = math.max(1, rep.rounds).toDouble
    val mb = 1024.0 * 1024.0
    rep.layers ++= Seq(
      "exec.ms" -> wallNs / 1e6 / r,
      "exec.jobs" -> s.jobs / r, "exec.stages" -> s.stages / r,
      "exec.tasks" -> s.tasks / r,
      "exec.task_run_s" -> s.runMs / 1e3 / r,
      "exec.task_cpu_s" -> s.cpuNs / 1e9 / r,
      "exec.task_gc_s" -> s.gcMs / 1e3 / r,
      "exec.core_busy" -> (if (wallNs > 0) s.runMs * 1e6 / (wallNs.toDouble * cores) else 0.0),
      "exec.shuffle_write_mb" -> s.shuffleWrite / mb / r,
      "exec.shuffle_read_mb" -> s.shuffleRead / mb / r,
      "exec.spill_mb" -> s.spill / mb / r,
      "exec.scan_mb" -> s.scanBytes / mb / r,
      "exec.scan_rows" -> s.scanRows / r)
  }
}

/** One benchmark process: builds the session, runs one workload (warm-up,
  * then whole rounds for the requested seconds) and writes
  * `result.json`, the workload's outputs and, when traced, `spans.jsonl`
  * into the output directory.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *          --data SF_DIR --in INPUT_DIR --out OUTPUT_DIR
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val tracer = new Tracer(traced, t0)
    val spark = GraftSession.build("perfbench")
    val sessionNs = System.nanoTime() - t0
    tracer.record("core.session", t0, t0 + sessionNs)
    val counters = if (traced) {
      val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val ctx = new Ctx(spark, tracer, counters, a("seconds").toDouble,
      a("data"), a("in"), a("out"))
    val rep = new Report
    workload match {
      case "tpch" => Batch.tpch(ctx, rep)
      case "pipeline" => Batch.pipeline(ctx, rep)
      case "stream_join" => Streams.join(ctx, rep)
      case "stream_topspeed" => Streams.topSpeed(ctx, rep)
      case w => sys.error(s"unknown workload $w")
    }
    rep.layers("core.session_s") = sessionNs / 1e9
    rep.layers("jvm.peak_rss_mb") = Jvm.peakRssMb
    counters.foreach(c => rep.facts("max_running_tasks") = c.maxRunning.get.toString)
    val rounds = math.max(1, rep.rounds)
    val result = Out.obj(Seq(
      "attempted" -> rep.attempted.toString,
      "failed" -> rep.failed.toString,
      "errors" -> rep.errors.map(Out.str).mkString("[", ",", "]"),
      "rounds" -> rep.rounds.toString,
      "setup_s" -> Out.num((rep.setupEndMs - jvmStartMs) / 1e3),
      "run_s" -> Out.num(rep.timedNs / 1e9 / rounds),
      "op_ms" -> rep.opMs.map(Out.num).mkString("[", ",", "]"),
      "layers" -> Out.obj(rep.layers.toSeq.map { case (k, v) => k -> Out.num(v) }),
      "facts" -> Out.obj(rep.facts.toSeq)))
    if (traced) Out.write(s"${ctx.outDir}/spans.jsonl", tracer.jsonLines)
    Out.write(s"${ctx.outDir}/result.json", Iterator(result))
    spark.stop()
    System.exit(0)
  }
}
