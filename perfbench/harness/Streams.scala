package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.state.TopSpeed
import graft.state.TopSpeed.CarEvent
import graft.streaming.StreamingTwins

final case class GradeEvent(ts: Timestamp, name: String, grade: Int, g_id: Long)
final case class SalaryEvent(ts: Timestamp, name: String, salary: Int, s_id: Long)

/** The streaming twins, fed step by step from in-process memory sources.
  * A step adds one pre-generated slice of events and waits until the
  * query has processed it (`processAllAvailable`), which includes the
  * no-data batch a watermark advance triggers. Inputs are generated from
  * the seed by perfbench/gen.py and read here before any timing. */
object Streams {
  /** Steps run before timing. The first plans the query and loads the
    * state store classes (about 7 s); the JIT keeps shortening steps for
    * several more. */
  private val WarmSteps = 5

  private def lines(path: String): Iterator[Array[String]] =
    scala.io.Source.fromFile(path).getLines().map(_.split('\t'))

  private final class StepStats(val ps: Seq[StreamingQueryProgress], val snap: Snap,
                                val wallNs: Long) {
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def stateRows: Long =
      ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    def stateMem: Long =
      ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
    def stateCommitMs: Double = ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).sum
  }

  /** `WarmSteps` warm-up steps, then timed steps until the run's seconds
    * are over or the generated input runs out. `add(i)` hands step i's
    * events to the sources. */
  private def drive(ctx: Ctx, rep: Report, q: StreamingQuery, nSteps: Int)
                   (add: Int => Unit): Unit = {
    var lastBatch = -1L
    val timed = mutable.ArrayBuffer.empty[StepStats]
    val stateRows = mutable.ArrayBuffer.empty[Long]
    var alive = true

    def step(i: Int, isTimed: Boolean): Unit = {
      if (isTimed) rep.attempted += 1
      try {
        val s0 = ctx.snap()
        val t0 = System.nanoTime()
        add(i)
        q.processAllAvailable()
        val t1 = System.nanoTime()
        val s1 = ctx.snap()
        val ps = q.recentProgress.toSeq.filter(_.batchId > lastBatch)
        ps.lastOption.foreach(p => lastBatch = p.batchId)
        val st = new StepStats(ps, s1 - s0, t1 - t0)
        stateRows += st.stateRows
        if (isTimed) {
          rep.opMs += (t1 - t0) / 1e6
          val id = ctx.tracer.record("stream.step", t0, t1, op = i)
          ps.foreach { p =>
            ctx.tracer.recordEpochMs(s"stream.batch.${p.batchId}",
              java.time.Instant.parse(p.timestamp).toEpochMilli,
              p.durationMs.get("triggerExecution").toLong, id, i)
          }
          timed += st
        }
      } catch { case e: Throwable =>
        if (isTimed) rep.fail(s"step $i", e) else rep.errors += s"warm-up step $i: $e"
        alive = false
      }
    }

    (0 until math.min(WarmSteps, nSteps)).foreach(step(_, isTimed = false))
    rep.setupEndMs = System.currentTimeMillis()
    var next = WarmSteps
    ctx.timedRounds(rep) { _ =>
      step(next, isTimed = true)
      next += 1
      alive && next < nSteps
    }

    val batches = timed.map(_.ps.size).sum.toDouble
    def perBatch(k: String): Double = if (batches > 0) timed.map(_.dur(k)).sum / batches else 0.0
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val snap = timed.map(_.snap).foldLeft(Snap.zero)(_ + _)
    rep.layers ++= Seq(
      "stream.batches_per_step" -> (if (timed.nonEmpty) batches / timed.size else 0.0),
      "stream.trigger_ms" -> perBatch("triggerExecution"),
      "stream.add_batch_ms" -> perBatch("addBatch"),
      "stream.query_planning_ms" -> perBatch("queryPlanning"),
      "stream.wal_commit_ms" -> perBatch("walCommit"),
      "stream.commit_offsets_ms" -> perBatch("commitOffsets"),
      "stream.latest_offset_ms" -> perBatch("latestOffset"),
      "stream.state_rows" -> med(timed.map(_.stateRows.toDouble).toSeq),
      "stream.state_mem_mb" -> med(timed.map(_.stateMem / 1048576.0).toSeq),
      "stream.state_commit_ms" -> (if (batches > 0) timed.map(_.stateCommitMs).sum / batches else 0.0),
      "stream.tasks_per_batch" -> (if (batches > 0) snap.tasks / batches else 0.0))
    ctx.execLayers(rep, snap, timed.map(_.wallNs).sum)
    rep.facts("steps_done") = stateRows.size.toString
    rep.facts("state_rows_per_step") = stateRows.mkString("[", ",", "]")
  }

  private def checkpoint(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/perfbench-checkpoint-$name"

  /** WindowJoin twin: grades ⋈ salaries on name within a 2 s tumbling
    * event-time window, both sides watermarked with zero delay. */
  def join(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val grades = mutable.Map.empty[Int, mutable.ArrayBuffer[GradeEvent]]
    val salaries = mutable.Map.empty[Int, mutable.ArrayBuffer[SalaryEvent]]
    lines(s"${ctx.inDir}/join.tsv").foreach {
      case Array(step, "g", ts, name, v, id) =>
        grades.getOrElseUpdate(step.toInt, mutable.ArrayBuffer.empty) +=
          GradeEvent(new Timestamp(ts.toLong), name, v.toInt, id.toLong)
      case Array(step, "s", ts, name, v, id) =>
        salaries.getOrElseUpdate(step.toInt, mutable.ArrayBuffer.empty) +=
          SalaryEvent(new Timestamp(ts.toLong), name, v.toInt, id.toLong)
    }
    val nSteps = grades.keys.max + 1
    val gm = MemoryStream[GradeEvent](spark)
    val sm = MemoryStream[SalaryEvent](spark)
    val joined = StreamingTwins.windowedJoin(gm.toDF(), sm.toDF(), "ts", "name", "2 seconds")
    val q = joined.writeStream.format("memory").queryName("perfbench_join")
      .outputMode("append").option("checkpointLocation", checkpoint("join")).start()
    drive(ctx, rep, q, nSteps) { i =>
      gm.addData(grades.getOrElse(i, Nil).toSeq)
      sm.addData(salaries.getOrElse(i, Nil).toSeq)
    }
    q.stop()
    val rows = spark.table("perfbench_join").collect()
    Out.write(s"${ctx.outDir}/stream_out.tsv", rows.iterator.map { r =>
      Seq(r.get(0), r.getAs[Timestamp](1).getTime, r.get(2), r.get(3), r.get(4), r.get(5))
        .mkString("\t")
    })
  }

  /** TopSpeedWindowing twin: per car, GlobalWindow + TimeEvictor(10 s) +
    * DeltaTrigger(50 m) through `flatMapGroupsWithState`, update mode. */
  def topSpeed(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val steps = mutable.Map.empty[Int, mutable.ArrayBuffer[CarEvent]]
    lines(s"${ctx.inDir}/topspeed.tsv").foreach {
      case Array(step, car, speed, dist, time, seq) =>
        steps.getOrElseUpdate(step.toInt, mutable.ArrayBuffer.empty) +=
          CarEvent(car.toInt, speed.toInt, dist.toDouble, time.toLong, seq.toLong)
    }
    val nSteps = steps.keys.max + 1
    val cm = MemoryStream[CarEvent](spark)
    val q = TopSpeed.run(cm.toDS()).writeStream.format("memory")
      .queryName("perfbench_topspeed").outputMode("update")
      .option("checkpointLocation", checkpoint("topspeed")).start()
    drive(ctx, rep, q, nSteps)(i => cm.addData(steps.getOrElse(i, Nil).toSeq))
    q.stop()
    val rows = spark.table("perfbench_topspeed").as[CarEvent].collect()
    Out.write(s"${ctx.outDir}/stream_out.tsv", rows.iterator.map { e =>
      Seq(e.carId, e.speed, java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(e.distance)),
        e.time, e.seq).mkString("\t")
    })
  }
}
