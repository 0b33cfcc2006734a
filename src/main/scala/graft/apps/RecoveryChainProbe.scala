package graft.apps

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.core.{Args, GraftSession}
import graft.sources.Sources
import graft.streaming.FunnelListener

/** Restart-recovery cost as a function of changelog-chain length
  * (r16 verdict item 2).
  *
  * The endurance soaks surfaced one scale-risk axis they do not price:
  * when a store's snapshot uploads fall behind (the 10× soak measured a
  * 362-version lag driven by one partition's failed upload), the cost is
  * paid at RESUME — RocksDB rebuilds the store by loading the last
  * uploaded snapshot and replaying every changelog after it, so a long
  * chain is replay time on the first batch of the resumed run. This
  * probe measures that price directly:
  *
  *  - SUPPRESSED leg: `spark.sql.streaming.stateStore.minDeltasForSnapshot`
  *    set far above the drain length, so maintenance never uploads a
  *    snapshot and every resume replays the FULL chain from version 0 —
  *    the chain grows with each phase (stop points at geometrically
  *    increasing batch counts), giving recovery samples at chain lengths
  *    ~N, ~2N, ~4N, ~8N;
  *  - CONTROL leg: default snapshot cadence, same stop points — the
  *    chain at each resume stays ≲ minDeltasForSnapshot + one
  *    maintenance cycle, so recovery should be flat in the batch index.
  *
  * Recovery = wall time from `start()` until the resumed run's FIRST
  * batch commits (listener census) — that batch's tasks load every store
  * instance: snapshot download (none when suppressed) + changelog
  * replay. Chain length is MEASURED, not assumed: the snapshot-upload
  * lag (versions behind) of the last state sample before the stop.
  *
  * Bounds asserted (exit 1 on violation):
  *  - suppressed recovery grows at most linearly with chain length, with
  *    3× slack: rec(longest)/rec(shortest) <= 3 × chain ratio. A
  *    superlinear blowup (replay cost compounding per version) breaks it;
  *  - control recovery is flat: max <= 2 × min + 3 s floor — the cost is
  *    chain-driven, not batch-index-driven.
  *
  * Usage: --data /root/testdata/sf0.01 --workdir /tmp/graft-recovery
  *        [--files 90] [--targets 10,20,40,80] [--trigger-ms 100]
  * Prints ONE JSON line (metric "recovery_chain").
  */
object RecoveryChainProbe {

  /** Snapshot-upload lag of the query's latest progress, −1 before the
    * first batch ([[graft.streaming.FunnelListener.snapshotLag]]). Read
    * from `lastProgress` so the probe never depends on the async
    * listener bus — under full-suite load the bus DROPS events, which
    * stalled the spec-scale twin for its whole budget while the query
    * ran fine (r17 flake). */
  private def lagOf(p: StreamingQueryProgress): Long =
    if (p == null || p.stateOperators == null) -1L
    else FunnelListener.snapshotLag(p.batchId, p.stateOperators.toSeq.map(_.customMetrics))

  /** One leg: drain in phases that stop after cumulative batch counts
    * `targets`, measuring (chainAtResume, recoveryMs) at every resume —
    * including one final resume after the last target so the longest
    * chain is also sampled. Returns (queryId, samples, phaseBatches). */
  private[apps] def runLeg(spark: SparkSession, in: String, out: String,
                           targets: Seq[Long], triggerMs: Long,
                           maxChainAtStop: Long = Long.MaxValue)
      : (UUID, Seq[(Long, Double)], Seq[Long]) = {
    require(targets.nonEmpty && targets == targets.sorted, s"bad targets $targets")
    // Everything below polls q.lastProgress — the query's OWN progress,
    // synchronous with batch completion — never the listener bus (see
    // lagOf). batchIds are global across checkpoint resumes, so the
    // cumulative position is just lastProgress.batchId + 1.
    var queryId: UUID = null
    var chainBefore = -1L
    val samples = Seq.newBuilder[(Long, Double)]
    val phaseBatches = Seq.newBuilder[Long]
    // final element: a resume-only phase (one batch) so the chain built
    // by the LAST target is also priced
    val stops = targets :+ (targets.last + 1)
    stops.zipWithIndex.foreach { case (target, i) =>
      val t0 = System.nanoTime()
      val q = IngestMain.sink(
        IngestMain.transform(Sources.readTextStreamThrottled(spark, in, 1)),
        out, Trigger.ProcessingTime(triggerMs))
      if (queryId == null) queryId = q.id
      require(q.id == queryId, "checkpoint resume changed the query id")
      val deadline = System.nanoTime() + 600L * 1000000000L
      // resume-to-first-batch: state reload (snapshot + changelog replay
      // for every store instance) happens inside this batch's tasks
      while (q.lastProgress == null && System.nanoTime() < deadline) {
        if (!q.isActive) throw q.exception.getOrElse(
          new IllegalStateException("query died without exception"))
        Thread.sleep(20)
      }
      require(q.lastProgress != null, "first batch never committed (600s)")
      val recoverySec = (System.nanoTime() - t0) / 1e9
      if (i > 0) samples += ((chainBefore, recoverySec))
      val firstBatch = q.lastProgress.batchId
      while (q.isActive && q.lastProgress.batchId + 1 < target &&
             System.nanoTime() < deadline) Thread.sleep(50)
      // Control legs stop only once uploads have caught up (lag within
      // `maxChainAtStop`), so "control" honestly means short-chain: the
      // snapshot threshold alone can't guarantee an upload happened
      // before a spec-scale phase ends (maintenance is asynchronous).
      // Bounded wait — a dry backlog stops producing fresh lag samples.
      if (maxChainAtStop != Long.MaxValue) {
        val d2 = System.nanoTime() + 30L * 1000000000L
        while (q.isActive && lagOf(q.lastProgress) > maxChainAtStop &&
               System.nanoTime() < d2) Thread.sleep(100)
      }
      // A run that DIED mid-phase must fail the leg loudly (r17
      // advisory): unlike the first-batch wait, the catch-up loops above
      // exit silently on !q.isActive, and the stop's catch-all would
      // swallow the failure too — the leg would then record a truncated
      // phase and a bogus chain sample with no violation anywhere.
      if (!q.isActive)
        throw q.exception.getOrElse(new IllegalStateException(
          s"query died mid-phase (target $target) without exception"))
      val last = q.lastProgress
      chainBefore = lagOf(last)
      try { q.stop(); q.awaitTermination() } catch { case _: Throwable => () }
      phaseBatches += last.batchId - firstBatch + 1
    }
    (queryId, samples.result(), phaseBatches.result())
  }

  /** Maintenance confs of one leg, on top of the session's RocksDB +
    * changelog state store (GraftSession).
    * Suppressed: maintenance never reaches the snapshot threshold, so
    * every resume replays the whole changelog chain from version 0 —
    * the long-chain regime a stuck store would put a partition in.
    * Control: aggressive cadence (threshold 2 + 2 s maintenance) so
    * even spec-scale phases upload snapshots before their stop. */
  private[apps] def legConfs(suppress: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "2s",
    "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> (if (suppress) "100000" else "2"))

  private[apps] def configure(spark: SparkSession, suppress: Boolean): Unit =
    legConfs(suppress).foreach { case (k, v) => spark.conf.set(k, v) }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("graft-recovery-chain")
    val data = a.getOrElse("data", "/root/testdata/sf0.01")
    val work = a.getOrElse("workdir", "/tmp/graft-recovery")
    val files = a.getOrElse("files", "90").toInt
    val targets = a.getOrElse("targets", "10,20,40,80")
      .split(",").toSeq.map(_.trim.toLong)
    val triggerMs = a.getOrElse("trigger-ms", "100").toLong
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(work), true)
    val in = s"$work/in"
    SoakMain.buildBacklog(spark, data, in, files, dupDocs = 200L)

    configure(spark, suppress = true)
    val (_, supSamples, supPhases) =
      runLeg(spark, in, s"$work/suppressed", targets, triggerMs)
    configure(spark, suppress = false)
    val (_, ctlSamples, ctlPhases) =
      runLeg(spark, in, s"$work/control", targets, triggerMs,
        maxChainAtStop = 8L)

    def fmt(xs: Seq[(Long, Double)]): String = xs.map { case (c, s) =>
      s"[$c,${math.rint(s * 1000) / 1000}]" }.mkString("[", ",", "]")
    // per-version marginal cost from the two extreme suppressed samples
    val sup = supSamples.sortBy(_._1)
    val perVersionMs =
      if (sup.length >= 2 && sup.last._1 > sup.head._1)
        (sup.last._2 - sup.head._2) * 1000.0 / (sup.last._1 - sup.head._1)
      else Double.NaN

    val violations = Seq.newBuilder[String]
    if (sup.length >= 2 && sup.head._1 > 0) {
      val chainRatio = sup.last._1.toDouble / sup.head._1
      val recRatio = sup.last._2 / math.max(sup.head._2, 0.001)
      if (recRatio > 3.0 * chainRatio)
        violations += s"superlinear recovery: rec ratio $recRatio > 3x chain ratio $chainRatio"
    }
    if (ctlSamples.nonEmpty) {
      val mx = ctlSamples.map(_._2).max
      val mn = ctlSamples.map(_._2).min
      if (mx > 2.0 * mn + 3.0)
        violations += s"control recovery not flat: max $mx > 2x min $mn + 3s"
      // the mechanism must actually differ: the suppressed chain at the
      // deepest resume must exceed the control's by the snapshot cadence
      val supChain = sup.map(_._1).max
      val ctlChain = ctlSamples.map(_._1).max
      if (supChain <= ctlChain)
        violations += s"suppression ineffective: suppressed chain $supChain <= control $ctlChain"
    }
    val v = violations.result()
    v.foreach(x => System.err.println(s"[recovery-chain] VIOLATION: $x"))

    val json =
      s"""{"metric":"recovery_chain","data":"$data","files":$files,""" +
      s""""targets":${targets.mkString("[", ",", "]")},"trigger_ms":$triggerMs,""" +
      s""""suppressed_chain_rec_sec":${fmt(supSamples)},""" +
      s""""control_chain_rec_sec":${fmt(ctlSamples)},""" +
      s""""suppressed_phase_batches":${supPhases.mkString("[", ",", "]")},""" +
      s""""control_phase_batches":${ctlPhases.mkString("[", ",", "]")},""" +
      s""""per_version_ms":${if (perVersionMs.isNaN) "null" else math.rint(perVersionMs * 100) / 100},""" +
      s""""violations":${v.map(x => "\"" + graft.core.Json.escape(x) + "\"").mkString("[", ",", "]")},""" +
      s""""ok":${v.isEmpty}}"""
    try spark.stop() catch { case _: Throwable => }
    println(json)
    if (v.nonEmpty) sys.exit(1)
  }
}
