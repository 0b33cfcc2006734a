package graft.apps

import java.util.UUID

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.SparkSession

import graft.core.{Args, GraftSession}
import graft.sources.Sources

/** Endurance soak (r12 verdict stretch item 7): the time axis the
  * row-count soaks cannot exercise. [[SoakMain]] proves SCALE — a 5M-doc
  * backlog drained through RocksDB with one mid-drain restart — but it
  * drains in ~a minute; a production ingest runs for days, and the
  * defects that only time exposes are different in kind: state-store
  * growth that eviction was supposed to bound, snapshot/compaction debt
  * accumulating across maintenance cycles, funnel drift across MANY
  * checkpoint restarts rather than one.
  *
  * This soak therefore runs the SAME ingest transform
  * ([[IngestMain.transform]]) rate-throttled over a long wall window:
  *
  *  - `Trigger.ProcessingTime(triggerMs)` + `maxFilesPerTrigger` pace
  *    the drain (default ≈ 6 s/batch over 300 files ⇒ ≥ 30 min wall);
  *  - the query is stopped and resumed from its checkpoint every
  *    `restart-every` batches — the soak REQUIRES ≥ `min-restarts`
  *    resume cycles or it fails (a drain too fast to restart thrice is
  *    a configuration error, same stance as SoakMain's fail-fast);
  *  - RocksDB state store with changelog checkpointing and a short
  *    maintenance interval, so snapshot upload + compaction run MANY
  *    times during the soak, not zero;
  *  - per-batch state footprint (rows / memory / SST bytes) is captured
  *    from every progress event via [[graft.streaming.FunnelListener
  *    .stateSeries]]; the soak asserts the series is BOUNDED: peak state
  *    rows must stay below half the distinct keys seen (the 1-minute
  *    dropDuplicatesWithinWatermark eviction actually evicting) and the
  *    late-run peak must not exceed the mid-run peak by more than 2×
  *    (plateau, not monotone growth);
  *  - funnel exactness is asserted the same way as SoakMain — observe()
  *    totals deduplicated by batchId across ALL runIds vs an independent
  *    batch twin — which across ≥3 restarts is a much stronger
  *    exactly-once statement than across one.
  *
  * Usage: --data /root/repo/testdata_sf30 --workdir /tmp/graft-long-soak
  *        [--files 300] [--files-per-trigger 1] [--trigger-ms 6000]
  *        [--restart-every 60] [--min-restarts 3] [--max-phases 40]
  *        [--dup-docs 2000]
  * Prints ONE JSON line (soak_long) with phase walls, restart count,
  * funnel, and the (downsampled) state series; exits non-zero on any
  * contract violation.
  */
object LongSoakMain {

  /** The stall-vs-fail classifier for a dead run: walks the cause chain
    * looking for the documented RocksDB stop-vs-maintenance race (a
    * maintenance snapshot upload failing on a file the stop deleted;
    * changelog checkpointing carries correctness across it). TRUE means
    * the phase should be retried from the checkpoint; any other death
    * stays a hard failure. The match is on exception TEXT (class name +
    * message) because Spark raises the race as generic SparkException
    * chains — message text is not API, so the contract is pinned by
    * SnapshotRaceSpec's forged chains (r17 verdict item 2): a Spark
    * upgrade that rewords the message fails that spec, not a 30-minute
    * soak. The walk is self-cycle-safe (`getCause eq t`) and bounded at
    * 16 hops, which also terminates longer a→b→a cycles. */
  private[apps] def snapshotRace(e: Throwable): Boolean = {
    var t: Throwable = e; var hit = false
    var hops = 0
    while (t != null && !hit && hops < 16) {
      val m = s"${t.getClass.getName}: ${t.getMessage}"
      hit = m.contains("uploadSnapshot") || m.contains("SnapshotUpload") ||
        (m.contains("RocksDB") && m.toLowerCase.contains("snapshot"))
      t = if (t.getCause eq t) null else t.getCause
      hops += 1
    }
    hit
  }

  /** Poll until this run has either drained the backlog (funnel rows_in
    * reaches `expectedRows`) or completed `restartEvery` NEW batches,
    * then stop it between batches. Returns (batchesThisRun, drained,
    * stallReason), where a Some stallReason means the phase should be
    * RETRIED from the checkpoint rather than failed:
    *
    *  - the deadline is on PROGRESS, not the whole phase: the clock
    *    resets whenever the run completes a new batch, so the budget
    *    scales with the observed trigger lag instead of assuming one.
    *    The r16 full-`sbt test` flake was exactly a fixed whole-phase
    *    budget meeting a loaded host — 32 suites contending for the
    *    same cores stretch a 200 ms trigger to minutes without anything
    *    being wrong;
    *  - a run that makes no progress past the budget, or that dies in
    *    the documented RocksDB stop-vs-maintenance race (a maintenance
    *    snapshot upload failing on a file the stop deleted; changelog
    *    checkpointing carries correctness across it), is a STALL: stop
    *    best-effort and let the caller resume from the checkpoint,
    *    which reloads the store and unwedges it. Any other query death
    *    still throws; a query that ENDED without an exception (an
    *    AvailableNow run out of backlog) ends the phase.
    *
    * Batch counting comes from the listener's per-run batch census
    * (dedup'd by batchId), NOT from sampling `lastProgress`: at a fast
    * trigger, batches completed before the first poll or between polls
    * would be silently missed by the sampling form (the r13 advisory),
    * overshooting `restartEvery` and flaking the per-phase >= 1 assert. */
  private[apps] def runPhase(q: StreamingQuery, listener: graft.streaming.FunnelListener,
                       queryId: UUID, expectedRows: Long, restartEvery: Long,
                       noProgressTimeoutMs: Long): (Long, Boolean, Option[String]) = {
    def drainedNow(): Boolean =
      listener.totalByBatch(queryId, "ingest_parsed", "rows_in") >= expectedRows
    var lastBatches = listener.batchCount(q.runId)
    var lastProgressNs = System.nanoTime()
    var stall: Option[String] = None
    var stop = false
    var seen: StreamingQueryProgress = null
    while (!stop && stall.isEmpty) {
      if (!q.isActive) q.exception match {
        // ended on its own: an AvailableNow run (SoakMain) drained its backlog
        case None => stop = true
        case Some(e) if snapshotRace(e) =>
          stall = Some(s"query died in the stop-vs-maintenance snapshot race: ${e.getMessage}")
        case Some(e) => throw e
      } else {
        // Reconcile from the query's OWN progress ring before reading
        // the census: the listener bus is lossy under load (dropped
        // events read as 0-batch runs and a permanently-undercounted
        // drain total — the r16/r17 full-suite flakes). recentProgress
        // holds the run's last 100 batches (> restartEvery by
        // contract), and ingestProgress is idempotent, so this repairs
        // any loss at ~100 map puts per poll with new progress.
        val last = q.lastProgress
        if (last ne seen) { seen = last; q.recentProgress.foreach(listener.ingestProgress) }
        val batches = listener.batchCount(q.runId)
        if (batches > lastBatches) {
          lastBatches = batches; lastProgressNs = System.nanoTime()
        }
        if (drainedNow() || batches >= restartEvery) stop = true
        else if (System.nanoTime() - lastProgressNs > noProgressTimeoutMs * 1000000L)
          stall = Some(s"no new batch for ${noProgressTimeoutMs / 1000}s with $batches batches this run")
        // Poll fast so the stop lands just after a batch's progress
        // event, at the start of the next batch. stop() interrupts a
        // running batch, and one interrupted after its file-sink commit
        // but before its progress event is not executed again on resume:
        // its observed metrics never reach the census, which then stays
        // short until the drain stalls (1 drain in 20 at spec scale when
        // this slept 500 ms, stopping anywhere in a batch).
        else Thread.sleep(10)
      }
    }
    // Stop between batches; the stop itself can trip the same snapshot
    // race (awaitTermination rethrows a failed query's exception) —
    // best-effort, a failed stop is a stall and the resume recovers.
    try { q.stop(); q.awaitTermination() }
    catch { case e: Throwable =>
      if (stall.isEmpty)
        stall = Some(s"stop failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (!listener.awaitTerminated(q.runId) && stall.isEmpty)
      stall = Some(s"termination event lost for run ${q.runId}")
    // The final census decides both — a batch committed during stop()
    // must count, and the bus may have dropped anything: reconcile the
    // whole ring one last time.
    q.recentProgress.foreach(listener.ingestProgress)
    (listener.batchCount(q.runId), drainedNow(), stall)
  }

  /** The multi-restart drain: run phases of at most `restartEvery`
    * batches, stopping the query BETWEEN batches and resuming from the
    * same checkpoint, until the funnel shows the whole backlog consumed.
    * Returns (queryId, per-phase batch counts, attempts); phase
    * count - 1 is the number of NEW-WORK checkpoint restarts exercised
    * and attempts - 1 the number of all stop/start cycles. Factored
    * out of main so
    * the restart/drain-detection logic is integration-testable at spec
    * scale (seconds) — the 30-min soak is the same code at a longer
    * trigger. */
  private[apps] def drainWithRestarts(spark: SparkSession, in: String,
                                      out: String, perTrigger: Int,
                                      triggerMs: Long, restartEvery: Long,
                                      maxPhases: Int, expectedRows: Long,
                                      listener: graft.streaming.FunnelListener,
                                      maxStallRetries: Int = 2,
                                      noProgressFloorMs: Long = 120000L)
      : (UUID, Seq[Long], Int) = {
    // The reconcile path reads query.recentProgress, a ring of
    // spark.sql.streaming.numRecentProgressUpdates: a phase must fit the
    // ring or dropped-bus batches at the phase head become
    // unrecoverable. The bound is read from the session conf (r17
    // advisory) — a hardcoded 100 would silently break bus-drop repair
    // in a session that lowered the ring size.
    val ring =
      spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
    require(restartEvery <= ring,
      s"restartEvery=$restartEvery exceeds the recentProgress ring ($ring)")
    // No-progress budget: a generous multiple of ONE trigger plus a
    // fixed floor — it only has to outlast the worst single trigger
    // (the clock resets per completed batch), not the whole phase. The
    // floor is a parameter (default 2 min) so the stall/abort dynamics
    // are spec-testable in seconds (r19 wedge probe).
    val noProgressMs = triggerMs * 20 + noProgressFloorMs
    var queryId: UUID = null
    var drained = false
    val phaseBatches = Seq.newBuilder[Long]
    var phases = 0
    var attempts = 0
    var stallRetries = 0
    while (!drained && phases < maxPhases) {
      attempts += 1
      val before =
        if (queryId == null) 0L else listener.distinctBatches(queryId)
      val q = IngestMain.sink(
        IngestMain.transform(Sources.readTextStreamThrottled(spark, in, perTrigger)),
        out, Trigger.ProcessingTime(triggerMs))
      if (queryId == null) queryId = q.id
      require(q.id == queryId, "checkpoint resume changed the query id")
      val (batches, d, stall) = runPhase(q, listener, queryId, expectedRows,
        restartEvery, noProgressMs)
      // NEW work = a batchId the query never reported before this
      // attempt. Per-run batchCount cannot distinguish progress from a
      // re-report: a restart posts the last committed batch's progress
      // under the new runId, so `batches >= 1` held on every attempt of
      // the r19 wedge (census unreachable, nothing executing) and the
      // stall streak never accumulated — the drain burned maxPhases at
      // a full no-progress window each instead of aborting on the third
      // dead attempt. Genuine replays of an UNCOMMITTED batch still
      // count as work: their progress event was never delivered.
      val newWork = listener.distinctBatches(queryId) > before
      // NEW work PROVES any earlier stall recovered, so the retry cap
      // is per stall STREAK, not per run (r17 advisory: three
      // transient, individually-recovered races spread across a
      // multi-hour soak must not abort it). Reset BEFORE counting this
      // attempt's own stall: progress breaks the streak, a stall in the
      // same attempt starts a new one.
      if (newWork) stallRetries = 0
      stall.foreach { why =>
        stallRetries += 1
        System.err.println(
          s"[long-soak] STALL (retry $stallRetries/$maxStallRetries): $why")
        require(stallRetries <= maxStallRetries,
          s"phase stalled beyond $maxStallRetries retries " +
            s"(after $attempts attempts, $phases new-work phases): $why " +
            s"(census rows_in=${listener.totalByBatch(queryId, "ingest_parsed", "rows_in")} " +
            s"of expected=$expectedRows — a shortfall that no attempt " +
            s"narrows is a lost-census wedge, not a slow drain)")
      }
      // Only attempts that delivered NEW work count as phases — an
      // attempt where drainedNow() flipped true from a late-arriving
      // bus event of a PREVIOUS run (r17 advisory) is a non-phase
      // terminal state, not a phase. NOTE the run-accounting invariant
      // is ONE-SIDED (r19 ADVICE): a work-less attempt still registers
      // a visible run (its re-reported committed batch lands in
      // runOrder/runFirstBatch), so postRestartBatches().size >=
      // phases - 1, never exactly equal — the extra exclusions are
      // conservative (they only ever REMOVE samples from the
      // steady-state boundedness asserts, never admit a tainted one),
      // and `attempts` (returned, and emitted as "attempts" in the
      // soak JSON) counts the true stop/start cycles.
      if (newWork) { phaseBatches += batches; phases += 1 }
      drained = d
    }
    require(drained, s"backlog not drained after $maxPhases phases")
    (queryId, phaseBatches.result(), attempts)
  }

  /** Every regular file under `dir`, relative to it (empty when `dir` is
    * not a directory): the one checkpoint walk that the file census
    * below and [[StarvedSoakMain.zipCountByPartition]] reduce. */
  private[apps] def checkpointFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val stream = java.nio.file.Files.walk(dir)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        stream.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) b += dir.relativize(p)
        }
        b.result()
      } finally stream.close()
    }

  /** One checkpoint-state file census: RocksDB artifact files by kind —
    * (sstFiles, zipFiles, changelogFiles, totalFiles). SST + zip files
    * are the uploaded snapshots, changelogs the per-batch deltas;
    * maintenance must DELETE superseded ones, so an unbounded census
    * over a multi-hour soak is compaction/cleanup debt even when every
    * per-batch metric looks healthy. Driver-side walk of a few thousand
    * files per sample — negligible next to a 6 s trigger. */
  private[apps] def checkpointCensus(dir: java.nio.file.Path): (Long, Long, Long, Long) = {
    val files = checkpointFiles(dir)
    def ending(suffix: String): Long =
      files.count(_.getFileName.toString.endsWith(suffix)).toLong
    (ending(".sst"), ending(".zip"), ending(".changelog"), files.length.toLong)
  }

  /** Periodic checkpoint census on a daemon thread; `stop()` returns the
    * collected (elapsedSec, sst, zip, changelog, total) samples. */
  private[apps] final class CensusPoller(dir: java.nio.file.Path, intervalMs: Long) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    @volatile private var running = true
    private val t0 = System.nanoTime()
    private val th = new Thread(() => {
      while (running) {
        val (s, z, c, a) = try checkpointCensus(dir) catch { case _: Throwable => (-1L, -1L, -1L, -1L) }
        buf.synchronized { buf += (((System.nanoTime() - t0) / 1000000000L, s, z, c, a)) }
        val deadline = System.nanoTime() + intervalMs * 1000000L
        while (running && System.nanoTime() < deadline) Thread.sleep(200)
      }
    }, "graft-census-poller")
    th.setDaemon(true)
    th.start()
    def stop(): Seq[(Long, Long, Long, Long, Long)] = {
      running = false
      th.join(5000)
      buf.synchronized { buf.toSeq }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("graft-long-soak")
    // Frequent maintenance on the session's RocksDB + changelog store:
    // snapshot upload and RocksDB compaction must happen MANY times
    // within the soak window (the endurance axis under test), not be
    // deferred past its end.
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "30s")

    val data = a.getOrElse("data", "/root/repo/testdata_sf30")
    val work = a.getOrElse("workdir", "/tmp/graft-long-soak")
    val files = a.getOrElse("files", "300").toInt
    val perTrigger = a.getOrElse("files-per-trigger", "1").toInt
    val triggerMs = a.getOrElse("trigger-ms", "6000").toLong
    val restartEvery = a.getOrElse("restart-every", "60").toLong
    val minRestarts = a.getOrElse("min-restarts", "3").toInt
    val maxPhases = a.getOrElse("max-phases", "40").toInt
    val dupDocs = a.getOrElse("dup-docs", "2000").toLong
    val in = s"$work/in"
    val out = s"$work/out"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(work), true)

    val t0 = System.nanoTime()
    val (nDocs, nDupes, nMalformed) =
      SoakMain.buildBacklog(spark, data, in, files, dupDocs)
    val expectedRows = nDocs + nDupes + nMalformed
    val backlogSec = (System.nanoTime() - t0) / 1e9

    val listener = new graft.streaming.FunnelListener().register(spark)
    val t1 = System.nanoTime()
    // Census cadence = the maintenance interval, so sample count ≈
    // maintenance cycles observed.
    val poller = new CensusPoller(java.nio.file.Path.of(out, "checkpoint"), 30000L)
    val (queryId, batchesPerPhase, attempts) = drainWithRestarts(spark, in, out,
      perTrigger, triggerMs, restartEvery, maxPhases, expectedRows, listener)
    val census = poller.stop()
    val drainSec = (System.nanoTime() - t1) / 1e9
    val phases = batchesPerPhase.length
    // restarts = resume cycles that went on to deliver NEW work (the
    // proven endurance axis the minRestarts gate keys on); attempts - 1
    // counts ALL stop/start cycles including work-less ones (r19
    // ADVICE: phases - 1 alone undercounts real cycles).
    val restarts = phases - 1
    require(restarts >= minRestarts,
      s"only $restarts restarts — raise --files / --restart-every so the " +
        s"endurance axis is actually exercised (need >= $minRestarts)")

    // ---- funnel + twin (batch-deduped across every runId of queryId)
    def both(obs: String, field: String): Long =
      listener.totalByBatch(queryId, obs, field)
    val funnel = Map(
      "rows_in" -> both("ingest_parsed", "rows_in"),
      "rows_malformed" -> both("ingest_parsed", "rows_malformed"),
      "rows_kept" -> both("ingest_gated", "rows_kept"))
    val checks = SoakMain.twinChecks(spark, in, out, funnel, expectedRows)
    val failedTwin = checks.filter { case (_, x, y) => x != y }
    failedTwin.foreach { case (n, x, y) =>
      System.err.println(s"[long-soak] MISMATCH $n: streamed=$x batch=$y") }

    // ---- state-series boundedness
    val series = listener.stateSeries(queryId)
    require(series.nonEmpty, "no state-operator progress captured")
    val peakRows = series.map(_._2).max
    val peakSst = series.map(_._4).max
    val n = series.length
    def windowPeak[A](xs: Seq[A])(f: A => Long): (Long, Long) = {
      val m = xs.length
      (xs.slice(m / 3, 2 * m / 3).map(f).foldLeft(0L)(math.max),
       xs.drop(2 * m / 3).map(f).foldLeft(0L)(math.max))
    }
    val (midPeak, latePeak) = windowPeak(series)(_._2)
    val distinctKeys = nDocs // every doc_id enters the dedup state once
    val stateViolations = Seq.newBuilder[String]
    if (peakRows * 2 >= distinctKeys)
      stateViolations += s"peak state rows $peakRows >= half of $distinctKeys keys — eviction not working"
    if (midPeak > 0 && latePeak > midPeak * 2)
      stateViolations += s"late-run peak $latePeak > 2x mid-run peak $midPeak — state growing, not plateaued"
    // Snapshot-upload lag (versions behind) from the SnapshotLastUploaded
    // instance metrics: uploads must KEEP UP — a drifting lag series is
    // snapshot debt that a restart pays as changelog replay time. The
    // floor (60 versions) absorbs the legitimate oscillation set by
    // minDeltasForSnapshot + batches-per-maintenance-cycle.
    //
    // Restart-aware (r15 verdict item 6): the FIRST sample after a
    // checkpoint resume reads lag ≈ the restart's global batch index —
    // the version counter resumes at the checkpointed batch while the
    // upload gauge starts fresh — an artifact that decays within one
    // maintenance cycle. The r15 soak's windowed peaks (1,123 / 1,762 vs
    // steady-state 1–14) were exactly these samples, and the bound held
    // only by window geometry. The assert now runs on the STEADY-STATE
    // series (post-restart samples excluded); the excluded samples are
    // still captured and emitted in full so the artifact is checkable
    // from the JSON, not argued around.
    val postRestart = listener.postRestartBatches(queryId)
    val steadyLags = series.filter(s => s._5 >= 0 && !postRestart(s._1))
    val prSamples = series.filter(s => postRestart(s._1))
    val (midLag, lateLag) = windowPeak(steadyLags)(_._5)
    val peakLag = steadyLags.map(_._5).foldLeft(-1L)(math.max)
    // Same >= 0 validity filter as steadyLags: a -1 sentinel (provider
    // reported no upload metric that batch) is "no sample", not a lag of
    // -1 — without the filter the post-restart peak and the steady peak
    // are computed over inconsistent populations (r16 advisory). prJson
    // below still emits the raw rows, sentinels included.
    val peakLagPr =
      prSamples.filter(_._5 >= 0).map(_._5).foldLeft(-1L)(math.max)
    if (steadyLags.length >= 12 && lateLag > math.max(2 * midLag, 60L))
      stateViolations += s"late-run steady-state snapshot lag $lateLag versions > max(2x mid $midLag, 60) — uploads not keeping up"
    // The artifact itself must also DECAY: each post-restart sample's
    // lag must be back inside the steady band by the NEXT sampled batch
    // of the series. A lag still ≈ batch-index one sample later is real
    // upload debt hiding behind the restart excuse.
    val sorted = series.sortBy(_._1)
    prSamples.foreach { pr =>
      sorted.find(s => s._1 > pr._1 && s._5 >= 0 && !postRestart(s._1)).foreach { nxt =>
        if (nxt._5 > math.max(2 * math.max(midLag, 1L), 60L))
          stateViolations += s"post-restart lag did not decay: batch ${pr._1} lag ${pr._5}, next steady batch ${nxt._1} still ${nxt._5}"
      }
    }
    // Checkpoint file census (SST / zip / changelog counts): maintenance
    // must delete superseded snapshot files and old changelogs, so the
    // census plateaus; monotone growth is cleanup/compaction debt. Only
    // asserted with >= 12 samples (>= ~6 min of 30 s maintenance
    // cycles) — spec-scale drains are over before the pattern exists.
    val cOk = census.filter(_._2 >= 0)
    val (midSstN, lateSstN) = windowPeak(cOk)(_._2)
    val (midChg, lateChg) = windowPeak(cOk)(_._4)
    if (cOk.length >= 12) {
      if (lateSstN > math.max(2 * midSstN, 64L))
        stateViolations += s"late-run checkpoint SST count $lateSstN > max(2x mid $midSstN, 64) — snapshot cleanup debt"
      if (lateChg > math.max(2 * midChg, 256L))
        stateViolations += s"late-run changelog count $lateChg > max(2x mid $midChg, 256) — changelog cleanup debt"
    }
    val sv = stateViolations.result()
    sv.foreach(v => System.err.println(s"[long-soak] STATE: $v"))

    // Series emission (r15 ADVICE: the JSON must reproduce its own
    // headline numbers). Full series when it fits a sane line (≤ 1200
    // points), else stride-sampled WITH the stride stated; the
    // post-restart samples — the ones carrying the resume artifact the
    // steady-state assert excludes — are always emitted in full as
    // their own array, so the artifact-vs-steady split is checkable
    // from the file alone. Each state entry carries a 6th element:
    // 1 = first batch of a resumed run, 0 = steady state.
    val maxPts = 1200
    val step = if (n <= maxPts) 1 else math.max(1, n / maxPts)
    val sampled =
      if (step == 1) series
      else ((series.indices by step).map(series) :+ series.last).distinct
    def stateRow(e: (Long, Long, Long, Long, Long)): String = {
      val (b, r, m, s, lg) = e
      s"""[$b,$r,$m,$s,$lg,${if (postRestart(b)) 1 else 0}]"""
    }
    val seriesJson = sampled.map(stateRow).mkString("[", ",", "]")
    val prJson = prSamples.map(stateRow).mkString("[", ",", "]")
    val cStep = if (cOk.length <= maxPts) 1 else math.max(1, cOk.length / maxPts)
    val cSampled =
      if (cOk.isEmpty) Seq.empty
      else if (cStep == 1) cOk
      else ((cOk.indices by cStep).map(cOk) :+ cOk.last).distinct
    val censusJson = cSampled.map { case (t, s, z, c, a) =>
      s"""[$t,$s,$z,$c,$a]""" }.mkString("[", ",", "]")
    // Per-store snapshot-upload attribution (r16 verdict item 1b): the
    // highest uploaded version ever observed per SnapshotLastUploaded
    // instance metric — a single stuck store (the 10x soak's 362-version
    // lag driver) is named in the artifact instead of inferred from the
    // min() series. Value = [batchId observed, max uploaded version, lag
    // at observation]. Max, not last: the gauge restarts at 0 on every
    // resume, so a last observation of 0 can be the fresh-gauge artifact
    // (r18: the injection soak proved it against checkpoint zips on
    // disk). A store is genuinely never-uploaded iff its max is 0 here.
    val partUpMaxJson = listener.snapshotUploadMaxByPartition(queryId).toSeq
      .sortBy(_._1)
      .map { case (k, (b, up, lg)) =>
        s""""${graft.core.Json.escape(k)}":[$b,$up,$lg]""" }
      .mkString("{", ",", "}")

    val ok = failedTwin.isEmpty && sv.isEmpty
    val json =
      s"""{"metric":"soak_long","data":"$data","docs":$nDocs,""" +
      s""""dup_lines":$nDupes,"files":$files,"files_per_trigger":$perTrigger,""" +
      s""""trigger_ms":$triggerMs,"restart_every":$restartEvery,""" +
      s""""phases":$phases,"restarts":$restarts,"attempts":$attempts,""" +
      s""""phase_batches":${batchesPerPhase.mkString("[", ",", "]")},""" +
      s""""state_store":"rocksdb-changelog","maintenance_interval_s":30,""" +
      s""""rows_in":${funnel("rows_in")},"rows_malformed":${funnel("rows_malformed")},""" +
      s""""rows_kept":${funnel("rows_kept")},""" +
      s""""peak_state_rows":$peakRows,"peak_sst_bytes":$peakSst,""" +
      s""""mid_peak_rows":$midPeak,"late_peak_rows":$latePeak,""" +
      s""""peak_snapshot_lag_steady":$peakLag,"mid_peak_lag_steady":$midLag,""" +
      s""""late_peak_lag_steady":$lateLag,""" +
      s""""peak_snapshot_lag_post_restart":$peakLagPr,""" +
      s""""post_restart_batches":${postRestart.size},""" +
      s""""post_restart_samples":$prJson,""" +
      s""""snapshot_upload_max_by_partition":$partUpMaxJson,""" +
      s""""state_series_len":$n,"state_series_stride":$step,""" +
      s""""census_samples":${cOk.length},"census_stride":$cStep,""" +
      s""""mid_sst_files":$midSstN,"late_sst_files":$lateSstN,""" +
      s""""mid_changelogs":$midChg,"late_changelogs":$lateChg,""" +
      s""""census_sec_sst_zip_chg_all":$censusJson,""" +
      s""""state_series_batch_rows_mem_sst_lag_pr":$seriesJson,""" +
      s""""backlog_sec":${math.rint(backlogSec * 10) / 10},""" +
      s""""drain_sec":${math.rint(drainSec * 10) / 10},""" +
      s""""funnel_match":$ok}"""
    try spark.stop() catch { case _: Throwable => }
    println(json)
    if (!ok) sys.exit(1)
  }
}
