package graft.apps

import graft.SparkSuite
import graft.core.Tables

/** Spec-scale twin of the 30-minute endurance soak (SOAK_LONG_R13.json):
  * [[LongSoakMain.drainWithRestarts]] at a fast trigger over a small
  * backlog — the SAME multi-restart drain loop, RocksDB state store, and
  * state-series capture, so the restart/drain-detection logic stays
  * covered by `sbt test` between the (manual, tagged) long runs. The
  * endurance-only assertions (wall >= 30 min, eviction plateau) live in
  * the long run; what a fast drain CAN prove is asserted here: multiple
  * genuine checkpoint resume cycles, exact funnel across all of them,
  * and a non-empty bounded state series. */
class LongSoakSpec extends SparkSuite {
  import spark.implicits._

  test("multi-restart drain: >=2 resumes, exact funnel, state series captured") { withTempDir("graft-minisoak") { work =>
    val in = s"$work/in"
    val out = s"$work/out"
    val data = "/root/testdata/sf0.01"
    val (nDocs, nDupes, nMalformed) =
      SoakMain.buildBacklog(spark, data, in, files = 12, dupDocs = 50)
    val expected = nDocs + nDupes + nMalformed

    val listener = new graft.streaming.FunnelListener().register(spark)
    try {
      // maxPhases carries ~4x headroom over the quiet-host phase count
      // (4-6): under heavy external load a phase can deliver only a
      // replayed/empty batch before its stall budget, and phases of
      // near-zero progress must not exhaust the drain (observed once at
      // 3.3x host contention with maxPhases=12).
      val (queryId, batchesPerPhase, attempts) = LongSoakMain.drainWithRestarts(
        spark, in, out, perTrigger = 1, triggerMs = 200L,
        restartEvery = 3L, maxPhases = 24, expectedRows = expected,
        listener = listener)
      // every stop/start cycle is at least a new-work phase (one-sided)
      assert(attempts >= batchesPerPhase.length)
      // 12 files at 1/trigger, restart every 3 batches → ≥3 phases
      assert(batchesPerPhase.length >= 3,
        s"expected >=2 restarts, got phases=$batchesPerPhase")
      assert(batchesPerPhase.init.forall(_ >= 1))
      // funnel exact across every resume, batchId-deduplicated
      assert(listener.totalByBatch(queryId, "ingest_parsed", "rows_in")
        === expected)
      assert(listener.totalByBatch(queryId, "ingest_parsed", "rows_malformed")
        === nMalformed.toLong)
      // the written sink equals the distinct kept set (exactly-once
      // across restarts), via the same twin SoakMain/LongSoakMain use
      val funnel = Map(
        "rows_in" -> listener.totalByBatch(queryId, "ingest_parsed", "rows_in"),
        "rows_malformed" -> listener.totalByBatch(queryId, "ingest_parsed", "rows_malformed"),
        "rows_kept" -> listener.totalByBatch(queryId, "ingest_gated", "rows_kept"))
      val checks = SoakMain.twinChecks(spark, in, out, funnel, expected)
      assert(checks.filter { case (_, a, b) => a != b } === Seq.empty)
      // state series: captured for the dedup operator, bounded by the
      // number of well-formed rows it ever saw
      val series = listener.stateSeries(queryId)
      assert(series.nonEmpty)
      assert(series.map(_._2).max <= nDocs + nDupes)
      assert(series.map(_._1) === series.map(_._1).sorted)
      // restart-aware census (r15 verdict item 6): one tagged first
      // batch per RESUMED run — none for the initial run, and every
      // tagged batch is a real batch of the drain
      val pr = listener.postRestartBatches(queryId)
      assert(pr.size === batchesPerPhase.length - 1,
        s"post-restart tags $pr vs phases $batchesPerPhase")
      val batches = series.map(_._1).toSet
      assert(pr.subsetOf(batches))
      assert(!pr.contains(series.map(_._1).min))
    } finally spark.streams.removeListener(listener)
  }}

  test("runPhase classifies a no-progress run as a retryable stall") { withTempDir("graft-stall") { work =>
    // A stream over an EMPTY directory never commits a batch; runPhase's
    // progress deadline must classify that as a STALL (retry from
    // checkpoint), not hang or throw — the second of the two stall
    // paths (r17 verdict item 2; the snapshot-race path is pinned by
    // SnapshotRaceSpec on forged chains).
    val in = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(in))
    val listener = new graft.streaming.FunnelListener().register(spark)
    val q = graft.sources.Sources.readTextStreamThrottled(spark, in, 1)
      .writeStream.format("noop")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      val (batches, drained, stall) = LongSoakMain.runPhase(
        q, listener, q.id, expectedRows = Long.MaxValue,
        restartEvery = 5L, noProgressTimeoutMs = 1500L)
      // Spark commits an initial (empty) batch 0 even over an empty
      // directory; what matters is that NO FURTHER batch arrives and the
      // deadline classifies that as a stall.
      assert(batches <= 1L)
      assert(!drained)
      assert(stall.isDefined, "no-progress run must stall, not succeed")
      assert(stall.get.contains("no new batch"), s"stall reason: $stall")
      // runPhase stops the query itself (stop between batches)
      assert(!q.isActive)
    } finally {
      try { if (q.isActive) q.stop() } catch { case _: Throwable => () }
      spark.streams.removeListener(listener)
    }
  }}

  /** The r19 full-suite wedge, reproduced at spec scale: a drain whose
    * census can never reach its target (here: a fresh listener over an
    * already-fully-committed checkpoint — the same observable state as
    * a census whose events were all lost to bus drops) must abort
    * within the STALL budget (attempts that deliver nothing are a
    * streak), not burn maxPhases at a full no-progress window each. */
  test("r19 wedge probe: attempts against a fully-committed checkpoint abort via the stall budget") { withTempDir("graft-minisoak3") { work =>
    val in = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(in))
    (0 until 4).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(in, s"f$i.txt"),
        s"$i\tdoc number $i with some filler text\n")
    }
    val l1 = new graft.streaming.FunnelListener().register(spark)
    try {
      LongSoakMain.drainWithRestarts(spark, in, s"$work/out",
        perTrigger = 1, triggerMs = 100L, restartEvery = 2L,
        maxPhases = 8, expectedRows = 4L, listener = l1)
    } finally spark.streams.removeListener(l1)
    // Checkpoint now fully committed. A FRESH listener simulates the
    // wedge's census (all prior progress lost): no attempt can reach
    // the target and no attempt delivers a new batch.
    val l2 = new graft.streaming.FunnelListener().register(spark)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalArgumentException] {
        LongSoakMain.drainWithRestarts(spark, in, s"$work/out",
          perTrigger = 1, triggerMs = 100L, restartEvery = 2L,
          maxPhases = 20, expectedRows = Long.MaxValue, listener = l2,
          noProgressFloorMs = 1500L)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"aborted in $secs%.1f s: ${e.getMessage}")
      assert(e.getMessage.contains("stalled beyond"), e.getMessage)
      // Assert the MECHANISM, not wall-clock (r19 ADVICE: the suite
      // runs parallel in one forked JVM — the very contention behind
      // the original wedge — so three contended Spark restarts can
      // legitimately stretch past any fixed ceiling): the abort must
      // land on exactly attempt maxStallRetries + 1 = 3, i.e. a
      // stall-STREAK abort, not maxPhases (20) of phase burn.
      val attempts = "after (\\d+) attempts".r
        .findFirstMatchIn(e.getMessage).map(_.group(1).toInt)
      assert(attempts.contains(3),
        s"abort not on the 3rd consecutive stall attempt: ${e.getMessage}")
    } finally spark.streams.removeListener(l2)
  }}

  test("drainWithRestarts fails loudly when the backlog cannot drain in maxPhases") { withTempDir("graft-minisoak2") { work =>
    val in = s"$work/in"
    // 6 single-line files; expectedRows of MORE than the backlog can
    // ever deliver → drained is never reached and maxPhases trips
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(in))
    (0 until 6).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(in, s"f$i.txt"),
        s"$i\tdoc number $i with some filler text\n")
    }
    val listener = new graft.streaming.FunnelListener().register(spark)
    try {
      val e = intercept[IllegalArgumentException] {
        LongSoakMain.drainWithRestarts(spark, in, s"$work/out",
          perTrigger = 1, triggerMs = 100L, restartEvery = 2L,
          maxPhases = 2, expectedRows = Long.MaxValue, listener = listener)
      }
      assert(e.getMessage.contains("not drained"))
    } finally spark.streams.removeListener(listener)
  }}
}
