package graft.streaming

import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite

/** The restart-safe funnel sum (r12 ADVICE item 3): a micro-batch whose
  * checkpoint commit races `stop()` is replayed by the resumed run and
  * its progress event fires again under the NEW runId. Raw per-run
  * totals then double-count that batch; `totalByBatch` keys by
  * (queryId, batchId) with last-wins, so the replay overwrites its
  * first delivery and the cross-restart sum stays exact. */
class FunnelListenerSpec extends AnyFunSuite {

  /** Shorthands for one observed long, or one state footprint, of a batch. */
  private implicit class Deliver(l: FunnelListener) {
    def record(queryId: UUID, runId: UUID, obs: String, field: String,
               batchId: Long, value: Long): Unit =
      l.recordBatch(queryId, runId, batchId, Map((obs, field) -> value), None)
    // lag -1: the provider reported no upload metric
    def recordState(queryId: UUID, runId: UUID, batchId: Long, rows: Long,
                    mem: Long, sst: Long, lag: Long = -1L): Unit =
      l.recordBatch(queryId, runId, batchId, Map.empty, Some((rows, mem, sst, lag)))
  }

  test("totalByBatch counts a batch replayed across a restart exactly once") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    // phase 1: batches 0..2, each 10 rows; batch 2's commit races stop()
    (0L to 2L).foreach(b => l.record(qid, run1, "ingest", "rows_in", b, 10L))
    // phase 2 resumes from the uncommitted batch: REPLAYS batch 2 (same
    // offset range → same observed value), then finishes with batch 3
    l.record(qid, run2, "ingest", "rows_in", 2L, 10L)
    l.record(qid, run2, "ingest", "rows_in", 3L, 10L)
    // raw per-run sums double-count the replayed batch…
    assert(l.total(run1, "ingest", "rows_in") +
      l.total(run2, "ingest", "rows_in") === 50L)
    // …the batch-deduplicated sum does not: batches 0,1,2,3 once each
    assert(l.totalByBatch(qid, "ingest", "rows_in") === 40L)
  }

  test("re-delivery of the same (run, batch) is idempotent for BOTH sums") {
    // the reconcile path (LongSoakMain feeding query.recentProgress
    // back through ingestProgress after bus drops) re-delivers progress
    // the bus already delivered — neither the per-run raw total nor the
    // batch-deduplicated total may double-count
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val run = UUID.randomUUID()
    l.record(qid, run, "ingest", "rows_in", 0L, 10L)
    l.record(qid, run, "ingest", "rows_in", 0L, 10L) // bus + reconcile
    l.record(qid, run, "ingest", "rows_in", 0L, 10L) // reconcile again
    assert(l.total(run, "ingest", "rows_in") === 10L)
    assert(l.totalByBatch(qid, "ingest", "rows_in") === 10L)
  }

  test("a resumed run's metric-less re-report adds nothing and blanks nothing") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    l.record(qid, run1, "ingest", "rows_in", 0L, 10L)
    l.record(qid, run1, "ingest", "rows_in", 1L, 10L)
    // the resume posts the last committed batch again, without metrics
    l.recordBatch(qid, run2, 1L, Map.empty, None)
    assert(l.total(run2, "ingest", "rows_in") === 0L)
    assert(l.totalByBatch(qid, "ingest", "rows_in") === 20L)
    assert(l.distinctBatches(qid) === 2L)
    assert(l.batchCount(run2) === 1L)
  }

  test("totalByBatch separates query ids, observations, and fields") {
    val l = new FunnelListener
    val qa = UUID.randomUUID()
    val qb = UUID.randomUUID()
    val run = UUID.randomUUID()
    l.record(qa, run, "ingest", "rows_in", 0L, 7L)
    l.record(qa, run, "ingest", "rows_kept", 0L, 5L)
    l.record(qa, run, "gated", "rows_in", 0L, 3L)
    l.record(qb, run, "ingest", "rows_in", 0L, 11L)
    assert(l.totalByBatch(qa, "ingest", "rows_in") === 7L)
    assert(l.totalByBatch(qa, "ingest", "rows_kept") === 5L)
    assert(l.totalByBatch(qa, "gated", "rows_in") === 3L)
    assert(l.totalByBatch(qb, "ingest", "rows_in") === 11L)
    // a metric that never fired reads 0, mirroring total()
    assert(l.totalByBatch(qb, "gated", "rows_in") === 0L)
  }

  test("stateSeries orders by batch, dedups replays, separates queries") {
    val l = new FunnelListener
    val qa = UUID.randomUUID()
    val qb = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    // out-of-order delivery (the listener bus is async w.r.t. the
    // driver); batch 1 replayed after a restart with identical footprint
    l.recordState(qa, run1, 2L, 300L, 3000L, 30L, 3L)
    l.recordState(qa, run1, 0L, 100L, 1000L, 10L, 1L)
    l.recordState(qa, run1, 1L, 200L, 2000L, 20L, 2L)
    l.recordState(qa, run2, 1L, 200L, 2000L, 20L, 2L) // replay: last wins, no dup
    l.recordState(qb, run1, 0L, 999L, 9990L, 99L) // no lag reported → -1
    assert(l.stateSeries(qa) === Seq(
      (0L, 100L, 1000L, 10L, 1L), (1L, 200L, 2000L, 20L, 2L),
      (2L, 300L, 3000L, 30L, 3L)))
    assert(l.stateSeries(qb) === Seq((0L, 999L, 9990L, 99L, -1L)))
    assert(l.stateSeries(UUID.randomUUID()).isEmpty)
  }

  test("postRestartBatches tags the first batch of every resumed run only") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val other = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    val run3 = UUID.randomUUID()
    // initial run: batches 0..2 (out-of-order delivery must not matter)
    l.record(qid, run1, "ingest", "rows_in", 1L, 10L)
    l.record(qid, run1, "ingest", "rows_in", 0L, 10L)
    l.record(qid, run1, "ingest", "rows_in", 2L, 10L)
    // resume 1 REPLAYS batch 2 (stop-vs-commit race), then 3..4
    l.record(qid, run2, "ingest", "rows_in", 2L, 10L)
    l.record(qid, run2, "ingest", "rows_in", 3L, 10L)
    l.record(qid, run2, "ingest", "rows_in", 4L, 10L)
    // resume 2 starts clean at batch 5
    l.record(qid, run3, "ingest", "rows_in", 5L, 10L)
    // a different query's runs must not leak in
    l.record(other, UUID.randomUUID(), "ingest", "rows_in", 0L, 10L)
    // first batches of RESUMED runs: the replayed 2 and the clean 5;
    // the initial run's first batch (0) is NOT post-restart
    assert(l.postRestartBatches(qid) === Set(2L, 5L))
    assert(l.postRestartBatches(other) === Set.empty[Long])
    assert(l.postRestartBatches(UUID.randomUUID()) === Set.empty[Long])
  }

  test("postRestartBatches identifies the initial run by start order, " +
    "not min first batch (resume can replay batch 0)") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    // initial run: batch 0 only — its commit races stop() and is lost
    l.record(qid, run1, "ingest", "rows_in", 0L, 10L)
    // resume REPLAYS batch 0 (crash before the first commit), then 1..2.
    // Its state sample OVERWROTE the initial run's batch-0 slot, so the
    // replayed first batch must be tagged post-restart: min-first-batch
    // identification would see two equal firsts, drop both, and leak
    // the resume artifact into the steady-state series (r16 advisory).
    l.record(qid, run2, "ingest", "rows_in", 0L, 10L)
    l.record(qid, run2, "ingest", "rows_in", 1L, 10L)
    l.record(qid, run2, "ingest", "rows_in", 2L, 10L)
    assert(l.postRestartBatches(qid) === Set(0L))
  }

  test("max census is immune to the post-restart fresh-gauge artifact; " +
    "last census is not") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val healthy = "SnapshotLastUploaded.partition_7_default"
    val starved = "SnapshotLastUploaded.partition_3_default"
    val other = UUID.randomUUID()
    // steady state: partition 7 uploaded version 48 by batch 50
    l.recordPartUpload(qid, healthy, 50L, 48L)
    // another query's stores never leak into this query's census
    l.recordPartUpload(other, healthy, 1L, 2L)
    // post-restart phase: the gauge restarts at 0, so BOTH stores are
    // reported with uploaded 0 at batch 61 (lag 62) — the r18 injection
    // soak observed exactly this reading as "never uploaded" for stores
    // holding ~46 snapshot zips on disk
    l.recordPartUpload(qid, healthy, 61L, 0L)
    l.recordPartUpload(qid, starved, 61L, 0L)
    // the batch's own (last) reading carries the artifact...
    assert(FunnelListener.snapshotLag(61L,
      Seq(java.util.Map.of(healthy, java.lang.Long.valueOf(0L)))) === 62L)
    // ...max-wins does not: the healthy store keeps its real upload,
    // the genuinely starved store stays at 0
    assert(l.snapshotUploadMaxByPartition(qid)(healthy) === ((50L, 48L, 3L)))
    assert(l.snapshotUploadMaxByPartition(qid)(starved) === ((61L, 0L, 62L)))
    assert(l.snapshotUploadMaxByPartition(other) === Map(healthy -> ((1L, 2L, 0L))))
    // uploaded ties keep the LATER observation: a never-uploading
    // store's max row carries its final (deepest) lag
    l.recordPartUpload(qid, starved, 80L, 0L)
    assert(l.snapshotUploadMaxByPartition(qid)(starved) === ((80L, 0L, 81L)))
  }

  test("batchCount censuses distinct batches per RUN, dedup'd by batchId") {
    val l = new FunnelListener
    val qid = UUID.randomUUID()
    val run1 = UUID.randomUUID()
    val run2 = UUID.randomUUID()
    // phase-control counting (LongSoakMain.runPhase): batches land via
    // progress events; a replayed delivery must count once, and the
    // count is per-run so a resumed phase starts from zero.
    l.record(qid, run1, "ingest", "rows_in", 0L, 10L)
    l.record(qid, run1, "ingest", "rows_in", 1L, 10L)
    l.record(qid, run1, "ingest", "rows_in", 1L, 10L) // replay: once
    assert(l.batchCount(run1) === 2L)
    assert(l.batchCount(run2) === 0L)
    l.record(qid, run2, "ingest", "rows_in", 2L, 10L)
    assert(l.batchCount(run2) === 1L)
    assert(l.batchCount(run1) === 2L)
  }

  // The snapshot-lag rule shared by the listener and RecoveryChainProbe.
  // The progress event cannot be constructed, so the rule is tested on
  // the operators' custom-metric maps it reads.
  private def metrics(kv: (String, Long)*): java.util.Map[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  test("snapshotLag: no operator reporting an upload reads -1") {
    assert(FunnelListener.snapshotLag(9L, Nil) === -1L)
    assert(FunnelListener.snapshotLag(9L, Seq(metrics(), null)) === -1L)
    assert(FunnelListener.snapshotLag(9L,
      Seq(metrics("rocksdbSstFileSize" -> 4096L))) === -1L)
  }

  test("snapshotLag: a never-uploaded store (-1) clamps to version 0") {
    // batch 9 commits state version 10; nothing uploaded → 10 behind
    assert(FunnelListener.snapshotLag(9L,
      Seq(metrics("SnapshotLastUploaded.partition_0_default" -> -1L))) === 10L)
  }

  test("snapshotLag: min upload within an operator, worst operator wins") {
    val join = metrics(
      "SnapshotLastUploaded.partition_0_left" -> 8L,
      "SnapshotLastUploaded.partition_1_left" -> 6L) // this operator: 10 - 6
    val dedup = metrics("SnapshotLastUploaded.partition_0_default" -> 3L) // 10 - 3
    assert(FunnelListener.snapshotLag(9L, Seq(join)) === 4L)
    assert(FunnelListener.snapshotLag(9L, Seq(join, dedup)) === 7L)
    assert(FunnelListener.snapshotLag(9L, Seq(dedup, join)) === 7L)
  }

  test("snapshotLag: keys other than SnapshotLastUploaded are ignored") {
    val m = metrics(
      "SnapshotLastUploaded.partition_2_default" -> 9L,
      "rocksdbSstFileSize" -> 0L, // a 0 here must not read as "uploaded 0"
      "rocksdbCommitCompactLatency" -> 1L)
    assert(FunnelListener.snapshotLag(9L, Seq(m)) === 1L)
  }
}
