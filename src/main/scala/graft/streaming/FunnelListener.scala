package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.LongType

/** Accumulates `observe()` metrics across ALL micro-batches of every
  * streaming query in the session.
  *
  * Why not `query.recentProgress`: that is a RING BUFFER capped at
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100). A
  * funnel summed from it is exact for a short backfill and silently
  * loses every batch but the last 100 on a long-running ingest — at one
  * micro-batch per few seconds a day-long run under-reports by ~99%.
  * The listener bus delivers every progress event regardless of run
  * length, so totals here are O(1) state per (run, metric) and correct
  * for arbitrarily many batches.
  *
  * Only LONG-typed observed fields are accumulated (the funnel counter
  * shape); other types are ignored rather than mis-summed. Thread-safe:
  * the bus is single-threaded per event type but `totals` may be read
  * from the main thread concurrently.
  */
final class FunnelListener extends StreamingQueryListener {
  private val acc = new ConcurrentHashMap[(UUID, String, String), AtomicLong]
  // Per-batch metric values keyed by the QUERY id (stable across
  // checkpoint restarts, unlike runId) — `put` semantics so a batch
  // replayed after a stop()-vs-commit race overwrites its first
  // delivery instead of double-counting. One entry per batch: bounded
  // by drain length, not run time per se.
  private val perBatch =
    new ConcurrentHashMap[(UUID, String, String, Long), Long]
  private val done = ConcurrentHashMap.newKeySet[UUID]()
  // Every (runId, batchId) whose progress event was delivered — the
  // exact per-run batch census. Phase control that polls `lastProgress`
  // misses batches completed before the first poll or between polls at
  // a fast trigger (the r13 advisory on LongSoakMain.runPhase); this
  // set dedups by batchId and is complete once the termination event
  // lands. Bounded by drain length.
  private val runBatches = ConcurrentHashMap.newKeySet[(UUID, Long)]()
  // Distinct batchIds ever reported for a QUERY, across every run. A
  // restarted run that only RE-REPORTS an already-delivered batch (the
  // no-data progress event carries the last committed batchId under the
  // new runId) adds nothing here, while a genuine replay of an
  // UNCOMMITTED batch does (its progress event was never delivered) —
  // the "did this attempt do new work" signal drain control needs (r19
  // wedge: per-run batchCount reads the re-report as 1 delivered batch,
  // so a drain whose census could never complete kept resetting its
  // stall streak and burned maxPhases at a full no-progress window
  // each). Bounded by drain length.
  private val queryBatches = ConcurrentHashMap.newKeySet[(UUID, Long)]()
  // Per-batch state-store footprint keyed by query id (restart-stable),
  // summed over the batch's state operators:
  // (rows, memBytes, sstBytes, snapshotLagVersions).
  // Same last-delivery-wins replay semantics as `perBatch`; bounded by
  // drain length. sstBytes is the RocksDB provider's `rocksdbSstFileSize`
  // custom metric (0 under the in-heap HDFS-backed provider);
  // snapshotLagVersions is derived from the SnapshotLastUploaded.*
  // instance metrics (-1 when the provider reports none).
  private val stateByBatch =
    new ConcurrentHashMap[(UUID, Long), (Long, Long, Long, Long)]
  // Lowest batchId delivered per (queryId, runId): the first batch of a
  // checkpoint-resumed run. Gauge-style state metrics (snapshot-upload
  // lag in particular) read as artifacts on exactly that batch — the
  // version counter resumes at the checkpointed batch index while the
  // upload gauge starts fresh — so boundedness asserts need to know
  // which samples are post-restart (r15 verdict item 6).
  private val runFirstBatch = new ConcurrentHashMap[(UUID, UUID), Long]
  // First-seen insertion order per (queryId, runId). The INITIAL run is
  // identified by this order, not by min(first batch): a resumed run can
  // REPLAY the initial run's first batch (crash before the first commit),
  // making the two firsts equal — min-batch identification would then
  // drop both and leak the resume artifact into the steady-state series
  // (r16 advisory). The listener bus delivers events in order and soak
  // runs are sequential, so first-seen order == start order.
  private val runSeq = new AtomicLong
  private val runOrder = new ConcurrentHashMap[(UUID, UUID), Long]
  // Latest observation per SnapshotLastUploaded instance-metric key —
  // (batchId observed, lastUploadedVersion, lagVersionsAtObservation).
  // The RocksDB provider reports only the worst-K lagging store
  // instances per batch; keeping the last observation PER KEY across the
  // whole run makes a single stuck store attributable by name in the
  // soak artifact instead of vanishing into the min() (r16 verdict
  // item 1b). Bounded by the number of store instances (partitions ×
  // store names), not by run length.
  private val partUpload = new ConcurrentHashMap[(UUID, String), (Long, Long, Long)]
  // Highest uploaded version ever observed per instance-metric key —
  // the restart-robust starvation signal. The SnapshotLastUploaded
  // gauge starts FRESH on every checkpoint resume, so a last-wins
  // census sampled in a short post-restart phase reads 0 for EVERY
  // reported store (r18 injection soak: six "never uploaded" stores
  // whose checkpoint dirs held ~46 snapshot zips each — the census
  // artifact, not upload debt). max-wins is immune: a store is
  // genuinely starved iff its max across the whole run is 0.
  private val partUploadMax = new ConcurrentHashMap[(UUID, String), (Long, Long, Long)]

  // Re-delivery guard for the per-RUN raw sums in `acc` (addAndGet is
  // the one non-idempotent accumulator here): a (run, obs, field,
  // batch) adds exactly once no matter how many times its progress
  // object is ingested. Replays under a NEW runId still add to that
  // run's own total — the documented raw-sum semantic total() keeps.
  private val accSeen =
    ConcurrentHashMap.newKeySet[(UUID, String, String, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    ingestProgress(e.progress)

  /** Idempotent ingestion of one progress object — shared by the
    * event-bus path and the RECONCILE path. The listener bus is LOSSY
    * under load (AsyncEventQueue drops events past its capacity), so
    * phase control additionally feeds `query.recentProgress` — the
    * query's own ring buffer, synchronous with batch commit — through
    * here: every accumulator is keyed by batchId with put/last-wins (or
    * seen-set) semantics, so re-delivery is free and loss is repaired.
    * (r17: a contended full-suite run starved the bus; three
    * consecutive soak resumes read as 0-batch runs and drain detection
    * stuck below the expected total while the query drained fine.) */
  def ingestProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    runBatches.add((p.runId, p.batchId))
    recordRunBatch(p.id, p.runId, p.batchId)
    p.observedMetrics.forEach { (obs, row) =>
      val schema = row.schema
      if (schema != null) schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (f.dataType == LongType && !row.isNullAt(i))
          record(p.id, p.runId, obs, f.name, p.batchId, row.getLong(i))
      }
    }
    if (p.stateOperators != null && p.stateOperators.nonEmpty) {
      var rows = 0L; var mem = 0L; var sst = 0L; var lag = -1L
      p.stateOperators.foreach { so =>
        rows += so.numRowsTotal
        mem += so.memoryUsedBytes
        val m = so.customMetrics
        if (m != null) {
          sst += m.getOrDefault("rocksdbSstFileSize", 0L)
          // Snapshot-upload lag: the state-store version for batch N is
          // N+1; the SnapshotLastUploaded.partition_* instance metrics
          // report the LAST UPLOADED snapshot version for the most
          // lagging store instances (Spark reports the worst K, so the
          // min over reported values is the global minimum). A value of
          // -1 means "never uploaded yet" and clamps to version 0. The
          // per-batch lag is the worst operator's (N+1 - minUploaded);
          // an unbounded series here is exactly the compaction/upload
          // debt a multi-hour soak exists to catch.
          var minUp = Long.MaxValue
          m.forEach { (k, v) =>
            if (k.startsWith("SnapshotLastUploaded")) {
              val up = math.max(v, 0L)
              minUp = math.min(minUp, up)
              recordPartUpload(p.id, k, p.batchId, up)
            }
          }
          if (minUp != Long.MaxValue)
            lag = math.max(lag, p.batchId + 1 - minUp)
        }
      }
      recordState(p.id, p.batchId, rows, mem, sst, lag)
    }
  }

  /** One SnapshotLastUploaded instance-metric observation — factored out
    * of the event handler for the same fabrication-impossible reason as
    * [[record]]/[[recordState]]. Last observation per key wins. */
  private[streaming] def recordPartUpload(queryId: UUID, key: String,
                                          batchId: Long, uploaded: Long): Unit = {
    partUpload.put((queryId, key), (batchId, uploaded, batchId + 1 - uploaded)): Unit
    // Ties on uploaded prefer the LATER observation, so a never-uploaded
    // store's max row carries its final (deepest) lag, not its first.
    partUploadMax.merge((queryId, key), (batchId, uploaded, batchId + 1 - uploaded),
      (a, b) => if (b._2 > a._2 || (b._2 == a._2 && b._1 > a._1)) b else a): Unit
  }

  /** One batch's summed state-operator footprint — factored out of the
    * event handler for the same reason as [[record]]: replay (last
    * delivery wins) semantics need a unit test and the progress event
    * cannot be fabricated. */
  private[streaming] def recordState(queryId: UUID, batchId: Long,
                                     rows: Long, mem: Long, sst: Long,
                                     lag: Long = -1L): Unit =
    stateByBatch.put((queryId, batchId), (rows, mem, sst, lag))

  /** One observed long landing from one micro-batch's progress event —
    * factored out of the event handler so the per-run vs per-batch
    * accumulation semantics are unit-testable (StreamingQueryProgress
    * has no public constructor to fabricate replay scenarios with). */
  private[streaming] def record(queryId: UUID, runId: UUID, obs: String,
                                field: String, batchId: Long, value: Long): Unit = {
    runBatches.add((runId, batchId))
    recordRunBatch(queryId, runId, batchId)
    if (accSeen.add((runId, obs, field, batchId)))
      acc.computeIfAbsent((runId, obs, field), _ => new AtomicLong).addAndGet(value): Unit
    perBatch.put((queryId, obs, field, batchId), value): Unit
  }

  /** Track the lowest batchId seen for this (query, run) — factored out
    * of the event handler for the same fabrication-impossible reason as
    * [[record]]/[[recordState]]. */
  private[streaming] def recordRunBatch(queryId: UUID, runId: UUID,
                                        batchId: Long): Unit = {
    queryBatches.add((queryId, batchId))
    runOrder.computeIfAbsent((queryId, runId), _ => runSeq.getAndIncrement()): Unit
    runFirstBatch.merge((queryId, runId), batchId,
      (a, b) => math.min(a, b)): Unit
  }

  /** Batch ids that were the first batch of a checkpoint-RESUMED run of
    * this query — i.e. the first batch of every run except the one that
    * started earliest. State gauges sampled on these batches carry the
    * resume artifact (snapshot-lag ≈ the restart's global batch index);
    * boundedness asserts should run on the complement. A batch replayed
    * across a stop()-vs-commit race can appear as the first batch of two
    * runs; set semantics make that a single exclusion. The initial run is
    * the FIRST-SEEN run (start order), not the min-first-batch run: if a
    * resume replays the initial run's first batch, the two firsts are
    * equal, and the replayed sample — which overwrote the initial run's
    * slot in the state series — must still be tagged (r16 advisory). */
  def postRestartBatches(queryId: UUID): Set[Long] = {
    val runs = Seq.newBuilder[(Long, Long)] // (startOrder, firstBatch)
    runFirstBatch.forEach { (k, v) =>
      if (k._1 == queryId)
        runs += ((runOrder.getOrDefault(k, Long.MaxValue), v))
    }
    val r = runs.result()
    if (r.isEmpty) Set.empty
    else {
      val initialOrd = r.map(_._1).min
      r.filter(_._1 != initialOrd).map(_._2).toSet
    }
  }

  /** Last observation per SnapshotLastUploaded instance metric of this
    * query: metricKey → (batchId observed, lastUploadedVersion,
    * lagVersionsAtObservation). A store whose uploads are stuck shows up
    * here by name with a stale version, making single-store upload debt
    * attributable in the soak artifact (r16 verdict item 1b). */
  def snapshotUploadByPartition(queryId: UUID): Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    partUpload.forEach { (k, v) => if (k._1 == queryId) b += ((k._2, v)) }
    b.result()
  }

  /** Highest uploaded version ever observed per instance-metric key of
    * this query — the restart-robust companion to
    * [[snapshotUploadByPartition]]: a store with max 0 here never
    * uploaded during the whole run; a store with 0 in the LAST
    * observation may just have been sampled in a post-restart phase
    * before its first upload of that run (fresh-gauge artifact). */
  def snapshotUploadMaxByPartition(queryId: UUID): Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    partUploadMax.forEach { (k, v) => if (k._1 == queryId) b += ((k._2, v)) }
    b.result()
  }

  /** Every SnapshotLastUploaded observation across ALL query ids this
    * listener has seen: metricKey → (batchId observed, uploadedVersion,
    * lagAtObservation). For probes that run sequential queries and
    * snapshot the census between them (StarvedSoakMain) — key collisions
    * across queries are last-wins, so snapshot BEFORE the next query
    * starts. */
  def allSnapshotUploads: Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    partUpload.forEach { (k, v) => b += ((k._2, v)) }
    b.result()
  }

  /** Max-uploaded twin of [[allSnapshotUploads]] (see
    * [[snapshotUploadMaxByPartition]] for why max, not last). */
  def allSnapshotUploadsMax: Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    partUploadMax.forEach { (k, v) => b += ((k._2, v)) }
    b.result()
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    done.add(e.runId)

  /** Accumulated total for one (run, observation, field); 0 if that
    * metric never fired (an empty backlog produces no batches). */
  def total(runId: UUID, obs: String, field: String): Long = {
    val v = acc.get((runId, obs, field))
    if (v == null) 0L else v.get()
  }

  /** Total for one (query, observation, field) across EVERY run of that
    * query id, counting each batchId exactly once (last delivery wins).
    * This is the restart-safe funnel sum: if a micro-batch's checkpoint
    * commit races a `stop()` and the batch is replayed by the resumed
    * run, the raw per-run totals would count it twice — here the replay
    * simply overwrites the same (batchId) slot. The replayed batch
    * reprocesses the same offset range (the offset log pins it), so its
    * observed values are identical and last-wins is exact. */
  def totalByBatch(queryId: UUID, obs: String, field: String): Long = {
    var sum = 0L
    perBatch.forEach { (k, v) =>
      if (k._1 == queryId && k._2 == obs && k._3 == field) sum += v
    }
    sum
  }

  /** State-footprint series for a query, ordered by batchId: each entry
    * is (batchId, stateRows, memoryBytes, sstFileBytes,
    * snapshotLagVersions). The boundedness a long soak asserts — the
    * dedup watermark EVICTING (peak rows well below total distinct keys
    * seen), snapshot uploads KEEPING UP (lag plateaus) — is only visible
    * as a series; point-in-time `lastProgress` cannot distinguish a
    * plateau from monotone growth. */
  def stateSeries(queryId: UUID): Seq[(Long, Long, Long, Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    stateByBatch.forEach { (k, v) =>
      if (k._1 == queryId) b += ((k._2, v._1, v._2, v._3, v._4))
    }
    b.result().sortBy(_._1)
  }

  /** Distinct batches whose progress events were delivered for one RUN
    * id — the exact phase batch count. Complete once [[awaitTerminated]]
    * returns for the run (the termination event is posted after every
    * progress event); dedup by batchId makes a replayed delivery count
    * once. */
  def batchCount(runId: UUID): Long = {
    var n = 0L
    runBatches.forEach { k => if (k._1 == runId) n += 1 }
    n
  }

  /** Distinct batchIds ever reported for a QUERY across all its runs —
    * grows only when an attempt reports a batch the query never
    * reported before. The drain's new-work test: a restart that merely
    * re-reports the last committed batch leaves this unchanged. */
  def distinctBatches(queryId: UUID): Long = {
    var n = 0L
    queryBatches.forEach { k => if (k._1 == queryId) n += 1 }
    n
  }

  /** The listener bus is async: progress events for the final batch can
    * arrive AFTER `awaitTermination` returns. The termination event is
    * posted after all progress events for the run, so once it lands the
    * totals are complete. Returns false on timeout. */
  def awaitTerminated(runId: UUID, timeoutMs: Long = 30000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!done.contains(runId) && System.nanoTime() < deadline)
      Thread.sleep(50)
    done.contains(runId)
  }

  /** Attach a fresh listener to the session. Callers keep the reference
    * and should `spark.streams.removeListener` it when done (tests). */
  def register(spark: SparkSession): FunnelListener = {
    spark.streams.addListener(this)
    this
  }
}
