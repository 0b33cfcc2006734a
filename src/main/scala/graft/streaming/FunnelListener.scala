package graft.streaming

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.LongType

/** Accumulates `observe()` metrics and state footprints across ALL
  * micro-batches of every streaming query in the session.
  *
  * Why not `query.recentProgress`: that is a RING BUFFER capped at
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100). A
  * funnel summed from it is exact for a short backfill and silently
  * loses every batch but the last 100 on a long-running ingest — at one
  * micro-batch per few seconds a day-long run under-reports by ~99%.
  * The listener bus delivers every progress event regardless of run
  * length.
  *
  * The model is ONE RECORD PER DELIVERED (queryId, runId, batchId): the
  * event's observed LONG fields (the funnel counter shape; other types
  * are ignored rather than mis-summed) and its summed state footprint.
  * Re-delivering the same event (bus + the reconcile path) rewrites the
  * same record, so every read is idempotent. Beside the records the
  * listener keeps only the first-seen order of runs, the running
  * maximum of uploaded snapshot versions per store, and the terminated
  * runs. Every read derives from these four:
  *
  *  - per RUN (`total`, `batchCount`): the run's own records;
  *  - per QUERY (`totalByBatch`, `stateSeries`): each batchId once, from
  *    the LATEST run (first-seen order) whose record carries the value.
  *    A batch whose commit raced `stop()` is replayed by the resumed run
  *    over the same offset range (the offset log pins it), so its values
  *    are identical and the replay simply replaces the first delivery.
  *
  * Two constraints the records must keep:
  *  - a resumed run can post a progress event for the last committed
  *    batch that carries NO observed metrics. Its record holds no
  *    values, so it adds nothing to the new run's `total` and does not
  *    blank the batch in `totalByBatch`, which takes the latest run that
  *    carries the metric (IngestSpec's restart funnel pins this);
  *  - the upload census is a running maximum over EVERY observation, not
  *    a per-batch value: the SnapshotLastUploaded gauge starts fresh on
  *    every checkpoint resume, so a batch replayed with a fresh gauge
  *    would otherwise overwrite the only non-zero upload of a healthy
  *    store and make it read as starved.
  *
  * Thread-safe: the bus thread and the reconcile path write, the main
  * thread reads; every access holds the listener's lock.
  */
final class FunnelListener extends StreamingQueryListener {
  import FunnelListener.Batch

  private val records = mutable.Map.empty[(UUID, UUID, Long), Batch]
  // First-seen order per (queryId, runId). The INITIAL run is identified
  // by this order, not by min(first batch): a resumed run can REPLAY the
  // initial run's first batch (crash before the first commit), making
  // the two firsts equal — min-batch identification would then drop both
  // and leak the resume artifact into the steady-state series (r16
  // advisory). The listener bus delivers events in order and soak runs
  // are sequential, so first-seen order == start order.
  private val runs = mutable.LinkedHashSet.empty[(UUID, UUID)]
  // Highest uploaded version ever observed per (queryId, instance-metric
  // key): (batchId observed, uploadedVersion, lagAtObservation). A store
  // is genuinely starved iff its max across the whole run is 0.
  private val uploadMax = mutable.Map.empty[(UUID, String), (Long, Long, Long)]
  private val done = mutable.Set.empty[UUID]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    ingestProgress(e.progress)

  /** Idempotent ingestion of one progress object — shared by the
    * event-bus path and the RECONCILE path. The listener bus is LOSSY
    * under load (AsyncEventQueue drops events past its capacity), so
    * phase control additionally feeds `query.recentProgress` — the
    * query's own ring buffer, synchronous with batch commit — through
    * here: re-delivery rewrites the same record, and loss is repaired.
    * (r17: a contended full-suite run starved the bus; three
    * consecutive soak resumes read as 0-batch runs and drain detection
    * stuck below the expected total while the query drained fine.) */
  def ingestProgress(p: StreamingQueryProgress): Unit = {
    val metrics = Map.newBuilder[(String, String), Long]
    p.observedMetrics.forEach { (obs, row) =>
      val schema = row.schema
      if (schema != null) schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (f.dataType == LongType && !row.isNullAt(i))
          metrics += (((obs, f.name), row.getLong(i)))
      }
    }
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    val state = if (ops.isEmpty) None else {
      val custom = ops.map(_.customMetrics).filter(_ != null)
      custom.foreach(_.forEach { (k, v) =>
        if (k.startsWith(FunnelListener.UploadedKey))
          recordPartUpload(p.id, k, p.batchId, math.max(v, 0L))
      })
      // sstBytes is the RocksDB provider's `rocksdbSstFileSize` custom
      // metric (0 under the in-heap HDFS-backed provider)
      Some((ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        custom.map(_.getOrDefault("rocksdbSstFileSize", 0L).longValue).sum,
        FunnelListener.snapshotLag(p.batchId, custom)))
    }
    recordBatch(p.id, p.runId, p.batchId, metrics.result(), state)
  }

  /** Write (or re-deliver into) the record of one (query, run, batch).
    * Factored out of the event handler because StreamingQueryProgress
    * has no public constructor: replay scenarios are unit-tested here.
    * Values of a re-delivery replace the record's, absent ones keep it. */
  private[streaming] def recordBatch(queryId: UUID, runId: UUID, batchId: Long,
                                     metrics: Map[(String, String), Long],
                                     state: Option[(Long, Long, Long, Long)]): Unit =
    synchronized {
      runs += ((queryId, runId))
      val prev = records.getOrElse((queryId, runId, batchId), Batch(Map.empty, None))
      records((queryId, runId, batchId)) =
        Batch(prev.metrics ++ metrics, state.orElse(prev.state))
    }

  /** One SnapshotLastUploaded instance-metric observation into the
    * running-max census. Ties on uploaded prefer the LATER observation,
    * so a never-uploaded store's row carries its final (deepest) lag,
    * not its first. */
  private[streaming] def recordPartUpload(queryId: UUID, key: String,
                                          batchId: Long, uploaded: Long): Unit =
    synchronized {
      val obs = (batchId, uploaded, batchId + 1 - uploaded)
      uploadMax((queryId, key)) = uploadMax.get((queryId, key)) match {
        case Some(a) if a._2 > uploaded || (a._2 == uploaded && a._1 >= batchId) => a
        case _ => obs
      }
    }

  /** For each batchId of `queryId`, `f` of the record from the latest
    * run (first-seen order) in which `f` is defined. */
  private def latestByBatch[A](queryId: UUID)(f: Batch => Option[A]): Map[Long, A] =
    synchronized {
      val order = runs.iterator.zipWithIndex.toMap
      records.toSeq
        .collect { case ((q, run, b), rec) if q == queryId => (order((q, run)), b, rec) }
        .sortBy(_._1)
        .foldLeft(Map.empty[Long, A]) { case (m, (_, b, rec)) =>
          f(rec).fold(m)(v => m.updated(b, v)) }
    }

  /** Batch ids that were the first batch of a checkpoint-RESUMED run of
    * this query — i.e. the first batch of every run except the one that
    * started earliest. State gauges sampled on these batches carry the
    * resume artifact (snapshot-lag ≈ the restart's global batch index:
    * the version counter resumes at the checkpointed batch index while
    * the upload gauge starts fresh); boundedness asserts should run on
    * the complement (r15 verdict item 6). A batch replayed across a
    * stop()-vs-commit race can appear as the first batch of two runs;
    * set semantics make that a single exclusion. If a resume replays the
    * initial run's first batch, the replayed sample — which replaced the
    * initial run's in the state series — is still tagged (r16 advisory). */
  def postRestartBatches(queryId: UUID): Set[Long] = synchronized {
    runs.toSeq.filter(_._1 == queryId).drop(1).map { run =>
      records.keys.collect { case (q, r, b) if (q, r) == run => b }.min
    }.toSet
  }

  /** Highest uploaded version ever observed per SnapshotLastUploaded
    * instance metric of this query: metricKey → (batchId observed,
    * uploadedVersion, lagAtObservation). A store with max 0 here never
    * uploaded during the whole run, and is named in the soak artifact
    * instead of vanishing into the per-batch min (r16 verdict item 1b). */
  def snapshotUploadMaxByPartition(queryId: UUID): Map[String, (Long, Long, Long)] =
    synchronized {
      uploadMax.iterator.collect { case ((q, k), v) if q == queryId => k -> v }.toMap
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { done += e.runId }

  /** Raw total for one (run, observation, field) over the run's batches;
    * 0 if that metric never fired (an empty backlog produces no batches). */
  def total(runId: UUID, obs: String, field: String): Long = synchronized {
    records.iterator.collect { case ((_, r, _), rec) if r == runId =>
      rec.metrics.getOrElse((obs, field), 0L) }.sum
  }

  /** Total for one (query, observation, field) across EVERY run of that
    * query id, counting each batchId exactly once. This is the
    * restart-safe funnel sum: if a micro-batch's checkpoint commit races
    * a `stop()` and the batch is replayed by the resumed run, the raw
    * per-run totals would count it twice — here the replay replaces the
    * first delivery. */
  def totalByBatch(queryId: UUID, obs: String, field: String): Long =
    latestByBatch(queryId)(_.metrics.get((obs, field))).values.sum

  /** State-footprint series for a query, ordered by batchId: each entry
    * is (batchId, stateRows, memoryBytes, sstFileBytes,
    * snapshotLagVersions). The boundedness a long soak asserts — the
    * dedup watermark EVICTING (peak rows well below total distinct keys
    * seen), snapshot uploads KEEPING UP (lag plateaus) — is only visible
    * as a series; point-in-time `lastProgress` cannot distinguish a
    * plateau from monotone growth. */
  def stateSeries(queryId: UUID): Seq[(Long, Long, Long, Long, Long)] =
    latestByBatch(queryId)(_.state).toSeq.sortBy(_._1)
      .map { case (b, (rows, mem, sst, lag)) => (b, rows, mem, sst, lag) }

  /** Distinct batches whose progress events were delivered for one RUN
    * id — the exact phase batch count. Phase control that polls
    * `lastProgress` misses batches completed before the first poll or
    * between polls at a fast trigger (the r13 advisory on
    * LongSoakMain.runPhase); this census is complete once
    * [[awaitTerminated]] returns for the run (the termination event is
    * posted after every progress event). */
  def batchCount(runId: UUID): Long = synchronized {
    records.keys.count(_._2 == runId).toLong
  }

  /** Distinct batchIds ever reported for a QUERY across all its runs —
    * grows only when an attempt reports a batch the query never
    * reported before. The drain's new-work test: a restart that merely
    * re-reports the last committed batch leaves this unchanged, while a
    * genuine replay of an UNCOMMITTED batch grows it (its progress event
    * was never delivered). Per-run batchCount reads the re-report as 1
    * delivered batch, so a drain whose census could never complete kept
    * resetting its stall streak (r19 wedge). */
  def distinctBatches(queryId: UUID): Long = synchronized {
    records.keys.collect { case (q, _, b) if q == queryId => b }.toSet.size.toLong
  }

  /** The listener bus is async: progress events for the final batch can
    * arrive AFTER `awaitTermination` returns. The termination event is
    * posted after all progress events for the run, so once it lands the
    * totals are complete. Returns false on timeout. */
  def awaitTerminated(runId: UUID, timeoutMs: Long = 30000): Boolean = {
    def isDone = synchronized(done.contains(runId))
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!isDone && System.nanoTime() < deadline) Thread.sleep(50)
    isDone
  }

  /** Attach a fresh listener to the session. Callers keep the reference
    * and should `spark.streams.removeListener` it when done (tests). */
  def register(spark: SparkSession): FunnelListener = {
    spark.streams.addListener(this)
    this
  }
}

object FunnelListener {

  /** One delivered progress event: its observed LONG fields keyed by
    * (observation, field) and its summed state footprint (rows, memBytes,
    * sstBytes, snapshotLagVersions), absent when it reported no state
    * operator. */
  private final case class Batch(metrics: Map[(String, String), Long],
                               state: Option[(Long, Long, Long, Long)])

  /** Prefix of the RocksDB provider's per-store-instance upload metrics. */
  private val UploadedKey = "SnapshotLastUploaded"

  /** Snapshot-upload lag of micro-batch `batchId`, from its state
    * operators' custom-metric maps. The state-store version for batch N
    * is N+1; the SnapshotLastUploaded.partition_* instance metrics report
    * the LAST UPLOADED snapshot version of the most lagging store
    * instances (Spark reports the worst K, so the min over reported
    * values is the operator's minimum). A value of -1 means "never
    * uploaded yet" and clamps to version 0. The lag is the worst
    * operator's (N+1 − minUploaded), or -1 when no operator reports the
    * metric. An unbounded series of this lag is exactly the
    * compaction/upload debt a multi-hour soak exists to catch. */
  def snapshotLag(batchId: Long,
                  operatorMetrics: Iterable[java.util.Map[String, java.lang.Long]]): Long =
    operatorMetrics.iterator.filter(_ != null).foldLeft(-1L) { (lag, m) =>
      var minUp = Long.MaxValue
      m.forEach { (k, v) =>
        if (k.startsWith(UploadedKey)) minUp = math.min(minUp, math.max(v, 0L))
      }
      if (minUp == Long.MaxValue) lag else math.max(lag, batchId + 1 - minUp)
    }
}
