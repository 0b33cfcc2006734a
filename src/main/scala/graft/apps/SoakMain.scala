package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{Args, GraftSession, Tables}
import graft.sources.Sources
import graft.text.TextAnalysis

/** Large-scale streaming soak (r11 verdict item 4): the IngestSoakSpec
  * contract — streamed funnel + written rows equal an independent batch
  * computation — at the sf10 corpus (500k docs, 100× the spec's
  * backlog), with the two properties a 100 TB ingest actually depends
  * on and a 5k-doc spec cannot exercise:
  *
  *  - RocksDB state store: the dedup state for a production ingest does
  *    not fit an executor heap; the soak runs the whole drain on
  *    RocksDBStateStoreProvider (spilling, changelog-checkpointed) —
  *    the session default (GraftSession), as on a real cluster.
  *  - checkpoint restart MID-SOAK: phase 1 drains part of the backlog
  *    and is stopped between micro-batches; a NEW query object resumes
  *    from the same checkpoint and drains the rest. Exactly-once across
  *    the restart is then asserted globally: the funnel summed over
  *    BOTH runIds and the file-sink row count (read through its
  *    _spark_metadata commit log) must still equal the batch twin —
  *    a double-processed or lost micro-batch shows up as a count drift.
  *
  * Duplicate doc_id lines are co-located with their originals in the
  * SAME backlog file (hash-partitioned by doc_id), so the
  * dropDuplicatesWithinWatermark decision is same-micro-batch and
  * deterministic — the multi-minute sf10 drain must not depend on the
  * 1-minute processing-time watermark horizon spanning batches.
  *
  * Usage: --data /root/repo/testdata_sf10 --workdir /tmp/graft-soak
  *        [--files 256] [--files-per-trigger 8] [--restart-after 12]
  *        [--dup-docs 2000]
  * Prints ONE JSON line (soak_sf10) with funnel, row counts, and
  * per-phase wall seconds; exits non-zero on any contract violation.
  */
object SoakMain {

  /** Materialize the soak backlog under `in`: one `id\ttext` line per
    * document, duplicates of the lowest-id docs co-located in the SAME
    * file as their originals (hash-partitioned by doc_id — the dedup
    * decision must be same-micro-batch deterministic, not dependent on
    * the processing-time watermark horizon spanning batches), plus the
    * fixed malformed-line triple. Returns (nDocs, nDupLines,
    * nMalformed). Shared with [[LongSoakMain]], whose multi-restart
    * drain needs the identical backlog contract. */
  private[apps] def buildBacklog(spark: SparkSession, data: String,
                                 in: String, files: Int,
                                 dupDocs: Long): (Long, Long, Int) = {
    import spark.implicits._
    val base = Tables.documents(spark, data)
      .select($"doc_id", regexp_replace($"text", "[\\t\\n\\r]+", " ").as("text"))
    val dupes = base.filter($"doc_id" < dupDocs)
    val lines = base.unionAll(dupes)
      .select($"doc_id", concat($"doc_id".cast("string"), lit("\t"), $"text").as("value"))
      .repartition(files, $"doc_id")
      .select("value")
    val malformed = Seq("no tab here", "xyz\t", "not_a_number\tsome text")
    lines.unionAll(malformed.toDF("value").coalesce(1))
      .write.mode("overwrite").text(in)
    (base.count(), dupes.count(), malformed.length)
  }

  /** The independent batch twin over the drained backlog + sink: the
    * soak's correctness contract as (name, streamedValue, batchValue)
    * triples that must agree (same shape as IngestSoakSpec — batch
    * qualityScore API vs the stream's inline gate). */
  private[apps] def twinChecks(spark: SparkSession, in: String, out: String,
                               funnel: Map[String, Long],
                               backlogLines: Long): Seq[(String, Long, Long)] = {
    import spark.implicits._
    val raw = spark.read.text(in)
    val parsed = raw.select(
      expr("try_cast(get(split(value, '\t'), 0) AS bigint)").as("doc_id"),
      get(split($"value", "\t"), lit(1)).as("text"))
    val rowsIn = raw.count()
    val nMalformed = parsed.filter($"doc_id".isNull || $"text".isNull).count()
    val wellFormed = parsed.filter($"doc_id".isNotNull && $"text".isNotNull)
    val keptIds = TextAnalysis.qualityScore(wellFormed).filter($"keep").select("doc_id")
    val nKept = wellFormed.join(keptIds.distinct(), "doc_id").count()
    val nDistinctKept = keptIds.distinct().count()
    val written = spark.read.parquet(s"$out/data")
    val nWritten = written.count()
    val piiLeaks = written.filter($"text_redacted".rlike(TextAnalysis.EmailRe)).count()
    Seq(
      ("rows_in", funnel("rows_in"), rowsIn),
      ("rows_malformed", funnel("rows_malformed"), nMalformed),
      ("rows_kept", funnel("rows_kept"), nKept),
      ("written_vs_distinct_kept", nWritten, nDistinctKept),
      ("pii_leaks", piiLeaks, 0L),
      ("backlog_docs", funnel("rows_in"), backlogLines))
  }

  private def startIngest(spark: SparkSession, in: String, out: String,
                          filesPerTrigger: Int) =
    IngestMain.sink(
      IngestMain.transform(Sources.readTextStreamThrottled(spark, in, filesPerTrigger)),
      out, Trigger.AvailableNow())

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("graft-soak")
    import spark.implicits._

    val data = a.getOrElse("data", "/root/repo/testdata_sf10")
    val work = a.getOrElse("workdir", "/tmp/graft-soak")
    val files = a.getOrElse("files", "256").toInt
    val perTrigger = a.getOrElse("files-per-trigger", "8").toInt
    val restartAfter = a.getOrElse("restart-after", "12").toLong
    val dupDocs = a.getOrElse("dup-docs", "2000").toLong
    val in = s"$work/in"
    val out = s"$work/out"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(work), true)

    // ---- backlog: see buildBacklog scaladoc (dup co-location contract)
    val t0 = System.nanoTime()
    val (nDocs, nDupes, nMalformedLines) = buildBacklog(spark, data, in, files, dupDocs)
    val backlogSec = (System.nanoTime() - t0) / 1e9

    // ---- phase 1: drain `restartAfter` micro-batches, then stop
    // BETWEEN batches (an uncommitted batch is simply re-run by phase 2 —
    // that is the exactly-once contract under test). The stop goes
    // through LongSoakMain.runPhase, which counts batches from the
    // listener census and repairs bus drops from the query's own ring;
    // sampling `lastProgress` instead misses batches between polls.
    val listener = new graft.streaming.FunnelListener().register(spark)
    val t1 = System.nanoTime()
    val q1 = startIngest(spark, in, out, perTrigger)
    val (_, drainedInPhase1, stall) = LongSoakMain.runPhase(q1, listener, q1.id,
      expectedRows = nDocs + nDupes + nMalformedLines, restartEvery = restartAfter,
      noProgressTimeoutMs = 120000L)
    // a stalled phase 1 is what phase 2's resume recovers from
    stall.foreach(why => System.err.println(s"[soak] phase-1 STALL: $why"))
    val phase1Sec = (System.nanoTime() - t1) / 1e9
    // Fail fast on a misconfigured run: if phase 1 already drained the
    // backlog, phase 2 would resume into nothing and the configuration
    // error would only surface after the full (pointless) second drain.
    require(!drainedInPhase1,
      s"phase 1 drained the whole backlog before batch $restartAfter — " +
        "raise --files / lower --files-per-trigger so the restart tests something")

    // ---- phase 2: NEW query, same checkpoint — resumes and finishes
    val t2 = System.nanoTime()
    val q2 = startIngest(spark, in, out, perTrigger)
    require(q2.awaitTermination(3600 * 1000L), "phase-2 drain exceeded 1 h")
    require(listener.awaitTerminated(q2.runId), "phase-2 termination event lost")
    q2.recentProgress.foreach(listener.ingestProgress)
    val phase2Sec = (System.nanoTime() - t2) / 1e9

    // ---- funnel across BOTH runs, deduplicated by batchId (q1.id ==
    // q2.id: same checkpoint). Summing raw per-run totals would double-
    // count a batch whose commit raced q1.stop() and was replayed by
    // phase 2; totalByBatch counts each batchId once, so the restart
    // cannot manufacture a spurious funnel mismatch.
    def both(obs: String, field: String): Long =
      listener.totalByBatch(q1.id, obs, field)
    val funnel = Map(
      "rows_in" -> both("ingest_parsed", "rows_in"),
      "rows_malformed" -> both("ingest_parsed", "rows_malformed"),
      "rows_kept" -> both("ingest_gated", "rows_kept"))

    // ---- batch twin, independent formulation (same shape as
    // IngestSoakSpec: batch qualityScore API vs the stream's inline gate)
    val t3 = System.nanoTime()
    val checks = twinChecks(spark, in, out, funnel,
      nDocs + nDupes + nMalformedLines)
    val nWritten = checks.collectFirst {
      case ("written_vs_distinct_kept", w, _) => w }.get
    val twinSec = (System.nanoTime() - t3) / 1e9

    val failed = checks.filter { case (_, a0, b0) => a0 != b0 }
    failed.foreach { case (n, a0, b0) =>
      System.err.println(s"[soak] MISMATCH $n: streamed=$a0 batch=$b0") }

    val json =
      s"""{"metric":"soak_sf10","data":"$data","docs":$nDocs,"dup_lines":$nDupes,""" +
      s""""files":$files,"files_per_trigger":$perTrigger,""" +
      s""""restart_after_batch":$restartAfter,"state_store":"rocksdb",""" +
      s""""rows_in":${funnel("rows_in")},"rows_malformed":${funnel("rows_malformed")},""" +
      s""""rows_kept":${funnel("rows_kept")},"written":$nWritten,""" +
      s""""backlog_sec":${math.rint(backlogSec * 10) / 10},""" +
      s""""phase1_sec":${math.rint(phase1Sec * 10) / 10},""" +
      s""""phase2_sec":${math.rint(phase2Sec * 10) / 10},""" +
      s""""twin_sec":${math.rint(twinSec * 10) / 10},""" +
      s""""funnel_match":${failed.isEmpty}}"""
    try spark.stop() catch { case _: Throwable => }
    println(json)
    if (failed.nonEmpty) sys.exit(1)
  }
}
