package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{Args, GraftSession}
import graft.sources.Sources
import graft.text.TextAnalysis

/** Streaming ingest: the continuous front door of the training-data
  * pipeline — a file-backlog drain that quality-gates, PII-scrubs and
  * near-line dedups documents on the way into the lake, exactly-once
  * via checkpointed file sink.
  *
  *   text backlog (one doc per line)
  *     → throttled file source (maxFilesPerTrigger — bounded batches)
  *     → parse to (doc_id, text)
  *     → quality gate (map-side)
  *     → PII redaction (map-side)
  *     → bounded-state exact dedup (dropDuplicatesWithinWatermark)
  *     → partitioned parquet + checkpoint
  *
  * `--available-now` uses Trigger.AvailableNow: drain everything present,
  * then exit — the "catch up, hand back the cluster" backfill mode. The
  * same query restarted later resumes from the checkpoint and processes
  * only NEW files (exactly-once across restarts).
  *
  * Usage: --in /tmp/in --out /tmp/ingest [--files-per-trigger 4]
  *        [--run-seconds 10 | --available-now]
  */
object IngestMain {

  /** The transform between source and sink, shared with the spec: lines
    * `id<TAB>text` → quality-gated, redacted, deduped documents.
    *
    * Everything before the dedup is STATELESS column work (the gate and
    * the redaction are inline expressions, not the batch helpers — those
    * project away the other columns and re-attaching them would turn
    * each stage into a stream-stream self-join with unbounded state).
    * The only stateful operator is the watermarked dedup.
    *
    * Funnel observability rides on `observe()`: the counts are
    * accumulated DURING the normal pass (no second scan, no extra job)
    * and surface per micro-batch in `StreamingQueryProgress
    * .observedMetrics` — the continuous twin of PipelineMain's one-pass
    * batch funnel audit. */
  def transform(lines: DataFrame): DataFrame =
    lines
      // try_cast + get(), not cast/getItem: under ANSI mode a malformed id
      // or a missing field would FAIL THE STREAM; a corrupt line must cost
      // one counted row, never the job (same stance as RowOps.tryJsonExtract)
      .withColumn("doc_id_raw", get(split(col("value"), "\t"), lit(0)))
      .withColumn("doc_id", expr("try_cast(doc_id_raw AS bigint)"))
      .drop("doc_id_raw")
      .withColumn("text", get(split(col("value"), "\t"), lit(1)))
      .observe("ingest_parsed",
        count(lit(1)).as("rows_in"),
        count(when(col("doc_id").isNull || col("text").isNull, lit(1)))
          .as("rows_malformed"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      // tokens in their own projection (HOF re-evaluation trap)
      .withColumn("tk", TextAnalysis.toksCol(col("text")))
      .filter(TextAnalysis.qualityKeep(col("tk")))
      .observe("ingest_gated", count(lit(1)).as("rows_kept"))
      .select(
        col("doc_id"),
        TextAnalysis.redacted(col("text")).as("text_redacted"),
        regexp_count(col("text"), lit(TextAnalysis.EmailRe)).as("n_emails"),
        current_timestamp().as("ingest_ts"))
      // bounded state: a duplicate doc_id arriving within the watermark
      // horizon is dropped; state for older ids is evicted
      .withWatermark("ingest_ts", "1 minute")
      .dropDuplicatesWithinWatermark("doc_id")

  /** The ingest sink every ingest run starts through: `df` appended as
    * parquet under `out/data`, exactly-once via the checkpoint under
    * `out/checkpoint`, at `trigger`. */
  def sink(df: DataFrame, out: String, trigger: Trigger): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/checkpoint")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** The run's funnel from an accumulating [[graft.streaming.FunnelListener]]
    * — NOT from `recentProgress`, whose 100-entry ring buffer silently
    * under-reports any run longer than
    * `spark.sql.streaming.numRecentProgressUpdates` micro-batches (a
    * day-long production ingest loses ~99% of its counts that way).
    * Blocks until the listener has seen the run's termination event so
    * the async bus cannot race the final batch's counters. */
  def listenerFunnel(l: graft.streaming.FunnelListener,
                     q: StreamingQuery): Map[String, Long] = {
    require(l.awaitTerminated(q.runId),
      s"funnel listener never saw termination of run ${q.runId}")
    Map(
      "rows_in" -> l.total(q.runId, "ingest_parsed", "rows_in"),
      "rows_malformed" -> l.total(q.runId, "ingest_parsed", "rows_malformed"),
      "rows_kept" -> l.total(q.runId, "ingest_gated", "rows_kept"))
  }

  /** Persist the run's observe() funnel as ONE JSON file under
    * `dir/<runId>.json` — the counters otherwise live only in
    * StreamingQueryProgress and die with the driver; a file per runId
    * lets ops tooling (and IngestSpec) diff funnels across restarts.
    * Written through the Hadoop FileSystem API so an HDFS/S3 `dir`
    * works the same as a local one. Returns the funnel. */
  def persistFunnel(spark: org.apache.spark.sql.SparkSession,
                    q: StreamingQuery,
                    dir: String, funnel: Map[String, Long]): Map[String, Long] = {
    val json = funnel.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":$v" }
      .mkString(s"""{"run_id":"${q.runId}",""", ",", "}")
    val path = new org.apache.hadoop.fs.Path(dir, s"${q.runId}.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(path, true)
    try os.write((json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    funnel
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("streaming-ingest")
    val listener = new graft.streaming.FunnelListener().register(spark)
    val in = a.getOrElse("in", "/tmp/graft-ingest-in")
    val out = a.getOrElse("out", "/tmp/graft-ingest-out")
    val lines = Sources.readTextStreamThrottled(spark, in,
      a.getOrElse("files-per-trigger", "4").toInt)
    // ProcessingTime(0) is writeStream's default: start each micro-batch
    // as soon as the previous one ends
    val q = sink(transform(lines), out,
      if (a.has("available-now")) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
    if (a.has("available-now")) q.awaitTermination()
    else {
      q.awaitTermination(a.getOrElse("run-seconds", "10").toLong * 1000)
      q.stop()
    }
    val funnel = persistFunnel(spark, q, s"$out/funnel", listenerFunnel(listener, q))
    println(s"[ingest] funnel: $funnel -> $out/funnel/${q.runId}.json")
    // an empty backlog (or one gated out entirely) leaves no parquet
    // files; a bare read would die with "unable to infer schema" after
    // an otherwise successful drain
    val dataPath = new org.apache.hadoop.fs.Path(s"$out/data")
    val dataFs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nDocs =
      if (dataFs.exists(dataPath) &&
          dataFs.listStatus(dataPath).exists(_.getPath.getName.endsWith(".parquet")))
        spark.read.parquet(s"$out/data").count()
      else 0L
    println(s"[ingest] wrote $nDocs docs to $out/data")
    spark.stop()
  }
}
