package graft.apps

import graft.SparkSuite
import graft.sources.Sources
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming ingest: backlog files → quality gate → PII
  * redaction → bounded-state dedup → checkpointed parquet, drained with
  * Trigger.AvailableNow; a second run from the same checkpoint processes
  * ONLY new files (exactly-once across restarts). */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def goodText(i: Long) =
    (1 to 12).map(j => s"w$i$j").mkString(" ") + s" mail user$i@ex.example.com"

  /** A fresh (backlog dir, output dir) pair, both removed after `body`. */
  private def withInOut[A](prefix: String)(body: (String, String) => A): A =
    withTempDir(prefix) { work =>
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(work, "in"))
      body(s"$work/in", s"$work/out")
    }

  /** The ingest transform over a one-file-per-trigger drain of `in`. */
  private def startDrain(in: String, out: String) =
    IngestMain.sink(
      IngestMain.transform(Sources.readTextStreamThrottled(spark, in, maxFilesPerTrigger = 1)),
      out, Trigger.AvailableNow())

  test("AvailableNow ingest: gates, redacts, dedups; restart resumes from checkpoint") { withInOut("graft-ingest") { (in, out) =>

    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(in, name), rows.mkString("", "\n", "\n"))

    // returns the funnel counters accumulated by observe() across the
    // run's micro-batches — measured DURING the pass, no extra job —
    // after asserting the PERSISTED funnel file carries the same counts
    def drain(): Map[String, Long] = {
      val listener = new graft.streaming.FunnelListener().register(spark)
      val q = startDrain(in, out)
      try assert(q.awaitTermination(180000)) finally q.stop()
      val funnel =
        try IngestMain.persistFunnel(spark, q, s"$out/funnel",
          IngestMain.listenerFunnel(listener, q))
        finally spark.streams.removeListener(listener)
      // the persisted artifact is the ops-facing record: re-read it and
      // check it round-trips the in-memory counters exactly
      val persisted = java.nio.file.Files.readString(
        java.nio.file.Path.of(s"$out/funnel", s"${q.runId}.json"))
      funnel.foreach { case (k, v) =>
        assert(persisted.contains(s""""$k":$v"""),
          s"persisted funnel drifted from observed: $persisted vs $funnel")
      }
      assert(persisted.contains(s""""run_id":"${q.runId}""""))
      funnel
    }

    writeFile("a.txt", Seq(
      s"1\t${goodText(1)}",
      s"2\tshort junk",          // < 10 tokens -> gated out
      s"1\t${goodText(1)}"))     // duplicate id within the batch -> deduped
    writeFile("b.txt", Seq(s"3\t${goodText(3)}"))
    val m1 = drain()
    // the observe() funnel saw every line: 4 in, 0 malformed, 3 past the
    // gate (the dedup that drops the repeated id=1 runs AFTER the probe)
    assert(m1 === Map("rows_in" -> 4L, "rows_malformed" -> 0L, "rows_kept" -> 3L))

    val first = spark.read.parquet(s"$out/data")
      .select("doc_id", "text_redacted", "n_emails")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(first.map(_._1).toSeq === Seq(1L, 3L))
    assert(first.forall(r => r._2.endsWith("mail <EMAIL>") && r._3 === 1))

    // restart: only the NEW file is processed (checkpointed offsets);
    // the tab-less line parses to NULLs and is counted malformed
    writeFile("c.txt", Seq(s"4\t${goodText(4)}", "oops no tab"))
    val m2 = drain()
    assert(m2 === Map("rows_in" -> 2L, "rows_malformed" -> 1L, "rows_kept" -> 1L))
    val second = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().sorted
    assert(second.toSeq === Seq(1L, 3L, 4L))
  }}

  test("funnel survives the recentProgress ring buffer: exact past the cap") { withInOut("graft-ring") { (in, out) =>
    // recentProgress keeps only the last numRecentProgressUpdates
    // entries; a funnel summed from it under-reports any run longer
    // than the cap. Cap at 2, run a 6-batch backlog, and require the
    // listener funnel to count every line while recentProgress provably
    // lost batches — the defect the FunnelListener exists to fix.
    val nFiles = 6
    (0 until nFiles).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(in, s"f$i.txt"), s"$i\t${goodText(i)}\n")
    }
    withSQLConf("spark.sql.streaming.numRecentProgressUpdates" -> "2") {
      val listener = new graft.streaming.FunnelListener().register(spark)
      val q = startDrain(in, out)
      try {
        assert(q.awaitTermination(180000))
        val funnel = IngestMain.listenerFunnel(listener, q)
        // the ring buffer actually dropped batches in this run…
        assert(q.recentProgress.length <= 2,
          s"cap conf did not apply: ${q.recentProgress.length} entries retained")
        // …and the listener funnel still counted every line exactly
        assert(funnel("rows_in") === nFiles.toLong)
        assert(funnel("rows_kept") === nFiles.toLong)
        assert(funnel("rows_malformed") === 0L)
      } finally { q.stop(); spark.streams.removeListener(listener) }
    }
  }}
}
