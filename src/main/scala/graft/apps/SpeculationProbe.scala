package graft.apps

import java.nio.file.{Files, Paths}

import scala.concurrent.Future

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.ops.AsyncMap

/** Speculative-execution determinism probe (r14 verdict item 7).
  *
  * RetryDeterminismSpec proves FAILURE-retry determinism; speculation
  * (`spark.speculation=true`) is a different race: a healthy-but-slow
  * task gets a concurrent DUPLICATE attempt, both run to completion,
  * and the scheduler commits whichever finishes first while killing the
  * other. At 100 TB with stragglers this happens constantly, so every
  * hash-exact claim additionally assumes operators are attempt-
  * idempotent under CONCURRENT duplicate attempts — not just sequential
  * retry-after-failure.
  *
  * Two scheduler facts force the shape of this probe (both measured
  * here before it grew this form):
  *  - local[n] never starts the speculation thread
  *    (TaskSchedulerImpl.start guards on !isLocal), so the probe is its
  *    own JVM with a standalone master — SpeculationSpec launches it as
  *    a subprocess (the test JVM's shared local[n] context cannot
  *    coexist with a second one);
  *  - the scheduler never LAUNCHES a speculative duplicate on the same
  *    host string as the original attempt, so a local-cluster[2,2,*]
  *    (both workers "localhost") marks tasks speculatable but can never
  *    run the copy. The probe therefore spawns a real master + two
  *    worker processes with DISTINCT SPARK_LOCAL_HOSTNAME strings
  *    (localhost / 127.0.0.1 — same loopback, different scheduler
  *    hosts), which launches genuine concurrent duplicates.
  *
  * Workload: the same two operators RetryDeterminismSpec covers —
  * [[AsyncMap.orderedWait]] and the LSH→edit-distance chain — with an
  * 8 s sleep hooked on attempt 0 of partition 0 (past the 1.2×
  * multiplier at quantile 0.5, 100 ms checks), so the duplicate attempt
  * finishes first and the sleeper's late result must be discarded: the
  * exact commit race under test. Prints one JSON line with
  * `speculative_attempts` (must be ≥ 1 or the probe proved nothing —
  * exit 2) and clean-vs-speculated gate hashes (mismatch — exit 1).
  */
object SpeculationProbe {

  private val addOpensList: Seq[String] =
    (Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic")
      ++ Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"))
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  /** Sleep on the FIRST attempt of partition 0 only: the speculative
    * duplicate (attemptNumber > 0) runs at full speed and wins the
    * commit race. Object-scoped so the closure serializes clean. */
  def slowFirstAttempt(): Unit = slowFirstAttempt(8000L)

  /** Parameterized form: the STREAMING leg sleeps less (3 s — still 6+×
    * past the 1.2× multiplier at 100 ms checks) because its sleep runs
    * once per MICRO-BATCH, and the cumulative inter-batch delay eats
    * into the dedup watermark horizon that the duplicate rows must stay
    * inside (r16 advisory on the stream_rows gate's headroom). */
  def slowFirstAttempt(ms: Long): Unit = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
      Thread.sleep(ms)
  }

  private def docs(spark: SparkSession, slow: Boolean): DataFrame = {
    import spark.implicits._
    spark.range(0, 240, 1, 8).mapPartitions { it =>
      if (slow) slowFirstAttempt()
      it
    }.map { i =>
      val c = i % 40
      (i, s"doc class $c: the quick brown fox $c jumps over the lazy dog ${c * 7} again")
    }.toDF("doc_id", "text")
  }

  private def gateHash(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Spawn a Spark deploy daemon (Master/Worker main) as a subprocess,
    * echoing its output into `log`. The daemons need only the Spark
    * jars, but the probe's own classpath is a superset — reuse it. */
  private def spawnDaemon(cls: String, daemonArgs: Seq[String],
                          hostname: String, log: java.nio.file.Path): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx512m", "-cp", System.getProperty("java.class.path")) ++
      addOpensList ++ Seq(cls) ++ daemonArgs
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_LOCAL_HOSTNAME", hostname)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    pb.start()
  }

  private def awaitWorkers(masterLog: java.nio.file.Path, n: Int,
                           timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val count =
        if (Files.exists(masterLog))
          Files.readString(masterLog).linesIterator
            .count(_.contains("Registering worker"))
        else 0
      if (count >= n) return true
      Thread.sleep(500)
    }
    false
  }

  /** Stateful streaming leg (r15 verdict item 5): the ingest dedup —
    * dropDuplicatesWithinWatermark over the RocksDB provider with
    * changelog checkpointing, the exact state path the endurance soaks
    * certify — run to completion under forced speculation, with the
    * slow-task hook in the POST-SHUFFLE stateful stage. That placement
    * matters: a sleep in the source stage (operators 1–2) speculates a
    * stateless scan, but the state-commit race needs the duplicated
    * task to be the one that loads, updates, and commits a state-store
    * partition — the speculative copy runs on the OTHER host, loads its
    * own store replica from the checkpoint, and both race the version
    * commit. Batch boundaries are pinned (maxFilesPerTrigger) so the
    * clean and speculated runs see identical batch compositions; the
    * gate hash excludes the wall-clock `ingest_ts`. */
  private def streamDedup(spark: SparkSession, work: java.nio.file.Path,
                          inDir: String, tag: String, slow: Boolean): Seq[String] = {
    val out = work.resolve(s"stream-$tag").toString
    val df0 = IngestMain.transform(spark.readStream
      .option("maxFilesPerTrigger", "2").text(inDir))
    val enc = org.apache.spark.sql.Encoders.row(df0.schema)
    val df = if (slow) df0.mapPartitions { it => slowFirstAttempt(3000L); it }(enc)
             else df0
    val q = IngestMain.sink(df, out, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    spark.read.parquet(s"$out/data")
      .select("doc_id", "text_redacted", "n_emails")
      .collect().map(_.toString).sorted.toSeq
  }

  /** 8 files x 500 lines, every doc duplicated across two files (so the
    * watermarked dedup state actually dedups across micro-batches), plus
    * two malformed lines the parse gate must quarantine. Duplicate lines
    * are byte-identical, so WHICH copy wins the state race cannot leak
    * into row content — only into row COUNT, which is exactly what the
    * clean-vs-speculated hash compares. Duplicates sit ONE micro-batch
    * apart (files f and f+2 at 2 files/trigger), not two: with a slow
    * hook per batch the inter-duplicate wall is one batch's sleep +
    * scheduling, keeping the gap ~6× inside the 1-minute
    * dropDuplicatesWithinWatermark horizon even on a loaded host (the
    * f/f+4 layout left only ~2× headroom — r16 advisory). */
  private def writeStreamBacklog(dir: java.nio.file.Path): Unit = {
    Files.createDirectories(dir)
    for (f <- 0 until 8) {
      val sb = new StringBuilder
      for (i <- 0 until 500) {
        // files f and f+2 carry the same ids: (0,2)->0..499, (1,3)->
        // 500..999, (4,6)->1000..1499, (5,7)->1500..1999 — 2000 distinct
        val id = ((f % 2) + (f / 4) * 2) * 500 + i
        sb.append(s"$id\tdoc $id body with enough filler tokens to pass the quality gate ${id % 7} ok\n")
      }
      if (f == 3) sb.append("malformed line no tab\n").append("nan\t\n")
      Files.writeString(dir.resolve(f"part-$f%02d.txt"), sb.toString)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = graft.core.Args(args)
    val external = a.get("master") // reuse a caller-managed cluster
    val work = Files.createDirectories(Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-spec-${ProcessHandle.current().pid()}"))
    var daemons: Seq[Process] = Nil
    val masterUrl = external.getOrElse {
      val port = freePort()
      val masterLog = work.resolve("master.log")
      daemons = Seq(
        spawnDaemon("org.apache.spark.deploy.master.Master",
          Seq("--host", "localhost", "--port", port.toString, "--webui-port", "0"),
          "localhost", masterLog)) ++ {
        Thread.sleep(3000) // master RPC up before workers dial in
        Seq("localhost", "127.0.0.1").zipWithIndex.map { case (host, i) =>
          spawnDaemon("org.apache.spark.deploy.worker.Worker",
            Seq(s"spark://localhost:$port", "--cores", "2", "--memory", "1g",
              "--webui-port", "0", "--work-dir", work.resolve(s"w$i").toString),
            host, work.resolve(s"worker$i.log"))
        }
      }
      require(awaitWorkers(work.resolve("master.log"), 2, 60000),
        "standalone cluster did not come up (2 workers) within 60 s")
      s"spark://localhost:$port"
    }
    try run(masterUrl, work)
    finally {
      daemons.foreach(_.destroyForcibly())
      daemons.foreach(_.waitFor())
      graft.core.DiskGuard.deleteTreeForTests(work)
    }
  }

  private def run(masterUrl: String, work: java.nio.file.Path): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-speculation-probe")
      .master(masterUrl)
      // executors are separate processes: ship the probe's full classpath
      // and the module opens Spark needs on Java 17+
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpensList.mkString(" "))
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "100ms")
      .config("spark.speculation.multiplier", "1.2")
      .config("spark.speculation.quantile", "0.5")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config(graft.core.GraftSession.streamingState)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val specStarted = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) specStarted.incrementAndGet(): Unit
    })

    // ---- operator 1: orderedWait (async map, per-partition ordering)
    val in = spark.range(0, 4000, 1, 8).as[Long]
    val asyncClean = AsyncMap.orderedWait(in)(x => Future.successful(x * 3 + 1))
      .collect().map(_.toString).toSeq
    val slowIn = spark.range(0, 4000, 1, 8).as[Long]
      .mapPartitions { it => slowFirstAttempt(); it }
    val asyncSpec = AsyncMap.orderedWait(slowIn)(x => Future.successful(x * 3 + 1))
      .collect().map(_.toString).toSeq

    // ---- operator 2: LSH pairs -> edit-distance chain (shuffle + join
    // downstream of the speculated source stage)
    val d0 = docs(spark, slow = false)
    val cleanPairs = Dedup.minhashLshPairs(d0, n = 3, k = 32, rowsPerBand = 4)
    val pairsClean = Dedup.pairEditDistance(d0, cleanPairs, prefixLen = 40, maxDist = 10)
      .collect().map(_.toString).sorted.toSeq
    val d1 = docs(spark, slow = true)
    val specPairs = Dedup.minhashLshPairs(d1, n = 3, k = 32, rowsPerBand = 4)
    val pairsSpec = Dedup.pairEditDistance(d1, specPairs, prefixLen = 40, maxDist = 10)
      .collect().map(_.toString).sorted.toSeq

    // ---- operator 3: stateful streaming ingest dedup (RocksDB +
    // changelog checkpointing) with the slow hook in the stateful stage
    val inDir = work.resolve("stream-in")
    writeStreamBacklog(inDir)
    val beforeStream = specStarted.get()
    val streamClean = streamDedup(spark, work, inDir.toString, "clean", slow = false)
    // Bounded retry on CANNOT_LOAD_STATE_STORE (observed r20): the
    // provoked commit race can land inside Spark's own changelog REPLAY
    // path (StateStoreChangelogWriterV1.put assertion while a killed
    // speculative attempt's store reloads) — a Spark-internal load
    // failure that aborts the query before any wrong row is committed,
    // distinct from the determinism property this probe gates (the
    // COMMITTED results of a completed run must match the clean run).
    // Each retry runs from a fresh checkpoint dir and still races
    // speculation; the attempt count is reported in the JSON so a
    // recurrence is visible, and a mismatch in the completed run still
    // fails hard.
    var streamSpec: Seq[String] = Nil
    var streamLoadRetries = 0
    var streamed = false
    // Re-snapshotted at the top of every attempt (r20 advisory): the
    // attempt count must describe only the COMPLETED run, not aggregate
    // speculative starts from aborted retry predecessors.
    var attemptBase = beforeStream
    while (!streamed) {
      try {
        attemptBase = specStarted.get()
        streamSpec = streamDedup(spark, work,
          inDir.toString, s"spec$streamLoadRetries", slow = true)
        streamed = true
      } catch {
        case e: Throwable
            if streamLoadRetries < 2 && {
              // the error code sits on a CAUSE of the
              // StreamingQueryException — walk the chain
              var t: Throwable = e; var hit = false
              while (t != null && !hit) {
                hit = Option(t.getMessage).exists(_.contains("CANNOT_LOAD_STATE_STORE"))
                t = t.getCause
              }
              hit
            } =>
          streamLoadRetries += 1
          System.err.println(
            s"[speculation-probe] state-store load race aborted the run; retry $streamLoadRetries")
      }
    }
    Thread.sleep(1000) // listener bus is async; let task-starts land
    val streamAttempts = specStarted.get() - attemptBase

    val json =
      s"""{"metric":"speculation_probe","master":"$masterUrl",""" +
      s""""speculative_attempts":${specStarted.get()},""" +
      s""""stream_speculative_attempts":$streamAttempts,""" +
      s""""stream_state_load_retries":$streamLoadRetries,""" +
      s""""async_rows":${asyncClean.size},"pair_rows":${pairsClean.size},""" +
      s""""stream_rows":${streamClean.size},""" +
      s""""async_hash_clean":"${gateHash(asyncClean)}","async_hash_spec":"${gateHash(asyncSpec)}",""" +
      s""""pair_hash_clean":"${gateHash(pairsClean)}","pair_hash_spec":"${gateHash(pairsSpec)}",""" +
      s""""stream_hash_clean":"${gateHash(streamClean)}","stream_hash_spec":"${gateHash(streamSpec)}",""" +
      s""""async_match":${asyncClean == asyncSpec},"pair_match":${pairsClean == pairsSpec},""" +
      s""""stream_match":${streamClean == streamSpec}}"""
    try spark.stop() catch { case _: Throwable => }
    println(json)
    if (specStarted.get() < 1) {
      System.err.println("[speculation-probe] no speculative attempt launched — probe proved nothing")
      sys.exit(2)
    }
    if (streamAttempts < 1) {
      System.err.println("[speculation-probe] no speculative attempt in the STREAMING leg — state-commit race not exercised")
      sys.exit(2)
    }
    if (asyncClean != asyncSpec || pairsClean != pairsSpec ||
        streamClean != streamSpec) sys.exit(1)
  }
}
