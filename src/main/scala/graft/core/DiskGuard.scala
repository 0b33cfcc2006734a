package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.suite.{Registry, Scaling}

/** Pre-flight scratch-space guard for long dump/oracle jobs (r12 verdict
  * item 3): two sessions died on mid-job disk exhaustion — the sf10
  * BATCH3 oracle FAILs, the CC-family sf100 aborts at hour two, and a
  * 42 GB orphaned DuckDB spill. The capacity signal already exists
  * (`Dedup.lshPairVolume` predicts the pair explode's cost in one
  * O(buckets) aggregate); this turns it into a refusal BEFORE any work
  * starts, naming the shortfall, instead of an `IOException: No space
  * left on device` after an hour of compute.
  *
  * Estimates, calibrated on measured failures, deliberately coarse:
  *  - pair-materializing queries: `candidates × 48 B` — the sf100 run
  *    put ~1.25e9 candidates through DISTINCT spill + edge cache +
  *    shuffle and exhausted >56 GB ⇒ ~45 B/candidate, rounded up;
  *  - everything else: the input directory's size once over — the r12
  *    sf100 non-pair suite's dumps and shuffle peaked well inside the
  *    corpus' own footprint.
  * The refusal gate is free < 1.5 × estimate (the verdict's margin).
  * GRAFT_DISK_GUARD=0 bypasses for deliberate experiments.
  */
object DiskGuard {

  /** Measured: >56e9 B scratch / 1.25e9 candidates ≈ 45 B, rounded. */
  val BytesPerCandidate = 48L

  def usableBytes(dir: String): Long = {
    val p = Paths.get(dir).toAbsolutePath
    val existing = Iterator.iterate(p)(_.getParent)
      .find(q => q == null || Files.exists(q)).flatMap(Option(_))
      .getOrElse(Paths.get("/"))
    Files.getFileStore(existing).getUsableSpace
  }

  /** Children of a directory, with the stream CLOSED before returning —
    * the bare `Files.list(p).toArray` idiom leaks a directory handle per
    * call until GC, and a large debris tree can exhaust descriptors
    * mid-sweep (r14 ADVICE). */
  private def children(p: Path): Array[Path] = {
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
  }

  /** Recursive byte size of a directory tree (0 if absent). Estimator
    * only (never on the delete path); symlinks are counted as their own
    * link size, not followed — a cycle must not recurse. */
  def dirBytes(dir: String): Long = {
    import java.nio.file.LinkOption.NOFOLLOW_LINKS
    def walk(p: Path): Long =
      try {
        val attrs = Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes], NOFOLLOW_LINKS)
        if (attrs.isDirectory) children(p).map(walk).sum else attrs.size
      } catch { case _: java.io.IOException => 0L }
    walk(Paths.get(dir))
  }

  /** Scratch estimate for dumping `names` against `sfDir`. Runs the
    * lshPairVolume pre-flight (seconds, zero pairs materialized) only
    * when a query that materializes the minhash LSH candidate class
    * ([[graft.suite.Scaling.MinhashPairs]]) is requested. */
  def estimateBytes(spark: SparkSession, sfDir: String,
                    names: Set[String]): Long = {
    val base = dirBytes(sfDir)
    val pair =
      if (!names.exists(Registry.scaling(_) == Scaling.MinhashPairs)) 0L
      else graft.dedup.Dedup
        .lshPairVolume(Tables.documents(spark, sfDir), n = 2, k = 6,
          rowsPerBand = 2)
        .head().getAs[Long]("candidate_pairs") * BytesPerCandidate
    base + pair
  }

  /** Scratch-dir name patterns this engine creates under a temp root:
    * soak/ingest workdirs, the bucketed-table warehouse, DuckDB oracle
    * spill, and the pid-tagged `graft-spill-<pid>` root GraftSession
    * routes ALL of Spark's own scratch (blockmgr + driver temp) into via
    * spark.local.dir. A KILLED process orphans these — Spark's shutdown
    * hook never runs — and the r12 post-mortem found 42 GB of exactly
    * such debris starving a later oracle run. Only names matching here
    * are ever candidates for the janitor; generic `spark-*`/`blockmgr-*`
    * names are deliberately NOT matched (r14 ADVICE): in a shared tmp
    * they may belong to another user's Spark, and a live-but-idle JVM's
    * spill dirs can sit untouched for days — engine-owned naming plus
    * pid liveness is the only safe ownership test. */
  private val scratchName =
    "^(graft-spill-|graft-spec-|graft-warehouse|graft-soak|graft-long-soak|graft-ingest|duck).*".r

  /** pid-tagged scratch roots: graft-spill-<pid> (GraftSession.builder's
    * spark.local.dir) and graft-spec-<pid> (SpeculationProbe's cluster
    * work dir) — both owned by the pid in the name. */
  private val spillPid = "^graft-(?:spill|spec)-([0-9]+)$".r

  /** Is the process alive? Only answerable where /proc exists; None
    * (non-Linux) makes the janitor fall back to the idle-age heuristic
    * rather than treat every pid as dead. */
  private[core] def pidAlive(pid: Long): Option[Boolean] =
    if (Files.isDirectory(Paths.get("/proc")))
      Some(Files.exists(Paths.get("/proc", pid.toString)))
    else None

  /** Sentinel mtime meaning "could not fully enumerate this tree". */
  private[core] val Unknowable = Long.MaxValue

  /** (totalBytes, newestMtimeMs) over a tree in one walk — the janitor
    * needs BOTH: size to report the reclaim, newest mtime so a dir some
    * live process is still writing (any file fresh) is never swept even
    * if its root mtime is old. Two safety properties (r14 ADVICE):
    *  - ANY enumeration error anywhere in the tree yields newest =
    *    [[Unknowable]], which the sweep reads as FRESH — an unreadable
    *    subtree must hide deletions, never enable them (the old code
    *    swallowed the error as "no children", making fresh files
    *    invisible and a LIVE tree sweepable);
    *  - symlinks are read NOFOLLOW (own link attrs), so a cycle inside
    *    matched scratch terminates instead of recursing to
    *    StackOverflowError, and a link into a foreign tree contributes
    *    nothing of the target. */
  private[core] def sizeAndNewest(p: Path): (Long, Long) =
    try {
      val attrs = Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes],
        java.nio.file.LinkOption.NOFOLLOW_LINKS)
      if (attrs.isDirectory) {
        val own = attrs.lastModifiedTime.toMillis
        children(p).map(sizeAndNewest).foldLeft((0L, own)) {
          case ((b1, t1), (b2, t2)) => (b1 + b2, math.max(t1, t2)) }
      } else (attrs.size, attrs.lastModifiedTime.toMillis)
    } catch { case _: java.io.IOException => (0L, Unknowable) }

  /** Janitor for orphaned scratch (r13 verdict stretch item 8): sweep
    * each root for entries matching [[scratchName]] whose ENTIRE tree
    * has been idle longer than `maxAge`, delete them, and return
    * (path, bytesReclaimed) per deletion, logging each to stderr. The
    * pre-flight guard above refuses jobs when free space is short; this
    * closes the failure mode where the space is short only because a
    * previously KILLED run never cleaned up after itself. Conservative
    * by construction: recognized ENGINE-OWNED names only, and two
    * ownership tests, strongest first (r14 ADVICE — "idle" alone is not
    * ownership; a live JVM can sit idle between spills for hours):
    *  - `graft-spill-<pid>` roots carry their owning pid in the name:
    *    owner alive → never touched, any age; owner dead → reclaimed
    *    immediately (certain orphan — no JVM will write there again);
    *    liveness unanswerable (no /proc) → idle-age heuristic.
    *  - everything else (soak/ingest workdirs, warehouse, duck spill):
    *    a full day of whole-tree idleness, where any enumeration error
    *    reads as FRESH (skip), never as empty.
    * GRAFT_DISK_GUARD=0 disables, same switch as the pre-flight. */
  def sweepStaleScratch(
      roots: Seq[Path] = Seq(
        Paths.get(System.getProperty("java.io.tmpdir")),
        Paths.get("/root/repo/.tmp")),
      maxAgeMs: Long = 24L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Seq[(String, Long)] = {
    if (sys.env.get("GRAFT_DISK_GUARD").contains("0")) return Nil
    val selfPid = ProcessHandle.current().pid()
    val reclaimed = Seq.newBuilder[(String, Long)]
    for {
      root <- roots if Files.isDirectory(root)
      entry <- (try children(root)
                catch { case _: java.io.IOException => Array.empty[Path] })
      if scratchName.findFirstIn(entry.getFileName.toString).isDefined
    } {
      val name = entry.getFileName.toString
      val sweepable = name match {
        case spillPid(pid) =>
          // this JVM's own spill root is live by definition
          pid.toLong != selfPid && (pidAlive(pid.toLong) match {
            case Some(alive) => !alive // certain: dead owner = orphan
            case None        => idleOverAge(entry, nowMs, maxAgeMs)
          })
        case _ => idleOverAge(entry, nowMs, maxAgeMs)
      }
      if (sweepable) {
        val (bytes, _) = sizeAndNewest(entry)
        deleteTree(entry)
        System.err.println(
          f"[disk-guard] reclaimed ${bytes / 1e9}%.2f GB from $entry")
        reclaimed += ((entry.toString, bytes))
      }
    }
    reclaimed.result()
  }

  /** Whole tree idle longer than maxAge; an [[Unknowable]] newest (any
    * enumeration error) is NOT over-age — fresh is the safe direction. */
  private def idleOverAge(entry: Path, nowMs: Long, maxAgeMs: Long): Boolean = {
    val (_, newest) = sizeAndNewest(entry)
    newest > 0 && newest != Unknowable && nowMs - newest > maxAgeMs
  }

  /** Probe/test cleanup entry for engine-owned scratch trees. */
  private[graft] def deleteTreeForTests(p: Path): Unit = deleteTree(p)

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      (try children(p)
       catch { case _: java.io.IOException => Array.empty[Path] })
        .foreach(deleteTree)
    try Files.deleteIfExists(p) catch { case _: java.io.IOException => }
  }

  /** None = enough room; Some(message) = refuse, naming the shortfall. */
  def shortfall(freeBytes: Long, estimateBytes: Long,
                margin: Double = 1.5): Option[String] = {
    val need = (estimateBytes * margin).toLong
    if (freeBytes >= need) None
    else Some(f"estimated scratch ${estimateBytes / 1e9}%.1f GB " +
      f"(x$margin%.1f margin = ${need / 1e9}%.1f GB) exceeds free " +
      f"${freeBytes / 1e9}%.1f GB — short ${(need - freeBytes) / 1e9}%.1f GB; " +
      "free disk or set GRAFT_DISK_GUARD=0 to force")
  }
}
