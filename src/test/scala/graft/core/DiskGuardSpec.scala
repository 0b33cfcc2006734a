package graft.core

import graft.SparkSuite

/** The scratch pre-flight (r12 verdict item 3). The refusal arithmetic
  * is pinned against the two measured calibration points: the sf100
  * pair materialization (~1.25e9 candidates, >56 GB scratch → refused)
  * and the sf30 one (~0.57e9, ~27 GB → allowed on this sandbox). */
class DiskGuardSpec extends SparkSuite {

  test("shortfall: refuses below 1.5x the estimate, allows at it, names the gap") {
    // sf100 calibration: 1.25e9 candidates x 48 B = 60 GB est, 90 GB need
    val est100 = 1249249500L * DiskGuard.BytesPerCandidate
    val msg = DiskGuard.shortfall(freeBytes = 56L * 1000 * 1000 * 1000,
      estimateBytes = est100)
    assert(msg.isDefined && msg.get.contains("GRAFT_DISK_GUARD=0"))
    assert(msg.get.contains("short"))
    // sf30 calibration: 0.569e9 candidates → ~27 GB est, ~41 GB need < 56 free
    val est30 = 568975050L * DiskGuard.BytesPerCandidate
    assert(DiskGuard.shortfall(56L * 1000 * 1000 * 1000, est30).isEmpty)
    // zero estimate (no pair queries, tiny input) never refuses
    assert(DiskGuard.shortfall(1L, 0L).isEmpty)
  }

  test("estimateBytes: pair pre-flight only runs when a pair query is requested") {
    val sf = "/root/testdata/sf0.001"
    val basic = DiskGuard.estimateBytes(spark, sf, Set("q_wordcount"))
    // non-pair estimate is the input footprint alone
    assert(basic === DiskGuard.dirBytes(sf))
    // a pair query adds candidates x 48 B on top (q_dedup_clusters no
    // longer qualifies — class-graph CC materializes no member pairs)
    val pair = DiskGuard.estimateBytes(spark, sf, Set("q_minhash_lsh_pairs"))
    assert(pair > basic)
    assert(DiskGuard.estimateBytes(spark, sf, Set("q_dedup_clusters")) === basic)
  }

  test("usableBytes reports a positive number even for a not-yet-created out dir") {
    assert(DiskGuard.usableBytes("/root/repo/.tmp/does/not/exist/yet") > 0L)
    assert(DiskGuard.usableBytes("/root/repo") > 0L)
  }

  test("janitor sweeps only recognized, fully-idle, over-age scratch — " +
    "generic spark-*/blockmgr-* names in a shared tmp are NOT ours to touch") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("janitor-spec-root")
    def mk(name: String, ageMs: Long, freshChild: Boolean = false): java.nio.file.Path = {
      val d = Files.createDirectory(root.resolve(name))
      val f = Files.writeString(d.resolve("payload"), "x" * 1024)
      val old = FileTime.fromMillis(System.currentTimeMillis() - ageMs)
      Files.setLastModifiedTime(f, old); Files.setLastModifiedTime(d, old)
      if (freshChild) Files.writeString(d.resolve("live"), "y") // fresh mtime
      d
    }
    val day = 24L * 3600 * 1000
    val stale    = mk("graft-soak-dead", 3 * day)          // reclaim
    val fresh    = mk("graft-soak-live", 1000)             // too young
    val active   = mk("graft-ingest-x", 3 * day, freshChild = true) // live file inside
    val foreign  = mk("user-data-precious", 30 * day)      // not our naming
    // r14 ADVICE: another user's (or a live-but-idle JVM's) Spark scratch
    // under generic naming is untouchable regardless of age
    val sparkDir = mk("spark-0123-old", 30 * day)
    val blockmgr = mk("blockmgr-old", 30 * day)

    val swept = DiskGuard.sweepStaleScratch(roots = Seq(root), maxAgeMs = day)
    assert(swept.map(_._1).toSet === Set(stale.toString))
    assert(swept.forall(_._2 >= 1024L), s"reported bytes too small: $swept")
    assert(!Files.exists(stale))
    assert(Files.exists(fresh) && Files.exists(active) && Files.exists(foreign))
    assert(Files.exists(sparkDir) && Files.exists(blockmgr))
    DiskGuard.sweepStaleScratch(roots = Seq(root), maxAgeMs = 0) // cleanup rest is fine
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("janitor pid-ownership: a dead owner's graft-spill is reclaimed even " +
    "when FRESH; a live owner's (this JVM, any other live pid) never, even when old") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    assume(DiskGuard.pidAlive(1L).isDefined, "needs /proc for pid liveness")
    val root = Files.createTempDirectory("janitor-pid-root")
    val day = 24L * 3600 * 1000
    def mk(name: String, ageMs: Long): java.nio.file.Path = {
      val d = Files.createDirectory(root.resolve(name))
      val f = Files.writeString(d.resolve("blockmgr-inner"), "x" * 2048)
      val t = FileTime.fromMillis(System.currentTimeMillis() - ageMs)
      Files.setLastModifiedTime(f, t); Files.setLastModifiedTime(d, t)
      d
    }
    // a pid that is certainly not running
    var deadPid = 99991L
    while (DiskGuard.pidAlive(deadPid).contains(true)) deadPid += 1
    val self = ProcessHandle.current().pid()
    val orphanFresh = mk(s"graft-spill-$deadPid", 0)       // dead owner: reclaim NOW
    val mineOld     = mk(s"graft-spill-$self", 3 * day)    // own pid: never
    // pid 1 is always alive on linux — a live foreign owner, idle 3 days
    val liveOld     = mk("graft-spill-1", 3 * day)
    val swept = DiskGuard.sweepStaleScratch(roots = Seq(root), maxAgeMs = day)
    assert(swept.map(_._1) === Seq(orphanFresh.toString))
    assert(swept.head._2 >= 2048L)
    assert(!Files.exists(orphanFresh))
    assert(Files.exists(mineOld) && Files.exists(liveOld))
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("janitor symlink safety: a cycle inside matched scratch terminates " +
    "(NOFOLLOW) and an enumeration error reads as FRESH, never as empty") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("janitor-link-root")
    val day = 24L * 3600 * 1000
    val d = Files.createDirectory(root.resolve("graft-soak-links"))
    val a = Files.createDirectory(d.resolve("a"))
    // symlink cycle: a/loop -> d (ancestor) — the old follow-links walk
    // recursed here until StackOverflowError
    val loop = Files.createSymbolicLink(a.resolve("loop"), d)
    // and a link pointing OUT of the scratch tree at data that is not
    // ours: deletion must remove the link, never the target
    val victim = Files.createDirectory(root.resolve("user-precious"))
    val victimFile = Files.writeString(victim.resolve("keep"), "k")
    val out = Files.createSymbolicLink(a.resolve("out"), victim)
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3 * day)
    // age everything including the links themselves (NOFOLLOW setTimes)
    Seq(d, a).foreach(p => Files.setLastModifiedTime(p, old))
    Seq(loop, out).foreach(l => Files.getFileAttributeView(l,
        classOf[java.nio.file.attribute.BasicFileAttributeView],
        java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .setTimes(old, null, null))
    val (bytes, newest) = DiskGuard.sizeAndNewest(d) // must terminate
    assert(newest != DiskGuard.Unknowable && bytes >= 0)
    // the fresh victim behind the out-link must not make d look fresh
    // (NOFOLLOW: the link's own aged mtime counts, not the target's)
    val swept = DiskGuard.sweepStaleScratch(roots = Seq(root), maxAgeMs = day)
    assert(swept.map(_._1) === Seq(d.toString))
    assert(!Files.exists(d)) // cycle deleted without recursing
    assert(Files.exists(victim) && Files.exists(victimFile)) // no escape
    Files.deleteIfExists(victimFile); Files.deleteIfExists(victim)
    // error → FRESH sentinel: an unenumerable path must never look idle
    assert(DiskGuard.sizeAndNewest(root.resolve("does-not-exist"))._2
      === DiskGuard.Unknowable)
    Files.deleteIfExists(root)
  }
}
