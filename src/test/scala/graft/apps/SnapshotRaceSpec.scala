package graft.apps

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contract of [[LongSoakMain.snapshotRace]] — the
  * stall-vs-fail classifier that decides whether a dead soak run is
  * retried from its checkpoint (the documented RocksDB
  * stop-vs-maintenance race) or aborts the run. The classifier matches
  * on exception TEXT because Spark raises the race as generic
  * SparkException chains; message text is not API, so these forged
  * chains are the contract (r17 verdict item 2): a Spark upgrade that
  * rewords the message — silently reclassifying the benign race as a
  * hard failure, or worse, a hard failure as benign — fails HERE, in
  * milliseconds, not in a 30-minute soak. */
class SnapshotRaceSpec extends AnyFunSuite with graft.TempDirs {

  private def ex(msg: String, cause: Throwable = null) =
    new RuntimeException(msg, cause)

  test("message-only match: uploadSnapshot in the message text") {
    assert(LongSoakMain.snapshotRace(
      ex("Error committing version 42: uploadSnapshot(/tmp/x/5.zip) failed")))
  }

  test("class-name match: SnapshotUpload in the exception class name") {
    class SnapshotUploadDied extends RuntimeException("file already deleted")
    assert(LongSoakMain.snapshotRace(new SnapshotUploadDied))
  }

  test("RocksDB + snapshot combination matches case-insensitively") {
    assert(LongSoakMain.snapshotRace(
      ex("RocksDB maintenance: could not finalize Snapshot for store 7")))
  }

  test("RocksDB error WITHOUT snapshot context is a hard failure") {
    assert(!LongSoakMain.snapshotRace(
      ex("RocksDB: compaction failed: out of disk")))
    assert(!LongSoakMain.snapshotRace(
      ex("Job aborted due to stage failure: executor lost")))
  }

  test("match found through a nested cause chain") {
    val chain = ex("Query terminated",
      ex("Task failed while writing rows",
        ex("RocksDB: upload snapshot version 12 raced a stop")))
    assert(LongSoakMain.snapshotRace(chain))
  }

  test("self-referential cause terminates (and classifies on content)") {
    val self = new RuntimeException("nothing relevant here") {
      override def getCause: Throwable = this
    }
    assert(!LongSoakMain.snapshotRace(self))
    val selfHit = new RuntimeException("uploadSnapshot raced the stop") {
      override def getCause: Throwable = this
    }
    assert(LongSoakMain.snapshotRace(selfHit))
  }

  test("mutual a->b->a cause cycle terminates via the hop bound") {
    class Node(msg: String) extends RuntimeException(msg) {
      var c: Throwable = _
      override def getCause: Throwable = c
    }
    val a = new Node("stage failure")
    val b = new Node("task failure")
    a.c = b; b.c = a
    assert(!LongSoakMain.snapshotRace(a))
  }

  test("hop bound: a match within 16 hops is seen, past 16 is not") {
    def wrapped(depth: Int): Throwable = {
      var t: Throwable = ex("RocksDB snapshot upload interrupted")
      (1 to depth).foreach(i => t = ex(s"wrapper layer $i", t))
      t
    }
    assert(LongSoakMain.snapshotRace(wrapped(10)))
    // Documented bound: a race buried deeper than 16 causes classifies
    // as a hard failure — acceptable (real Spark chains are 3-5 deep),
    // and pinned here so a future bound change is a conscious edit.
    assert(!LongSoakMain.snapshotRace(wrapped(20)))
  }

  test("null message does not throw and does not match") {
    assert(!LongSoakMain.snapshotRace(new RuntimeException(null: String)))
  }

  test("zipCountByPartition counts snapshot zips per numeric partition dir") {
    val root = java.nio.file.Path.of(tempDir("graft-zipcount"))
    def touch(parts: String*): Unit = {
      val p = java.nio.file.Path.of(root.toString, parts: _*)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, "x"): Unit
    }
    // p0: two zips (one nested), a changelog, an sst; p3: changelogs only;
    // a non-numeric dir and a stray file are ignored
    touch("0", "5.zip"); touch("0", "sub", "9.zip")
    touch("0", "7.changelog"); touch("0", "001.sst")
    touch("3", "1.changelog"); touch("3", "2.changelog")
    touch("_metadata", "x.zip"); touch("stray.zip")
    assert(StarvedSoakMain.zipCountByPartition(root.toString) ===
      Map(0 -> 2L, 3 -> 0L))
    // missing dir → empty, not an error
    assert(StarvedSoakMain.zipCountByPartition(
      root.toString + "/does-not-exist").isEmpty)
  }
}
