package graft.multimodal

import graft.SparkSuite

/** Video near-dup: container → frame dHash plumbing, re-encode/trim
  * detection, shared-frame set semantics, and the skew guard. */
class VideoDedupSpec extends SparkSuite {
  import spark.implicits._

  private def grid(seed: Int): Array[Int] =
    Array.tabulate(36 * 32) { i =>
      val x = i % 36; val y = i / 36
      16 + (x * 5 + y * 3 + ((x * 31 + y * 17 + seed) * 2654435761L >>> 28).toInt) % 200
    }

  private def clip(seeds: Seq[Int], delta: Int = 0): Array[Byte] =
    Multimodal.FrameContainer.packContainer(
      seeds.map(s => ImageDedup.packBmpGray24(36, 32, grid(s).map(_ + delta))))

  test("videoFrameHashes: per-frame hashes; re-encode identical, trim is a subset; corrupt drops") {
    val videos = Seq(
      (1L, clip(Seq(1, 2, 3, 4))),
      (2L, clip(Seq(1, 2, 3, 4), delta = 12)),  // re-encode: all frames shift
      (3L, clip(Seq(2, 3, 4))),                 // trimmed: first frame gone
      (4L, Array[Byte](9, 9, 9))                // corrupt container
    ).toDF("doc_id", "payload")
    val h = VideoDedup.videoFrameHashes(spark, videos)
      .as[(Long, Int, Long)].collect()
    val byDoc = h.groupBy(_._1).view.mapValues(_.map(x => x._3).toSet).toMap
    assert(!byDoc.contains(4L), "corrupt containers contribute nothing")
    assert(byDoc(1L) === byDoc(2L), "re-encoded clip has identical frame hashes")
    assert(byDoc(3L).subsetOf(byDoc(1L)) && byDoc(3L).size === 3)
  }

  test("videoSharedFrames: set semantics, min-shared filter, flat-frame cap guard") {
    // clips as raw (doc, hash) frames: doc 1 {A,A,B,C} (dup frame counts
    // once), doc 2 {B,C,D}, doc 3 {C}, docs 4..9 all share flat hash F
    val rows = Seq(
      (1L, 0, 100L), (1L, 1, 100L), (1L, 2, 200L), (1L, 3, 300L),
      (2L, 0, 200L), (2L, 1, 300L), (2L, 2, 400L),
      (3L, 0, 300L)) ++
      (4L to 9L).map(d => (d, 0, 999L))
    val fh = rows.toDF("doc_id", "frame_id", "dhash")
    val got = VideoDedup.videoSharedFrames(fh, minShared = 2, maxBucket = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // only (1,2) shares >= 2 distinct hashes: {B,C}; n_1 = 3 (set!), n_2 = 3
    assert(got === Set((1L, 2L, 2L, 3L, 3L)))
    // the flat hash 999 is shared by 6 > maxBucket 5 clips → contributes
    // no pairs (otherwise 15 pairs would appear)
    val flatPairs = VideoDedup.videoSharedFrames(fh, minShared = 1, maxBucket = 5)
      .filter("doc_a >= 4").count()
    assert(flatPairs === 0L)
    // the maxBucket contract is pinned: above 10^4 the C(maxBucket,2)
    // per-hot-hash reducer bound is gone, so the call must refuse
    intercept[IllegalArgumentException] {
      VideoDedup.videoSharedFrames(fh, minShared = 2, maxBucket = 100000)
    }
  }

  test("incrementalVideoNearDup: containment threshold — one shared frame keeps, " +
    "half shared drops; corrupt passes; sink replay idempotent") {
    val store = VideoDedup.videoFrameStoreKeys(spark,
        Seq((0L, clip(Seq(1, 2, 3, 4)))).toDF("doc_id", "payload"))
      .select("fhash").distinct()
    val batch = Seq(
      (10L, clip(Seq(1, 2, 3, 4), delta = 6)), // re-encode: 4/4 seen → drop
      (11L, clip(Seq(3, 4, 30, 31))),          // 2/4 seen = threshold → drop
      (12L, clip(Seq(4, 40, 41, 42))),         // 1/4 < 1/2 → KEPT (the intro-frame case)
      (13L, clip(Seq(50, 51, 52, 53))),        // fresh → kept
      (14L, Array[Byte](1, 2, 3))              // corrupt: no frames, kept
    ).toDF("doc_id", "payload")
    val kept = VideoDedup.incrementalVideoNearDup(spark, batch, store)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(12L, 13L, 14L))
    // within-batch: an earlier-id clip's frames count as seen — a full
    // in-batch re-encode of 13 drops even with an empty store
    val emptyStore = store.filter("1 = 0")
    val batch2 = Seq(
      (13L, clip(Seq(50, 51, 52, 53))),
      (20L, clip(Seq(50, 51, 52, 53), delta = 9))
    ).toDF("doc_id", "payload")
    val kept2 = VideoDedup.incrementalVideoNearDup(spark, batch2, emptyStore)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept2 === Seq(13L))
    // sink: batch 0 seeds the store, batch 1 gates against it; replay
    // of batch 1 is idempotent
    val out = tempDir("vidsink")
    VideoDedup.incrementalVideoSink(out)(
      Seq((0L, clip(Seq(1, 2, 3, 4)))).toDF("doc_id", "payload"), 0L)
    VideoDedup.incrementalVideoSink(out)(batch, 1L)
    val keptSink = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptSink === Seq(0L, 12L, 13L, 14L))
    VideoDedup.incrementalVideoSink(out)(batch, 1L)
    val replay = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(replay === keptSink, "foreachBatch replay must be idempotent")
  }

  test("end to end on documents: re-encodes share ALL frames, trims share n-1") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val vids = VideoDedup.synthDocVideos(docs)
    val pairs = VideoDedup.videoSharedFrames(
        VideoDedup.videoFrameHashes(spark, vids))
      .as[(Long, Long, Long, Long, Long)].collect()
    val planted = pairs.filter(p => p._2 - p._1 === (1L << 42)).toSeq
    val reenc = planted.filter(p => p._1 % 7 === 0)
    val trims = planted.filter(p => p._1 % 7 === 1)
    assert(reenc.nonEmpty && reenc.forall(p => p._3 === p._4 && p._3 === p._5),
      s"re-encode must share its full frame set: $reenc")
    assert(trims.nonEmpty && trims.forall(p => p._3 === p._4 - 1 && p._5 === p._4 - 1),
      s"trimmed copy shares n-1 of n frames: $trims")
  }
}
