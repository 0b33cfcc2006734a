package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Perceptual image near-dup: the BMP decode path, dHash invariants
  * (brightness-shift invariance is the property that separates it from
  * byte-exact dedup), and the banded pairing's exactness for
  * hamming ≤ bands−1. */
class ImageDedupSpec extends SparkSuite {
  import spark.implicits._

  /** A deterministic structured test image: smooth horizontal gradient
    * plus a seeded blob pattern — NOT flat (flat images hash to 0). */
  private def grid(w: Int, h: Int, seed: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val v = (x * 5 + y * 3 + ((x * 31 + y * 17 + seed) * 2654435761L >>> 28).toInt) % 200
      16 + v
    }

  test("BMP pack/decode round-trip preserves gray values; corrupt bytes quarantine") {
    val g = grid(36, 32, 1)
    val bmp = ImageDedup.packBmpGray24(36, 32, g)
    val Some((w, h, lum)) = ImageDedup.decodeBmpGray(bmp)
    assert(w === 36 && h === 32)
    // gray pixels: luminance(v,v,v) = (77+151+28)v >> 8 = v exactly
    assert(lum.toSeq === g.toSeq)
    assert(ImageDedup.decodeBmpGray(Array[Byte](1, 2, 3)) === None)
    assert(ImageDedup.decodeBmpGray(bmp.take(60)) === None, "truncated pixel array")
    val compressed = bmp.clone(); compressed(30) = 1 // BI_RLE8
    assert(ImageDedup.decodeBmpGray(compressed) === None, "compressed BMPs refused")
    // hostile width ~2^30: Int products (rowBytes, width*height) wrap
    // negative, which would pass the size check and then crash/OOM on
    // allocation — the header must quarantine to None instead
    def w32(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = v.toByte; a(o + 1) = (v >> 8).toByte
      a(o + 2) = (v >> 16).toByte; a(o + 3) = (v >> 24).toByte
    }
    val wide = bmp.clone(); w32(wide, 18, 1 << 30)
    assert(ImageDedup.decodeBmpGray(wide) === None,
      "2^30-wide header must quarantine, not overflow-allocate")
    val square = bmp.clone(); w32(square, 18, 1 << 16); w32(square, 22, 1 << 16)
    assert(ImageDedup.decodeBmpGray(square) === None,
      "2^32-pixel header must quarantine, not overflow-allocate")
  }

  test("dHash: invariant under uniform brightness shift; sensitive to content change") {
    val g = grid(36, 32, 2)
    val h0 = ImageDedup.dhashFromGray(36, 32, g)
    val shifted = g.map(_ + 20) // no clamp: values stay < 256
    assert(ImageDedup.dhashFromGray(36, 32, shifted) === h0,
      "a uniform brightness shift must not move a single bit")
    val other = grid(36, 32, 99)
    val hOther = ImageDedup.dhashFromGray(36, 32, other)
    assert(java.lang.Long.bitCount(h0 ^ hOther) > 3,
      "a different image must land far in Hamming space")
    // and the shift DOES change the bytes — byte-exact dedup misses it
    val b0 = ImageDedup.packBmpGray24(36, 32, g)
    val b1 = ImageDedup.packBmpGray24(36, 32, shifted)
    assert(!java.util.Arrays.equals(b0, b1))
  }

  test("decode handles top-down (negative height) and 8 bpp layouts") {
    val g = grid(18, 16, 3)
    val bottomUp = ImageDedup.packBmpGray24(18, 16, g)
    // flip to top-down: negate height and reverse the stored row order
    val topDown = bottomUp.clone()
    val rowBytes = (18 * 3 + 3) & ~3
    topDown(22) = (-16 & 0xff).toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    for (r <- 0 until 16; b <- 0 until rowBytes)
      topDown(54 + r * rowBytes + b) = bottomUp(54 + (15 - r) * rowBytes + b)
    val Some((_, _, lumUp)) = ImageDedup.decodeBmpGray(bottomUp)
    val Some((_, _, lumDown)) = ImageDedup.decodeBmpGray(topDown)
    assert(lumUp.toSeq === lumDown.toSeq, "orientation must not change the grid")
    // 8 bpp: header says 8 bpp, one byte per pixel, 4-byte-padded rows
    val w8 = 18; val rb8 = (w8 + 3) & ~3
    val bmp8 = new Array[Byte](54 + rb8 * 16)
    System.arraycopy(bottomUp, 0, bmp8, 0, 54)
    bmp8(28) = 8
    def w32(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = v.toByte; a(o + 1) = (v >> 8).toByte
      a(o + 2) = (v >> 16).toByte; a(o + 3) = (v >> 24).toByte
    }
    w32(bmp8, 2, bmp8.length); w32(bmp8, 22, 16); w32(bmp8, 34, rb8 * 16)
    for (y <- 0 until 16; x <- 0 until w8)
      bmp8(54 + (15 - y) * rb8 + x) = g(y * w8 + x).toByte
    val Some((_, _, lum8)) = ImageDedup.decodeBmpGray(bmp8)
    assert(lum8.toSeq === g.toSeq, "8 bpp index-as-gray decode")
  }

  test("bandedHammingPairs: exact for hamming <= bands-1 (brute-force cross-check)") {
    val rnd = new scala.util.Random(20260813L)
    // seeded hash population with planted near-neighbors: pairs at
    // hamming 1..3 plus background noise
    val base = Seq.fill(60)(rnd.nextLong())
    val hashes = base.zipWithIndex.flatMap { case (h, i) =>
      val mutated = (1 to (i % 4)).foldLeft(h) { (x, k) =>
        x ^ (1L << ((i * 7 + k * 13) % 64))
      }
      Seq((i.toLong * 2, h), (i.toLong * 2 + 1, mutated))
    }
    val df = hashes.toDF("doc_id", "dhash")
    val got = ImageDedup.bandedHammingPairs(df, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got === brute,
      "banding must have FULL recall for hamming <= bands-1 (pigeonhole)")
  }

  test("bandedHammingPairs: maxBucket drops pairs whose only shared band " +
    "is oversized (the sf10 audio-oracle divergence, pinned)") {
    // band 0 (bits 0..15) value 0x1111 is shared by all five hashes →
    // bucket size 5 > maxBucket 3 → that bucket contributes nothing.
    val a = (0x2222L << 16) | 0x1111L            // bands 1..3 = 0x2222,0,0
    val b = a ^ (1L << 40)                       // hamming 1; shares bands 0,1,3
    val c = (0x7777L << 48) | (0x3333L << 32) | (0x4444L << 16) | 0x1111L
    val d = c ^ (1L << 20) ^ (1L << 40) ^ (1L << 60) // hamming 3, one bit in
                                                 // each of bands 1,2,3 → the
                                                 // ONLY shared band is band 0
    val e = (0x5A5AL << 48) | (0x9999L << 32) | (0x6666L << 16) | 0x1111L
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, d), (5L, e))
      .toDF("doc_id", "dhash")
    val capped = ImageDedup.bandedHammingPairs(df, maxHamming = 3, maxBucket = 3)
      .as[(Long, Long, Int)].collect().toSet
    // (1,2) survives via its size-2 band-1/band-3 buckets; (3,4) is a true
    // hamming-3 near-dup but its only shared band is the oversized one
    assert(capped === Set((1L, 2L, 1)),
      "pair routed only through an over-cap bucket must drop")
    // with the cap lifted the same corpus yields both pairs — the drop
    // above is the skew guard's doing, not a recall hole in the banding
    val uncapped = ImageDedup.bandedHammingPairs(df, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped === Set((1L, 2L, 1), (3L, 4L, 3)))
  }

  test("incrementalImageNearDup: store and within-batch collisions gate; " +
    "undecodable payloads pass; sink replay is idempotent") {
    def img(seed: Int, shift: Int = 0): Array[Byte] =
      ImageDedup.packBmpGray24(36, 32, grid(36, 32, seed).map(_ + shift))
    // store knows image A; the batch carries a brightness-shifted copy
    // of A (near-dup: same dHash), an in-batch near-dup pair (C, C'),
    // a fresh image D, and an undecodable payload E
    val storeImgs = Seq((0L, img(1))).toDF("doc_id", "payload")
    val store = ImageDedup.imageBandKeys(spark, storeImgs)
      .select("bkey").distinct()
    val batch = Seq(
      (10L, img(1, shift = 9)),          // perceptual dup of stored A
      (11L, img(5)), (12L, img(5, shift = 4)), // in-batch pair: 12 drops
      (13L, img(7)),                     // fresh content
      (14L, Array[Byte](1, 2, 3))        // undecodable: no bands, kept
    ).toDF("doc_id", "payload")
    val kept = ImageDedup.incrementalImageNearDup(spark, batch, store)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(11L, 13L, 14L))
    // cross-run: append the batch's keys, re-run → only the bandless
    // payload survives the gate again
    val store2 = store.union(ImageDedup.imageBandKeys(spark, batch)
      .select("bkey")).distinct()
    val kept2 = ImageDedup.incrementalImageNearDup(spark, batch, store2)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept2 === Seq(14L))
    // sink shape: two foreachBatch invocations against a fresh store
    // dir; batch 2 re-offers A's shifted copy → rejected via the store
    val out = tempDir("imgsink")
    ImageDedup.incrementalImageSink(out)(storeImgs, 0L)
    ImageDedup.incrementalImageSink(out)(batch, 1L)
    val keptSink = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptSink === Seq(0L, 11L, 13L, 14L))
    // replay batch 1 (failure-recovery path): same result, no dup state
    ImageDedup.incrementalImageSink(out)(batch, 1L)
    val replay = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(replay === keptSink, "foreachBatch replay must be idempotent")
    // the image store compacts with the TEXT store's maintenance job —
    // same (bkey, batch) layout, same set-membership semantics
    val dest = tempDir("imgstore")
    val (before, after) = graft.dedup.Dedup.compactBandStore(
      spark, s"$out/store", dest)
    assert(after <= before && after > 0)
    val gateCompact = ImageDedup.incrementalImageNearDup(spark, batch,
        spark.read.parquet(dest).select("bkey"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(gateCompact === Seq(14L), "compacted store gates identically")
  }

  test("end to end on documents: every planted shifted copy found at hamming 0; " +
    "byte-exact dedup sees none of them") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val imgs = ImageDedup.synthDocImages(docs).localCheckpoint()
    val pairs = ImageDedup.bandedHammingPairs(
      ImageDedup.imageDhash(spark, imgs)).collect()
    val expectedCopies = docs.filter(col("doc_id") % 7 === 0).count()
    val planted = pairs.filter(r =>
      r.getLong(1) - r.getLong(0) === (1L << 40))
    assert(planted.length.toLong === expectedCopies, "every shifted copy caught")
    assert(planted.forall(_.getInt(2) === 0), "shift-invariance: hamming 0")
    // byte-exact dedup over the same payloads: zero cross-copy hits
    val exact = imgs.groupBy(xxhash64(col("payload")).as("h"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    assert(exact.count() === 0,
      "the shifted copies are byte-distinct — only the perceptual hash pairs them")
  }
}
