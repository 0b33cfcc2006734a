package graft.multimodal

import graft.SparkSuite

/** Audio energy-envelope fingerprinting: the RIFF chunk walker (odd
  * chunk orders, padding, stereo mixing), the volume-scaling invariance
  * that separates it from byte-exact dedup, and pairing through the
  * shared banded-Hamming machinery. */
class AudioDedupSpec extends SparkSuite {
  import spark.implicits._

  /** Structured non-flat sample stream, |s| ≤ 16384 so ×2 never clips. */
  private def tone(seed: Int, n: Int = 1040): Array[Int] =
    Array.tabulate(n) { i =>
      (((i * 37 + seed * 101) % 127) - 64) * 256
    }

  test("WAV pack/decode round-trip; chunk walker handles reordered and junk chunks") {
    val s = tone(1)
    val wav = AudioDedup.packWavPcm16(8000, s)
    val Some((ch, rate, got)) = AudioDedup.decodeWavPcm16(wav)
    assert(ch === 1 && rate === 8000 && got.toSeq === s.toSeq)
    // the canonical pack also satisfies the fixed-offset header sniff
    assert(Multimodal.MediaHeaders.sniff(wav).exists(_.format == "wav"))
    // rebuild with a JUNK chunk BEFORE fmt — the walker must still find
    // fmt/data while the fixed-offset sniff gives up (documented gap)
    val junk = Array[Byte]('J', 'U', 'N', 'K', 4, 0, 0, 0, 9, 9, 9, 9)
    val reordered = wav.take(12) ++ junk ++ wav.drop(12)
    // fix RIFF size
    val sz = reordered.length - 8
    reordered(4) = sz.toByte; reordered(5) = (sz >> 8).toByte
    reordered(6) = (sz >> 16).toByte; reordered(7) = (sz >> 24).toByte
    val Some((_, _, got2)) = AudioDedup.decodeWavPcm16(reordered)
    assert(got2.toSeq === s.toSeq, "chunk walker must skip junk chunks")
    assert(Multimodal.MediaHeaders.sniff(reordered).isEmpty)
    assert(AudioDedup.decodeWavPcm16(wav.take(30)) === None, "truncated")
    assert(AudioDedup.decodeWavPcm16(Array[Byte](1, 2, 3)) === None)
    // hostile chunk length near Int.MaxValue: Int arithmetic would wrap
    // `off + 8 + len` negative, slip past the bounds check, and crash the
    // task — the quarantine contract demands None, not a throw
    val hostile = wav.clone()
    val evil = Int.MaxValue - 4
    hostile(16) = evil.toByte; hostile(17) = (evil >> 8).toByte
    hostile(18) = (evil >> 16).toByte; hostile(19) = (evil >> 24).toByte
    assert(AudioDedup.decodeWavPcm16(hostile) === None,
      "near-Int.MaxValue chunk length must quarantine, not overflow")
  }

  test("fingerprint: invariant under exact volume doubling; sensitive to content") {
    val s = tone(2)
    val f0 = AudioDedup.fingerprintFromSamples(s)
    assert(AudioDedup.fingerprintFromSamples(s.map(_ * 2)) === f0,
      "volume scaling preserves every energy-gradient sign")
    val other = AudioDedup.fingerprintFromSamples(tone(77))
    assert(java.lang.Long.bitCount(f0 ^ other) > 3,
      "different content lands far in Hamming space")
    // and the scaled bytes differ everywhere non-zero — byte dedup blind
    assert(!java.util.Arrays.equals(
      AudioDedup.packWavPcm16(8000, s),
      AudioDedup.packWavPcm16(8000, s.map(_ * 2))))
  }

  test("stereo mixes (l+r)/2 floor-div; fingerprint matches the mono mix") {
    val mono = tone(3)
    // interleave a stereo stream whose channels differ by ±1 so the mix
    // exercises floorDiv on odd sums (including negatives)
    val stereo = new Array[Int](mono.length * 2)
    mono.zipWithIndex.foreach { case (s, i) =>
      stereo(2 * i) = s + 1; stereo(2 * i + 1) = s - 2
    }
    // hand-pack a stereo WAV (packWavPcm16 is mono-only by design)
    val dLen = stereo.length * 2
    val out = new Array[Byte](44 + dLen)
    System.arraycopy(AudioDedup.packWavPcm16(8000, mono), 0, out, 0, 44)
    out(22) = 2 // channels
    def w32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    w32(4, 36 + dLen); w32(28, 8000 * 4); out(32) = 4; w32(40, dLen)
    stereo.zipWithIndex.foreach { case (s, i) =>
      out(44 + 2 * i) = s.toByte; out(45 + 2 * i) = (s >> 8).toByte
    }
    val Some((ch, _, mixed)) = AudioDedup.decodeWavPcm16(out)
    assert(ch === 2)
    val expect = mono.map(s => Math.floorDiv((s + 1) + (s - 2), 2))
    assert(mixed.toSeq === expect.toSeq)
  }

  test("incrementalAudioNearDup: volume copies gate via the store; undecodable passes; " +
    "sink + text-store compaction reuse") {
    def wav(seed: Int, factor: Int = 1): Array[Byte] =
      AudioDedup.packWavPcm16(8000, tone(seed).map(_ * factor))
    val storeAudio = Seq((0L, wav(1))).toDF("doc_id", "payload")
    val store = AudioDedup.audioBandKeys(spark, storeAudio)
      .select("bkey").distinct()
    val batch = Seq(
      (10L, wav(1, factor = 2)),   // volume-doubled copy of stored clip
      (11L, wav(5)),               // fresh content
      (12L, Array[Byte](9, 9))     // undecodable: no bands, kept
    ).toDF("doc_id", "payload")
    val kept = AudioDedup.incrementalAudioNearDup(spark, batch, store)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(11L, 12L))
    // sink round trip + the TEXT store compaction job on the audio store
    val out = tempDir("audsink")
    AudioDedup.incrementalAudioSink(out)(storeAudio, 0L)
    AudioDedup.incrementalAudioSink(out)(batch, 1L)
    val keptSink = spark.read.parquet(s"$out/data")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptSink === Seq(0L, 11L, 12L))
    val dest = tempDir("audstore")
    val (before, after) = graft.dedup.Dedup.compactBandStore(
      spark, s"$out/store", dest)
    assert(after <= before && after > 0)
    val gateCompact = AudioDedup.incrementalAudioNearDup(spark, batch,
        spark.read.parquet(dest).select("bkey"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(gateCompact === Seq(12L), "compacted store gates identically")
  }

  test("end to end on documents: volume-doubled copies pair at hamming 0 via the shared banding") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val audio = AudioDedup.synthDocAudio(docs).localCheckpoint()
    val pairs = ImageDedup.bandedHammingPairs(
      AudioDedup.audioFingerprints(spark, audio)).collect()
    val copies = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 5 === 0).count()
    val planted = pairs.filter(r => r.getLong(1) - r.getLong(0) === (1L << 41))
    assert(planted.length.toLong === copies, "every volume copy caught")
    assert(planted.forall(_.getInt(2) === 0))
  }
}
