package graft.suite

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.multimodal.Multimodal
import graft.suite.Scaling.Pairs
import graft.suite.Shared.LshMaxBucket

/** Multimodal columns: decoded media metadata and frames, and
  * perceptual near-dup for images, audio and video over corpora
  * synthesized from `documents`. */
private[suite] object MultimodalQueries {

  /** q_frame_sample frames per clip. */
  private val FrameCount = 4

  /** q_image_* knobs, also read by the video synth. 36×32 divides exactly
    * into the 9×8 dHash grid (16-pixel boxes); the +8 shift can never
    * clamp because synth pixels live in [32, 223]. */
  private val ImgW = 36
  private val ImgH = 32
  // The generalized video-oracle cell sampling (generate_series over
  // ImgW/9 × ImgH/8 cells, k // (ImgW/9) row math) is only equivalent
  // to ImageDedup.dhashFromGray's variable-width boxes when the grid
  // divides exactly — pin the invariant so a future resize can't
  // silently diverge oracle from implementation.
  require(ImgW % 9 == 0 && ImgH % 8 == 0,
    s"dHash oracle assumes exact 9x8 grid division: ${ImgW}x$ImgH")
  private val ImgShiftEvery = 7
  private val ImgShiftDelta = 8
  private val ImgCopyOffset = 1L << 40
  private val ImgMaxHamming = 3

  /** q_audio_* knobs: 65 windows × 16 samples; sample = (ascii − 64)·256·factor, so
    * the ×2 volume copy stays inside int16 and is integer-exact. */
  private val AudioWindows = 65
  private val AudioPerWindow = 16
  private val AudioScaleEvery = 5
  private val AudioCopyOffset = 1L << 41

  /** q_video_* knobs. Frame f
    * indexes doc bytes by f·997 + p (997 coprime to the 36×32 frame,
    * decorrelating frames); mod-7 residue 0 plants a full re-encode,
    * residue 1 a first-frame-trimmed copy. The incremental gate drops
    * a clip when ≥ 1/2 of its distinct frame hashes are seen. */
  private val VideoFrames = 4
  private val VideoCopyOffset = 1L << 42
  private val VideoMinShared = 2
  private val VideoGateNum = 1
  private val VideoGateDen = 2

  /** Shared oracle CTEs for the video queries: synth containers (base +
    * re-encode + trimmed copies) → per-frame cells/signs → per-frame
    * (hi, lo) hash → distinct (clip, hash) set. */
  private def videoHashCtes: String =
    s"""vimgs AS (
       |  SELECT doc_id, text, 0 AS delta, 0 AS f0 FROM documents
       |  UNION ALL
       |  SELECT doc_id + $VideoCopyOffset, text, $ImgShiftDelta, 0
       |  FROM documents WHERE doc_id % $ImgShiftEvery = 0
       |  UNION ALL
       |  SELECT doc_id + $VideoCopyOffset, text, 0, 1
       |  FROM documents WHERE doc_id % $ImgShiftEvery = 1),
       |vcells AS (
       |  SELECT doc_id, f, c // 9 AS gy, c % 9 AS gx,
       |         (list_sum(list_transform(generate_series(0, ${ImgW / 9 * ImgH / 8 - 1}), k ->
       |            32 + delta + (CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((f * 997 + (((c // 9) * ${ImgH / 8} + k // ${ImgW / 9}) * $ImgW
       |                  + (c % 9) * ${ImgW / 9} + (k % ${ImgW / 9})))
       |                 % length(text)) + 1, 1)) % 192 END))))
       |           // ${ImgW / 9 * ImgH / 8} AS cell
       |  FROM vimgs,
       |       unnest(generate_series(0, ${VideoFrames - 1})) AS uf(f),
       |       unnest(generate_series(0, 71)) AS u(c)
       |  WHERE f >= f0),
       |vsigns AS (
       |  SELECT doc_id, f, gy * 8 + gx AS bit,
       |         (cell < lead(cell) OVER (PARTITION BY doc_id, f, gy ORDER BY gx)) AS sign
       |  FROM vcells QUALIFY gx < 8),
       |vh AS (
       |  SELECT doc_id, f,
       |         coalesce(sum(CASE WHEN sign AND bit >= 32
       |                           THEN 1::BIGINT << (bit - 32) ELSE 0 END), 0) AS hi,
       |         coalesce(sum(CASE WHEN sign AND bit < 32
       |                           THEN 1::BIGINT << bit ELSE 0 END), 0) AS lo
       |  FROM vsigns GROUP BY doc_id, f),
       |vhd AS (SELECT DISTINCT doc_id, hi, lo FROM vh)""".stripMargin

  /** Shared oracle CTEs for the image queries: synth corpus (base +
    * brightness-shifted copies) → 9×8 box-average cells → gradient sign
    * per adjacent cell pair. Shared by q_image_neardup and q_image_dhash
    * so the pixel-spec reimplementation cannot fork. */
  private def imageSignsCtes: String =
    s"""imgs AS (
       |  SELECT doc_id, text, 0 AS delta FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ImgCopyOffset, text, $ImgShiftDelta FROM documents
       |  WHERE doc_id % $ImgShiftEvery = 0),
       |cells AS (
       |  SELECT doc_id, c // 9 AS gy, c % 9 AS gx,
       |         (list_sum(list_transform(generate_series(0, ${ImgW / 9 * ImgH / 8 - 1}), k ->
       |            32 + delta + (CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((((c // 9) * ${ImgH / 8} + k // ${ImgW / 9}) * $ImgW
       |                  + (c % 9) * ${ImgW / 9} + (k % ${ImgW / 9}))
       |                 % length(text)) + 1, 1)) % 192 END))))
       |           // ${ImgW / 9 * ImgH / 8} AS cell
       |  FROM imgs, unnest(generate_series(0, 71)) AS u(c)),
       |signs AS (
       |  SELECT doc_id, gy, gx,
       |         (cell < lead(cell) OVER (PARTITION BY doc_id, gy ORDER BY gx)) AS sign
       |  FROM cells QUALIFY gx < 8)""".stripMargin

  /** Shared oracle CTEs for the audio queries: synth corpus (base +
    * volume-doubled copies) → per-window energy sums → gradient sign
    * per adjacent window. The sample expression is written ONCE here
    * and squared by self-multiplication (DuckDB lambdas have no cheap
    * local binding). */
  private def audioSignsCtes: String = {
    val sample = s"""((CASE WHEN length(text) = 0 THEN 0 ELSE
       |              ascii(substring(text,
       |                ((w * $AudioPerWindow + k) % length(text)) + 1, 1)) - 64
       |              END) * 256 * factor)::BIGINT""".stripMargin
    s"""aimgs AS (
       |  SELECT doc_id, text, 1 AS factor FROM documents
       |  UNION ALL
       |  SELECT doc_id + $AudioCopyOffset, text, 2 FROM documents
       |  WHERE doc_id % $AudioScaleEvery = 0),
       |aen AS (
       |  SELECT doc_id, w,
       |         list_sum(list_transform(generate_series(0, ${AudioPerWindow - 1}), k ->
       |           ($sample) * ($sample))) AS e
       |  FROM aimgs, unnest(generate_series(0, ${AudioWindows - 1})) AS u(w)),
       |asigns AS (
       |  SELECT doc_id, w AS bit,
       |         (e < lead(e) OVER (PARTITION BY doc_id ORDER BY w)) AS sign
       |  FROM aen QUALIFY w < 64)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q_multimodal_meta", (s, d) =>
      Multimodal.metaOnly(Tables.documents(s, d)),
      """SELECT doc_id, cast(octet_length(encode(text)) AS bigint) AS n_bytes,
        |       source AS origin, lang AS lang_hint
        |FROM documents""".stripMargin),
    Query("q_multimodal_decode", (s, d) =>
      Multimodal.decodeFeatures(s, Tables.documents(s, d)).toDF(),
      """SELECT doc_id,
        |       cast(octet_length(encode(text)) AS int) AS n_bytes,
        |       cast(coalesce(list_sum(list_transform(generate_series(1, length(text)), i -> ascii(substring(text, i, 1)))), 0) AS bigint) AS checksum,
        |       (CASE WHEN length(text) > 0 THEN cast(ascii(substring(text, 1, 1)) AS double)/255.0 ELSE 0.0 END) AS feat0,
        |       (CASE WHEN length(text) > 1 THEN cast(ascii(substring(text, 2, 1)) AS double)/255.0 ELSE 0.0 END) AS feat1
        |FROM documents""".stripMargin),
    Query("q_frame_sample", (s, d) =>
      Multimodal.frameSample(s, Tables.documents(s, d), nFrames = FrameCount).toDF(),
      // text is single-byte ascii, so character slicing == byte slicing
      s"""WITH f AS (SELECT doc_id, text, length(text) AS len,
        |                  unnest(generate_series(0, ${FrameCount - 1})) AS frame_id
        |           FROM documents),
        |s AS (SELECT doc_id, cast(frame_id AS int) AS frame_id,
        |             (frame_id * len) // $FrameCount AS st, ((frame_id + 1) * len) // $FrameCount AS en, text
        |      FROM f)
        |SELECT doc_id, frame_id, cast(en - st AS int) AS n_bytes,
        |       cast(coalesce(list_sum(list_transform(generate_series(st + 1, en),
        |              i -> ascii(substring(text, i, 1)))), 0) AS bigint) AS checksum
        |FROM s""".stripMargin),
    // perceptual image near-dup: synth BMP corpus off the documents
    // table (+ planted brightness-shifted copies), decode → dHash →
    // banded Hamming pairs; with maxHamming < bands the banding is
    // EXACT (pigeonhole), so the oracle is the plain all-pairs rule
    // recomputed from the pixel spec in SQL
    Query("q_image_neardup", (s, d) =>
      graft.multimodal.ImageDedup.bandedHammingPairs(
        graft.multimodal.ImageDedup.imageDhash(s,
          graft.multimodal.ImageDedup.synthDocImages(
            Tables.documents(s, d), width = ImgW, height = ImgH,
            shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
            copyOffset = ImgCopyOffset)),
        maxHamming = ImgMaxHamming),
      // independent dHash reimplementation from the PIXEL SPEC (not the
      // BMP bytes): pixel p of doc = 32 + delta + (ascii(text[p mod len])
      // mod 192) over a ${ImgW}x${ImgH} row-major grid; 9x8 box averages
      // (integer floor); gradient sign per adjacent cell pair; pair
      // hamming = differing signs. Banding is lossless for h <= maxHamming
      // (pigeonhole), and the maxBucket guard — part of the operator's
      // contract, same as q_audio_neardup — is modeled explicitly: hash
      // bit = gy*8+gx, so band b = rows {2b, 2b+1}. text is single-byte
      // ascii (same assumption as q_multimodal_decode), so character
      // indexing == byte indexing.
      s"""WITH $imageSignsCtes,
         |ibands AS (SELECT doc_id, gy // 2 AS b,
         |                  sum(CASE WHEN sign
         |                           THEN 1::BIGINT << ((gy % 2) * 8 + gx)
         |                           ELSE 0 END) AS v
         |           FROM signs GROUP BY doc_id, gy // 2),
         |okb AS (SELECT b, v FROM ibands GROUP BY b, v
         |        HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ibands a JOIN ibands b ON a.b = b.b AND a.v = b.v
         |    AND a.doc_id < b.doc_id
         |  JOIN okb k ON k.b = a.b AND k.v = a.v),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         sum(CASE WHEN a.sign != b.sign THEN 1 ELSE 0 END) AS h
         |  FROM cand c
         |  JOIN signs a ON a.doc_id = c.doc_a
         |  JOIN signs b ON b.doc_id = c.doc_b
         |    AND b.gy = a.gy AND b.gx = a.gx
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(h AS int) AS hamming
         |FROM pairs WHERE h <= $ImgMaxHamming""".stripMargin, scaling = Pairs),
    // the per-image hash surface itself, split hi/lo 32 bits so the
    // oracle's bit-packing stays inside signed BIGINT — pins every
    // decode + downsample + gradient bit, not just the pair survivors
    Query("q_image_dhash", (s, d) =>
      graft.multimodal.ImageDedup.imageDhash(s,
          graft.multimodal.ImageDedup.synthDocImages(
            Tables.fanout(Tables.documents(s, d)), width = ImgW, height = ImgH,
            shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
            copyOffset = ImgCopyOffset))
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("lo")),
      s"""WITH $imageSignsCtes,
         |bits AS (SELECT doc_id, gy * 8 + gx AS bit, sign FROM signs)
         |SELECT doc_id,
         |       cast(coalesce(sum(CASE WHEN sign AND bit >= 32
         |                              THEN 1::BIGINT << (bit - 32)
         |                              ELSE 0 END), 0) AS bigint) AS hi,
         |       cast(coalesce(sum(CASE WHEN sign AND bit < 32
         |                              THEN 1::BIGINT << bit
         |                              ELSE 0 END), 0) AS bigint) AS lo
         |FROM bits GROUP BY doc_id""".stripMargin),
    // ingest-time image gate: 3/4 of the corpus seeds the band store,
    // the remaining 1/4 arrives as a batch — kept iff no band collides
    // with the store or an earlier-id batch image (same contract as
    // q_incremental_neardup, lifted to perceptual hashes)
    Query("q_image_incremental", (s, d) => {
      // The %4 store/batch split is applied to the DOCUMENTS scan, below
      // the synth flatMap (r21): a filter on the flatMap's OUTPUT cannot
      // push through the opaque Dataset.flatMap, so each consumer
      // synthesized + decoded the FULL corpus and then threw 3/4 (or
      // 1/4) away. ImgCopyOffset is a multiple of 4 and every planted
      // copy inherits its base doc's id mod 4, so filtering the docs
      // first is row-identical to filtering the synth output (the
      // oracle pins this).
      def imgs(p: org.apache.spark.sql.Column) =
        graft.multimodal.ImageDedup.synthDocImages(
          Tables.documents(s, d).filter(p), width = ImgW, height = ImgH,
          shiftEvery = ImgShiftEvery, shiftDelta = ImgShiftDelta,
          copyOffset = ImgCopyOffset)
      val store = graft.multimodal.ImageDedup.imageBandKeys(s,
        imgs(col("doc_id") % 4 =!= 0)).select("bkey").distinct()
      // the batch synth frame is consumed twice inside the gate (band
      // keys + the anti-join's kept side) — size-gated share so the
      // opaque synth flatMap runs once for the batch quarter
      graft.multimodal.ImageDedup.incrementalImageNearDup(s,
          Tables.shareSmall(imgs(col("doc_id") % 4 === 0)), store)
        .select("doc_id")
    },
      // band values packed per 16-bit group; batch image kept iff no band
      // value appears in the store (doc_id % 4 <> 0 side) or under an
      // earlier batch id
      s"""WITH $imageSignsCtes,
         |bits AS (SELECT doc_id, gy * 8 + gx AS bit, sign FROM signs),
         |bands AS (SELECT doc_id, bit // 16 AS b,
         |                 sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                          ELSE 0 END) AS v
         |          FROM bits GROUP BY doc_id, bit // 16),
         |st AS (SELECT DISTINCT b, v FROM bands WHERE doc_id % 4 <> 0),
         |bt AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
         |dropped AS (
         |  SELECT DISTINCT doc_id FROM bt x
         |  WHERE EXISTS (SELECT 1 FROM st s WHERE s.b = x.b AND s.v = x.v)
         |  UNION
         |  SELECT DISTINCT x.doc_id FROM bt x
         |  JOIN bt y ON x.b = y.b AND x.v = y.v AND y.doc_id < x.doc_id)
         |SELECT doc_id FROM (SELECT DISTINCT doc_id FROM bt) t
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),
    // audio energy-envelope fingerprints (hi/lo 32-bit halves): WAV
    // decode -> 65-window energy gradient hash; volume-doubled planted
    // copies hash identically while every byte differs
    Query("q_audio_fingerprint", (s, d) =>
      graft.multimodal.AudioDedup.audioFingerprints(s,
          graft.multimodal.AudioDedup.synthDocAudio(
            Tables.fanout(Tables.documents(s, d)), windows = AudioWindows,
            perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
            copyOffset = AudioCopyOffset))
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("hi"),
          col("dhash").bitwiseAND(lit(0xffffffffL)).as("lo")),
      s"""WITH $audioSignsCtes
         |SELECT doc_id,
         |       cast(coalesce(sum(CASE WHEN sign AND bit >= 32
         |                              THEN 1::BIGINT << (bit - 32)
         |                              ELSE 0 END), 0) AS bigint) AS hi,
         |       cast(coalesce(sum(CASE WHEN sign AND bit < 32
         |                              THEN 1::BIGINT << bit
         |                              ELSE 0 END), 0) AS bigint) AS lo
         |FROM asigns GROUP BY doc_id""".stripMargin),
    // audio near-dup pairs: same banded-Hamming machinery as images
    // (any 64-bit perceptual hash), same pigeonhole exactness
    Query("q_audio_neardup", (s, d) =>
      graft.multimodal.ImageDedup.bandedHammingPairs(
        graft.multimodal.AudioDedup.audioFingerprints(s,
          graft.multimodal.AudioDedup.synthDocAudio(
            Tables.documents(s, d), windows = AudioWindows,
            perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
            copyOffset = AudioCopyOffset)),
        maxHamming = ImgMaxHamming),
      // banded + capped, mirroring bandedHammingPairs EXACTLY: a pair
      // survives iff it shares >= 1 band (16 contiguous hash bits) whose
      // bucket holds <= maxBucket fingerprints. Pigeonhole keeps banding
      // lossless for h <= maxHamming, but the bucket cap is part of the
      // operator's contract and first bites at sf10 (one audio band
      // bucket crosses 1000 members there), so the oracle models it.
      s"""WITH $audioSignsCtes,
         |abands AS (SELECT doc_id, bit // 16 AS b,
         |                  sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                           ELSE 0 END) AS v
         |           FROM asigns GROUP BY doc_id, bit // 16),
         |okb AS (SELECT b, v FROM abands GROUP BY b, v
         |        HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM abands a JOIN abands b ON a.b = b.b AND a.v = b.v
         |    AND a.doc_id < b.doc_id
         |  JOIN okb k ON k.b = a.b AND k.v = a.v),
         |apairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |         sum(CASE WHEN a.sign != b.sign THEN 1 ELSE 0 END) AS h
         |  FROM cand c
         |  JOIN asigns a ON a.doc_id = c.doc_a
         |  JOIN asigns b ON b.doc_id = c.doc_b AND b.bit = a.bit
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(h AS int) AS hamming
         |FROM apairs WHERE h <= $ImgMaxHamming""".stripMargin, scaling = Pairs),
    // ingest-time audio gate: same band-store contract as
    // q_image_incremental, over fingerprint bands
    Query("q_audio_incremental", (s, d) => {
      // %4 split below the synth flatMap — see q_image_incremental;
      // AudioCopyOffset is a multiple of 4.
      def audio(p: org.apache.spark.sql.Column) =
        graft.multimodal.AudioDedup.synthDocAudio(
          Tables.documents(s, d).filter(p), windows = AudioWindows,
          perWindow = AudioPerWindow, scaleEvery = AudioScaleEvery,
          copyOffset = AudioCopyOffset)
      val store = graft.multimodal.AudioDedup.audioBandKeys(s,
        audio(col("doc_id") % 4 =!= 0)).select("bkey").distinct()
      // batch synth shared — see q_image_incremental
      graft.multimodal.AudioDedup.incrementalAudioNearDup(s,
          Tables.shareSmall(audio(col("doc_id") % 4 === 0)), store)
        .select("doc_id")
    },
      s"""WITH $audioSignsCtes,
         |abands AS (SELECT doc_id, bit // 16 AS b,
         |                  sum(CASE WHEN sign THEN 1::BIGINT << (bit % 16)
         |                           ELSE 0 END) AS v
         |           FROM asigns GROUP BY doc_id, bit // 16),
         |ast AS (SELECT DISTINCT b, v FROM abands WHERE doc_id % 4 <> 0),
         |abt AS (SELECT * FROM abands WHERE doc_id % 4 = 0),
         |adropped AS (
         |  SELECT DISTINCT doc_id FROM abt x
         |  WHERE EXISTS (SELECT 1 FROM ast s WHERE s.b = x.b AND s.v = x.v)
         |  UNION
         |  SELECT DISTINCT x.doc_id FROM abt x
         |  JOIN abt y ON x.b = y.b AND x.v = y.v AND y.doc_id < x.doc_id)
         |SELECT doc_id FROM (SELECT DISTINCT doc_id FROM abt) t
         |WHERE doc_id NOT IN (SELECT doc_id FROM adropped)""".stripMargin),
    // video-clip near-dup: per-frame dHash over GFC1 containers, clip
    // pairs by shared-frame counts — re-encodes share ALL frames,
    // trimmed copies n-1 (integer output; consumers divide)
    Query("q_video_shared", (s, d) =>
      graft.multimodal.VideoDedup.videoSharedFrames(
        graft.multimodal.VideoDedup.videoFrameHashes(s,
          graft.multimodal.VideoDedup.synthDocVideos(
            Tables.fanout(Tables.documents(s, d)), frames = VideoFrames, width = ImgW,
            height = ImgH, shiftEvery = ImgShiftEvery,
            shiftDelta = ImgShiftDelta, copyOffset = VideoCopyOffset)),
        minShared = VideoMinShared, maxBucket = LshMaxBucket),
      // per-frame dHash recomputed from the pixel spec (frame f shifts
      // the byte stream by f*997), frames bit-packed to (hi, lo), clip
      // pairs by exact shared-hash counts with the maxBucket guard
      s"""WITH $videoHashCtes,
         |sizes AS (SELECT doc_id, count(*) AS n FROM vhd GROUP BY doc_id),
         |okh AS (SELECT hi, lo FROM vhd GROUP BY hi, lo
         |        HAVING count(*) >= 2 AND count(*) <= $LshMaxBucket),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS shared
         |      FROM vhd a
         |      JOIN okh ON a.hi = okh.hi AND a.lo = okh.lo
         |      JOIN vhd b ON a.hi = b.hi AND a.lo = b.lo
         |                AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= $VideoMinShared)
         |SELECT doc_a, doc_b, cast(shared AS bigint) AS shared_frames,
         |       sa.n AS n_a, sb.n AS n_b
         |FROM p JOIN sizes sa ON p.doc_a = sa.doc_id
         |       JOIN sizes sb ON p.doc_b = sb.doc_id""".stripMargin, scaling = Pairs),
    // ingest-time video gate: CONTAINMENT threshold (>= 1/2 of a
    // clip's distinct frames seen -> drop), counting — one shared
    // intro frame cannot drop a distinct clip, unlike set-membership
    Query("q_video_incremental", (s, d) => {
      // %4 split below the synth flatMap — see q_image_incremental;
      // VideoCopyOffset is a multiple of 4. With the filter above the
      // flatMap, all three consumers (store keys, batch frame hashes,
      // the gate's anti-join) synthesized + frame-decoded the FULL
      // corpus; now store decodes its 3/4 and the batch its 1/4. The
      // fanout spreads the container decode across the cluster
      // (measured 1.28x alone at sf0.1).
      def vids(p: org.apache.spark.sql.Column) =
        graft.multimodal.VideoDedup.synthDocVideos(
          Tables.fanout(Tables.documents(s, d)).filter(p),
          frames = VideoFrames, width = ImgW,
          height = ImgH, shiftEvery = ImgShiftEvery,
          shiftDelta = ImgShiftDelta, copyOffset = VideoCopyOffset)
      val store = graft.multimodal.VideoDedup.videoFrameStoreKeys(s,
        vids(col("doc_id") % 4 =!= 0)).select("fhash").distinct()
      // (batch-synth share measured a LOSS here, unlike audio/image —
      // the per-clip container payload is the biggest of the three and
      // its columnar cache write lands on the critical path)
      graft.multimodal.VideoDedup.incrementalVideoNearDup(s,
          vids(col("doc_id") % 4 === 0), store,
          minSharedNum = VideoGateNum, minSharedDen = VideoGateDen)
        .select("doc_id")
    },
      // a batch clip's frame is "seen" if the store (doc_id % 4 <> 0
      // side) holds it or an earlier-id batch clip does; kept iff
      // shared*den < num*n (integer containment threshold)
      s"""WITH $videoHashCtes,
         |stv AS (SELECT DISTINCT hi, lo FROM vhd WHERE doc_id % 4 <> 0),
         |btv AS (SELECT * FROM vhd WHERE doc_id % 4 = 0),
         |mind AS (SELECT hi, lo, min(doc_id) AS first_doc
         |         FROM btv GROUP BY hi, lo),
         |marked AS (
         |  SELECT b.doc_id,
         |         CASE WHEN s.hi IS NOT NULL OR m.first_doc < b.doc_id
         |              THEN 1 ELSE 0 END AS hit
         |  FROM btv b
         |  LEFT JOIN stv s ON b.hi = s.hi AND b.lo = s.lo
         |  JOIN mind m ON b.hi = m.hi AND b.lo = m.lo),
         |sh AS (SELECT doc_id, sum(hit) AS shared, count(*) AS n
         |       FROM marked GROUP BY doc_id)
         |SELECT doc_id FROM sh
         |WHERE shared * $VideoGateDen < n * $VideoGateNum""".stripMargin),
  )
}
