package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Per-round benchmark: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line; the same JSON is also
  * written to `BENCH_LOCAL.json` (and `SPARK_GRAFT_BENCH_OUT` if set) so
  * the driver's parse can never be defeated by sbt's `[info]` prefix.
  *
  * Measurement rules:
  *  - Full materialization: `queryExecution.toRdd.count()` executes the
  *    final physical plan with every output column alive — Catalyst
  *    cannot prune a map-only query down to a parquet-metadata count.
  *  - JVM warm-up: one untimed pass of all queries at sf0.001 before the
  *    timed run (codegen + JIT + parquet footer caches).
  *  - Failures are NOT swallowed into timings: a failed query records
  *    -1 and its error lands in the JSON `errors` map and on stderr.
  *  - One-time costs are charged once: memo builds as `memo_sec`, the
  *    first schema resolution of each table as `catalog_sec`; both are
  *    part of `value` and of no query's seconds.
  */
object Bench {

  /** Minimal extraction of the per-query seconds + sf tag from a prior
    * bench JSON line (no JSON lib on the classpath; the file is written
    * by this object, so the shape is known). Returns (sfDir, name→sec). */
  def parsePrior(json: String): (String, Map[String, Double]) = {
    val sf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val qBlock = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val pair = """"([A-Za-z0-9_]+)":(-?[0-9.eE+\-]+)""".r
    (sf, pair.findAllMatchIn(qBlock)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap)
  }

  /** One top-level numeric field from a capture line (anchor, load,
    * total) — None when absent (older captures predate some fields). */
  def parseNum(json: String, field: String): Option[Double] =
    ("\"" + field + "\":(-?[0-9.eE+]+)").r.findFirstMatchIn(json)
      .map(_.group(1).toDouble)

  /** Host-speed normalization factor between two captures: how much
    * slower (>1) or faster (<1) THIS host runs the fixed anchor loop
    * than the prior capture's host did. Clamped to [0.5, 2]: host
    * migrations measured so far sit well inside that band (r13: 1.31×),
    * and a shift beyond it is itself news that should surface as flags,
    * not be silently normalized away. Missing/zero anchors → 1 (older
    * captures predate the anchor fields). */
  def anchorScale(anchorPrior: Option[Double], anchorNow: Double): Double = {
    val r = anchorPrior.filter(p => p > 0 && anchorNow > 0)
      .map(anchorNow / _).getOrElse(1.0)
    math.min(math.max(r, 0.5), 2.0)
  }

  /** Prior per-query seconds re-expressed on THIS host: each time scaled
    * by the anchor ratio, so the regression gates compare like with
    * like. A uniform host slowdown with a matching anchor shift then
    * produces an EMPTY regressed map, while a genuine per-query
    * regression still exceeds the (scaled) 1.5× gate — the r13 "52→72 s
    * scare" decided by one division instead of a hand adjudication. */
  def normalizedPrior(prior: Map[String, Double], scale: Double): Map[String, Double] =
    if (scale == 1.0) prior else prior.map { case (k, v) => k -> v * scale }

  /** Baseline-preference rule (r13 verdict item 3, mechanized): a new
    * capture may NOT replace the committed regression baseline when it
    * ran under materially more ambient load than the baseline did AND
    * produced a worse total — prefer the quieter capture. A quieter or
    * faster run always writes (it is a strictly better bound). The 0.5
    * hysteresis keeps same-condition reruns from flapping on load
    * jitter. */
  def preferPrior(priorLoad: Option[Double], newLoad: Double,
                  priorTotal: Option[Double], newTotal: Double): Boolean =
    priorLoad.exists(pl => newLoad > pl + 0.5) &&
      priorTotal.exists(pt => newTotal > pt)

  /** Declared scaling classes for the cross-SF lint: how much slower a
    * query may get when the data grows `factor`×. Three classes:
    *  - sublinear (bound 0.9·factor): the banded/bounded/sweep
    *    operators whose whole point is beating linear;
    *  - linear (bound 1.6·factor, the default): honest per-row work —
    *    the 1.6 headroom absorbs fixed JVM/planning overhead moving
    *    between captures and ambient drift;
    *  - pairs (bound 5·factor): pair-MATERIALIZING dedup ops whose
    *    OUTPUT grows quadratically in duplicate-cluster size on the
    *    GenScale replica (measured: 28,000× more intra-cluster pairs
    *    at sf1, cost ×35-40 — the bound says "quadratically harder
    *    instance may cost ~5× linear", catching a true all-pairs
    *    regression which would cost ~100×).
    * A violation means a query left its complexity class between
    * captures — the automated form of the r7 manual sf1 audit. */
  private val sublinearQueries = Set(
    "q_token_budget", "q_rolling_active", "q_rolling_merge", "q_funnel",
    "q_funnel_within", "q_weighted_interval", "q_interval_count",
    "q_hh_merge", "q_group_quantiles", "q_window_ranks", "q_heavy_hitters",
    "q_rank_topk", "q_topk_per_group", "q_knn_graph", "q_embed_neardup",
    "q_cosine_topk", "q_lsh_topk", "q_ivf_topk", "q_ivf_probe2",
    "q_filtered_topk", "q_filtered_ivf", "q_ann_recall", "q_semantic_dedup")
  private val pairQueries = Set(
    "q_minhash_lsh_pairs", "q_pair_editdist", "q_dedup_agreement",
    // multimodal near-dup is the same pair-materializing shape (banded
    // candidate pairs over decoded fingerprints): the GenScale replica
    // clones every item `factor` times, so intra-band pair count grows
    // ~quadratically in factor exactly as for the text LSH ops.
    // The clustering family (q_dedup_clusters/q_split_leakage/
    // q_canonical_keep) left this class in r15: CC now runs over the
    // CLASS graph, so its cost is linear in rows (class shuffle +
    // label-expansion join), not candidate volume — the default linear
    // bound applies and a pair-volume-sized bound would be masking slack
    "q_audio_neardup", "q_image_neardup", "q_video_shared")
  /** The pair queries whose candidate volume IS what the minhash
    * `lshPairVolume` pre-flight measures (text shingle-minhash banding,
    * directly or through the memoized lsh_pairs frame). The measured
    * text ratio applies ONLY to these: image/audio/video banded-Hamming
    * candidate volume grows at its own rate, and a modality growing
    * SLOWER than text bounded by the text ratio would get a slack bound
    * that can mask a real super-quadratic regression. Those queries take
    * a per-query ratio (SPARK_GRAFT_PAIR_VOLUME_RATIOS) or fall back to
    * the 5·factor small-factor default. */
  private val minhashPairQueries = Set(
    "q_minhash_lsh_pairs", "q_pair_editdist", "q_dedup_agreement")

  /** `pairRatio`: measured candidate-pair volume ratio between the two
    * captures (from `Dedup.lshPairVolume` / `graft.apps.PairVolume`) —
    * derived by `main` from the pre-flight run on BOTH capture dirs, or
    * passed via SPARK_GRAFT_PAIR_VOLUME_RATIO. Pair-materializing queries
    * scale with CANDIDATE VOLUME, not rows — on the GenScale clone
    * replica that is ~quadratic in factor (measured 3189× at factor 100)
    * — so when the ratio is known the lint bounds them against it;
    * without it the 5·factor default is only meaningful at small factors
    * (documented in SURVEY §12). `perQueryRatio` overrides per query
    * (any modality); the minhash-derived ratio never crosses modalities. */
  def scaleBound(name: String, factor: Double,
                 pairRatio: Option[Double] = None,
                 perQueryRatio: Map[String, Double] = Map.empty): Double =
    if (sublinearQueries(name)) 0.9 * factor
    else if (pairQueries(name))
      5.0 * perQueryRatio.get(name)
        .orElse(if (minhashPairQueries(name)) pairRatio else None)
        .getOrElse(factor)
    else 1.6 * factor

  /** In-suite captures at factor ≥ 100 carry ±2× co-capture variance
    * (GC + 21 GB page-cache churn under a 64 g heap — every one of the
    * r12 sf100 suite's 18 flags decomposed into variance on a standalone
    * re-measure). Mechanize that screen-then-standalone protocol: a flag
    * within `band`× of its gate is a "needs standalone re-measure"
    * advisory, not a violation; only beyond band× is it a hard flag. */
  def varianceBand(factor: Double): Double = if (factor >= 100) 2.0 else 1.0

  /** Cross-SF scaling lint: given a BASE capture at 1× and this run at
    * `factor`× the data, flag queries whose time ratio exceeds their
    * declared class bound (plus a 0.3 s absolute floor — sub-second
    * queries are dominated by fixed overhead and would false-fire). */
  def scalingViolations(base: Map[String, Double],
                        now: Seq[(String, Double)], factor: Double,
                        pairRatio: Option[Double] = None)
      : Seq[(String, Double, Double, Double)] =
    scalingSplit(base, now, factor, pairRatio)._1

  /** Scaling lint with the variance band applied: returns
    * (hard violations beyond band×bound,
    *  advisories between bound and band×bound — re-measure standalone).
    * At band = 1 the advisory list is empty and this is exactly
    * [[scalingViolations]]. */
  def scalingSplit(base: Map[String, Double],
                   now: Seq[(String, Double)], factor: Double,
                   pairRatio: Option[Double] = None,
                   perQueryRatio: Map[String, Double] = Map.empty,
                   band: Double = 1.0)
      : (Seq[(String, Double, Double, Double)],
         Seq[(String, Double, Double, Double)]) = {
    val flagged = now.collect {
      case (name, sec) if sec >= 0 && base.get(name).exists(b =>
        b > 0 && sec / b > scaleBound(name, factor, pairRatio, perQueryRatio) &&
          sec - b > 0.3) =>
        (name, base(name), sec,
          scaleBound(name, factor, pairRatio, perQueryRatio))
    }
    flagged.partition { case (_, b, sec, bound) => sec / b > band * bound }
  }

  /** Ambient host load (1-min average) at capture start, read before the
    * session spins up so the number reflects OTHER processes, not this
    * bench. The recurring "broad 1.5x inflation, telemetry unchanged"
    * class (r6, r7 q_tpch_q8, r10 q_skipgram) is CPU contention from
    * concurrent driver work; recording load at start lets the regression
    * lint separate "re-measure on a quiet host" from "real regression"
    * mechanically instead of by per-round adjudication. */
  def loadAvgStart(): Double =
    try {
      val s = Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0)
      s.toDouble
    } catch {
      case _: Throwable =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage
    }

  /** A capture is contention-suspect when ambient load already occupies
    * more than 1/8 of the advertised cores before the bench starts (4 of
    * 32 on the driver host). The observed contention episodes ran with
    * the driver's verify/judge pipelines live — load well above that —
    * while quiet captures start from ~0. */
  def isContended(loadAvg: Double, cpus: Int): Boolean =
    loadAvg > cpus / 8.0

  /** Settle-and-retry (r14 verdict item 2): when the host is contended
    * at capture start, wait — bounded — for the 1-min load to drop under
    * the contention gate before measuring, instead of knowingly
    * recording a starved number as the round's headline (r14: a load-16
    * host measured 72 s of work as 146.6 s). Polls every `pollMs` until
    * `maxWaitMs`; returns the final load (settled or not — the caller
    * re-checks `isContended`). The 1-min average needs ~1 min to decay
    * after the competing work exits, hence the multi-minute cap. */
  def settleLoad(cpus: Int, maxWaitMs: Long = 300000L, pollMs: Long = 10000L,
                 now: () => Double = loadAvgStart): Double = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var load = now()
    while (isContended(load, cpus) && System.nanoTime() < deadline) {
      System.err.println(f"[bench] host contended (load $load%.2f > ${cpus / 8.0}%.1f) — settling")
      Thread.sleep(pollMs)
      load = now()
    }
    load
  }

  /** Where this capture may be written. Quiet captures are the ONLY
    * writers of the committed regression baseline (BENCH_LOCAL.json); a
    * contended run diverts to BENCH_CONTENDED.json so the next lint
    * still compares against a clean prior. An explicit
    * SPARK_GRAFT_BENCH_LOCAL path is honored as given — off-baseline
    * captures (sf1/sf10 scaling runs) name their own file. */
  def captureWritePath(contended: Boolean, explicitLocal: Option[String],
                       defaultPath: String = "BENCH_LOCAL.json"): String =
    explicitLocal.getOrElse(if (contended) "BENCH_CONTENDED.json" else defaultPath)

  /** Per-query regression lint (r6 verdict item 2): vs the prior
    * committed capture AT THE SAME SF, flag queries that got BOTH
    * >1.5x slower and >0.3 s absolutely worse — the broad-based
    * environment drift this host shows stays below one gate or the
    * other for most queries, so a populated list is a real signal, not
    * ambient noise. */
  def regressions(prior: Map[String, Double],
                  now: Seq[(String, Double)]): Seq[(String, Double, Double)] =
    regressionsSplit(prior, now)._1

  /** Queries whose wall time is scheduling-latency-bound, not CPU-bound,
    * with a MEASURED per-run spread wider than the 1.5× gate can
    * tolerate (r14 verdict item 4, adjudicated r15): q_async_identity
    * submits one Future/Await pair per element on the global pool, so
    * min-of-N within one JVM under identical ambient load spans
    * 0.68–0.97 s (±40%), identically under ParallelGC and G1 and
    * independent of core count. Its regression gate carries a 2× band:
    * a real regression (lost partition parallelism, a complexity slip)
    * still lands >3× prior; pool jitter no longer flags. Keyed per
    * query so the slack never leaks to CPU-bound queries.
    *
    * The r19 full-surface spread census (SPREAD_CENSUS_R19.json: every
    * committed BENCH_LOCAL.json revision mined from git history, 27
    * drift-normalized stable-window captures per query, single-capture
    * spikes trimmed) measured three more queries whose cross-round
    * trimmed spread exceeds the 1.5× gate: q_rolling_active 2.09×
    * (0.48–1.13 s — a sub-second window-state query dominated by task
    * scheduling over 32 slots), q_weighted_interval 1.60×, q_novelty
    * 1.54×. Their entries floor the HARD gate at measured-spread/1.5
    * rounded up; worst observed cross-capture ratio still lands as an
    * advisory (standalone re-measure), a real complexity slip still
    * alarms. All other 153 full-history queries measured inside the
    * band.
    *
    * q_novelty's floor is set from the RAW census spread (1.703/1.5 →
    * 1.15), not the trimmed one (1.54/1.5 → 1.1): its trimmed-out
    * spike is within sub-second-scheduling noise of the trimmed max,
    * so a recurrence is re-measure homework, not an alarm — with the
    * 1.1 floor it would have hard-flagged (1.703 > 1.1×1.5).
    * q_rolling_active and q_weighted_interval deliberately KEEP
    * trimmed-based floors even though their raw maxima (2.35×, 1.84×)
    * also exceed floor×1.5: those spikes are 12-27% beyond the trimmed
    * spread — big enough that a recurrence should alarm, not file
    * homework. (r19 verdict item 6.) */
  val jitterBand: Map[String, Double] = Map(
    "q_async_identity"    -> 2.0,
    "q_rolling_active"    -> 1.5,
    "q_weighted_interval" -> 1.15,
    "q_novelty"           -> 1.15)

  /** Regression lint with the variance band applied: hard flags beyond
    * band×1.5× prior, advisories (standalone re-measure) between 1.5×
    * and band×1.5×. Band 1 (the default, and every per-round sf0.1
    * gate) makes the advisory list empty. Big-SF suite captures set
    * SPARK_GRAFT_VARIANCE_BAND=2 (or inherit it from factor ≥ 100 via
    * [[varianceBand]]) so co-capture GC/page-cache variance lands as
    * homework, not alarms. Per-query [[jitterBand]] entries floor the
    * band for queries whose measured noise is wider than the gate. */
  def regressionsSplit(prior: Map[String, Double],
                       now: Seq[(String, Double)], band: Double = 1.0)
      : (Seq[(String, Double, Double)], Seq[(String, Double, Double)]) = {
    val flagged = now.collect {
      case (name, sec) if sec >= 0 && prior.get(name).exists(p =>
        p > 0 && sec > 1.5 * p && sec - p > 0.3) =>
        (name, prior(name), sec)
    }
    flagged.partition { case (name, p, sec) =>
      sec > math.max(band, jitterBand.getOrElse(name, 1.0)) * 1.5 * p }
  }

  /** Fixed single-thread CPU anchor: seconds for 100M rounds of a
    * 64-bit mix loop, JIT-warmed by one untimed pass. Captures host
    * speed alongside each bench so a cross-round total shift can be
    * attributed (r13: a fresh VM ran the unchanged suite 1.31x slower
    * than r12's — diagnosed by hand from sbt-test wall time; this field
    * makes that one division). Pure ALU+register work: no allocation,
    * no memory traffic, immune to page-cache state. */
  private def mixPass(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) {
      h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 29); i += 1
    }
    h
  }

  def cpuAnchorSec(): Double = {
    val warm = mixPass()
    val t0 = System.nanoTime()
    val timed = mixPass()
    val sec = (System.nanoTime() - t0) / 1e9
    require(warm == timed, "anchor loop is deterministic") // also defeats DCE
    math.rint(sec * 1000) / 1000
  }

  /** Parallel anchor: wall seconds for `threads` concurrent runs of the
    * same mix loop — the host's PARALLEL throughput, which is what the
    * 32-thread bench queries actually consume. This VM shows stable
    * single-thread anchors but ~10% parallel wander between same-config
    * quiet runs (plus outright slowdowns under co-tenancy), so the
    * regression normalization prefers this anchor when both captures
    * carry it, falling back to the single-thread one. */
  def parAnchorSec(threads: Int): Double = {
    val golden = mixPass() // JIT warm + DCE-defeating expected value
    val acc = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ths = (1 to threads).map { _ =>
      val th = new Thread(() => { acc.addAndGet(mixPass()) }: Unit)
      th.start(); th
    }
    ths.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    require(acc.get() == golden * threads, "anchor loop is deterministic")
    math.rint(sec * 1000) / 1000
  }

  /** Truncation-proof trailer (r14 verdict item 1): the big capture line
    * buries the host-normalization evidence BEFORE ~11 KB of per-query
    * maps, so a tail capture of it shows a naked total with no anchor,
    * no load, no normalized value — r14's "2.35x gate breach" was
    * exactly this (the exonerating fields existed only repo-side, in
    * BENCH_CONTENDED.json). This second, short (<400 B) line is printed
    * AFTER the big one and carries just the adjudication fields, so any
    * tail of the combined stdout keeps them intact. */
  def trailerLine(sfDir: String, cpus: Int, load0: Double, anchor: Double,
                  parAnchor: Double, hostScale: Double, contended: Boolean,
                  errorCount: Int, totalNorm: Double, total: Double,
                  runner: String = "unknown", defaultPar: Int = -1,
                  maxConc: Int = -1, catalogSec: Double = 0.0): String =
    s"""{"metric":"total_trailer","sf":"$sfDir","cpus":$cpus,""" +
      s""""runner":"$runner","load_avg_start":$load0,"cpu_anchor_sec":$anchor,""" +
      s""""par_anchor_sec":$parAnchor,"anchor_scale":$hostScale,""" +
      s""""contended":$contended,"error_count":$errorCount,""" +
      s""""default_parallelism":$defaultPar,"max_concurrent_tasks":$maxConc,""" +
      s""""catalog_sec":$catalogSec,"total_hostnorm":$totalNorm,"value":$total,"unit":"sec"}"""

  /** Suite total: net per-query seconds of the queries that ran, plus
    * every memo build and the one-time table schema resolution, each
    * counted exactly once. Failed queries (-1) add nothing. */
  def suiteTotal(results: Seq[(String, Double)], memoSec: Double,
                 catalogSec: Double): Double =
    results.map(_._2).filter(_ >= 0).sum + memoSec + catalogSec

  /** Peak number of tasks running at once, from each task's
    * [start, end) interval in ms: a sweep over the sorted end points
    * with ends before starts at equal times, so a task that ends in the
    * millisecond another starts does not overlap it. Unlike a running
    * start-minus-end count over the asynchronous listener bus, the
    * result does not depend on the order events are delivered in. */
  def peakConcurrency(intervals: Iterable[(Long, Long)]): Int = {
    val points = intervals.iterator
      .flatMap { case (start, end) => Iterator((start, 1), (end, -1)) }
      .toArray.sorted
    points.iterator.scanLeft(0)(_ + _._2).max
  }

  def main(args: Array[String]): Unit = {
    // Janitor first (r13 verdict stretch item 8): stale scratch from a
    // killed prior run both starves spills and skews I/O timings.
    graft.core.DiskGuard.sweepStaleScratch()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    // The local capture path is overridable so off-sf captures (sf1
    // scaling runs) don't clobber the committed sf0.1 baseline the
    // regression lint compares against.
    val localPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCAL", "BENCH_LOCAL.json")
    val priorTxt: Option[String] =
      try {
        val txt = Files.readString(Paths.get(localPath))
        if (parsePrior(txt)._1 == sfDir) Some(txt) else None
      } catch { case _: Throwable => None }
    val prior: Map[String, Double] =
      priorTxt.map(parsePrior(_)._2).getOrElse(Map.empty)
    // Optional subset (comma-separated query names): focused captures at
    // SFs where the full suite would take hours (the sf10 star-query
    // run). The driver never sets this — full suite by default.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Timed runs per query (default 3). min-of-3 exists to pin the noise
    // floor on SUB-SECOND queries; at a 100x replica every query runs
    // tens of seconds and one run is already above the noise, so scale
    // captures set 1 and finish in a third the wall-clock. The driver
    // never sets this — per-round gates stay min-of-3.
    val runs: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
      .max(1)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // Contention denominator defaults to the REAL core count: with the
    // old hard-coded 4, a capture on the 32-core driver host started
    // without SPARK_GRAFT_CPUS flagged contended at load > 0.5 — i.e.
    // nearly always — making the annotation spuriously true.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // Sampled BEFORE the session builds: ambient load from other
    // processes, not this bench's own warm-up. A contended start first
    // settles (bounded wait, r14 item 2) — load0 is the load the timed
    // run ACTUALLY started under, settled or not.
    val load0 = settleLoad(cpus,
      maxWaitMs = sys.env.getOrElse("SPARK_GRAFT_SETTLE_MS", "300000").toLong)
    val anchor = cpuAnchorSec()
    val parAnchor = parAnchorSec(cpus)
    // Host normalization for the regression lint: the parallel anchor
    // when both captures carry one (it tracks what 32-thread queries
    // consume), else the single-thread anchor, else 1. The prior's
    // per-query times are re-expressed on THIS host before gating.
    val hostScale = priorTxt.map { txt =>
      parseNum(txt, "par_anchor_sec") match {
        case Some(p) => anchorScale(Some(p), parAnchor)
        case None    => anchorScale(parseNum(txt, "cpu_anchor_sec"), anchor)
      }
    }.getOrElse(1.0)
    val spark = GraftSession.build("graft-bench")

    def runOnce(dir: String, name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, org.apache.spark.sql.DataFrame] =
      try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.count()
        Right(df)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    // Warm-up (untimed, small SF): JIT, codegen cache, shuffle machinery.
    SparkEntry.queries.filter(kv => keep(kv._1))
      .foreach { case (name, fn) => runOnce(warmDir, name, fn) }

    // GC-debt flush (r15 verdict item 2, mechanism named by
    // graft.apps.CoCaptureProbe): the warm-up pass leaves the old gen
    // full of its garbage, and the FIRST timed query pays it off in
    // repeated full collections — measured at sf30, the first run after
    // a full-suite warm-up took 157 s with 3,857 s of summed task GC vs
    // 21 s / 8 s once the heap settled; page cache, spill, and fetch
    // wait were byte-identical across modes (the r15 "co-capture
    // adjacency" was exactly this, amplified by the suite's one-run
    // protocol measuring the alphabetically-first query). Dropping the
    // warm-up's cached memos and forcing a collection before the timed
    // loop cut that first run 3.3x in the probe's mitigated mode.
    def flushHeapDebt(): Unit = {
      // Evict SparkEntry's memo entries BEFORE unpersisting: the memos
      // are localCheckpoint'd (no lineage to recompute from), so an
      // unpersisted frame left in the cache would poison every later
      // consumer with "Checkpoint block not found" whenever the timed
      // sfDir coincides with the warm dir (r16 advisory). Evicted memos
      // rebuild from parquet on next use.
      SparkEntry.clearMemos(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    flushHeapDebt()

    // One-time table resolution, charged once as catalog_sec (as memo_sec
    // charges memo builds): each table's schema is inferred on its first
    // read and served from Tables' catalog afterwards, so without this
    // the first timed run of the first query per table would pay it and
    // min-of-N would hide it.
    val catalogSec = {
      val t0 = System.nanoTime()
      graft.core.Tables.names.foreach(n =>
        scala.util.Try(graft.core.Tables.load(spark, sfDir, n)))
      math.rint((System.nanoTime() - t0) / 1e6) / 1000
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Plan-shape telemetry: exchange mentions in the final (post-AQE)
    // executed plan — a lost broadcast or an extra shuffle shows up as a
    // count bump between rounds without anyone reading explain output.
    // Substring count on the plan text (matches Exchange /
    // BroadcastExchange / ReusedExchange alike) — a regression SIGNAL,
    // not an exact exchange census.
    val exchanges = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def exchangesOf(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      plan.sliding("Exchange".length).count(_ == "Exchange")
    }
    // Shuffle-VOLUME telemetry (the regression exchange counts can't
    // see: a lost pushdown fattens the same exchange). One global
    // task-end listener; per query, the counter delta across the timed
    // runs divided by the run count. The listener bus is async — a short
    // stability poll after each query bounds cross-attribution without
    // adding an extra run.
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong
    // Scaling-contract audit (r20 verdict item 2): prove from the
    // capture JSON alone that $SPARK_GRAFT_CPUS changes the execution.
    // Peak concurrently-RUNNING task count across the whole run — on
    // local[N] the scheduler caps it at N, so an 8-cpu capture and a
    // 32-cpu capture of the same code must report different peaks
    // whenever any stage has enough tasks to fill the pool (with the
    // r21 scan fanout, every kernel-dense stage does).
    // Each task's slot interval starts at its launch and lasts its
    // executor-side deserialize + run + result-serialize time. Not
    // [launchTime, finishTime): the driver stamps finishTime on its
    // result-getter pool AFTER the slot was freed and re-offered, so a
    // successor's launch can precede it (measured: 6 under local[4]).
    // The executor durations end no later than the slot is freed, so
    // the peak of these intervals cannot exceed the pool.
    val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        taskSpans.add((t.taskInfo.launchTime, t.taskInfo.launchTime +
          m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime))
        shuffleWritten.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    def drainedShuffleCount(): Long = {
      var last = -1L; var spins = 0
      while (shuffleWritten.get() != last && spins < 20) {
        last = shuffleWritten.get(); Thread.sleep(100); spins += 1
      }
      shuffleWritten.get()
    }
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Single-partition lint (r4 verdict #8): global sorts over an
    // unbounded single-partition shuffle (the q_vocab_encode defect
    // class) — see graft.core.PlanAudit for what is and isn't flagged.
    val sp1 = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Best of 3 timed runs per query: a single run is exposed to one-off
    // GC pauses / compilation stalls (observed 4x spikes on this host,
    // and 2-3x ambient drift between back-to-back full runs); min-of-3
    // pins the noise floor without hiding real cost.
    // Memo netting: a shared-scan memo is built inside the FIRST query
    // that touches it, so that query's raw time carries the whole build
    // (441 s of LSH pairs inside q_canonical_keep at sf10) while later
    // consumers ride free — the scaling lint then flags the payer for a
    // cost that is reported SEPARATELY in memo_sec anyway. Subtract each
    // run's memo-build delta from that run's time: per-query seconds are
    // net-of-memo BY CONSTRUCTION at every runs setting, and the total
    // (= net queries + memo_sec) counts each build exactly once.
    import scala.jdk.CollectionConverters._
    def memoNow(): Double = SparkEntry.memoSeconds.asScala
      .collect { case ((dir, _), sec) if dir == sfDir => sec }.sum
    val results = SparkEntry.queries.filter(kv => keep(kv._1))
      .toSeq.sortBy(_._1).map { case (name, fn) =>
      // Scale captures (runs=1) have no min-of-N to absorb a
      // predecessor's GC debt landing in this query's single
      // measurement; a forced collection between queries costs ~1 s
      // against tens-of-seconds queries and bounds the attribution.
      // At the default runs=3 the min already absorbs it — skip the
      // pause (157 sub-second queries would pay it for nothing).
      if (runs == 1) System.gc()
      val s0 = drainedShuffleCount()
      val times = (1 to runs).map { _ =>
        // Measurement hardening (r21, disclosed in OPTIMIZATION_r21.md):
        // drop the session's Dataset cache BEFORE every timed run, so an
        // in-query persist() (the shared twice-consumed frames) can never
        // serve a LATER run from the EARLIER run's cache — CacheManager
        // plan-matches across invocations, and min-of-N would otherwise
        // time a cache read instead of the computation. Untimed; RDD-level
        // state (the memo localCheckpoints) is not touched.
        spark.catalog.clearCache()
        val m0 = memoNow()
        val t0 = System.nanoTime()
        val r = runOnce(sfDir, name, fn)
        val raw = (System.nanoTime() - t0) / 1e9
        (r, math.max(raw - (memoNow() - m0), 0.0))
      }
      times.collectFirst { case (Left(err), _) => err } match {
        case Some(err) =>
          System.err.println(s"[bench] $name FAILED: $err")
          errors += name -> err
          name -> -1.0
        case None =>
          times.last._1.foreach { df =>
            exchanges += name -> (try exchangesOf(df) catch { case _: Throwable => -1 })
            sp1 += name -> (try graft.core.PlanAudit
              .unboundedSinglePartitionSorts(df.queryExecution.executedPlan)
              catch { case _: Throwable => -1 })
          }
          val perRun = (drainedShuffleCount() - s0) / runs.toDouble
          shuffleMb += name -> math.rint(perRun / 1024.0 / 1024.0 * 100) / 100
          name -> times.map(_._2).min
      }
    }
    // Honest memo accounting: SparkEntry's shared-scan memos are built
    // inside the FIRST run of the first query that needs them, so
    // min-of-3 timing would silently hide their cost. Report build
    // seconds per memo key and fold them into the total.
    val memo = SparkEntry.memoSeconds.asScala.toSeq
      .collect { case ((dir, key), sec) if dir == sfDir => key -> sec }
      .sortBy(_._1)
    val memoTotal = memo.map(_._2).sum
    val memoJson = memo.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      s"\"$k\":\"${v.replace("\\", "\\\\").replace("\"", "\\\"").takeWhile(_ >= ' ')}\""
    }.mkString("{", ",", "}")
    val total = suiteTotal(results, memoTotal, catalogSec)
    val exJson = exchanges.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val shJson = shuffleMb.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val spJson = sp1.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // Field order is truncation-proof BY DESIGN (r4's driver tail capture
    // lost the seconds map): telemetry maps first, then the per-query
    // seconds + total + unit LAST, so any tail of the line still carries
    // the headline numbers.
    // Variance band: 1 for the per-round sf0.1 gate (unchanged behavior);
    // big-SF suite captures set SPARK_GRAFT_VARIANCE_BAND=2 explicitly
    // or inherit 2 from a scale factor ≥ 100 (varianceBand). Flags inside
    // the band land in needs_standalone (re-measure on a quiet host)
    // instead of regressed/scaling — mechanizing the r12 adjudication
    // protocol that re-classified all 18 sf100 co-capture flags.
    val envBand = sys.env.get("SPARK_GRAFT_VARIANCE_BAND").map(_.toDouble)
    val regBand = envBand.getOrElse(1.0)
    val (regressed, regAdvisory) =
      regressionsSplit(normalizedPrior(prior, hostScale), results, regBand)
    regressed.foreach { case (n, p, c) =>
      System.err.println(f"[bench] REGRESSED $n: $p%.3f s (host-normalized) -> $c%.3f s (${c / p}%.2fx)")
    }
    val regJson = regressed.map { case (n, p, c) =>
      s""""$n":{"prior":$p,"now":$c}"""
    }.mkString("{", ",", "}")
    // Cross-SF scaling lint: SPARK_GRAFT_SCALE_BASE points at a capture
    // of the SAME code on 1/SPARK_GRAFT_SCALE_FACTOR of this run's data
    // (the sf0.1 BENCH_LOCAL vs an sf1 run). Violations = queries that
    // left their declared complexity class.
    // Per-query candidate-volume ratios (cross-modality pair queries):
    // "q_audio_neardup=123.4,q_image_neardup=98.7".
    val perQueryRatio: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_PAIR_VOLUME_RATIOS").map(_.split(",").toSeq
        .map(_.split("=")).collect { case Array(k, v) => k -> v.toDouble }
        .toMap).getOrElse(Map.empty)
    val (scaling, scAdvisory) = sys.env.get("SPARK_GRAFT_SCALE_BASE").map { p =>
      val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toDouble
      try {
        val (baseSf, baseQ) = parsePrior(Files.readString(Paths.get(p)))
        if (baseSf == sfDir) (Seq.empty, Seq.empty) // same data — regression lint covers it
        else {
          // Pair-volume ratio for the minhash family: explicit env wins;
          // otherwise, when a minhash pair query is actually in scope,
          // derive it by running the O(buckets) lshPairVolume pre-flight
          // on BOTH capture dirs — the same aggregate q_pair_volume gates
          // (42 s at sf100), so the lint needs no hand-set number.
          val pairRatio = sys.env.get("SPARK_GRAFT_PAIR_VOLUME_RATIO")
            .map(_.toDouble).orElse {
              if (!results.exists(r => minhashPairQueries(r._1) && r._2 >= 0))
                None
              else try {
                def vol(dir: String): Double = graft.dedup.Dedup
                  .lshPairVolume(graft.core.Tables.documents(spark, dir),
                    n = 2, k = 6, rowsPerBand = 2)
                  .head().getAs[Long]("candidate_pairs").toDouble
                val (b, nw) = (vol(baseSf), vol(sfDir))
                if (b > 0) {
                  System.err.println(
                    f"[bench] derived pair-volume ratio ${nw / b}%.1f ($b%.0f -> $nw%.0f candidates)")
                  Some(nw / b)
                } else None
              } catch { case e: Throwable =>
                System.err.println(s"[bench] pair-volume derivation failed: ${e.getMessage}")
                None
              }
            }
          scalingSplit(baseQ, results, factor, pairRatio, perQueryRatio,
            band = math.max(envBand.getOrElse(1.0), varianceBand(factor)))
        }
      } catch { case _: Throwable => (Seq.empty, Seq.empty) }
    }.getOrElse((Seq.empty, Seq.empty))
    scaling.foreach { case (n, b, c, bound) =>
      System.err.println(
        f"[bench] SCALING $n: $b%.3f s -> $c%.3f s (${c / b}%.1fx > bound $bound%.1fx)")
    }
    val scJson = scaling.map { case (n, b, c, bound) =>
      s""""$n":{"base":$b,"now":$c,"bound":$bound}"""
    }.mkString("{", ",", "}")
    val nsJson = (regAdvisory.map { case (n, p, c) =>
      s""""$n":{"kind":"regression","prior":$p,"now":$c}"""
    } ++ scAdvisory.map { case (n, b, c, bound) =>
      s""""$n":{"kind":"scaling","base":$b,"now":$c,"bound":$bound}"""
    }).mkString("{", ",", "}")
    // Raw total stays in `value` (the driver contract); total_hostnorm is
    // the same total re-expressed on the PRIOR capture's host (divide by
    // the anchor ratio) so cross-round totals compare without a hand
    // adjudication of VM shifts.
    val totalNorm = math.rint(total / (if (hostScale > 0) hostScale else 1.0) * 1000) / 1000
    // Runner provenance (r19 verdict item 4): sf0.1 totals measure
    // ~10% apart between `sbt runMain` (~62-63 s; build.sbt stamps the
    // env var on forked runs) and tools/run_main.sh (~70 s) — a
    // launcher/heap effect the spread census must attribute to the
    // launcher, not read as code drift. Unstamped launchers report
    // "unknown" (all captures before r20 predate the field).
    val runner = sys.env.getOrElse("SPARK_GRAFT_RUNNER", "unknown")
    val json =
      s"""{"metric":"total","sf":"$sfDir","cpus":$cpus,"runner":"$runner","load_avg_start":$load0,"cpu_anchor_sec":$anchor,"par_anchor_sec":$parAnchor,"anchor_scale":$hostScale,"total_hostnorm":$totalNorm,"contended":${isContended(load0, cpus)},"errors":$errJson,"regressed":$regJson,"scaling":$scJson,"needs_standalone":$nsJson,"exchanges":$exJson,"shuffle_mb":$shJson,"sp1_unbounded":$spJson,"memo_sec":$memoJson,"catalog_sec":$catalogSec,"queries":$qs,"value":$total,"unit":"sec"}"""
    // r10/r11 both had the driver's contended run overwrite the quiet
    // committed baseline in the worktree (and r13's driver run at load
    // 3.94 slipped UNDER the cpus/8 contention gate and still replaced
    // the quiet 68.6 s baseline with a loaded 72.1 s one) — so besides
    // the contention divert, a capture that is BOTH more loaded than the
    // baseline and slower is diverted too (preferPrior).
    val keepPrior = priorTxt.exists(txt => preferPrior(
      parseNum(txt, "load_avg_start"), load0, parseNum(txt, "value"), total))
    val writePath = captureWritePath(isContended(load0, cpus) || keepPrior,
      sys.env.get("SPARK_GRAFT_BENCH_LOCAL"))
    if (keepPrior && writePath == "BENCH_CONTENDED.json")
      System.err.println(f"[bench] baseline kept: this capture ran at load $load0%.2f " +
        "and is slower than the quieter committed baseline — writing BENCH_CONTENDED.json")
    // A subset run (SPARK_GRAFT_BENCH_ONLY) only writes the local capture
    // when SPARK_GRAFT_BENCH_LOCAL names a path explicitly — otherwise a
    // focused run would clobber the committed full-suite baseline and
    // silently drop regression-lint coverage for every absent query.
    val trailer = trailerLine(sfDir, cpus, load0, anchor, parAnchor,
      hostScale, isContended(load0, cpus), errors.size, totalNorm, total,
      runner, spark.sparkContext.defaultParallelism,
      peakConcurrency(taskSpans.asScala), catalogSec)
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_LOCAL"))
      Files.writeString(Paths.get(writePath), json + "\n" + trailer + "\n")
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(p =>
      Files.writeString(Paths.get(p), json + "\n" + trailer + "\n"))
    // Stop the session BEFORE printing: the driver captures a stdout
    // tail, and shutdown logging after the JSON line is what truncated
    // BENCH_r10/r11's parsed copy. The JSON + trailer lines are the last
    // stdout the JVM emits.
    try spark.stop() catch { case _: Throwable => }
    println(json)
    println(trailer)
    if (errors.nonEmpty) sys.exit(1)
  }
}
