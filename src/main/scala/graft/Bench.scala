package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{GraftSession, WorkCounters}
import graft.suite.{Registry, Scaling}

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
  *  - Work is counted, not inferred: each query's last timed run records
  *    its jobs, stages, tasks, scan rows and shuffle bytes
  *    ([[graft.core.WorkCounters]]). A query slower than the prior with
  *    the same counts ran on a slower or busier host; one whose counts
  *    moved does different work. `graft.apps.Profile` prints the same
  *    per-query record through the same [[measure]].
  */
object Bench {

  /** One flat `"field":{"name":number,…}` map of a capture line (no JSON
    * lib on the classpath; the file is written by this object, so the
    * shape is known). The first such map wins; absent or junk → empty. */
  def parseFlatMap(json: String, field: String): Map[String, Double] = {
    val block = ("\"" + field + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("")
    val pair = """"([A-Za-z0-9_]+)":(-?[0-9.eE+\-]+)""".r
    pair.findAllMatchIn(block).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The sf tag and the per-query seconds of a prior capture line. */
  def parsePrior(json: String): (String, Map[String, Double]) =
    ("\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1)).getOrElse(""),
      parseFlatMap(json, "queries"))

  /** A prior capture's per-query seconds when it measured the same data
    * with the same thread count, else empty. A 32-thread prior read
    * against a 4-thread run flags every CPU-bound query as a ~4×
    * regression with byte-identical work counters. */
  def priorSeconds(json: String, sfDir: String, cpus: Int): Map[String, Double] = {
    val (sf, qs) = parsePrior(json)
    val priorCpus = "\"cpus\":([0-9]+)".r.findFirstMatchIn(json).map(_.group(1).toInt)
    if (sf == sfDir && priorCpus.contains(cpus)) qs else Map.empty
  }

  /** How much slower `name` may get at `factor`× the data, by its
    * declared [[graft.suite.Scaling]] class; a violation means the query
    * left its complexity class between captures.
    *
    * `pairRatio`: measured candidate-pair volume ratio between the two
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
    Registry.scaling(name) match {
      case Scaling.Sublinear => 0.9 * factor
      case Scaling.Pairs => 5.0 * perQueryRatio.getOrElse(name, factor)
      case Scaling.MinhashPairs =>
        5.0 * perQueryRatio.get(name).orElse(pairRatio).getOrElse(factor)
      case Scaling.Linear => 1.6 * factor
    }

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

  /** Per-query regression lint (r6 verdict item 2): vs the prior
    * committed capture AT THE SAME SF AND CPUS ([[priorSeconds]]), flag
    * queries that got BOTH >1.5x slower and >0.3 s absolutely worse — the
    * broad-based environment drift this host shows stays below one gate
    * or the other for most queries, so a populated list is a real signal,
    * not ambient noise. */
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

  /** Truncation-proof trailer (r14 verdict item 1): the capture line
    * buries its run facts before ~26 KB of per-query maps, so a tail
    * capture of it alone shows a naked total. This second, short
    * (<400 B) line is printed AFTER the big one and carries the run
    * facts: thread count, errors, peak task concurrency, the one-time
    * catalog seconds and the timed loop's summed task CPU and run
    * seconds. Run time far above CPU time with the same counters is a
    * starved host, not slower code. */
  def trailerLine(sfDir: String, cpus: Int, runner: String, errorCount: Int,
                  defaultPar: Int, maxConc: Int, catalogSec: Double,
                  loop: WorkCounters.Snap, total: Double): String =
    s"""{"metric":"total_trailer","sf":"$sfDir","cpus":$cpus,"runner":"$runner",""" +
      s""""error_count":$errorCount,"default_parallelism":$defaultPar,""" +
      s""""max_concurrent_tasks":$maxConc,"catalog_sec":$catalogSec,""" +
      s""""task_cpu_s":${loop.taskCpuMs / 1000.0},"task_run_s":${loop.taskRunMs / 1000.0},""" +
      s""""value":$total,"unit":"sec"}"""

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

  /** What [[measure]] records for one query: min-of-N net seconds, and
    * the last timed run's work counters, exchange count and
    * single-partition lint. A capture stores it as one entry in each
    * per-query map; `graft.apps.Profile` prints it as one line. Shuffle
    * bytes are kept in MB to two decimals: they can move by a few bytes
    * between identical runs, the other counters cannot. */
  final case class Record(name: String, sec: Double, work: WorkCounters.Snap,
                          exchanges: Int, sp1: Int) {
    /** The values of [[Record.keys]], in that order. */
    def counters: Seq[Double] = Seq(exchanges.toDouble,
      math.rint(work.shuffleWriteBytes / 1024.0 / 1024.0 * 100) / 100,
      sp1.toDouble, work.jobs.toDouble, work.stages.toDouble,
      work.tasks.toDouble, work.scanRows.toDouble)

    def json: String = obj(("query" -> s""""$name"""") +:
      Record.keys.zip(counters.map(num)) :+ ("sec" -> sec.toString))
  }

  object Record {
    /** The per-query counter maps of a capture, in capture order. */
    val keys: Seq[String] = Seq("exchanges", "shuffle_mb", "sp1_unbounded",
      "jobs", "stages", "tasks", "scan_rows")
  }

  /** A query's [[Record]], the work of each timed run, and the last
    * run's DataFrame (its plans). */
  final case class Measured(record: Record, runWork: Seq[WorkCounters.Snap],
                            df: DataFrame)

  private def num(d: Double): String = if (d.isWhole) d.toLong.toString else d.toString

  private def obj(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private val warmDir = "/root/testdata/sf0.001"

  /** Untimed preparation for a timed loop over `names` on `dir`: warm-up,
    * heap-debt flush and one-time table resolution, whose seconds it
    * returns (`catalog_sec`). */
  def prepare(spark: SparkSession, dir: String, names: Seq[String]): Double = {
    // Warm-up (untimed, small SF): JIT, codegen cache, shuffle machinery.
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).queryExecution.toRdd.count()
      catch { case _: Throwable => }
    }
    // GC-debt flush (r15 verdict item 2): the warm-up pass leaves the old
    // gen full of its garbage, and the FIRST timed query pays it off in
    // repeated full collections — measured at sf30, the first run after
    // a full-suite warm-up took 157 s with 3,857 s of summed task GC vs
    // 21 s / 8 s once the heap settled; page cache, spill, and fetch
    // wait were byte-identical across modes. Dropping the warm-up's
    // cached memos and forcing a collection before the timed loop cut
    // that first run 3.3x.
    // Evict SparkEntry's memo entries BEFORE unpersisting: the memos are
    // localCheckpoint'd (no lineage to recompute from), so an unpersisted
    // frame left in the cache would poison every later consumer with
    // "Checkpoint block not found" whenever the timed dir coincides with
    // the warm dir (r16 advisory). Evicted memos rebuild from parquet.
    SparkEntry.clearMemos(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    // One-time table resolution, charged once as catalog_sec (as memo_sec
    // charges memo builds): each table's schema is inferred on its first
    // read and served from Tables' catalog afterwards, so without this
    // the first timed run of the first query per table would pay it and
    // min-of-N would hide it.
    val t0 = System.nanoTime()
    graft.core.Tables.names.foreach(n =>
      scala.util.Try(graft.core.Tables.load(spark, dir, n)))
    math.rint((System.nanoTime() - t0) / 1e6) / 1000
  }

  /** The one per-query measurement of [[main]] and `graft.apps.Profile`:
    * `runs` timed runs of `fn` on `dir`, each fully materialized.
    *  - Best of N: a single run is exposed to one-off GC pauses and
    *    compilation stalls (observed 4x spikes); min-of-N pins the noise
    *    floor without hiding real cost. Scale captures (runs = 1) have no
    *    min to absorb a predecessor's GC debt, so they collect first.
    *  - Cache hardening (r21, OPTIMIZATION_r21.md): the session's Dataset
    *    cache is dropped before every run, so an in-query persist() never
    *    serves a later run from an earlier run's cache. RDD-level state
    *    (the memo localCheckpoints) is not touched.
    *  - Memo netting: a shared-scan memo is built inside the FIRST query
    *    that touches it; each run's memo-build seconds are subtracted
    *    from that run's time, so per-query seconds are net of memo builds
    *    at every runs setting (the total adds `memo_sec` once).
    *  - Work: the counters are snapshotted around each run (untimed, the
    *    bus drained); the record keeps the last run's, which from the
    *    second run on repeat (see [[graft.core.WorkCounters]] for the
    *    exception).
    * Left(error) when any run fails. */
  def measure(spark: SparkSession, counters: WorkCounters, dir: String,
              name: String, fn: (SparkSession, String) => DataFrame,
              runs: Int): Either[String, Measured] = {
    def memoNow(): Double = SparkEntry.memoSeconds.asScala
      .collect { case ((d, _), sec) if d == dir => sec }.sum
    if (runs == 1) System.gc()
    val timed = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      val w0 = counters.snapshot()
      val m0 = memoNow()
      val t0 = System.nanoTime()
      val r = try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.count()
        Right(df)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val net = math.max((System.nanoTime() - t0) / 1e9 - (memoNow() - m0), 0.0)
      (r, net, counters.snapshot() - w0)
    }
    for {
      _ <- timed.collectFirst { case (Left(err), _, _) => err }.toLeft(())
      df <- timed.last._1
    } yield {
      val plan = df.queryExecution.executedPlan
      // Plan-shape telemetry: "Exchange" mentions in the final (post-AQE)
      // plan (Exchange / BroadcastExchange / ReusedExchange alike) — a
      // lost broadcast or an extra shuffle shows up as a count bump, a
      // regression SIGNAL, not an exact exchange census. The
      // single-partition lint (r4 verdict #8) flags global sorts over an
      // unbounded single-partition shuffle (graft.core.PlanAudit).
      val exchanges = try {
        val text = plan.toString.split("== Initial Plan ==").head
        text.sliding("Exchange".length).count(_ == "Exchange")
      } catch { case _: Throwable => -1 }
      val sp1 = try graft.core.PlanAudit.unboundedSinglePartitionSorts(plan)
        catch { case _: Throwable => -1 }
      Measured(Record(name, timed.map(_._2).min, timed.last._3, exchanges, sp1),
        timed.map(_._3), df)
    }
  }

  /** Whether `r` did the work the prior capture recorded for that query:
    * every per-query counter equal. None when the prior lacks one of
    * them (captures from before the counter maps). */
  def sameWork(prior: String, r: Record): Option[Boolean] = {
    val p = Record.keys.map(parseFlatMap(prior, _).get(r.name))
    if (p.contains(None)) None else Some(p.flatten == r.counters)
  }

  /** The `regressed` map: prior and current seconds of each flagged
    * query, with `same_work` wherever the prior carries its counters. */
  def regressedJson(regressed: Seq[(String, Double, Double)], prior: Option[String],
                    records: Seq[Record]): String =
    obj(regressed.map { case (n, p, c) =>
      val same = for (txt <- prior; r <- records.find(_.name == n);
                      s <- sameWork(txt, r)) yield s""","same_work":$s"""
      n -> s"""{"prior":$p,"now":$c${same.getOrElse("")}}"""
    })

  /** The capture line. Field order is truncation-proof BY DESIGN (r4's
    * driver tail capture lost the seconds map): run facts and lint maps
    * first, then the per-query counter maps, the per-query seconds, and
    * `value` and `unit` LAST, so any tail of the line still carries the
    * headline numbers. `lints` are rendered objects (errors, regressed,
    * scaling, needs_standalone). */
  def captureLine(sfDir: String, cpus: Int, runner: String, loop: WorkCounters.Snap,
                  lints: Seq[(String, String)], records: Seq[Record],
                  memo: Seq[(String, Double)], catalogSec: Double,
                  results: Seq[(String, Double)], total: Double): String = {
    val maps = Record.keys.zipWithIndex.map { case (k, i) =>
      k -> obj(records.map(r => r.name -> num(r.counters(i))))
    }
    obj(Seq("metric" -> "\"total\"", "sf" -> s""""$sfDir"""", "cpus" -> cpus,
      "runner" -> s""""$runner"""", "task_cpu_s" -> loop.taskCpuMs / 1000.0,
      "task_run_s" -> loop.taskRunMs / 1000.0) ++ lints ++ maps ++
      Seq("memo_sec" -> obj(memo), "catalog_sec" -> catalogSec,
        "queries" -> obj(results), "value" -> total, "unit" -> "\"sec\""))
  }

  def main(args: Array[String]): Unit = {
    // Janitor first (r13 verdict stretch item 8): stale scratch from a
    // killed prior run both starves spills and skews I/O timings.
    graft.core.DiskGuard.sweepStaleScratch()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The local capture path is overridable so off-sf captures (sf1
    // scaling runs) don't clobber the committed sf0.1 baseline the
    // regression lint compares against.
    val localPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCAL", "BENCH_LOCAL.json")
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
    // The thread count the session runs with (its local[N]), which is
    // what makes two captures' seconds comparable.
    val cpus = GraftSession.cpus.toInt
    val priorTxt: Option[String] =
      try Some(Files.readString(Paths.get(localPath))) catch { case _: Throwable => None }
    val prior = priorTxt.map(priorSeconds(_, sfDir, cpus)).getOrElse(Map.empty)
    val spark = GraftSession.build("graft-bench")
    val names = SparkEntry.queries.keys.filter(n => only.forall(_.contains(n)))
      .toSeq.sorted
    val catalogSec = prepare(spark, sfDir, names)

    val counters = WorkCounters.attach(spark.sparkContext)
    val w0 = counters.snapshot()
    val measured = names.map { name =>
      val m = measure(spark, counters, sfDir, name, SparkEntry.queries(name), runs)
      m.left.foreach(err => System.err.println(s"[bench] $name FAILED: $err"))
      name -> m
    }
    val loop = counters.snapshot() - w0
    val errors = measured.collect { case (n, Left(err)) => n -> err }
    val records = measured.collect { case (_, Right(m)) => m.record }
    val results = measured.map { case (n, m) => n -> m.fold(_ => -1.0, _.record.sec) }
    // Honest memo accounting: SparkEntry's shared-scan memos are built
    // inside the FIRST run of the first query that needs them, so
    // min-of-3 timing would silently hide their cost. Report build
    // seconds per memo key and fold them into the total.
    val memo = SparkEntry.memoSeconds.asScala.toSeq
      .collect { case ((dir, key), sec) if dir == sfDir => key -> sec }
      .sortBy(_._1)
    val total = suiteTotal(results, memo.map(_._2).sum, catalogSec)
    val errJson = obj(errors.map { case (k, v) =>
      k -> s""""${v.replace("\\", "\\\\").replace("\"", "\\\"").takeWhile(_ >= ' ')}""""
    })
    // Variance band: 1 for the per-round sf0.1 gate (unchanged behavior);
    // big-SF suite captures set SPARK_GRAFT_VARIANCE_BAND=2 explicitly
    // or inherit 2 from a scale factor ≥ 100 (varianceBand). Flags inside
    // the band land in needs_standalone (re-measure on a quiet host)
    // instead of regressed/scaling — mechanizing the r12 adjudication
    // protocol that re-classified all 18 sf100 co-capture flags.
    val envBand = sys.env.get("SPARK_GRAFT_VARIANCE_BAND").map(_.toDouble)
    val regBand = envBand.getOrElse(1.0)
    val (regressed, regAdvisory) = regressionsSplit(prior, results, regBand)
    regressed.foreach { case (n, p, c) =>
      System.err.println(f"[bench] REGRESSED $n: $p%.3f s -> $c%.3f s (${c / p}%.2fx)")
    }
    val regJson = regressedJson(regressed, priorTxt, records)
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
              if (!results.exists(r =>
                  Registry.scaling(r._1) == Scaling.MinhashPairs && r._2 >= 0))
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
    val scJson = obj(scaling.map { case (n, b, c, bound) =>
      n -> s"""{"base":$b,"now":$c,"bound":$bound}"""
    })
    val nsJson = obj(regAdvisory.map { case (n, p, c) =>
      n -> s"""{"kind":"regression","prior":$p,"now":$c}"""
    } ++ scAdvisory.map { case (n, b, c, bound) =>
      n -> s"""{"kind":"scaling","base":$b,"now":$c,"bound":$bound}"""
    })
    // Runner provenance (r19 verdict item 4): sf0.1 totals measure
    // ~10% apart between `sbt runMain` (~62-63 s; build.sbt stamps the
    // env var on forked runs) and tools/run_main.sh (~70 s) — a
    // launcher/heap effect the spread census must attribute to the
    // launcher, not read as code drift. Unstamped launchers report
    // "unknown" (all captures before r20 predate the field).
    val runner = sys.env.getOrElse("SPARK_GRAFT_RUNNER", "unknown")
    val json = captureLine(sfDir, cpus, runner, loop,
      Seq("errors" -> errJson, "regressed" -> regJson, "scaling" -> scJson,
        "needs_standalone" -> nsJson), records, memo, catalogSec, results, total)
    val trailer = trailerLine(sfDir, cpus, runner, errors.size,
      spark.sparkContext.defaultParallelism,
      peakConcurrency(counters.taskSpans.asScala), catalogSec, loop, total)
    // A subset run (SPARK_GRAFT_BENCH_ONLY) only writes the local capture
    // when SPARK_GRAFT_BENCH_LOCAL names a path explicitly — otherwise a
    // focused run would clobber the committed full-suite baseline and
    // silently drop regression-lint coverage for every absent query.
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_LOCAL"))
      Files.writeString(Paths.get(localPath), json + "\n" + trailer + "\n")
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
