package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.WorkCounters

/** The bench regression lint and capture shape (pure functions — no
  * Spark): prior-capture parsing must survive the real BENCH_LOCAL
  * shape, a prior counts only at the same sf and cpus, and the regression
  * gates must require BOTH the ratio and the absolute floor so ambient
  * host drift (broad 1.3x swings on sub-0.3 s queries) stays quiet while
  * a real 2x-on-a-1 s-query regression fires. */
class BenchLintSpec extends AnyFunSuite {

  private val sample =
    """{"metric":"total","sf":"/root/testdata/sf0.1","errors":{},""" +
      """"exchanges":{"q_a":3,"q_b":12},"memo_sec":{"docs":1.5},""" +
      """"queries":{"q_a":0.25,"q_b":1.0,"q_c":-1.0},"value":1.25,"unit":"sec"}"""

  /** One top-level numeric field of a capture or trailer line. */
  private def field(json: String, name: String): Option[Double] =
    ("\"" + name + "\":(-?[0-9.eE+]+)").r.findFirstMatchIn(json).map(_.group(1).toDouble)

  /** Fields of the retired host-drift machinery: anchors, load, contention. */
  private val hostDriftFields = Seq("anchor", "load_avg", "contended", "hostnorm")

  test("parsePrior extracts the sf tag and the per-query seconds map") {
    val (sf, qs) = Bench.parsePrior(sample)
    assert(sf === "/root/testdata/sf0.1")
    assert(qs === Map("q_a" -> 0.25, "q_b" -> 1.0, "q_c" -> -1.0))
  }

  test("parsePrior on junk input degrades to empty, never throws") {
    assert(Bench.parsePrior("")._2.isEmpty)
    assert(Bench.parsePrior("{\"queries\":{}}")._2.isEmpty)
    assert(Bench.parsePrior("not json at all")._2.isEmpty)
  }

  test("scalingViolations: class bounds — sublinear fires at linear, linear at quadratic, " +
    "pairs tolerate the replica's density blowup") {
    val base = Map(
      "q_token_budget" -> 0.5,      // sublinear: bound 9x at factor 10
      "q_tpch_q1" -> 0.6,           // default linear: bound 16x
      "q_pair_editdist" -> 0.3,     // pairs: bound 50x
      "q_tiny" -> 0.02)             // absolute floor case
    val now = Seq(
      "q_token_budget" -> 5.0,      // 10x = linear: a SUBLINEAR op regressed -> fires
      "q_tpch_q1" -> 6.0,           // 10x: fine for linear
      "q_pair_editdist" -> 12.0,    // 40x: within the pairs bound (replica hardness)
      "q_tiny" -> 0.25)             // 12.5x but only +0.23 s: overhead, quiet
    val v = Bench.scalingViolations(base, now, factor = 10.0)
    assert(v.map(_._1) === Seq("q_token_budget"))
    // a true all-pairs regression (~100x on the 10x replica) DOES fire
    val v2 = Bench.scalingViolations(base, Seq("q_pair_editdist" -> 33.0), 10.0)
    assert(v2.map(_._1) === Seq("q_pair_editdist"))
    // and a quadratic default-class query fires too
    val v3 = Bench.scalingViolations(base, Seq("q_tpch_q1" -> 11.0), 10.0)
    assert(v3.map(_._1) === Seq("q_tpch_q1"))
  }

  test("scaleBound: pair queries bound against measured candidate volume when known") {
    // without a measured ratio, pairs fall back to 5·factor (small factors)
    assert(Bench.scaleBound("q_pair_editdist", 10.0) === 50.0)
    // with the lshPairVolume pre-flight ratio (3189× at factor 100 on the
    // GenScale replica), the bound follows candidate VOLUME, not rows —
    // the lint stops flagging correct ~quadratic pair growth
    assert(Bench.scaleBound("q_pair_editdist", 100.0, Some(3189.0)) === 5.0 * 3189.0)
    // non-pair classes ignore the ratio
    assert(Bench.scaleBound("q_wordcount", 10.0, Some(3189.0)) === 16.0)
    assert(Bench.scaleBound("q_token_budget", 10.0, Some(3189.0)) === 9.0)
  }

  test("scaleBound: the measured minhash ratio never crosses modalities; " +
    "per-query ratios override anywhere") {
    // text-minhash family follows the derived text candidate-volume ratio
    assert(Bench.scaleBound("q_dedup_agreement", 100.0, Some(3189.0)) === 5.0 * 3189.0)
    // the clustering family left the pair class in r15 (CC over the
    // CLASS graph — cost is linear in rows, not candidate volume)
    assert(Bench.scaleBound("q_dedup_clusters", 100.0, Some(3189.0)) === 160.0)
    // an audio/image/video pair query is NOT bounded by the text ratio —
    // a slower-growing modality under the faster text bound would get
    // slack that masks a real super-quadratic regression (r12 ADVICE 1)
    assert(Bench.scaleBound("q_audio_neardup", 100.0, Some(3189.0)) === 500.0)
    // unless its own measured ratio is supplied per query
    assert(Bench.scaleBound("q_audio_neardup", 100.0, Some(3189.0),
      Map("q_audio_neardup" -> 600.0)) === 3000.0)
    // and a per-query ratio also wins over the family ratio
    assert(Bench.scaleBound("q_pair_editdist", 100.0, Some(3189.0),
      Map("q_pair_editdist" -> 100.0)) === 500.0)
  }

  test("varianceBand: 1x below factor 100, 2x at and beyond") {
    assert(Bench.varianceBand(10.0) === 1.0)
    assert(Bench.varianceBand(100.0) === 2.0)
    assert(Bench.varianceBand(1000.0) === 2.0)
  }

  test("scalingSplit: inside the variance band is a standalone advisory, " +
    "beyond it a hard violation; band 1 reproduces scalingViolations") {
    val base = Map("q_tpch_q1" -> 1.0)
    // bound at factor 100 for linear = 160x; band 2 → hard gate 320x
    val mild = Seq("q_tpch_q1" -> 200.0)   // 200x: over bound, inside band
    val wild = Seq("q_tpch_q1" -> 400.0)   // 400x: beyond band
    val (h1, a1) = Bench.scalingSplit(base, mild, 100.0, band = 2.0)
    assert(h1.isEmpty && a1.map(_._1) === Seq("q_tpch_q1"))
    val (h2, a2) = Bench.scalingSplit(base, wild, 100.0, band = 2.0)
    assert(h2.map(_._1) === Seq("q_tpch_q1") && a2.isEmpty)
    // band 1 (per-round gates): everything over bound is hard, no advisories
    val (h3, a3) = Bench.scalingSplit(base, mild, 100.0, band = 1.0)
    assert(h3.map(_._1) === Seq("q_tpch_q1") && a3.isEmpty)
    assert(h3 === Bench.scalingViolations(base, mild, 100.0))
  }

  test("regressionsSplit: band 2 reroutes 1.5-3x flags to advisory, keeps >3x hard") {
    val prior = Map("a" -> 1.0, "b" -> 1.0)
    val now = Seq("a" -> 2.0, "b" -> 4.0) // 2x and 4x, both +>0.3s
    val (hard, adv) = Bench.regressionsSplit(prior, now, band = 2.0)
    assert(hard === Seq(("b", 1.0, 4.0)))
    assert(adv === Seq(("a", 1.0, 2.0)))
    // default band 1: both hard — the unchanged per-round gate
    assert(Bench.regressionsSplit(prior, now)._1.map(_._1) === Seq("a", "b"))
  }

  test("jitterBand: q_async_identity's measured pool jitter routes 1.5-3x to " +
    "advisory even at band 1; >3x stays hard; no slack leaks to other queries") {
    val prior = Map("q_async_identity" -> 0.616, "q_wordcount" -> 0.616)
    // the r14 case: 0.616 -> 0.954 (1.55x) — inside the measured ±40%
    // spread for the async query, a hard flag for a CPU-bound one
    val now = Seq("q_async_identity" -> 0.954, "q_wordcount" -> 0.954)
    val (hard, adv) = Bench.regressionsSplit(prior, now)
    assert(hard.map(_._1) === Seq("q_wordcount"))
    assert(adv.map(_._1) === Seq("q_async_identity"))
    // a REAL async regression (>3x = 2x band x 1.5 gate) still fires hard
    val (h2, a2) = Bench.regressionsSplit(prior, Seq("q_async_identity" -> 2.0))
    assert(h2.map(_._1) === Seq("q_async_identity") && a2.isEmpty)
    // a wider global band still wins when larger than the per-query one
    val (h3, a3) = Bench.regressionsSplit(prior,
      Seq("q_async_identity" -> 2.0), band = 4.0)
    assert(h3.isEmpty && a3.map(_._1) === Seq("q_async_identity"))
  }

  test("jitterBand: the r19 census breachers route their MEASURED worst " +
    "cross-capture ratios to advisory; a real complexity slip stays hard") {
    // priors = the census stable-window minima, `now` = the trimmed
    // maxima (SPREAD_CENSUS_R19.json) — the exact worst case the
    // full-history census measured for each query across 27 captures
    val prior = Map("q_rolling_active" -> 0.4818,
      "q_weighted_interval" -> 0.832, "q_novelty" -> 0.6314)
    val worst = Seq("q_rolling_active" -> 1.0089,   // 2.09x trimmed
      "q_weighted_interval" -> 1.3287,              // 1.60x
      "q_novelty" -> 1.0753)                        // 1.70x RAW (r19 item 6:
                                                    // the floor is set from the
                                                    // raw spread, so even the
                                                    // untrimmed worst case is
                                                    // homework, not an alarm)
    val (hard, adv) = Bench.regressionsSplit(prior, worst)
    assert(hard.isEmpty, s"measured noise flagged hard: $hard")
    assert(adv.map(_._1).toSet ===
      Set("q_rolling_active", "q_weighted_interval", "q_novelty"))
    // a genuine slip (>= band x 1.5 of prior) still alarms on each
    val slip = Seq("q_rolling_active" -> 1.2, "q_weighted_interval" -> 1.5,
      "q_novelty" -> 1.1)
    val (h2, a2) = Bench.regressionsSplit(prior, slip)
    assert(h2.map(_._1).toSet ===
      Set("q_rolling_active", "q_weighted_interval", "q_novelty"), a2)
  }

  test("regressions: fires only past BOTH the 1.5x ratio and 0.3 s absolute gates") {
    val prior = Map("fast" -> 0.1, "slow" -> 1.0, "mid" -> 0.5, "err" -> 2.0)
    val now = Seq(
      "fast" -> 0.25, // 2.5x but only +0.15 s → quiet (noise floor)
      "slow" -> 2.2,  // 2.2x and +1.2 s → fires
      "mid" -> 0.7,   // +0.2 s and 1.4x → quiet on both gates
      "err" -> -1.0,  // failed this run → excluded (lands in errors map)
      "new" -> 9.9)   // no prior → nothing to compare
    assert(Bench.regressions(prior, now) === Seq(("slow", 1.0, 2.2)))
  }

  test("trailer line: short, tail-survivable, and carries every adjudication " +
    "field the r14 truncation lost") {
    val loop = WorkCounters.Snap(jobs = 900, stages = 1200, tasks = 9000,
      shuffleWriteBytes = 1L << 30, scanRows = 50000000L,
      taskRunMs = 812345L, taskCpuMs = 701234L)
    val t = Bench.trailerLine("/root/testdata/sf0.1", 32, "run_main",
      errorCount = 0, defaultPar = 32, maxConc = 32, catalogSec = 0.412,
      loop = loop, total = 146.6)
    // runner provenance (r19 item 4) rides the truncation-proof line
    assert(t.contains(""""runner":"run_main""""))
    // short enough that ANY plausible tail capture keeps it whole
    assert(t.length < 400, s"trailer too long to survive truncation: ${t.length}")
    assert(!t.contains("\n"))
    assert(field(t, "cpus") === Some(32.0))
    assert(field(t, "error_count") === Some(0.0))
    assert(field(t, "max_concurrent_tasks") === Some(32.0))
    assert(field(t, "catalog_sec") === Some(0.412))
    // run time far above CPU time with equal counters reads as a starved host
    assert(field(t, "task_cpu_s") === Some(701.234))
    assert(field(t, "task_run_s") === Some(812.345))
    assert(t.endsWith(""""value":146.6,"unit":"sec"}"""))
    hostDriftFields.foreach(f => assert(!t.contains(f), f))
    // and a baseline file carrying main line + trailer still parses as
    // before: first queries block wins
    val (sf, qs) = Bench.parsePrior(sample + "\n" + t)
    assert(sf === "/root/testdata/sf0.1")
    assert(qs === Map("q_a" -> 0.25, "q_b" -> 1.0, "q_c" -> -1.0))
  }

  private def snap(jobs: Long, tasks: Long, rows: Long) =
    WorkCounters.Snap(jobs = jobs, stages = jobs, tasks = tasks,
      shuffleWriteBytes = 3L << 20, scanRows = rows, taskRunMs = 0, taskCpuMs = 0)
  private val recA = Bench.Record("q_a", 0.25, snap(2, 5, 6001215), exchanges = 1, sp1 = 0)
  private val recB = Bench.Record("q_b", 1.0, snap(7, 40, 150000), exchanges = 12, sp1 = 1)

  private def capture(records: Seq[Bench.Record], cpus: Int = 4): String =
    Bench.captureLine("/root/testdata/sf0.1", cpus, "sbt",
      WorkCounters.Snap(9, 9, 45, 6L << 20, 6151215, 2500, 2000),
      Seq("errors" -> "{}", "regressed" -> "{}", "scaling" -> "{}",
        "needs_standalone" -> "{}"),
      records, Seq("docs" -> 1.5), 0.3,
      records.map(r => r.name -> r.sec) :+ ("q_c" -> -1.0), 3.05)

  test("capture line: counter maps for every query, no host-drift fields, value last") {
    val c = capture(Seq(recA, recB))
    assert(!c.contains("\n"))
    Bench.Record.keys.foreach(k =>
      assert(Bench.parseFlatMap(c, k).keySet === Set("q_a", "q_b"), k))
    hostDriftFields.foreach(f => assert(!c.contains(f), f))
    assert(field(c, "task_cpu_s") === Some(2.0) && field(c, "task_run_s") === Some(2.5))
    // truncation-proof order: every per-query map precedes the seconds,
    // and value + unit close the line
    val qAt = c.indexOf(""""queries":{""")
    Bench.Record.keys.foreach(k => assert(c.indexOf(s""""$k":{""") < qAt, k))
    assert(c.endsWith(""""value":3.05,"unit":"sec"}"""))
    assert(Bench.parsePrior(c) ===
      ("/root/testdata/sf0.1", Map("q_a" -> 0.25, "q_b" -> 1.0, "q_c" -> -1.0)))
  }

  test("parseFlatMap: a capture's counter maps read back as the records' counters") {
    val c = capture(Seq(recA, recB))
    Bench.Record.keys.zipWithIndex.foreach { case (k, i) =>
      assert(Bench.parseFlatMap(c, k) ===
        Map("q_a" -> recA.counters(i), "q_b" -> recB.counters(i)), k)
    }
    assert(Bench.parseFlatMap(c, "scan_rows")("q_a") === 6001215.0)
    assert(Bench.parseFlatMap(c, "shuffle_mb")("q_b") === 3.0)
    assert(Bench.parseFlatMap(c, "memo_sec") === Map("docs" -> 1.5))
    // a key that only ends like a map name is not that map
    assert(Bench.parseFlatMap("""{"max_tasks":{"q_a":1}}""", "tasks").isEmpty)
    assert(Bench.parseFlatMap("", "jobs").isEmpty)
    assert(Bench.parseFlatMap("not json", "jobs").isEmpty)
    assert(Bench.parseFlatMap(sample, "jobs").isEmpty)
    // the one-line Profile record carries the same values
    val line = recB.json
    Bench.Record.keys.zip(recB.counters).foreach { case (k, v) =>
      assert(field(line, k) === Some(v), k) }
    assert(line.startsWith("""{"query":"q_b","""))
  }

  test("priorSeconds: a prior at another cpus count or sf yields an empty regressed map") {
    val prior = capture(Seq(recA, recB), cpus = 32)
    val slower = Seq("q_a" -> 1.0, "q_b" -> 4.0) // 4x: what local[4] reads vs local[32]
    assert(Bench.regressions(Bench.priorSeconds(prior, "/root/testdata/sf0.1", 32),
      slower).map(_._1) === Seq("q_a", "q_b"))
    assert(Bench.priorSeconds(prior, "/root/testdata/sf0.1", 4).isEmpty)
    assert(Bench.regressions(Bench.priorSeconds(prior, "/root/testdata/sf0.1", 4),
      slower).isEmpty)
    assert(Bench.priorSeconds(prior, "/root/testdata/sf0.01", 32).isEmpty)
    // a prior that predates the cpus field is not comparable either
    assert(Bench.priorSeconds(sample, "/root/testdata/sf0.1", 4).isEmpty)
  }

  test("same_work: each regression says whether the prior recorded the same counters") {
    val prior = capture(Seq(recA, recB))
    val now = Seq(recA.copy(sec = 1.0),
      recB.copy(sec = 4.0, work = recB.work.copy(tasks = 80)))
    val reg = Bench.regressions(Bench.parsePrior(prior)._2, now.map(r => r.name -> r.sec))
    assert(reg.map(_._1) === Seq("q_a", "q_b"))
    val json = Bench.regressedJson(reg, Some(prior), now)
    // same counts, 4x the wall: the host moved; more tasks: the code did
    assert(json.contains(""""q_a":{"prior":0.25,"now":1.0,"same_work":true}"""))
    assert(json.contains(""""q_b":{"prior":1.0,"now":4.0,"same_work":false}"""))
    assert(Bench.sameWork(prior, recA) === Some(true))
    // a prior without counter maps labels nothing
    assert(Bench.sameWork(sample, recA) === None)
    val bare = Bench.regressedJson(reg, Some(sample), now)
    assert(!bare.contains("same_work") && bare.contains(""""q_a":{"prior":0.25,"now":1.0}"""))
    assert(Bench.regressedJson(Nil, Some(prior), now) === "{}")
  }

  test("suiteTotal: catalog and memo seconds counted once, failed queries add nothing") {
    val results = Seq("q_a" -> 0.25, "q_b" -> 1.0, "q_c" -> -1.0)
    assert(Bench.suiteTotal(results, memoSec = 1.5, catalogSec = 0.5) === 3.25)
    assert(Bench.suiteTotal(Nil, memoSec = 0.0, catalogSec = 0.5) === 0.5)
  }

  test("peakConcurrency: overlapping task intervals stack, touching ones do not") {
    assert(Bench.peakConcurrency(Nil) === 0)
    assert(Bench.peakConcurrency(Seq((0L, 10L))) === 1)
    // three overlap in [5, 8); the fourth starts after the others ended
    assert(Bench.peakConcurrency(Seq((0L, 10L), (5L, 8L), (2L, 9L), (20L, 30L))) === 3)
    // back-to-back tasks on one slot: each ends in the ms the next starts
    assert(Bench.peakConcurrency(Seq((0L, 5L), (5L, 10L), (10L, 15L))) === 1)
    // a pool of 2 running a chain of touching pairs never reads 3 or 4
    val pool2 = (0 until 50).flatMap(i => Seq((i * 10L, i * 10L + 10), (i * 10L, i * 10L + 10)))
    assert(Bench.peakConcurrency(pool2) === 2)
    // delivery order is irrelevant: the listener bus may post ends late
    assert(Bench.peakConcurrency(pool2.reverse) === 2)
  }
}
