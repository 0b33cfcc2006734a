package graft.core

import graft.{Bench, SparkEntry, SparkSuite}
import graft.apps.Profile

/** The premise that replaces host normalization: the same query on the
  * same data repeats its work counters exactly, so equal counters beside
  * a moved wall time isolate the host. Pinned through the one
  * measurement path `graft.Bench` and `graft.apps.Profile` share, for
  * two TPC-H shapes and a memo consumer. */
class WorkCountersSpec extends SparkSuite {

  private val sf0001 = "/root/testdata/sf0.001"

  private def withCounters[A](body: WorkCounters => A): A = {
    val counters = WorkCounters.attach(spark.sparkContext)
    try body(counters) finally spark.sparkContext.removeSparkListener(counters)
  }

  private def measured(counters: WorkCounters, dir: String, name: String): Bench.Measured =
    Bench.measure(spark, counters, dir, name, SparkEntry.queries(name), runs = 3)
      .fold(err => fail(s"$name failed: $err"), identity)

  /** The capture's per-query counters of each timed run. */
  private def perRun(m: Bench.Measured): Seq[Seq[Double]] =
    m.runWork.map(w => m.record.copy(work = w).counters)

  test("runs 2 and 3 repeat every counter exactly: q_tpch_q1, q_tpch_q7, q_dedup_keep") {
    // q_dedup_keep's memo then builds inside its first run, as in a capture
    SparkEntry.clearMemos(spark)
    // q_tpch_q7 runs at sf0.01: at sf0.001 no supplier is in either
    // nation, AQE cuts the plan to an empty relation when that broadcast
    // lands, and what it launched before depends on which of two
    // concurrent broadcasts finished first (WorkCounters' exception)
    val cases = Seq(sf0001 -> "q_tpch_q1", "/root/testdata/sf0.01" -> "q_tpch_q7",
      sf0001 -> "q_dedup_keep")
    withCounters { counters =>
      val runs = cases.map { case (dir, name) =>
        val m = measured(counters, dir, name)
        assert(m.runWork.size === 3)
        assert(perRun(m)(1) === perRun(m)(2), name)
        assert(m.record.work === m.runWork(2), name)
        val w = m.record.work
        assert(w.jobs > 0 && w.stages > 0 && w.tasks > 0 && w.scanRows > 0, s"$name: $w")
        m
      }
      // the memo build is work of the first run only; once built, every
      // run repeats the same counters
      assert(runs(2).runWork(0).jobs > runs(2).runWork(1).jobs)
      val again = perRun(measured(counters, sf0001, "q_dedup_keep"))
      assert(again.distinct.size === 1)
    }
  }

  test("Profile's record for q_tpch_q1 equals the one Bench's capture stores") {
    withCounters { counters =>
      val bench = measured(counters, sf0001, "q_tpch_q1").record
      val capture = Bench.captureLine(sf0001, 4, "test", bench.work, Nil, Seq(bench),
        Nil, 0.0, Seq(bench.name -> bench.sec), bench.sec)
      val line = Profile.line("q_tpch_q1", Right(measured(counters, sf0001, "q_tpch_q1")))
      Bench.Record.keys.foreach { k =>
        val printed = ("\"" + k + "\":(-?[0-9.eE+]+)").r.findFirstMatchIn(line)
          .map(_.group(1).toDouble)
        assert(printed === Bench.parseFlatMap(capture, k).get("q_tpch_q1"), k)
      }
    }
  }
}
