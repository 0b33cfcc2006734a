package graft.streaming

import scala.util.Random

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSuite
import graft.streaming.StreamingHeavyHitters.Candidate

/** Streaming MG guarantees: candidate supersetness of the true heavy
  * hitters across micro-batches, lower-bound soundness, and bounded
  * state per lane. */
class StreamingHeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  private def mem[A: Encoder]: MemoryStream[A] = MemoryStream[A](spark)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("multi-batch candidates cover every true heavy hitter; bounds are sound") {
    val rnd = new Random(7)
    val batches = (1 to 4).map { _ =>
      Seq.fill(1500) {
        if (rnd.nextDouble() < 0.4) s"head_${rnd.nextInt(4)}"
        else s"tail_${rnd.nextInt(400)}"
      }
    }
    val k = 20
    val ms = mem[String]
    val q = StreamingHeavyHitters.run(ms.toDS(), k = k, buckets = 4)
      .writeStream.format("memory").queryName("shh").outputMode("update").start()
    withQuery(q) {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    }
    // latest emission per (bucket, item), tombstones dropped: the
    // update-mode consumer view (the memory sink appends updates; the
    // last row per key is current, lower_bound = 0 marks a drop-out)
    val latest = spark.table("shh").as[Candidate].collect().zipWithIndex
      .groupBy(c => (c._1.bucket, c._1.item))
      .map { case (_, rows) => rows.maxBy(_._2)._1 }
      .filter(_.lower_bound > 0).toSeq
    val all = batches.flatten
    val n = all.size.toLong
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val hitters = exact.filter { case (_, c) => c * k > n }.keySet
    val candidates = latest.map(_.item).toSet
    assert(hitters.nonEmpty && hitters.subsetOf(candidates),
      s"missing: ${hitters -- candidates}")
    // lower bounds never exceed true counts, and undercount by <= n_b/k
    latest.foreach { c =>
      assert(c.lower_bound <= exact(c.item), s"${c.item} overcounted")
      assert(exact(c.item) - c.lower_bound <= c.bucket_n / k + 1,
        s"${c.item} undercount beyond bound")
    }
    // per-lane state is bounded: <= k-1 candidates per bucket
    latest.groupBy(_.bucket).foreach { case (b, rows) =>
      assert(rows.size <= k - 1, s"bucket $b overflowed: ${rows.size}")
    }
  }

  test("transformWithState twin == flatMapGroupsWithState, batch and stream") {
    val rnd = new Random(13)
    val batches = (1 to 3).map { _ =>
      Seq.fill(600) {
        if (rnd.nextDouble() < 0.5) s"hot_${rnd.nextInt(3)}"
        else s"cold_${rnd.nextInt(200)}"
      }
    }
    val k = 12
    def key(c: Candidate) = (c.bucket, c.item, c.lower_bound, c.bucket_n)
    // batch: one trigger's worth of data through both APIs
    val all = batches.flatten
    val v1 = StreamingHeavyHitters.run(all.toDS(), k, buckets = 3)
      .collect().map(key).sorted.toSeq
    val v2 = StreamingHeavyHitters.runTws(all.toDS(), k, buckets = 3)
      .collect().map(key).sorted.toSeq
    assert(v2 === v1 && v1.nonEmpty)
    // stream: same micro-batch splits through both APIs on RocksDB (the
    // session default) — the full update streams (candidates AND
    // tombstones) must be identical
    def drive(name: String,
              start: org.apache.spark.sql.Dataset[String] => org.apache.spark.sql.Dataset[Candidate]): Seq[(Int, String, Long, Long)] = {
      val ms = mem[String]
      val q = start(ms.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("update").start()
      withQuery(q) {
        batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[Candidate].collect().map(key).sorted.toSeq
      }
    }
    val s1 = drive("shh_v1", StreamingHeavyHitters.run(_, k, 3))
    val s2 = drive("shh_v2", StreamingHeavyHitters.runTws(_, k, 3))
    assert(s2 === s1 && s1.nonEmpty)
    // tombstones present in BOTH streams (drop-outs really happened)
    assert(s1.exists(_._3 == 0L), "no tombstones exercised by the fixture")
  }

  test("advance: sequential batch folds == one fold of the concatenation") {
    val rnd = new Random(11)
    val a = Seq.fill(800)(s"x${rnd.nextInt(50)}")
    val b = Seq.fill(800)(s"x${rnd.nextInt(50)}")
    val step = StreamingHeavyHitters.advance(
      StreamingHeavyHitters.advance((Map.empty, 0L), a, 10), b, 10)
    val once = StreamingHeavyHitters.advance((Map.empty, 0L), a ++ b, 10)
    assert(step === once)
  }
}
