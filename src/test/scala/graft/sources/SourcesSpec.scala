package graft.sources

import java.io.PrintWriter
import java.net.ServerSocket

import graft.SparkSuite
import graft.gen.SampleData

class SourcesSpec extends SparkSuite {
  import spark.implicits._

  private def awaitRows(table: String, atLeast: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.table(table).count() < atLeast &&
      System.currentTimeMillis() < deadline) Thread.sleep(200)
  }

  test("S4 socket source delivers lines from a live TCP server") {
    val server = new ServerSocket(0)
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      out.println("hello world")
      out.println("spark streams")
      Thread.sleep(20000) // hold the connection open until the test ends
      out.close(); sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val q = Sources.socketLines(spark, "localhost", server.getLocalPort)
      .writeStream.format("memory").queryName("sock").outputMode("append").start()
    try {
      awaitRows("sock", 2)
      val got = spark.table("sock").as[String].collect().toSet
      assert(got === Set("hello world", "spark streams"))
    } finally { q.stop(); server.close() }
  }

  test("S3 streaming text source tails a directory") { withTempDir("graft-stream-text") { dir =>
    val q = Sources.readTextStream(spark, dir)
      .writeStream.format("memory").queryName("ftext").outputMode("append").start()
    try {
      java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "a.txt"), "one\ntwo\n")
      q.processAllAvailable()
      java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "b.txt"), "three\n")
      q.processAllAvailable()
      val got = spark.table("ftext").as[String].collect().toSet
      assert(got === Set("one", "two", "three"))
    } finally q.stop()
  }}

  test("S3/S8 throttled file source drains a backlog one file per micro-batch") { withTempDir("graft-throttle-text") { dir =>
    // backlog exists BEFORE the stream starts — the backfill case
    (0 until 5).foreach { i =>
      java.nio.file.Files.writeString(java.nio.file.Path.of(dir, s"f$i.txt"), s"line$i\n")
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Sources.readTextStreamThrottled(spark, dir, maxFilesPerTrigger = 1)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }; ()
      }.start()
    try {
      q.processAllAvailable()
      // every micro-batch saw exactly one file's rows; nothing lost
      assert(batchSizes.synchronized(batchSizes.toSeq) === Seq.fill(5)(1L))
    } finally q.stop()
  }}

  test("Trigger.AvailableNow drains the whole backlog in throttled batches, then self-terminates") { withTempDir("graft-anow-text") { dir =>
    (0 until 5).foreach { i =>
      java.nio.file.Files.writeString(java.nio.file.Path.of(dir, s"f$i.txt"), s"line$i\n")
    }
    val q = Sources.readTextStreamThrottled(spark, dir, maxFilesPerTrigger = 2)
      .writeStream.format("memory").queryName("anow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    try {
      // the bounded-drain trigger: processes everything that existed at
      // start (still respecting the per-batch cap), then STOPS — the
      // "catch up, then hand back the cluster" backfill mode
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      assert(spark.table("anow").as[String].collect().toSet ===
        (0 until 5).map(i => s"line$i").toSet)
    } finally q.stop()
  }}

  test("S8/S9 rate-micro-batch through the generator mapping == batch generator") {
    val gen = SampleData.withGradeSalary(Sources.rateMicroBatch(spark, 10), "value")
      .select($"value".as("seq"), $"name", $"grade", $"salary")
    val q = gen.writeStream.format("memory").queryName("gen")
      .outputMode("append").start()
    try {
      awaitRows("gen", 20)
      val streamed = spark.table("gen")
        .as[(Long, String, Int, Int)].collect().toSeq.sortBy(_._1).take(20)
      // Domains (`WindowJoinSampleData.scala:35-37`)
      assert(streamed.forall(r => SampleData.Names.contains(r._2)))
      assert(streamed.forall(r => r._3 >= 1 && r._3 <= 5))
      assert(streamed.forall(r => r._4 >= 1 && r._4 <= 10000))
      // The streaming twin is the SAME deterministic generator as batch
      val batch = SampleData.gradesSalaries(spark, 20)
        .as[(Long, String, Int, Int)].collect().toSeq.sortBy(_._1)
      assert(streamed === batch)
    } finally q.stop()
  }
}
