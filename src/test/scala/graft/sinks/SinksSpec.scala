package graft.sinks

import java.io.File

import graft.SparkSuite
import graft.sources.Sources

class SinksSpec extends SparkSuite {
  import spark.implicits._

  test("K3/K4 writeAsText: tuple-style lines, OVERWRITE semantics, single file") {
    val dir = tempDir("graft-text") + "/out"
    Sinks.writeText(Seq(("a", 1L)).toDF("w", "c"), dir)
    assert(Sources.readText(spark, dir).as[String].collect().toSeq === Seq("(a,1)"))

    Sinks.writeText(Seq(("b", 2L), ("c", 3L)).toDF("w", "c"), dir)
    val after = Sources.readText(spark, dir).as[String].collect().toSeq.sorted
    assert(after === Seq("(b,2)", "(c,3)")) // first write fully replaced

    val parts = new File(dir).listFiles().count(f =>
      f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts === 1) // K4: sink parallelism 1
  }

  test("K2 stderrStream caps per-batch driver collection at maxRows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val baos = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(baos, true))
    try {
      val ms = MemoryStream[Long](spark)
      val q = Sinks.stderrStream(ms.toDF(), "append", maxRows = 5).start()
      try {
        ms.addData(1L to 100L: _*)
        q.processAllAvailable()
      } finally q.stop()
    } finally System.setErr(realErr)
    val lines = baos.toString.split("\n").count(_.startsWith("[batch"))
    assert(lines === 5) // 100-row batch, 5-row cap
  }

  test("toLines prints NULL fields as 'null' with stable arity (Tuple.toString parity)") {
    val lines = Sinks.toLines(
      Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("id", "v"))
      .as[String].collect().toSeq.sorted
    assert(lines === Seq("(1,null)", "(2,x)"))
  }
}
