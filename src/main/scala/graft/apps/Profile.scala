package graft.apps

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.core.{Args, GraftSession, Json, WorkCounters}

/** Per-query profile through the benchmark's own measurement
  * ([[graft.Bench.measure]]): the same warm-up, min-of-N with memo
  * netting and work counters, printed as one JSON line per query — the
  * record a `graft.Bench` capture stores for that query.
  *
  * Usage: Profile <q1,q2,...|ALL> [--data dir] [--runs n] [--explain outDir]
  *
  * `--explain` also writes each query's formatted plan and its executed
  * (post-AQE) plan to `<outDir>/<query>.txt`, taken from the last timed
  * run, so the plan shows AQE's final join strategies and coalesced
  * reads rather than the initial guess. */
object Profile {

  /** The output line of one query: its record, or its error. */
  def line(name: String, m: Either[String, Bench.Measured]): String =
    m.fold(err => s"""{"query":"$name","error":"${Json.escape(err)}"}""",
      _.record.json)

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.apps.Profile <q1,q2,...|ALL> [--data dir] [--runs n] [--explain outDir]"
    val names = args.headOption.filterNot(_.startsWith("--")) match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(qs)    => qs.split(",").toSeq
      case None        => System.err.println(usage); sys.exit(2)
    }
    names.filterNot(SparkEntry.queries.contains).foreach { n =>
      System.err.println(s"unknown query '$n'"); sys.exit(2)
    }
    val a = Args(args)
    val dir = a.getOrElse("data", "/root/testdata/sf0.1")
    val runs = a.getOrElse("runs", "3").toInt.max(1)
    val explain = a.get("explain").map(Paths.get(_))
    explain.foreach(Files.createDirectories(_))

    val spark = GraftSession.build("graft-profile")
    Bench.prepare(spark, dir, names)
    val counters = WorkCounters.attach(spark.sparkContext)
    val failed = names.count { name =>
      val m = Bench.measure(spark, counters, dir, name, SparkEntry.queries(name), runs)
      println(line(name, m))
      explain.foreach(out => m.foreach(r => writeExplain(out, name, dir, r.df)))
      m.isLeft
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  private def writeExplain(out: Path, name: String, dir: String, df: DataFrame): Unit = {
    val qe = df.queryExecution
    Files.writeString(out.resolve(s"$name.txt"),
      s"""== explain("formatted") — $name @ $dir ==
         |${qe.explainString(FormattedMode)}
         |== executed plan (post-AQE) ==
         |${qe.executedPlan.toString.split("== Initial Plan ==").head}""".stripMargin)
    ()
  }
}
