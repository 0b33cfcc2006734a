package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.apps.PipelineMain
import graft.core.Tables

/** The batch workloads: the 22 TPC-H shapes and the training-data
  * pipeline. An operation ends when its result is collected, which is
  * where a user of either would read it. */
object Batch {
  private val TpchTables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _)

  /** Every pass runs the 22 TPC-H shapes in this order. */
  private val TpchQueries: Seq[String] = (1 to 22).map(i => s"q_tpch_q$i")
  /** The warm-up pass reads the sf0.001 tables next to the timed ones:
    * the same code paths and codegen cache in a third of the time. */
  private def tpchWarmDir(dataDir: String): String =
    new java.io.File(new java.io.File(dataDir).getAbsoluteFile.getParentFile, "sf0.001").getPath

  /** PipelineMain's default split. */
  private val TestFraction = 0.1
  /** A pipeline run costs the same on 500 documents as on 5,000 (it is
    * bound by per-job overhead), and the JIT keeps shortening runs for
    * several more after the cold first one. After three warm-up runs the
    * timed runs of five JVMs spread 6% between quartiles; after two, 15%. */
  private val PipelineWarmRuns = 3

  /** Order-independent digest of a result: equal for equal row multisets. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Catalyst phase times of one executed query, in ms. */
  private def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** Times one `Tables.<table>` call per table the workload reads, after
    * every table has been resolved once (traced runs only). */
  private def tableResolution(ctx: Ctx, rep: Report,
                              tables: Seq[(String, (SparkSession, String) => DataFrame)]): Unit =
    if (ctx.tracer.enabled) {
      val s0 = ctx.snap()
      val ms = tables.map { case (name, load) =>
        val t0 = System.nanoTime()
        load(ctx.spark, ctx.dataDir)
        val t1 = System.nanoTime()
        ctx.tracer.record(s"core.table_resolve.$name", t0, t1)
        (t1 - t0) / 1e6
      }
      rep.layers("core.table_resolve_ms") = median(ms)
      rep.layers("core.table_resolve_jobs") = (ctx.snap() - s0).jobs.toDouble
    }

  private def planLayers(rep: Report, sums: mutable.Map[String, Double]): Unit = {
    val r = math.max(1, rep.rounds).toDouble
    Seq("analysis", "optimization", "planning").foreach { p =>
      rep.layers(s"plan.${p}_ms") = sums.getOrElse(p, 0.0) / r
    }
  }

  /** One timed pass takes about 20 s, so a run of less than that times
    * exactly one pass, and the checker sees the rows of the last pass. */
  def tpch(ctx: Ctx, rep: Report): Unit = {
    val queries = SparkEntry.queries
    val warmDir = tpchWarmDir(ctx.dataDir)
    val lastRows = mutable.LinkedHashMap.empty[String, (Array[String], Array[Row])]
    var buildNs, opNs, resultRows = 0L
    var buildSnap, opSnap = Snap.zero
    val planMs = mutable.Map.empty[String, Double]

    def query(name: String, op: Int, timed: Boolean): Unit = {
      ctx.resetCaches()
      if (timed) rep.attempted += 1
      try {
        val s0 = ctx.snap()
        val t0 = System.nanoTime()
        val df = queries(name)(ctx.spark, if (timed) ctx.dataDir else warmDir)
        val t1 = System.nanoTime()
        val s1 = ctx.snap()
        val t1b = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val s2 = ctx.snap()
        if (timed) {
          lastRows(name) = (df.columns, rows)
          rep.opMs += ((t1 - t0) + (t2 - t1b)) / 1e6
          val id = ctx.tracer.record(s"tpch.$name", t0, t2, op = op)
          ctx.tracer.record("query.build", t0, t1, id, op)
          ctx.tracer.record("exec.collect", t1b, t2, id, op)
          buildNs += t1 - t0; opNs += (t1 - t0) + (t2 - t1b)
          buildSnap += s1 - s0; opSnap += s2 - s0
          resultRows += rows.length
          if (ctx.tracer.enabled)
            phases(df).foreach { case (k, v) => planMs(k) = planMs.getOrElse(k, 0.0) + v }
        }
      } catch { case e: Throwable => if (timed) rep.fail(name, e) else rep.errors += s"warm-up $name: $e" }
    }

    TpchQueries.foreach(query(_, -1, timed = false))
    rep.setupEndMs = System.currentTimeMillis()
    ctx.timedRounds(rep) { pass =>
      TpchQueries.zipWithIndex.foreach { case (q, i) =>
        query(q, pass * TpchQueries.size + i, timed = true)
      }
      true
    }

    val r = math.max(1, rep.rounds).toDouble
    rep.layers ++= Seq("query.build_ms" -> buildNs / 1e6 / r,
      "query.build_jobs" -> buildSnap.jobs / r,
      "exec.result_rows" -> resultRows / r)
    planLayers(rep, planMs)
    // building a query runs jobs too (query.build_jobs), so execution
    // figures cover the whole operation
    ctx.execLayers(rep, opSnap, opNs)
    tableResolution(ctx, rep, TpchTables)

    Out.write(s"${ctx.outDir}/tpch_results.jsonl", lastRows.iterator.map {
      case (name, (cols, rows)) => Out.obj(Seq("q" -> Out.str(name),
        "cols" -> cols.map(Out.str).mkString("[", ",", "]"),
        "rows" -> rows.iterator.map(Out.value).mkString("[", ",", "]")))
    })
    Out.write(s"${ctx.outDir}/oracle.json",
      Iterator(Out.obj(TpchQueries.map(q => q -> Out.str(SparkEntry.oracleSql(q))))))
  }

  def pipeline(ctx: Ctx, rep: Report): Unit = {
    var firstDigest: Option[String] = None
    var unstable = 0
    var last: (Array[Row], Seq[(String, Long)]) = (Array.empty, Nil)
    var buildNs, runNs = 0L
    var buildSnap, runSnap = Snap.zero
    val stageMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val planMs = mutable.Map.empty[String, Double]

    def once(op: Int, timed: Boolean): Unit = {
      ctx.resetCaches()
      if (timed) rep.attempted += 1
      try {
        val s0 = ctx.snap()
        val t0 = System.nanoTime()
        val docs = Tables.documents(ctx.spark, ctx.dataDir)
        val (out, audit) = PipelineMain.runAudited(docs, TestFraction)
        val t1 = System.nanoTime()
        val s1 = ctx.snap()
        val t1b = System.nanoTime()
        val keepDf = out.select("doc_id", "split")
        val keep = keepDf.collect()
        val t2 = System.nanoTime()
        ctx.snap()
        val t2b = System.nanoTime()
        val funnel = PipelineMain.funnel(audit)
        val t3 = System.nanoTime()
        val s3 = ctx.snap()
        if (timed) {
          val d = digest(keep) + funnel.mkString(",")
          if (firstDigest.getOrElse(d) != d) unstable += 1
          firstDigest = Some(firstDigest.getOrElse(d))
          last = (keep, funnel)
          val wall = (t1 - t0) + (t2 - t1b) + (t3 - t2b)
          rep.opMs += wall / 1e6
          val id = ctx.tracer.record("pipeline.run", t0, t3, op = op)
          ctx.tracer.record("pipeline.build", t0, t1, id, op)
          ctx.tracer.record("pipeline.collect", t1b, t2, id, op)
          ctx.tracer.record("pipeline.funnel", t2b, t3, id, op)
          Seq("build" -> (t1 - t0), "collect" -> (t2 - t1b), "funnel" -> (t3 - t2b)).foreach {
            case (k, ns) => stageMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ns / 1e6
          }
          buildNs += t1 - t0; runNs += wall
          buildSnap += s1 - s0; runSnap += s3 - s0
          if (ctx.tracer.enabled)
            phases(keepDf).foreach { case (k, v) => planMs(k) = planMs.getOrElse(k, 0.0) + v }
        }
      } catch { case e: Throwable => if (timed) rep.fail("pipeline", e) else rep.errors += s"warm-up: $e" }
    }

    (1 to PipelineWarmRuns).foreach(_ => once(-1, timed = false))
    rep.setupEndMs = System.currentTimeMillis()
    ctx.timedRounds(rep) { r => once(r, timed = true); true }

    val r = math.max(1, rep.rounds).toDouble
    stageMs.foreach { case (k, xs) => rep.layers(s"pipeline.${k}_ms") = median(xs) }
    rep.layers ++= Seq("query.build_ms" -> buildNs / 1e6 / r,
      "query.build_jobs" -> buildSnap.jobs / r,
      "exec.result_rows" -> last._1.length.toDouble)
    planLayers(rep, planMs)
    // the connected-components loop runs its jobs while the pipeline is
    // being built, so execution here spans the whole run
    ctx.execLayers(rep, runSnap, runNs)
    tableResolution(ctx, rep, Seq("documents" -> Tables.documents _))

    rep.facts("unstable_results") = unstable.toString
    Out.write(s"${ctx.outDir}/keepers.tsv",
      last._1.iterator.map(row => s"${row.get(0)}\t${row.get(1)}"))
    Out.write(s"${ctx.outDir}/funnel.json", Iterator(
      last._2.map { case (k, v) => s"[${Out.str(k)},$v]" }.mkString("[", ",", "]")))
    val oracles = Seq("q_lang_id", "q_quality_score", "q_repetition", "q_dedup_exact",
      "q_minhash_lsh_pairs")
    Out.write(s"${ctx.outDir}/oracle.json",
      Iterator(Out.obj(oracles.map(q => q -> Out.str(SparkEntry.oracleSql(q))))))
  }
}
