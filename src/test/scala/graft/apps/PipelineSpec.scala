package graft.apps

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite
import graft.core.Tables
import graft.gen.Sampling

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  /** The pipeline as it ran before each keep-set was materialized: every
    * stage joins its keep-set onto the previous survivors' plan, so the
    * plan doubles per stage. Kept as the model the materialized form must
    * reproduce. */
  private def chainedModel(docs: DataFrame, testFraction: Double,
                           benchDocs: Option[DataFrame]): (DataFrame, DataFrame) = {
    var cur = docs
    var audit = docs.select("doc_id")
    for ((name, f) <- PipelineMain.stages(benchDocs)) {
      val keeps = f(cur)
      audit = audit.join(keeps.withColumn(s"pass_$name", lit(1)),
        Seq("doc_id"), "left")
      cur = cur.join(keeps, "doc_id")
    }
    (Sampling.trainTestSplit(cur, "doc_id", testFraction), audit)
  }

  /** Scans of the documents table in an optimized plan. */
  private def documentsScans(plan: LogicalPlan): Int = plan.collect {
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if r.location.rootPaths.exists(_.getName == "documents.parquet") => r
  }.length

  test("end-to-end pipeline: filters compose, output is deduped and split-labeled") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = PipelineMain.run(docs, testFraction = 0.2)
    val rows = out.select("doc_id", "split").as[(Long, String)].collect()

    assert(rows.nonEmpty && rows.length <= docs.count())
    assert(rows.map(_._1).distinct.length === rows.length) // unique doc ids
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "test")))

    // Exact duplicates cannot survive: every kept text is unique.
    val keptTexts = out.select("text").as[String].collect()
    assert(keptTexts.distinct.length === keptTexts.length)

    // Deterministic end to end.
    val again = PipelineMain.run(docs, testFraction = 0.2)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(rows.sorted.toSeq === again.sorted.toSeq)
  }

  test("pipeline with decontamination: bench-overlapping docs are gone") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docs.filter(col("doc_id") < 5)
    val out = PipelineMain.run(docs, testFraction = 0.2, benchDocs = Some(bench))
      .select("doc_id").as[Long].collect().toSet
    val base = PipelineMain.run(docs, testFraction = 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(out.subsetOf(base)) // decontamination only removes
    // every bench doc that survived the other filters is removed
    assert(out.intersect((0L until 5L).toSet).isEmpty)
  }

  test("funnel audit: one-pass counts are monotone and end at the output size") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (out, audit) = PipelineMain.runAudited(docs, testFraction = 0.2,
      benchDocs = Some(docs.filter(col("doc_id") < 5)))
    val fun = PipelineMain.funnel(audit)
    assert(fun.map(_._1) === Seq("docs_in", "lang", "quality", "repetition",
      "exact_dedup", "near_dedup", "decontaminate"))
    // keep-sets are nested, so the funnel never grows
    assert(fun.sliding(2).forall { case Seq(a, b) => b._2 <= a._2 })
    assert(fun.head._2 === docs.count())
    // the last stage's survivor count IS the pipeline output size
    assert(fun.last._2 === out.count())
  }

  Seq(false, true).foreach { withBench =>
    test(s"materialized stages equal the chained fold (benchDocs=$withBench)") {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val bench = if (withBench) Some(docs.filter(col("doc_id") < 5)) else None
      val (out, audit) = PipelineMain.runAudited(docs, 0.2, bench)
      val (modelOut, modelAudit) = chainedModel(docs, 0.2, bench)
      def keepers(df: DataFrame) =
        df.select("doc_id", "split").as[(Long, String)].collect().sorted.toSeq
      assert(keepers(out) === keepers(modelOut))
      assert(PipelineMain.funnel(audit) === PipelineMain.funnel(modelAudit))
      assert(out.columns.toSeq === modelOut.columns.toSeq)

      // the rewrite's premise: keep-sets are nested, so no doc passes a
      // stage it never reached
      val passCols = audit.columns.filter(_.startsWith("pass_")).toSeq
      val rows = audit.select(passCols.map(col): _*).collect()
      for (i <- 1 until passCols.length)
        assert(rows.forall(r => r.isNullAt(i) || !r.isNullAt(i - 1)),
          s"${passCols(i)} set where ${passCols(i - 1)} is null")
    }
  }

  test("the keepers and the funnel aggregate each scan the documents once") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (out, audit) = PipelineMain.runAudited(docs, 0.2)
    assert(documentsScans(out.select("doc_id", "split").queryExecution.optimizedPlan) === 1)

    // the plan funnel() itself executes, caught as it runs
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PipelineMain.funnel(audit)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.toArray(Array.empty[QueryExecution]).map(_.optimizedPlan)
    assert(plans.length === 1)
    assert(documentsScans(plans.head) === 1)
  }
}
