package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Args, GraftSession, Tables}
import graft.dedup.Dedup
import graft.gen.Sampling
import graft.text.TextAnalysis

/** End-to-end training-data pipeline: the composition the individual
  * operators exist for. Stage order follows cost — cheap map-side
  * filters first, the shuffling dedup stages on the survivors only:
  *
  *   documents
  *     → language filter (map-side)
  *     → quality filter (map-side)
  *     → repetition filter (2 partial-agg shuffles)
  *     → exact dedup (1 shuffle on content hash)
  *     → near-dup dedup: MinHash-LSH pairs → clusters → keep canonical
  *     → benchmark decontamination (broadcast anti-flag)
  *     → deterministic train/test split (map-side)
  *     → parquet out (partitioned by split)
  *
  * Usage: --data /root/testdata/sf0.001 --out /tmp/graft-pipeline
  */
object PipelineMain {

  /** The pipeline as an ORDERED list of stages, each mapping the current
    * survivor set to the doc_ids it keeps. Every per-doc decision (lang,
    * quality, repetition) is input-set independent, and the dedup stages
    * are defined over exactly the survivor set they see, so the fold
    * equals the original all-at-once composition. */
  private[apps] def stages(benchDocs: Option[DataFrame])
      : Seq[(String, DataFrame => DataFrame)] = Seq[(String, DataFrame => DataFrame)](
    "lang" -> (d => TextAnalysis.langId(d)
      .filter(col("lang_pred") === "en").select("doc_id")),
    "quality" -> (d => TextAnalysis.qualityScore(d)
      .filter(col("keep")).select("doc_id")),
    "repetition" -> (d => TextAnalysis.repetitionScore(d)
      .filter(col("keep")).select("doc_id")),
    "exact_dedup" -> (d => Dedup.exact(d).select(col("keep_id").as("doc_id"))),
    "near_dedup" -> (d => Dedup.applyClusters(d,
        Dedup.connectedComponents(
          Dedup.minhashLshPairs(d, n = 2, k = 6, rowsPerBand = 2)))
      .filter(col("keep")).select("doc_id"))
  ) ++ benchDocs.map[(String, DataFrame => DataFrame)](b =>
    "decontaminate" -> (d => Dedup.decontaminate(d, b, n = 2)
      .filter(col("keep")).select("doc_id")))

  /** The pipeline as a pure function: documents in (plus an optional
    * eval set to decontaminate against), labeled keepers out. */
  def run(docs: DataFrame, testFraction: Double,
          benchDocs: Option[DataFrame] = None): DataFrame =
    runAudited(docs, testFraction, benchDocs)._1

  /** [[run]] plus the observability layer a 100 TB run needs: a per-doc
    * audit frame with one `pass_<stage>` flag column per stage.
    *
    * Each stage runs exactly once, here: its keep-set (a set of doc_ids)
    * is evaluated and `localCheckpoint`ed eagerly — lineage-truncating
    * and ContextCleaner-managed, as in [[Dedup.connectedComponents]].
    * The next stage's survivors are `docs ⋈ keeps`, not `cur ⋈ keeps`:
    * every keep-set is a subset of the previous survivors and doc_id is
    * the documents key, so the two are equal, and no plan holds a
    * previous stage's plan (`cur ⋈ keeps` would double it per stage).
    * The keepers and the audit each read one documents scan joined to
    * materialized id sets.
    *
    * Because the keep-sets are nested, `count(pass_x)` IS the post-stage
    * survivor count, and the whole funnel comes from ONE aggregation over
    * the audit's left joins of the materialized sets. */
  def runAudited(docs: DataFrame, testFraction: Double,
                 benchDocs: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    var cur = docs
    var audit = docs.select("doc_id")
    for ((name, f) <- stages(benchDocs)) {
      val keeps = f(cur).localCheckpoint()
      audit = audit.join(keeps.withColumn(s"pass_$name", lit(1)),
        Seq("doc_id"), "left")
      cur = docs.join(keeps, "doc_id")
    }
    (Sampling.trainTestSplit(cur, "doc_id", testFraction), audit)
  }

  /** Collapse an audit frame to the stage funnel: (stage, survivors),
    * led by the ingress count, from one aggregation over the audit. */
  def funnel(audit: DataFrame): Seq[(String, Long)] = {
    val passCols = audit.columns.filter(_.startsWith("pass_")).toSeq
    val aggs = count(lit(1)).as("docs_in") +:
      passCols.map(c => count(col(c)).as(c.stripPrefix("pass_")))
    val row = audit.agg(aggs.head, aggs.tail: _*).head()
    ("docs_in" +: passCols.map(_.stripPrefix("pass_")))
      .zipWithIndex.map { case (n, i) => (n, row.getLong(i)) }
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("training-data-pipeline")
    val docs = Tables.documents(spark, a.getOrElse("data", "/root/testdata/sf0.001"))
    // not persisted: the stages are materialized inside runAudited, so the
    // count, the split histogram and the write each re-run only one
    // documents scan joined to the last keep-set. Persisting measured no
    // faster (sf0.1, 4 CPUs, count + funnel + histogram + write: 779 ms
    // median with it, 696 without, six alternated runs each)
    val (out, audit) = runAudited(docs, a.getOrElse("testFraction", "0.1").toDouble)
    val kept = out.count()
    val fun = funnel(audit)
    println(s"[pipeline] funnel: ${fun.map { case (n, c) => s"$n=$c" }.mkString(" -> ")}")
    val by = out.groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
    println(s"[pipeline] ${fun.head._2} docs in -> $kept kept ($by)")
    a.get("out").foreach { dir =>
      out.write.mode("overwrite").partitionBy("split").parquet(dir)
      println(s"[pipeline] wrote $dir (partitioned by split)")
    }
    spark.stop()
  }
}
