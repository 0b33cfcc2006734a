package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** Dynamic partition pruning: a fact table partitioned on the join key
  * must, at RUNTIME, read only the partitions the (filtered, broadcast)
  * dim side selects — the join's dim filter becomes a partition filter on
  * the fact scan. This is the mechanism that turns a 100 TB
  * date/tenant-partitioned fact ⋈ selective dim into a scan of only the
  * matching partitions, without the query author repeating the predicate
  * on the fact side. Asserted both on the plan (a dynamicpruning
  * partition filter on the scan) and on executor input metrics (pruned
  * join reads a fraction of the full-scan bytes). */
class PruningSpec extends SparkSuite {
  import spark.implicits._

  private def bytesReadOf(action: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var last = -1L; var spins = 0
      while (bytes.get() != last && spins < 50) {
        last = bytes.get(); Thread.sleep(200); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get()
  }

  test("dim filter prunes fact partitions at runtime (plan + bytes read)") { withTempDir("graft-dpp") { tmp =>
    // partition the fact on the join column — the 100 TB layout decision
    // (date/tenant/priority) this mechanism exists for. sf0.1 (150k rows),
    // coalesced to one file per partition, so row-group data dwarfs the
    // per-file footer bytes every scan pays regardless of pruning.
    Tables.orders(spark, "/root/testdata/sf0.1")
      .coalesce(1)
      .write.partitionBy("o_orderpriority").mode("overwrite")
      .parquet(s"$tmp/orders_by_prio")
    val fact = spark.read.parquet(s"$tmp/orders_by_prio")

    // dim with a selective filter NOT repeated on the fact side. The dim
    // must be a FILE relation: a LocalRelation's filter is constant-folded
    // away by ConvertToLocalRelation before the PartitionPruning rule ever
    // sees it, and the rule requires a surviving selective predicate
    // (literal equality qualifies; a bare boolean column does not).
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
        ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop"))
      .toDF("prio", "tag")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val dim = spark.read.parquet(s"$tmp/dim").filter(col("tag") === "keep")

    // aggregate over real data columns so the scan reads row-group bytes,
    // not just footers
    val joined = fact.join(dim, col("o_orderpriority") === col("prio"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice"))

    var prunedRows = 0L
    val bPruned = bytesReadOf { prunedRows = joined.collect().map(_.getLong(1)).sum }
    val bFull = bytesReadOf {
      fact.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice")).collect()
    }

    // correctness: exactly the urgent partition's rows
    val expected = Tables.orders(spark, "/root/testdata/sf0.1")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(prunedRows == expected && expected > 0)

    // the scan carries a runtime partition filter fed by the dim subquery
    val plan = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")

    // and it actually pruned: 1 of 5 equal-sized partitions read.
    // 2x margin absorbs footer overhead + the dim side's own bytes.
    assert(bPruned * 2 < bFull,
      s"DPP did not reduce bytes read: pruned=$bPruned full=$bFull")
  }}
}
