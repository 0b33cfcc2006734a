package graft.core

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so every entry point
  * (Bench, Verify, Smoke, demo mains, tests) runs with identical session
  * state — no table loader mutates conf as a side effect.
  *
  * Config rationale:
  *  - `nanosAsLong`: the events table's parquet TIMESTAMP(NANOS) column
  *    cannot be represented as Spark TimestampType (micros); reading it
  *    as an exact BIGINT keeps all time arithmetic in integer space.
  *  - UTC session timezone: timestamp literals in queries must mean the
  *    same instant as in the DuckDB oracle.
  *  - shuffle partitions = cores: local[n] has no reason to create 200
  *    partitions; on a real cluster this is sized to executors×cores.
  *  - Streaming state: RocksDB provider + changelog checkpointing +
  *    stream-stream join state format 3. A step of the WindowJoin twin
  *    is dominated by state-store commits; format 3 keeps a join's four
  *    per-partition stores as column families of ONE RocksDB store, so a
  *    batch commits `partitions` stores instead of 4×`partitions`, and
  *    changelog checkpointing makes each commit an O(changed keys) delta
  *    instead of a full snapshot. The three go together: format 3 exists
  *    only on RocksDB (under the default HDFS-backed provider the first
  *    micro-batch fails). Spark pins provider and join format in each
  *    checkpoint's offset metadata, so a query restarted from an older
  *    checkpoint keeps the provider and format it was started with.
  *    Checkpoint file checksums stay at their default (on): turning them
  *    off also cuts commit time, but removes the corruption check.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The streaming state-store choice (rationale above). A session not
    * built here (the speculation probe's standalone cluster) applies it
    * as is. */
  val streamingState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.join.stateFormatVersion" -> "3")

  /** This JVM's scratch root. Spark's shutdown hooks empty it on a
    * clean exit; `deleteOnExit` runs after those hooks and removes the
    * root itself, which it can only do once it is empty. A killed JVM's
    * root is left to `DiskGuard.sweepStaleScratch`. */
  private lazy val spillRoot: String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-spill-${ProcessHandle.current().pid()}")
    root.deleteOnExit()
    root.toString
  }

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Let AQE size post-shuffle partitions by bytes (64 MB advisory)
      // instead of pinning them to parallelism: a tiny reduce side (the
      // CC label loop, dimension aggs) collapses to a handful of tasks
      // rather than `cpus` near-empty ones, and at cluster scale the
      // byte target is the right sizing anyway. This is the setting the
      // Spark tuning guide recommends turning off.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config(streamingState)
      // saveAsTable targets (bucketed tables) go to tmp, not the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // All Spark scratch (blockmgr spill, driver temp) under ONE
      // engine-named, pid-tagged root instead of generic spark-*/
      // blockmgr-* dirs strewn across a (possibly shared) tmp. This is
      // what lets the DiskGuard janitor reclaim a KILLED run's spill
      // with certainty — the owning pid is in the dir name, so "owner
      // dead" replaces the fragile "whole tree idle >24h" heuristic,
      // and a live-but-idle JVM's scratch is never touched (r14 ADVICE).
      .config("spark.local.dir", spillRoot)
      .config("spark.ui.enabled", "false")

  def build(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
