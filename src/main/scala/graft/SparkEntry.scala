package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.ops.Tokenize
import graft.sim.Similarity
import graft.suite.Registry
import graft.suite.Shared.EmbedMaxBucket

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` and `oracleSql` are by-name views of [[graft.suite.Registry]],
  * where each query declares its build, its DuckDB oracle SQL and its
  * scaling class once. This object keeps the smoke entry and the
  * shared-scan memo machinery the families build on.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * M0 walking skeleton: scan → project → explode → filter → shuffle agg
    * (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Tokenize.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"), "text")

  /** Shared-scan memo (SURVEY §9.1 / r4 verdict #2): the minhash→LSH pair
    * chain, its connected components, the SimHash/embedding pair sets,
    * and the ANN brute-force ground truth feed SEVERAL queries each;
    * rebuilding the chain per query was a ~3-4 s bench-composition tail.
    * Each frame is built once per (session, dir) and `localCheckpoint`'d
    * (eager: materializes AND truncates the lineage, so downstream plans
    * start from the cached partitions). Build seconds are recorded per
    * (dir, key) so Bench can report memo cost honestly instead of letting
    * min-of-N timing hide it. A memo read by one query family is
    * declared in that family; the rest are below. */
  private val memoCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]
  val memoSeconds =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Double]
  // Seconds of nested memo builds on the current thread, so a parent's
  // recorded time is EXCLUSIVE of its children (dedup_clusters calls the
  // lsh_pairs memo inside its own build: without this, summing
  // memoSeconds double-counts the nested build, and Bench's per-query
  // memo netting would over-subtract into negative query times).
  private val nestedBuildSec = new ThreadLocal[Double] {
    override def initialValue(): Double = 0.0
  }
  private[graft] def memoized(s: SparkSession, d: String, key: String)
                             (build: => DataFrame): DataFrame = {
    // NOT computeIfAbsent: memo builds NEST (dedup_clusters builds by
    // calling the lsh_pairs memo), and a nested computeIfAbsent on the
    // same ConcurrentHashMap throws "Recursive update" whenever the two
    // keys land in the same bin — a per-run lottery, because the key
    // holds the SparkSession and its identity hash changes every JVM.
    // Build OUTSIDE the map update instead; the benign race (two
    // threads building once each, first put wins) never happens in the
    // sequential Verify/Bench drivers and would only waste work, not
    // correctness, elsewhere.
    val k = (s, d, key)
    val existing = memoCache.get(k)
    if (existing != null) existing
    else {
      val outerNested = nestedBuildSec.get()
      nestedBuildSec.set(0.0)
      val t0 = System.nanoTime()
      val df =
        // If the build throws, restore the outer accounting (charging the
        // failed attempt's wall to the parent) — otherwise the
        // thread-local is left at the partial child sum and every later
        // memo on this thread nets wrong exclusive times.
        try build.localCheckpoint()
        catch { case e: Throwable =>
          nestedBuildSec.set(outerNested + (System.nanoTime() - t0) / 1e9)
          throw e
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val childSec = nestedBuildSec.get()
      memoSeconds.put((d, key), wall - childSec) // exclusive of nested builds
      nestedBuildSec.set(outerNested + wall)     // full wall charged to parent
      val prev = memoCache.putIfAbsent(k, df)
      if (prev != null) prev else df
    }
  }

  /** Evict every memoized frame of `session` (all dirs) without touching
    * the blocks. For callers that unpersist all persistent RDDs wholesale
    * (Bench.flushHeapDebt): a localCheckpoint'd frame has no lineage to
    * recompute from, so an unpersisted memo LEFT in the cache poisons
    * every later consumer with "Checkpoint block not found" whenever the
    * timed dir coincides with the warm dir (r16 advisory). Evicted
    * entries are simply rebuilt from the source parquet on next use. */
  def clearMemos(session: SparkSession): Unit = {
    val it = memoCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq session) it.remove()
    val it2 = ivfFoldCache.keySet.iterator()
    while (it2.hasNext) if (it2.next()._1 eq session) it2.remove()
  }

  /** The shared incremental-IVF arrival fold (r20): q_ivf_incremental
    * reads its state rows and q_ivf_incremental_topk serves through its
    * centroids — one fold per (session, dir), the online-index
    * architecture (maintain once, serve from it). Not a DataFrame, so
    * it gets its own tiny cache; build seconds land in memoSeconds as
    * "ivf_fold" with the same exclusive-time accounting (a fold never
    * nests another memo build — the nested tracking still wraps it for
    * uniformity). The state is nlist×dim longs — KB-sized. */
  private val ivfFoldCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      Similarity.IncrementalIvfState]
  private[graft] def ivfFoldMemo(s: SparkSession, d: String): Similarity.IncrementalIvfState = {
    val k = (s, d)
    val existing = ivfFoldCache.get(k)
    if (existing != null) existing
    else {
      val t0 = System.nanoTime()
      val st = Similarity.incrementalIvfFold(
        Tables.embeddings(s, d), nlist = 16, chunks = 3)
      memoSeconds.put((d, "ivf_fold"), (System.nanoTime() - t0) / 1e9)
      val prev = ivfFoldCache.putIfAbsent(k, st)
      if (prev != null) prev else st
    }
  }

  /** Embedding near-dup pair set (q_embed_neardup output; agreement input). */
  private[graft] def embedPairsMemo(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "embed_neardup")(
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), planes = 4,
        threshold = 0.4, maxBucket = EmbedMaxBucket))

  /** Every query's build, by name — a view of [[graft.suite.Registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** Every query's DuckDB oracle SQL, by name — a view of
    * [[graft.suite.Registry]]. */
  lazy val oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
