package graft.suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How much slower a query may get when its data grows `factor`×
  * (`graft.Bench.scaleBound`, the cross-SF lint). A query that leaves
  * its class between captures has changed complexity. */
sealed abstract class Scaling
object Scaling {
  /** Honest per-row work, bound 1.6·factor: the headroom absorbs fixed
    * JVM/planning overhead and ambient drift between captures. */
  case object Linear extends Scaling
  /** Banded, bounded or sweep-line operators whose whole point is
    * beating linear, bound 0.9·factor. */
  case object Sublinear extends Scaling
  /** Pair-materializing ops whose OUTPUT grows quadratically in
    * duplicate-cluster size on the GenScale replica (measured: 28,000×
    * more intra-cluster pairs at sf1, cost ×35-40), bound 5·factor or
    * 5·(the query's measured pair-volume ratio) — loose enough for a
    * quadratically harder instance, tight enough to catch a true
    * all-pairs regression (~100×). These are the image/audio/video
    * banded-Hamming near-dup ops: their candidate volume grows at its
    * own rate per modality, so they take a per-query ratio
    * (SPARK_GRAFT_PAIR_VOLUME_RATIOS), never the text one. */
  case object Pairs extends Scaling
  /** The pair queries whose candidate volume IS what the minhash
    * `Dedup.lshPairVolume` pre-flight measures (text shingle-minhash
    * banding, directly or through the memoized lsh_pairs frame). Bound
    * like [[Pairs]], but the measured text ratio applies to these only,
    * and `graft.core.DiskGuard` sizes their Verify dump's scratch from
    * it. The clustering family is [[Linear]]: CC runs over the CLASS
    * graph and never materializes member pairs. */
  case object MinhashPairs extends Scaling
}

/** One oracle-checked batch query: `build` is a pure
  * `(SparkSession, sfDir) => DataFrame`, `oracle` the equivalent SQL
  * DuckDB runs on the same parquet tables. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing), and DOUBLE aggregation goes through DECIMAL on both sides so
  * partial-aggregate order can never perturb the hash. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String,
                       scaling: Scaling = Scaling.Linear)

/** Every query, each declared once in its family object. To add a query,
  * add one `Query(...)` to the family it belongs to; `SparkEntry.queries`
  * and `SparkEntry.oracleSql` are views of this list. Family objects must
  * never read the registry (or those views) while they initialize. */
object Registry {
  val all: Seq[Query] =
    BasicQueries.all ++ TpchQueries.all ++ AnalyticsQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SamplingQueries.all ++
      SimilarityQueries.all ++ MultimodalQueries.all

  lazy val byName: Map[String, Query] = all.map(q => q.name -> q).toMap

  /** A name's scaling class; names not registered here (say, a retired
    * query in an old capture) are [[Scaling.Linear]]. */
  def scaling(name: String): Scaling =
    byName.get(name).fold[Scaling](Scaling.Linear)(_.scaling)
}
