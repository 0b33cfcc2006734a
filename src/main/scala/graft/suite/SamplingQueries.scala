package graft.suite

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.gen.Sampling
import graft.suite.Scaling.Sublinear

/** Training-data sampling: hash samples and splits, budgets, stratified
  * and mixture rates, deterministic shuffles and sequence packing. */
private[suite] object SamplingQueries {

  /** Per-source keep rates for q_stratified_sample; the oracle reads
    * them as hex thresholds (Sampling.stratumThreshold). */
  private val StratifiedRates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  /** q_mix_epochs per-source weights (upsample, identity, downsample). */
  private val MixWeights = Map("src0" -> 2.3, "src1" -> 1.0, "src2" -> 0.5)

  /** q_pack_sequences knobs. */
  private val PackBudget = 2048L
  private val PackShards = 8

  /** q_det_shuffle seed and q_quality_band trim bounds. */
  private val ShuffleSeed = 7
  private val BandLo = 0.05
  private val BandHi = 0.95

  /** q_mixture_* target language mix (sums to 1; en-heavy so every other
    * language's observed count becomes the binding constraint). */
  private val MixtureShares = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** q_token_budget per-source budget (chars; ~half of each sf0.01
    * source's ~7k total, so every stratum exercises the boundary cut). */
  private val TokenBudget = 4000L

  /** Shared CTE prefix for the q_mixture_* oracles: per-stratum counts,
    * target shares (same literals as [[MixtureShares]]), and the capacity
    * min(cnt/share) — every double op in the same order as
    * `Sampling.mixtureRates`, so rates are bit-identical cross-engine. */
  private val MixtureOracleRates: String = {
    val cases = MixtureShares.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN '$k' THEN cast($v AS double)"
    }.mkString(" ")
    s"""WITH c AS (SELECT lang AS stratum, cast(count(*) AS double) AS cnt
       |           FROM documents GROUP BY lang),
       |s AS (SELECT stratum, cnt,
       |             CASE stratum $cases ELSE cast(0.0 AS double) END AS share
       |      FROM c),
       |f AS (SELECT * FROM s WHERE share > 0.0),
       |cap AS (SELECT min(cnt / share) AS cap FROM f)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q_hash_sample", (s, d) =>
      Sampling.hashSample(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", 0.25),
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE substring(md5(cast(doc_id AS varchar)), 1, 8) < '${Sampling.thresholdHex(0.25)}'""".stripMargin),
    Query("q_train_test_split", (s, d) =>
      Sampling.trainTestSplit(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", 0.1),
      s"""SELECT doc_id, n_chars,
         |       CASE WHEN substring(md5(cast(doc_id AS varchar)), 1, 8) < '${Sampling.thresholdHex(0.1)}'
         |            THEN 'test' ELSE 'train' END AS split
         |FROM documents""".stripMargin),
    // budget-based mixture: keep docs per source in deterministic hash
    // order until the char budget is crossed — two-level bucket cut, no
    // per-stratum monolithic sort (the rankFamily closed-domain trap)
    Query("q_token_budget", (s, d) =>
      Sampling.tokenBudgetSample(Tables.documents(s, d),
        "source", "doc_id", "n_chars", TokenBudget),
      s"""WITH t AS (SELECT doc_id, source, cast(n_chars AS bigint) AS n_tokens,
         |                  substring(md5(cast(doc_id AS varchar)), 1, 8) AS h
         |           FROM documents),
         |o AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |                  PARTITION BY source ORDER BY h, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                0) AS before
         |      FROM t)
         |SELECT doc_id, source, n_tokens FROM o
         |WHERE before < $TokenBudget""".stripMargin, scaling = Sublinear),
    // training-mix downsampling: per-source keep rates, absent sources
    // keep the default rate
    Query("q_stratified_sample", (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d)
        .select("doc_id", "source", "n_chars"), "source", "doc_id",
        StratifiedRates, defaultRate = 0.1),
      {
      val cases = StratifiedRates.toSeq.sortBy(_._1).map { case (k, r) =>
        s"WHEN '$k' THEN '${Sampling.stratumThreshold(r)}'"
      }.mkString(" ")
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE substring(md5(cast(doc_id AS varchar)), 1, 8) <
         |      CASE source $cases ELSE '${Sampling.stratumThreshold(0.1)}' END""".stripMargin
    }),
    // training-mix epoch expansion: per-source weights, deterministic
    // fractional epochs, one row per (doc, epoch)
    Query("q_det_shuffle", (s, d) =>
      Sampling.deterministicShuffle(Tables.documents(s, d), "doc_id", ShuffleSeed),
      s"""SELECT doc_id,
         |       cast(row_number() OVER (
         |         ORDER BY md5('$ShuffleSeed:' || cast(doc_id AS varchar)), doc_id) - 1
         |         AS bigint) AS pos
         |FROM documents""".stripMargin),
    Query("q_quality_band", (s, d) =>
      Sampling.percentileBand(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", col("n_chars"), "doc_id", BandLo, BandHi),
      s"""SELECT doc_id, source, n_chars, pr
         |FROM (SELECT doc_id, source, n_chars,
         |             percent_rank() OVER (
         |               PARTITION BY source ORDER BY n_chars, doc_id) AS pr
         |      FROM documents) t
         |WHERE pr >= $BandLo AND pr <= $BandHi""".stripMargin),
    Query("q_mix_epochs", (s, d) =>
      Sampling.mixEpochs(Tables.documents(s, d)
        .select("doc_id", "source", "n_chars"), "source", "doc_id",
        MixWeights, defaultWeight = 1.0),
      {
      def baseOf(w: Double): Long = math.floor(w).toLong
      val sorted = MixWeights.toSeq.sortBy(_._1)
      val baseCase = sorted.map { case (k, w) => s"WHEN '$k' THEN ${baseOf(w)}" }
        .mkString(" ")
      val thrCase = sorted.map { case (k, w) =>
        s"WHEN '$k' THEN '${Sampling.stratumThreshold(w - baseOf(w))}'"
      }.mkString(" ")
      val dfltBase = baseOf(1.0)
      val dfltThr = Sampling.stratumThreshold(1.0 - baseOf(1.0))
      s"""WITH w AS (SELECT doc_id, source, n_chars,
         |             CASE source $baseCase ELSE $dfltBase END AS base,
         |             CASE source $thrCase ELSE '$dfltThr' END AS thr
         |           FROM documents),
         |e AS (SELECT doc_id, source, n_chars,
         |             cast(base + CASE WHEN substring(md5(cast(doc_id AS varchar)), 1, 8) < thr
         |                              THEN 1 ELSE 0 END AS bigint) AS n_epochs
         |      FROM w)
         |SELECT doc_id, source, n_chars, n_epochs,
         |       unnest(generate_series(1, n_epochs)) AS epoch
         |FROM e WHERE n_epochs > 0""".stripMargin
    }),
    // data-driven mixture balancing: acceptance rates DERIVED in-query
    // from observed counts vs the target language mix, then applied with
    // the same deterministic id-hash thresholds
    Query("q_mixture_rates", (s, d) =>
      Sampling.mixtureRates(Tables.documents(s, d), "lang", MixtureShares),
      s"""$MixtureOracleRates
         |SELECT stratum, cast(cnt AS bigint) AS cnt, cap * share / cnt AS rate
         |FROM f CROSS JOIN cap""".stripMargin),
    Query("q_mixture_sample", (s, d) =>
      Sampling.mixtureSample(Tables.documents(s, d)
        .select("doc_id", "lang", "source"), "lang", "doc_id", MixtureShares),
      s"""$MixtureOracleRates,
         |r AS (SELECT stratum, cap * share / cnt AS rate FROM f CROSS JOIN cap),
         |thr AS (SELECT stratum,
         |               CASE WHEN rate >= 1.0 THEN 'g'
         |                    ELSE printf('%08x', cast(floor(rate * 4294967296.0) AS bigint))
         |               END AS thr
         |        FROM r)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN thr ON d.lang = thr.stratum
         |WHERE substring(md5(cast(d.doc_id AS varchar)), 1, 8) < thr.thr""".stripMargin),
    // pretraining sequence packing (char-budget over n_chars)
    Query("q_pack_sequences", (s, d) =>
      graft.gen.Packing.packSequences(Tables.documents(s, d)
        .select("doc_id", "n_chars"), "doc_id", "n_chars",
        budget = PackBudget, shards = PackShards),
      s"""WITH s AS (SELECT doc_id, n_chars, cast(doc_id % $PackShards AS int) AS shard
         |           FROM documents),
         |c AS (SELECT *, sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_size
         |      FROM s)
         |SELECT doc_id, shard, cast(cum_size AS bigint) AS cum_size,
         |       cast((cum_size - n_chars) // $PackBudget AS bigint) AS bin
         |FROM c""".stripMargin),
  )
}
