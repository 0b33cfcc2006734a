package graft.suite

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The query registry's invariants (pure — no Spark): each name is
  * declared once, with a non-empty oracle, and the scaling classes the
  * cross-SF lint and the scratch pre-flight read hold exactly their
  * members. */
class RegistrySpec extends AnyFunSuite {

  private val names = Registry.all.map(_.name)
  private def named(s: Scaling): Set[String] =
    Registry.all.filter(_.scaling == s).map(_.name).toSet

  test("160 distinct names; the by-name views drop none") {
    assert(names.size === 160)
    assert(names.distinct.size === names.size,
      s"declared twice: ${names.diff(names.distinct)}")
    assert(Registry.byName.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
  }

  test("every query has a build and a non-empty oracle") {
    // a family object that read the registry while initializing would
    // leave nulls here
    Registry.all.foreach { q =>
      assert(q.build != null, q.name)
      assert(q.oracle != null && q.oracle.trim.nonEmpty, q.name)
    }
  }

  test("scaling classes hold exactly their members") {
    assert(named(Scaling.Sublinear) === Set(
      "q_token_budget", "q_rolling_active", "q_rolling_merge", "q_funnel",
      "q_funnel_within", "q_weighted_interval", "q_interval_count",
      "q_hh_merge", "q_group_quantiles", "q_window_ranks", "q_heavy_hitters",
      "q_rank_topk", "q_topk_per_group", "q_knn_graph", "q_embed_neardup",
      "q_cosine_topk", "q_lsh_topk", "q_ivf_topk", "q_ivf_probe2",
      "q_filtered_topk", "q_filtered_ivf", "q_ann_recall", "q_semantic_dedup"))
    val minhash = Set("q_minhash_lsh_pairs", "q_pair_editdist", "q_dedup_agreement")
    assert(named(Scaling.MinhashPairs) === minhash)
    assert(named(Scaling.Pairs) ++ named(Scaling.MinhashPairs) ===
      minhash ++ Set("q_audio_neardup", "q_image_neardup", "q_video_shared"))
    assert(Registry.scaling("q_not_registered") === Scaling.Linear)
  }

  test("every jitterBand entry names a registered query") {
    val ghosts = Bench.jitterBand.keySet.diff(names.toSet)
    assert(ghosts.isEmpty, s"jitterBand lists unknown queries: $ghosts")
  }
}
