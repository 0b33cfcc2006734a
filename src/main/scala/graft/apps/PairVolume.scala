package graft.apps

import graft.core.{Args, GraftSession, Tables}
import graft.dedup.Dedup

/** Capacity-planning probe: candidate-pair volume of the canonical
  * documents banding (the [[graft.suite.DedupQueries]] q_minhash_lsh_pairs
  * parameters) at a given SF dir, via [[Dedup.lshPairVolume]] — the
  * number that predicts the pair explode's cost before paying it.
  * Usage: run_main.sh graft.apps.PairVolume [--data <dir>] */
object PairVolume {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val dir = a.getOrElse("data", "/root/testdata/sf0.1")
    val spark = GraftSession.build("pair-volume")
    val row = Dedup.lshPairVolume(Tables.documents(spark, dir),
      n = 2, k = 6, rowsPerBand = 2).head()
    println(s"""{"dir":"$dir","candidate_pairs":${row.getLong(0)},""" +
      s""""buckets_over_cap":${row.getLong(1)},"buckets_pairing":${row.getLong(2)}}""")
    spark.stop()
  }
}
