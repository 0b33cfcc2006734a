package graft.suite

import graft.sim.Similarity

/** Knobs and DuckDB fragments that more than one query family reads. */
private[graft] object Shared {

  /** LSH/SimHash band-bucket skew cap (dedup and video near-dup) and the
    * embedding near-dup bucket cap (similarity, dedup agreement and the
    * `embed_neardup` memo). */
  val LshMaxBucket = 1000
  val EmbedMaxBucket = 100000

  /** q_skipgram forward context width (word2vec's default is 5); the
    * q_triangles co-occurrence graph is built over the same pairs. */
  val SkipgramWindow = 5

  /** DuckDB token list of `text`, and the bigrams of a token list `tk`. */
  val DuckToks =
    "list_filter(string_split(text, ' '), x -> len(x) > 0)"
  val DuckBigrams =
    "list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])"

  /** LSH bucket oracle fragment for vector column `v` (generated SQL):
    * the SAME precomputed sign literals as Similarity.planeSigns. */
  def duckLshBucket(v: String, planes: Int): String = {
    val signs = Similarity.planeSigns(planes)
    (0 until planes).map { i =>
      val sl = signs(i).map(s => if (s > 0) "1.0" else "-1.0").mkString(", ")
      val proj = s"list_reduce(list_transform(generate_series(1, 64), j -> " +
        s"$v[j] * (list_value($sl)[j])), (x, y) -> x + y)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }
}
