package graft.suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.ops.Tokenize
import graft.text.TextAnalysis
import graft.SparkEntry.memoized
import graft.suite.Scaling.Sublinear
import graft.suite.Shared.{SkipgramWindow, DuckToks, DuckBigrams}

/** Text analysis over `documents`: language, quality and LM scores,
  * token statistics, heavy hitters, BPE and redaction. */
private[suite] object TextQueries {

  /** Learned BPE merge table (q_bpe_merges output; q_bpe_encode input).
    * Training is a sequential merge chain — one bounded shuffle per merge
    * over the unique-word table — so it is built once per (session, dir)
    * and shared, with build seconds reported like every other memo. */
  private def bpeMergesMemo(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "bpe_merges")(
      graft.text.Bpe.train(Tables.documents(s, d), numMerges = BpeNumMerges).toDF())

  /** q_repetition threshold and q_truncate_tokens budget. */
  private val RepThreshold = 0.2
  private val TruncBudget = 32

  /** q_vocab_encode knobs. */
  private val VocabMinDf = 2L
  private val VocabSize = 1000

  /** q_lm_score band thresholds on mean corpus-relative token frequency.
    * The measure is scale-invariant (≈ 1/|vocab| ≈ 0.033 on this corpus
    * at every SF), so fixed cuts band meaningfully at sf0.001..sf0.1. */
  private val LmRareMax = 0.0332
  private val LmMidMax = 0.0334

  /** q_vocab_coverage curve points; 40 > |vocab| (31 types) exercises the
    * k-larger-than-vocabulary clamp. */
  private val CoverageKs = Seq(5, 15, 40)

  /** q_rank_topk global-rank cut. */
  private val RankTopK = 5

  /** q_quality_calibrated per-source percentile floor. */
  private val CalMinPct = 0.2

  /** q_heavy_hitters threshold divisor: items with count > N/k. The
    * corpus is 31 near-uniform token types (share ~1/31 = 3.2%), so k=32
    * (threshold 3.125%) splits the vocabulary non-trivially — roughly
    * half the types clear the bar at every SF. The result is EXACT
    * (the sketch only proposes candidates). */
  private val HhK = 32

  /** The exact heavy-hitters oracle — shared verbatim by
    * q_heavy_hitters and q_hh_merge: the cross-run candidate-union
    * path's correctness claim IS equality with the single-pass exact
    * answer. */
  private val HeavyHittersSql =
    s"""WITH tok AS (SELECT unnest($DuckToks) AS tok FROM documents),
       |tot AS (SELECT count(*) AS n_total FROM tok)
       |SELECT tok, count(*) AS cnt, n_total
       |FROM tok CROSS JOIN tot
       |GROUP BY tok, n_total
       |HAVING count(*) * $HhK > n_total""".stripMargin

  /** q_bpe_* merge budget — small because each merge is one full pass
    * over the unique-word table (12 suffices for the synthetic corpus's
    * 31 word types; a production tokenizer run sets 10^4-10^5). */
  private val BpeNumMerges = 12

  /** q_boilerplate prefix length (tokens) and minimum sharer count. */
  private val BoilerPrefixLen = 3
  private val BoilerMinDocs = 2

  /** q_postings per-token posting-list cap. */
  private val PostingsK = 8

  val all: Seq[Query] = Seq(
    Query("q_lang_id", (s, d) =>
      TextAnalysis.langId(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |r AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_filter(tk, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS double) / len(tk)
         |                  ELSE 0.0 END AS en_ratio
         |      FROM t)
         |SELECT doc_id, en_ratio,
         |       CASE WHEN en_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM r""".stripMargin),
    Query("q_quality_score", (s, d) =>
      TextAnalysis.qualityScore(Tables.fanout(Tables.documents(s, d))),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents)
         |SELECT doc_id,
         |       cast(len(tk) AS bigint) AS n_tokens,
         |       cast(len(list_distinct(tk)) AS bigint) AS n_distinct,
         |       CASE WHEN len(tk) > 0
         |            THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |            ELSE 0.0 END AS distinct_ratio,
         |       CASE WHEN len(tk) > 0
         |            THEN cast(list_sum(list_transform(tk, w -> len(w))) AS double) / len(tk)
         |            ELSE 0.0 END AS mean_token_len,
         |       (len(tk) >= 10 AND
         |        CASE WHEN len(tk) > 0
         |             THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |             ELSE 0.0 END >= 0.2) AS keep
         |FROM t""".stripMargin),
    Query("q_token_count", (s, d) =>
      TextAnalysis.tokenCount(Tables.documents(s, d)),
      s"""SELECT doc_id,
         |       cast(len($DuckToks) AS bigint) AS ws_tokens,
         |       cast(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bigint) AS bpeish_tokens
         |FROM documents""".stripMargin),
    Query("q_fingerprint", (s, d) =>
      TextAnalysis.fingerprint(Tables.fanout(Tables.documents(s, d))),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents)
         |SELECT doc_id,
         |       list_min(list_transform($DuckBigrams, s -> md5(s))) AS fingerprint
         |FROM t""".stripMargin),
    Query("q_tfidf_stats", (s, d) =>
      TextAnalysis.termStats(Tables.documents(s, d)),
      s"""WITH tf AS (SELECT doc_id, t AS word, count(*) AS tf
         |            FROM (SELECT doc_id, unnest($DuckToks) AS t FROM documents)
         |            GROUP BY doc_id, t),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, word, tf, df, n_docs
         |FROM tf JOIN dfreq USING (word) CROSS JOIN n""".stripMargin),
    Query("q_repetition", (s, d) =>
      TextAnalysis.repetitionScore(Tables.documents(s, d), threshold = RepThreshold),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |b AS (SELECT doc_id, unnest($DuckBigrams) AS bg FROM t),
         |c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
         |a AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_rep
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         |       cast(coalesce(n_bigrams, 0) AS bigint) AS n_bigrams,
         |       coalesce(max_rep, 0) AS max_rep,
         |       CASE WHEN coalesce(n_bigrams, 0) > 0
         |            THEN cast(max_rep AS double) / n_bigrams ELSE 0.0 END AS rep_ratio,
         |       (CASE WHEN coalesce(n_bigrams, 0) > 0
         |             THEN cast(max_rep AS double) / n_bigrams ELSE 0.0 END) < $RepThreshold AS keep
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin),
    // per-source percentile-calibrated quality (equal admission rate
    // across heterogeneous feeds) + declared-vs-predicted language audit
    Query("q_quality_calibrated", (s, d) =>
      TextAnalysis.calibratedQuality(Tables.documents(s, d), minPctRank = CalMinPct),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |q AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_distinct(tk)) AS double) / len(tk)
         |                  ELSE 0.0 END AS distinct_ratio
         |      FROM t)
         |SELECT q.doc_id, d.source, q.distinct_ratio,
         |       percent_rank() OVER w AS pct_rank,
         |       (percent_rank() OVER w >= $CalMinPct) AS keep_cal
         |FROM q JOIN documents d ON q.doc_id = d.doc_id
         |WINDOW w AS (PARTITION BY d.source ORDER BY q.distinct_ratio, q.doc_id)""".stripMargin),
    Query("q_lang_agreement", (s, d) =>
      TextAnalysis.langAgreement(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |r AS (SELECT doc_id,
         |             CASE WHEN len(tk) > 0
         |                  THEN cast(len(list_filter(tk, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS double) / len(tk)
         |                  ELSE 0.0 END AS en_ratio
         |      FROM t)
         |SELECT d.source, d.lang,
         |       CASE WHEN r.en_ratio >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
         |       count(*) AS n_docs
         |FROM r JOIN documents d ON r.doc_id = d.doc_id
         |GROUP BY 1, 2, 3""".stripMargin),
    // exact heavy hitters via Misra-Gries candidates + recount: the
    // bounded-shuffle path for billion-type item columns (cnt*k > N,
    // integer-exact, so the sketch never touches the answer)
    Query("q_heavy_hitters", (s, d) =>
      graft.agg.HeavyHitters.heavyHitters(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok")),
        "tok", k = HhK),
      HeavyHittersSql, scaling = Sublinear),
    // cross-run heavy hitters: per-run candidate sketches (here: the
    // doc-parity halves standing in for two scheduled runs) UNION into
    // one candidate state; the exact recount over the combined corpus
    // must be indistinguishable from the single-pass answer — the
    // oracle is the same exact SQL as q_heavy_hitters
    Query("q_hh_merge", (s, d) => {
      def toks(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Tables.documents(s, d).filter(p(col("doc_id")))
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok"))
      val merged = graft.agg.HeavyHitters
        .candidateSketch(toks(_ % 2 === 0), "tok", HhK)
        .unionByName(graft.agg.HeavyHitters
          .candidateSketch(toks(_ % 2 === 1), "tok", HhK))
        .distinct()
      graft.agg.HeavyHitters.heavyHittersFrom(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.toksCol(col("text"))).as("tok")),
        "tok", HhK, merged)
    },
      // cross-run candidate union + recount vs the same exact answer
      HeavyHittersSql, scaling = Sublinear),
    Query("q_vocab_encode", (s, d) =>
      TextAnalysis.vocabEncode(Tables.documents(s, d),
        minDf = VocabMinDf, vocabSize = VocabSize),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos,
         |               unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok
         |       GROUP BY tok HAVING count(*) >= $VocabMinDf),
         |rk AS (SELECT tok, tok_id FROM (
         |         SELECT tok, cast(row_number() OVER (
         |                  ORDER BY cnt DESC, tok) AS int) AS tok_id FROM vc) x
         |       WHERE tok_id <= $VocabSize)
         |SELECT t2.doc_id, cast(count(*) AS bigint) AS n_tokens,
         |       array_to_string(list(coalesce(rk.tok_id, 0) ORDER BY t2.pos), ' ') AS ids
         |FROM tok t2 LEFT JOIN rk ON t2.tok = rk.tok
         |GROUP BY t2.doc_id""".stripMargin),
    // unigram-LM quality scoring: mean corpus-relative token frequency
    // per doc + quality band (the KenLM-perplexity-filter shape)
    Query("q_lm_score", (s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d),
        rareMax = LmRareMax, midMax = LmMidMax),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT cast(sum(cnt) AS double) AS n_corpus FROM vc),
         |d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |             cast(sum(cnt) AS bigint) AS sum_cnt
         |      FROM tok JOIN vc USING (tok) GROUP BY doc_id),
         |m AS (SELECT doc_id, n_tokens, sum_cnt,
         |             cast(sum_cnt AS double) / cast(n_tokens AS double) / n_corpus
         |               AS mean_rel_freq
         |      FROM d CROSS JOIN tot)
         |SELECT doc_id, n_tokens, sum_cnt, mean_rel_freq,
         |       CASE WHEN mean_rel_freq < $LmRareMax THEN 'rare'
         |            WHEN mean_rel_freq < $LmMidMax THEN 'mid'
         |            ELSE 'common' END AS band
         |FROM m""".stripMargin),
    // n-gram novelty: per-doc count of corpus-unique bigram shingles
    Query("q_novelty", (s, d) =>
      TextAnalysis.noveltyScore(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($DuckBigrams)) AS shingle FROM t),
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_shingles,
         |             cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS bigint) AS n_novel
         |      FROM sh JOIN dfq USING (shingle) GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_novel,
         |       CASE WHEN n_novel * 2 >= n_shingles THEN 'novel' ELSE 'stock' END
         |         AS novelty_band
         |FROM d""".stripMargin),
    // C4-style boilerplate: docs sharing a first-k-token prefix with
    // >= minDocs others get the prefix stripped from their token count
    Query("q_boilerplate", (s, d) =>
      TextAnalysis.boilerplate(Tables.documents(s, d),
        BoilerPrefixLen, BoilerMinDocs),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |b AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens,
         |             CASE WHEN len(tk) >= $BoilerPrefixLen
         |                  THEN array_to_string(tk[1:$BoilerPrefixLen], ' ')
         |             END AS prefix
         |      FROM t),
         |h AS (SELECT prefix, count(*) AS n_docs FROM b
         |      WHERE prefix IS NOT NULL
         |      GROUP BY prefix HAVING count(*) >= $BoilerMinDocs)
         |SELECT doc_id, n_tokens, (n_docs IS NOT NULL) AS had_boilerplate,
         |       CASE WHEN n_docs IS NOT NULL
         |            THEN n_tokens - $BoilerPrefixLen
         |            ELSE n_tokens END AS clean_tokens
         |FROM b LEFT JOIN h USING (prefix)""".stripMargin),
    // bounded inverted index: df + first-k postings per token; the
    // top-k runs as WindowGroupLimit so stopwords never flood a shuffle
    Query("q_postings", (s, d) =>
      TextAnalysis.postings(Tables.documents(s, d), PostingsK),
      s"""WITH t AS (SELECT doc_id, list_distinct($DuckToks) AS tk
         |           FROM documents),
         |p AS (SELECT doc_id, unnest(tk) AS token FROM t),
         |d AS (SELECT token, count(*) AS df FROM p GROUP BY token),
         |r AS (SELECT token, doc_id,
         |             row_number() OVER (PARTITION BY token
         |                                ORDER BY doc_id) AS rn
         |      FROM p),
         |s AS (SELECT token, string_agg(cast(doc_id AS varchar), ','
         |                               ORDER BY doc_id) AS postings
         |      FROM r WHERE rn <= $PostingsK GROUP BY token)
         |SELECT d.token, df, postings FROM d JOIN s USING (token)""".stripMargin),
    // tokenizer-sizing measurement: token-occurrence mass covered by the
    // top-k token types, for several k
    Query("q_vocab_coverage", (s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), CoverageKs),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |tok AS (SELECT unnest(tk) AS tok FROM t),
         |vc AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |tot AS (SELECT cast(sum(cnt) AS bigint) AS total FROM vc),
         |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM vc),
         |ks AS (SELECT unnest([${CoverageKs.sorted.mkString(", ")}]) AS k)
         |SELECT k, cast(sum(cnt) AS bigint) AS covered, total
         |FROM ks JOIN rk ON rk.rk <= ks.k CROSS JOIN tot
         |GROUP BY k, total""".stripMargin),
    // the naive global rank()+filter top-k — written the "wrong" way on
    // purpose: BoundGlobalTopK rewrites it to a ties-safe
    // WindowGroupLimit bound, so the gate exercises the optimizer rule
    Query("q_rank_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tokenize.wordCount(Tables.documents(s, d), "text")
        .withColumn("rnk", rank().over(
          Window.orderBy(col("cnt").desc, col("word").asc)).cast("bigint"))
        .filter(col("rnk") <= RankTopK)
    },
      s"""WITH vc AS (SELECT word, count(*) AS cnt
         |            FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\W+')) AS word
         |                  FROM documents) t
         |            WHERE length(word) > 0 GROUP BY word)
         |SELECT word, cnt, rnk FROM (
         |  SELECT word, cnt,
         |         cast(rank() OVER (ORDER BY cnt DESC, word) AS bigint) AS rnk
         |  FROM vc) r
         |WHERE rnk <= $RankTopK""".stripMargin, scaling = Sublinear),
    // forward skip-gram co-occurrence counts off the token array — no
    // positional self-join (the quadratic trap); shuffle = pair vocab
    Query("q_skipgram", (s, d) =>
      TextAnalysis.skipgramPairs(Tables.documents(s, d), SkipgramWindow),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |p AS (SELECT tk, i FROM t,
         |      unnest(generate_series(1, len(tk))) AS u(i)),
         |pr AS (SELECT tk[i] AS w1, tk[j] AS w2 FROM p,
         |       unnest(generate_series(i + 1, least(i + $SkipgramWindow,
         |                                           len(tk)))) AS v(j))
         |SELECT w1, w2, count(*) AS cnt FROM pr GROUP BY w1, w2""".stripMargin),
    // distributed BPE tokenizer training + greedy encode. A sequential
    // data-dependent argmax chain is not SQL-expressible as a corpus
    // query, but the gate's corpus is FIXED (sf0.01), so both carry full
    // hash oracles: VALUES tables generated by an independent naive BPE
    // (tools/gen_bpe_oracle.py). BpeSpec additionally verifies the
    // algorithm merge-for-merge on a hand-built corpus.
    Query("q_bpe_merges", (s, d) => bpeMergesMemo(s, d),
      // BPE: a sequential data-dependent argmax chain is not expressible as
      // a DuckDB query over the corpus — but the correctness gate runs at a
      // FIXED sf0.01 corpus, so the expected tables below were generated by
      // tools/gen_bpe_oracle.py, an INDEPENDENT naive BPE implementation
      // (no shared code with graft.text.Bpe; not derived from Spark output).
      // The merge oracle is the naive reference's ranked merge table; the
      // encode oracle re-derives per-doc unit counts by joining the naive
      // reference's per-distinct-word segmentation sizes onto the tokenized
      // corpus. Regenerate with:
      //   python3 tools/gen_bpe_oracle.py /root/testdata/sf0.01 12 2
      """SELECT cast("rank" AS int) AS "rank", "left", "right",
        |       cast(pair_freq AS bigint) AS pair_freq
        |FROM (VALUES
        |  (1, 'e', 'r', 4568), (2, 'e', '</w>', 4473), (3, 'n', '</w>', 2834),
        |  (4, 'er', '</w>', 2779), (5, 'o', 'w', 2747), (6, 'ow', '</w>', 2747),
        |  (7, 'o', 'r', 2696), (8, 's', 't', 2676), (9, 'h', '</w>', 1884),
        |  (10, 'a', 't', 1845), (11, 'l', 'u', 1831), (12, 'i', 'n', 1796)
        |) t("rank", "left", "right", pair_freq)""".stripMargin),
    Query("q_bpe_encode", (s, d) => {
      import s.implicits._
      val merges = bpeMergesMemo(s, d).as[graft.text.Bpe.Merge].collect().toSeq
      graft.text.Bpe.encode(Tables.documents(s, d), merges)
    },
      """WITH wu(word, units) AS (VALUES
        |  ('a', 2), ('agg', 4), ('batch', 4), ('big', 4), ('column', 5),
        |  ('customer', 6), ('data', 4), ('dup', 4), ('fast', 4), ('filter', 5),
        |  ('group', 6), ('hash', 4), ('join', 4), ('key', 4), ('line', 3),
        |  ('merge', 4), ('order', 3), ('part', 5), ('query', 5), ('row', 2),
        |  ('scan', 4), ('slow', 3), ('small', 6), ('sort', 4), ('spark', 6),
        |  ('stream', 6), ('table', 5), ('the', 3), ('value', 4), ('vector', 6),
        |  ('window', 4)),
        |tok AS (SELECT doc_id,
        |               unnest(list_filter(string_split(text, ' '),
        |                                  x -> len(x) > 0)) AS word
        |        FROM documents),
        |enc AS (SELECT doc_id, count(*) AS nw, sum(units) AS nu
        |        FROM tok JOIN wu USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, cast(coalesce(e.nw, 0) AS bigint) AS n_words,
        |       cast(coalesce(e.nu, 0) AS bigint) AS n_bpe_units
        |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin),
    Query("q_truncate_tokens", (s, d) =>
      TextAnalysis.truncateTokens(Tables.documents(s, d), budget = TruncBudget),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
         |SELECT doc_id, len(tk) AS n_tokens,
         |       least(len(tk), $TruncBudget) AS n_kept,
         |       array_to_string(tk[1:$TruncBudget], ' ') AS text_trunc
         |FROM t""".stripMargin),
    // PII redaction: the corpus carries no natural PII, so each doc gets a
    // deterministic synthetic contact line (same construction mirrored in
    // the oracle) and the redactor masks it back out
    Query("q_pii_redact", (s, d) => {
      val withPii = Tables.fanout(Tables.documents(s, d)).select(col("doc_id"),
        concat(lit("user"), col("doc_id"), lit("@mail.example.com called +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".0.1 re: "),
          substring(col("text"), 1, 64)).as("text"))
      TextAnalysis.redactPii(withPii, "text")
    },
      {
      import graft.text.TextAnalysis.{EmailRe, PhoneRe, IpRe}
      s"""WITH p AS (SELECT doc_id,
         |             concat('user', doc_id, '@mail.example.com called +1-555-',
         |                    lpad(cast(doc_id % 10000 AS varchar), 4, '0'),
         |                    ' from 10.', cast(doc_id % 200 AS varchar), '.0.1 re: ',
         |                    substring(text, 1, 64)) AS text
         |           FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |         '$EmailRe', '<EMAIL>', 'g'),
         |         '$PhoneRe', '<PHONE>', 'g'),
         |         '$IpRe', '<IP>', 'g') AS text_redacted,
         |       len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         |       len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
         |       len(regexp_extract_all(text, '$IpRe')) AS n_ips
         |FROM p""".stripMargin
    }),
  )
}
