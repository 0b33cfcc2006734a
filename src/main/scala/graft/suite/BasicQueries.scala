package graft.suite

import org.apache.spark.sql.functions._

import graft.agg.Aggregations
import graft.core.Tables
import graft.gen.SampleData
import graft.join.WindowJoin
import graft.ops.{AsyncMap, RowOps, Tokenize, TweetJson}
import graft.state.TopSpeed

/** The Flink streaming examples' batch twins: row ops and scalar
  * functions, the nested tweet-JSON fixture, keyed and windowed
  * aggregation, the windowed joins, TopSpeed and the ordered async map. */
private[suite] object BasicQueries {

  /** Percentile fractions for q_value_stats, read by its build and its
    * generated oracle. */
  private val ValueStatsPs = Seq(0.5, 0.9, 0.99)

  /** Oracle for Aggregations.valueStats: the same fixed-bin histogram
    * percentile, op-for-op — bin = round(value*100) (exact for 2-decimal
    * measures), rank r = 1 + p·(n−1), interpolate between the bins
    * holding order statistics ⌊r⌋ and ⌈r⌉. Every double op appears in
    * the same order as the Spark expression so results are bit-identical. */
  private def valueStatsOracle(ps: Seq[Double]): String = {
    val names = ps.map(p => s"p${math.round(p * 100)}")
    def rank(p: Double) = s"(1.0 + $p * cast(n - 1 AS double))"
    val brackets = ps.zip(names).map { case (p, nm) =>
      s"min(CASE WHEN cum >= floor(${rank(p)}) THEN bin END) AS lo_$nm,\n" +
        s"       min(CASE WHEN cum >= ceil(${rank(p)}) THEN bin END) AS hi_$nm"
    }.mkString(",\n       ")
    val outs = ps.zip(names).map { case (p, nm) =>
      s"(lo_$nm + (${rank(p)} - floor(${rank(p)})) * (hi_$nm - lo_$nm)) / 100.0 AS $nm"
    }.mkString(",\n       ")
    s"""WITH h AS (SELECT event_type, cast(round(value * 100) AS bigint) AS bin,
       |                  count(*) AS cnt, min(value) AS measure_min
       |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |             sum(cnt) OVER (PARTITION BY event_type) AS n
       |      FROM h),
       |a AS (SELECT event_type, min(measure_min) AS min_v, max(n) AS n,
       |       $brackets
       |      FROM c GROUP BY event_type)
       |SELECT event_type, min_v,
       |       $outs
       |FROM a""".stripMargin
  }

  /** DuckDB VALUES list of the embedded tweet fixture docs (the fixture
    * is constant, so the oracle embeds the same strings — they contain no
    * single quotes, only JSON double quotes). */
  private def duckTweetDocs: String =
    TweetJson.FixtureTexts.map(t => s"('$t')").mkString("VALUES ", ", ", "")

  val all: Seq[Query] = Seq(
    // ---- M0/M1: row ops + scalar functions -------------------------------
    Query("q_wordcount", (s, d) =>
      Tokenize.wordCount(Tables.documents(s, d), "text"),
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS word
        |      FROM documents) t
        |WHERE length(word) > 0 GROUP BY word""".stripMargin),
    Query("q_tokenize_ws", (s, d) =>
      Tokenize.wordCountWs(Tables.documents(s, d), "text"),
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s')) AS word
        |      FROM documents) t
        |GROUP BY word""".stripMargin),
    Query("q_conditional_fanout", (s, d) =>
      Tokenize.conditionalFanout(Tables.fanout(Tables.documents(s, d)), "text", "spark"),
      """SELECT upper(word) AS word
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\W+')) AS word
        |      FROM documents
        |      WHERE list_contains(regexp_split_to_array(lower(text), '\W+'), 'spark')) t
        |WHERE length(word) > 0""".stripMargin),
    Query("q_filter_eq", (s, d) =>
      RowOps.filterEq(Tables.events(s, d), "event_type", "click")
        .select("event_id", "event_type", "value"),
      "SELECT event_id, event_type, value FROM events WHERE lower(event_type) = 'click'"),
    Query("q_parse_cast", (s, d) =>
      RowOps.parseCast(Tables.events(s, d)),
      """SELECT event_id, user_id,
        |       least(greatest(value, 0.0), 100000.0) AS value,
        |       epoch_ns(ts) // 1000000000 AS ts_sec
        |FROM events""".stripMargin),
    Query("q_json_extract", (s, d) =>
      RowOps.jsonExtract(Tables.fanout(Tables.events(s, d))),
      """SELECT event_id, event_type, cast(json_extract(props, '$.k') AS bigint) AS k
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL""".stripMargin),
    Query("q_generator_domain", (s, _) =>
      SampleData.gradesSalaries(s, 1000L),
      """SELECT seq,
        |       list_value('tom','jerry','alice','bob','john','grace')[
        |         cast(((1103515245*(seq+1)+12345) % 2147483648) % 6 + 1 AS int)] AS name,
        |       cast(((1103515245*(seq+2)+12345) % 2147483648) % 5 + 1 AS int) AS grade,
        |       cast(((1103515245*(seq+3)+12345) % 2147483648) % 10000 + 1 AS int) AS salary
        |FROM (SELECT range AS seq FROM range(1000)) g""".stripMargin),
    // fault-tolerant parse: ~1/7 of payloads deterministically corrupted
    // (PREFIX corruption — see RowOps.tryJsonExtract's parity caveat),
    // each bad record costs one NULL row, never the job
    Query("q_try_parse", (s, d) => {
      val raw = Tables.fanout(Tables.events(s, d)).select("event_id", "props")
        .withColumn("raw", when(col("event_id") % 7 === 0,
          concat(lit("x"), col("props"))).otherwise(col("props")))
      RowOps.tryJsonExtract(raw, "raw", "k")
    },
      """WITH r AS (SELECT event_id,
        |                  CASE WHEN event_id % 7 = 0 THEN concat('x', props)
        |                       ELSE props END AS raw
        |           FROM events)
        |SELECT event_id,
        |       CASE WHEN json_valid(raw)
        |            THEN cast(json_extract(raw, '$.k') AS bigint) END AS k,
        |       (CASE WHEN json_valid(raw)
        |             THEN cast(json_extract(raw, '$.k') AS bigint) END) IS NOT NULL AS is_valid
        |FROM r""".stripMargin),
    // ---- R4/S7/F9: nested tweet-JSON (reference fixture replay) ----------
    Query("q_json_nested", (s, _) =>
      TweetJson.docMeta(TweetJson.fixtureDf(s), "json"),
      s"""WITH docs(j) AS ($duckTweetDocs)
         |SELECT cast(json_extract(j, '$$.id') AS bigint) AS id,
         |       json_extract_string(j, '$$.user.lang') AS lang,
         |       cast(json_array_length(json_extract(j, '$$.user.entities.hashtags')) AS int) AS n_hashtags,
         |       json_extract_string(j, '$$.user.entities.hashtags[0].text') AS first_tag
         |FROM docs""".stripMargin),
    Query("q_hashtags", (s, _) =>
      TweetJson.hashtags(TweetJson.fixtureDf(s), "json"),
      s"""WITH docs(j) AS ($duckTweetDocs),
         |x AS (SELECT j, unnest(generate_series(0,
         |        cast(json_array_length(json_extract(j, '$$.user.entities.hashtags')) AS int) - 1)) AS i
         |      FROM docs)
         |SELECT cast(json_extract(j, '$$.id') AS bigint) AS id,
         |       json_extract_string(j, '$$.user.entities.hashtags[' || i || '].text') AS tag,
         |       cast(json_extract(j, '$$.user.entities.hashtags[' || i || '].indices[0]') AS int) AS idx0
         |FROM x""".stripMargin),
    Query("q_tweet_wordcount", (s, _) =>
      TweetJson.englishWordCount(TweetJson.fixtureDf(s), "json"),
      s"""WITH docs(j) AS ($duckTweetDocs),
         |en AS (SELECT json_extract_string(j, '$$.text') AS text FROM docs
         |       WHERE json_extract_string(j, '$$.user.lang') = 'en'
         |         AND json_extract(j, '$$.text') IS NOT NULL)
         |SELECT word, count(*) AS cnt
         |FROM (SELECT lower(unnest(regexp_split_to_array(text, '\\s+'))) AS word FROM en) t
         |WHERE length(word) > 0 GROUP BY word""".stripMargin),
    Query("q_scan_text", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).as("text_len"), col("lang")),
      "SELECT doc_id, n_chars, length(text) AS text_len, lang FROM documents"),
    // ---- M2: aggregation + windows ---------------------------------------
    Query("q_running_sum", (s, d) =>
      Aggregations.runningSum(Tables.events(s, d), "user_id", "event_id", "value"),
      """SELECT user_id, event_id,
        |       cast(sum(cast(value AS decimal(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_sum
        |FROM events""".stripMargin),
    Query("q_keyed_sum", (s, d) =>
      Aggregations.keyedSum(Tables.events(s, d), "user_id", "value"),
      """SELECT user_id, cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY user_id""".stripMargin),
    Query("q_window_sum", (s, d) =>
      Aggregations.windowSum(Tables.events(s, d), "ts_sec", "event_type", "value", 5L),
      """SELECT (epoch_ns(ts) // 5000000000) * 5 AS wstart_sec, event_type,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    Query("q_sliding_sum", (s, d) =>
      Aggregations.slidingWindowSum(Tables.events(s, d), "ts_sec", "event_type",
        "value", sizeSec = 7200L, slideSec = 3600L),
      // each event contributes to size/slide = 2 epoch-aligned windows:
      // floor(ts/slide)*slide and the one slide earlier
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS tsec, value
        |           FROM events),
        |x AS (SELECT event_type, value, (tsec // 3600) * 3600 - o.s AS wstart_sec
        |      FROM e, (VALUES (0), (3600)) AS o(s))
        |SELECT wstart_sec, event_type,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin),
    Query("q_session_sum", (s, d) =>
      Aggregations.sessionSum(Tables.events(s, d), "ts_sec", "user_id", "value", 30L),
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t, value FROM events),
        |m AS (SELECT *, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 30
        |                     OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |                THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT user_id, min(t) AS session_start, max(t) + 30 AS session_end,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin),
    Query("q_value_stats", (s, d) =>
      Aggregations.valueStats(Tables.events(s, d), "event_type", "value",
        ValueStatsPs),
      valueStatsOracle(ValueStatsPs)),
    Query("q_maxby", (s, d) =>
      Aggregations.maxBy(Tables.events(s, d), "user_id", "value", "event_id")
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props"),
      """SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id, event_type, value, props
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1""".stripMargin),
    // ---- M3: windowed join -----------------------------------------------
    Query("q_window_join", (s, d) =>
      WindowJoin.eventSliceJoin(Tables.events(s, d), "signup", "purchase", 3600L),
      """WITH a AS (SELECT user_id, (epoch_ns(ts) // 3600000000000) * 3600 AS wstart_sec,
        |                  value AS grade, event_id AS a_id
        |           FROM events WHERE event_type = 'signup'),
        |     b AS (SELECT user_id, (epoch_ns(ts) // 3600000000000) * 3600 AS wstart_sec,
        |                  value AS salary, event_id AS b_id
        |           FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, a.wstart_sec, a_id, b_id, grade, salary
        |FROM a JOIN b ON a.user_id = b.user_id AND a.wstart_sec = b.wstart_sec""".stripMargin),
    Query("q_range_join", (s, d) =>
      WindowJoin.eventRangeJoin(Tables.events(s, d), "signup", "purchase", 1800L),
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_ns(a.ts) // 1000000000 AS a_ts,
        |       epoch_ns(b.ts) // 1000000000 AS b_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND abs(epoch_ns(a.ts) // 1000000000 - epoch_ns(b.ts) // 1000000000) <= 1800
        |WHERE a.event_type = 'signup' AND b.event_type = 'purchase'""".stripMargin),
    // ---- M4: TopSpeed stateful op (batch/oracle reformulation) ------------
    Query("q_topspeed_bucket", (s, d) =>
      TopSpeed.topSpeedBuckets(Tables.events(s, d), 10, 50.0),
      """WITH ce AS (SELECT cast(user_id % 10 AS int) AS car_id, value AS speed,
        |                   epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events),
        |     d AS (SELECT car_id, speed, event_id,
        |                  sum(cast(round(speed*100) AS bigint)) OVER (
        |                    PARTITION BY car_id ORDER BY ts_us, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 360.0 AS distance
        |           FROM ce)
        |SELECT car_id, cast(floor(distance/50.0) AS bigint) AS bucket,
        |       speed AS top_speed, event_id
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY car_id, floor(distance/50.0)
        |        ORDER BY speed DESC, event_id DESC) AS rn FROM d) t
        |WHERE rn = 1""".stripMargin),
    // The flatMapGroupsWithState path itself (W3-W5): the greedy delta-
    // trigger is sequential per key, but IS expressible as a recursive
    // CTE (lateral min per firing) — fully oracle-checked. Integer-space
    // distance keeps the doubles bit-identical across engines.
    Query("q_topspeed_state", (s, d) => {
      import s.implicits._
      val ce = TopSpeed.carEvents(Tables.events(s, d), 10)
        .selectExpr("carId", "cast(speed as int) as speed", "distance", "time", "seq")
        .as[TopSpeed.CarEvent]
      TopSpeed.run(ce).toDF()
        .select(col("carId").as("car_id"), col("speed"),
          col("distance"), col("time").as("time_ms"))
    },
      """WITH RECURSIVE
        |ce AS (SELECT cast(user_id % 10 AS int) AS car_id, value AS vspeed,
        |              epoch_ns(ts) // 1000 AS ts_us, event_id
        |       FROM events),
        |d0 AS (SELECT car_id, vspeed, event_id, ts_us,
        |              sum(cast(round(vspeed*100) AS bigint)) OVER (
        |                PARTITION BY car_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 360.0 AS distance,
        |              row_number() OVER (PARTITION BY car_id ORDER BY ts_us, event_id) AS rn
        |       FROM ce),
        |d AS (SELECT *, cast(trunc(vspeed) AS int) AS ispeed, ts_us // 1000 AS tms FROM d0),
        |f AS (
        |  SELECT car_id, 0 AS rn, cast(0.0 AS double) AS last_fired, 0 AS depth
        |  FROM (SELECT DISTINCT car_id FROM d)
        |  UNION ALL
        |  SELECT f.car_id, nxt.rn, nxt.distance, f.depth + 1
        |  FROM f JOIN LATERAL (
        |    SELECT d.rn, d.distance FROM d
        |    WHERE d.car_id = f.car_id AND d.rn > f.rn AND d.distance - f.last_fired >= 50.0
        |    ORDER BY d.rn LIMIT 1
        |  ) nxt ON true
        |),
        |fe AS (SELECT f.car_id, f.rn AS fire_rn, d.tms AS fire_tms
        |       FROM f JOIN d ON d.car_id = f.car_id AND d.rn = f.rn
        |       WHERE f.depth > 0),
        |em AS (SELECT fe.car_id, fe.fire_rn, b.ispeed, b.distance, b.tms,
        |              row_number() OVER (PARTITION BY fe.car_id, fe.fire_rn
        |                ORDER BY b.ispeed DESC, b.tms DESC, b.rn DESC) AS r
        |       FROM fe JOIN d b ON b.car_id = fe.car_id AND b.rn <= fe.fire_rn
        |                      AND b.tms >= fe.fire_tms - 10000)
        |SELECT car_id, ispeed AS speed, distance, tms AS time_ms FROM em WHERE r = 1""".stripMargin),
    // ---- M5: ordered async map -------------------------------------------
    Query("q_async_identity", (s, d) => {
      import s.implicits._
      val ids = Tables.fanout(Tables.events(s, d)).select(col("event_id")).as[Long]
      AsyncMap.orderedWait(ids)(AsyncMap.identityAsync[Long]).toDF("event_id")
    },
      "SELECT event_id FROM events"),
  )
}
