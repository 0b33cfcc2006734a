package graft.suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.join.{AdaptiveSkewJoin, BloomJoin}
import graft.rel.{Analytics, Graph}
import graft.text.TextAnalysis
import graft.SparkEntry.memoized
import graft.suite.Scaling.Sublinear
import graft.suite.Shared.{SkipgramWindow, DuckToks}

/** The analytic-SQL surface: rollup/pivot/top-k, funnels, sessions,
  * sweep-line intervals, attribution, SCD2 and the adaptive/bloom/as-of
  * joins. */
private[suite] object AnalyticsQueries {

  /** Shared day-level delta stream for the lineitem transit sweeps:
    * q_interval_count (weight ≡ 1) and q_weighted_interval (qty) sweep
    * the SAME synthesized [ship, receipt] intervals at the SAME order
    * days, differing only in which weight they prefix-sum — so the
    * whole heavy input pipeline (lineitem + orders scans, the ±delta
    * explode, the day-level aggregation) is built once per (session,
    * dir) and both queries run only calendar-bounded day-level work
    * over the checkpoint. Per-column sums are independent, so each
    * query's output is byte-identical to its single-weight build
    * (oracle-confirmed). The frame is one row per distinct day — KB at
    * any corpus scale. */
  private def transitDeltasMemo(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "transit_deltas") {
      val iv = Tables.lineitem(s, d).select(
        to_date(col("l_shipdate")).as("ship"),
        date_add(to_date(col("l_shipdate")),
          (col("l_orderkey") % 30).cast("int")).as("receipt"),
        lit(1L).cast("decimal(18,2)").as("cnt"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      Analytics.sweepDeltas(iv, "ship", "receipt", Seq("cnt", "qty"),
        Tables.orders(s, d).select(to_date(col("o_orderdate")).as("day")),
        "day")
    }

  /** q_topk_per_group k. */
  private val TopKPerGroup = 3

  /** q_bloom_join filter sizing: capacity is an upper bound (the sf0.1
    * urgent-order count is ~30k) — over-provisioning only lowers the
    * false-positive rate, never correctness (the exact semi-join removes
    * FPs). Not interpolated into the oracle: the oracle is the plain
    * semi-join, which the bloom path must match EXACTLY regardless of
    * filter sizing. */
  private val BloomExpectedKeys = 100000L
  private val BloomFpp = 0.02

  /** q_window_ranks ntile bucket count and q_setops price threshold
    * (~40 surviving customers at sf0.01). */
  private val RankTiles = 4
  private val SetOpsMinPrice = 300000.0

  /** q_funnel step sequence and q_cohort period. */
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val CohortPeriodSec = 86400L

  /** q_sessionize gap (30 s in µs — same operating point as
    * q_session_sum's 30 s so the two session views describe the same
    * corpus behavior). */
  private val SessionGapUs = 30000000L

  /** q_group_quantiles: quartiles as exact (num, den) rationals, so the
    * ceil-target arithmetic is literally the same integers on both
    * sides. */
  private val QuantileSpecs = Seq((1, 4), (2, 4), (3, 4))

  /** The SCD2 full-rebuild oracle — shared verbatim by q_scd2 and
    * q_scd2_merge: the incremental merge's correctness claim IS
    * equality with the full rebuild. */
  private val Scd2RebuildSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
      |                  event_type
      |           FROM events),
      |ch AS (SELECT user_id, event_id, ts_us, event_type
      |       FROM (SELECT *, lag(event_type) OVER
      |               (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
      |             FROM e)
      |       WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_id, event_type, ts_us AS valid_from,
      |       lead(ts_us) OVER w AS valid_to,
      |       (lead(ts_us) OVER w IS NULL) AS is_current
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  /** q_attribution touch/conversion event types. */
  private val AttrTouch = "click"
  private val AttrConv = "purchase"
  /** q_attribution_asof tie planting: the events table carries no
    * natural same-µs touch/conversion pairs at gate SFs, so every
    * (AttrTieEvery)-th conversion gets a synthetic touch at EXACTLY its
    * own timestamp (id-offset far above real event_ids, construction
    * mirrored in the oracle) — the inclusive asof tie the operator
    * exists for is then exercised by the DuckDB hash gate itself, not
    * only by specs. */
  private val AttrTieEvery = 20L
  private val AttrTieIdOffset = 1L << 40

  /** q_rolling_active window width (the WAU operating point). */
  private val RollingDays = 7

  /** The rolling-active full-recompute oracle (the naive BETWEEN join)
    * — shared verbatim by q_rolling_active and q_rolling_merge: the
    * incremental merge's correctness claim IS equality with the full
    * recompute. */
  private val RollingRebuildSql =
    s"""WITH e AS (SELECT DISTINCT user_id,
       |             DATE '1970-01-01'
       |               + CAST(epoch_ns(ts) // 1000 // 86400000000
       |                      AS INTEGER) AS day
       |           FROM events),
       |d AS (SELECT DISTINCT day FROM e)
       |SELECT d.day, count(DISTINCT e.user_id) AS n_active
       |FROM d JOIN e ON e.day BETWEEN d.day - ${RollingDays - 1} AND d.day
       |GROUP BY d.day""".stripMargin

  /** q_session_funnel gap (24 h in µs — funnel-step events are sparse,
    * so a browse-session gap would splinter every step; 24 h yields
    * 1073→516→234 session-level attrition at sf0.01). */
  private val SessionFunnelGapUs = 86400000000L

  /** q_top_paths per-context cut. */
  private val TopPathsK = 3

  /** q_funnel_within max inter-step gap (24 h in µs — 150→60→25 user
    * attrition on the sf0.01 corpus, non-trivial at every level). */
  private val FunnelMaxGapUs = 86400000000L

  /** q_triangles edge threshold: skip-gram co-occurrence pairs seen at
    * least this often form an edge (~p75 of the pair-count distribution
    * at sf0.01 → a sparse 110-edge graph instead of the near-complete
    * 464-edge one). */
  private val CooccurMinCount = 300L

  val all: Seq[Query] = Seq(
    // ANALYZE-style one-pass column profile: counts, null counts, min/max
    // and exact distincts for three columns in ONE aggregation (Catalyst
    // expands multi-distinct into one pass over an Expand — no per-column
    // re-scan; the same shape as q21's countDistinct audit).
    Query("q_col_profile", (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("qty_nonnull"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        countDistinct(col("l_quantity")).as("qty_distinct"),
        min(col("l_discount")).as("disc_min"),
        max(col("l_discount")).as("disc_max"),
        countDistinct(col("l_discount")).as("disc_distinct"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("flag_status_distinct")),
      """SELECT count(*) AS n_rows,
        |       count(l_quantity) AS qty_nonnull,
        |       min(l_quantity) AS qty_min,
        |       max(l_quantity) AS qty_max,
        |       count(DISTINCT l_quantity) AS qty_distinct,
        |       min(l_discount) AS disc_min,
        |       max(l_discount) AS disc_max,
        |       count(DISTINCT l_discount) AS disc_distinct,
        |       count(DISTINCT (l_returnflag, l_linestatus)) AS flag_status_distinct
        |FROM lineitem""".stripMargin),
    Query("q_rollup", Analytics.rollupPricing,
      """SELECT l_returnflag, l_linestatus,
        |       cast(grouping(l_returnflag, l_linestatus) AS bigint) AS gid,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    Query("q_cube", Analytics.cubePricing,
      """SELECT l_returnflag, l_linestatus,
        |       cast(grouping(l_returnflag, l_linestatus) AS bigint) AS gid,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
    Query("q_pivot", Analytics.pivotStatusCounts,
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin),
    Query("q_topk_per_group", (s, d) =>
      Analytics.topOrdersPerPriority(s, d, k = TopKPerGroup),
      s"""SELECT o_orderpriority, o_orderkey, o_totalprice, cast(rn AS int) AS rnk
         |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
         |             row_number() OVER (PARTITION BY o_orderpriority
         |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |      FROM orders) t
         |WHERE rn <= $TopKPerGroup""".stripMargin, scaling = Sublinear),
    Query("q_lag_delta", Analytics.lagDelta,
      """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, value,
        |       lag(value) OVER w AS prev_value,
        |       value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)""".stripMargin),
    // ordered-step conversion funnel: earliest step-k time strictly after
    // step-(k-1), left-joined so broken chains keep NULL tails
    Query("q_funnel", (s, d) =>
      Analytics.funnel(Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps),
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(1)}' AND ts_us > t1
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(2)}' AND ts_us > t2
         |       GROUP BY e.user_id)
         |SELECT s1.user_id, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin, scaling = Sublinear),
    // retention triangle: users per (first-activity cohort, period offset)
    Query("q_cohort", (s, d) =>
      Analytics.cohortRetention(Tables.events(s, d), periodSec = CohortPeriodSec),
      s"""WITH p AS (SELECT user_id,
         |                  epoch_ns(ts) // 1000000000 // $CohortPeriodSec AS per
         |           FROM events),
         |f AS (SELECT user_id, min(per) AS cohort FROM p GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, per FROM p)
         |SELECT cohort * $CohortPeriodSec AS cohort_start_sec,
         |       per - cohort AS period_offset,
         |       count(*) AS n_users
         |FROM a JOIN f USING (user_id)
         |GROUP BY 1, 2""".stripMargin),
    // rank-family window functions, one shuffle + one shared sort
    Query("q_window_ranks", (s, d) =>
      Analytics.windowRanks(s, d, buckets = RankTiles),
      s"""SELECT event_id, event_type, value,
         |       cast(rank() OVER w AS bigint) AS rnk,
         |       cast(dense_rank() OVER w AS bigint) AS drnk,
         |       cast(ntile($RankTiles) OVER w AS int) AS tile$RankTiles,
         |       percent_rank() OVER w AS pct_rank,
         |       cume_dist() OVER w AS cdist
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin, scaling = Sublinear),
    // INTERSECT/EXCEPT key-set algebra over pre-distinct'd filtered scans
    Query("q_setops", (s, d) =>
      Analytics.urgentHighNotPending(s, d, minPrice = SetOpsMinPrice),
      s"""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         |INTERSECT
         |SELECT o_custkey FROM orders WHERE o_totalprice > $SetOpsMinPrice
         |EXCEPT
         |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin),
    // CDC → SCD2: change-filter then [valid_from, valid_to) via lead()
    Query("q_scd2", (s, d) => Analytics.scd2(s, d),
      Scd2RebuildSql),
    // per-key count distribution as an integer-exact log2 histogram
    Query("q_skew_profile", (s, d) =>
      Analytics.skewProfile(Tables.orders(s, d), "o_custkey"),
      """WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders
        |           GROUP BY o_custkey)
        |SELECT cast(len(bin(cnt)) - 1 AS int) AS bucket,
        |       count(*) AS n_keys, cast(sum(cnt) AS bigint) AS n_rows,
        |       max(cnt) AS max_cnt
        |FROM c GROUP BY 1""".stripMargin),
    // gap-based sessionization over cold logs (batch twin of the
    // streaming session window; == gap merges, > gap breaks)
    Query("q_sessionize", (s, d) =>
      Analytics.sessionize(Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("ts_us")), gapUs = SessionGapUs),
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |b AS (SELECT user_id, event_id, ts_us,
         |             CASE WHEN ts_us - lag(ts_us) OVER w > $SessionGapUs
         |                  THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, ts_us,
         |             sum(brk) OVER (PARTITION BY user_id
         |                            ORDER BY ts_us, event_id
         |                            ROWS UNBOUNDED PRECEDING) AS session_idx
         |      FROM b)
         |SELECT user_id, cast(session_idx AS bigint) AS session_idx,
         |       count(*) AS n_events,
         |       min(ts_us) AS t_start_us, max(ts_us) AS t_end_us,
         |       max(ts_us) - min(ts_us) AS dur_us
         |FROM s GROUP BY user_id, session_idx""".stripMargin),
    // sweep-line interval counting: lineitems in transit per order day —
    // prefix sums over the day-level delta stream, never a BETWEEN join.
    // The corpus has no receipt date, so transit time is synthesized
    // deterministically (ship + orderkey%30 days), mirrored in the oracle
    Query("q_interval_count", (s, d) =>
      // weight ≡ 1 leg of the shared transit-delta memo (cnt column);
      // byte-identical to activeIntervalsAt over the same intervals
      Analytics.sweepFromDeltas(transitDeltasMemo(s, d), "cnt")
        .select(col("day"), col("w_active").cast("bigint").as("n_active")),
      // the oracle IS the naive BETWEEN join the operator refuses to run —
      // DuckDB's IEJoin handles it at gate scale; the sweep-line must agree
      """WITH days AS (SELECT DISTINCT cast(o_orderdate AS date) AS day
        |              FROM orders),
        |iv AS (SELECT cast(l_shipdate AS date) AS ship,
        |              cast(l_shipdate AS date) + cast(l_orderkey % 30 AS int)
        |                AS receipt
        |       FROM lineitem)
        |SELECT day, cast(count(ship) AS bigint) AS n_active
        |FROM days LEFT JOIN iv ON ship <= day AND receipt >= day
        |GROUP BY day""".stripMargin, scaling = Sublinear),
    // exact per-type quartiles read off the banded rank infrastructure
    // (no percentile_approx estimation, no monolithic per-type sort)
    Query("q_group_quantiles", (s, d) =>
      Analytics.groupQuantiles(s, d, QuantileSpecs),
      s"""WITH r AS (SELECT event_type, value,
         |                  rank() OVER (PARTITION BY event_type
         |                               ORDER BY value, event_id) AS rn,
         |                  count(*) OVER (PARTITION BY event_type) AS n
         |           FROM events),
         |q AS (SELECT * FROM (VALUES ${QuantileSpecs
        .map { case (p, d) => s"($p, $d)" }.mkString(", ")})
         |      t(p_num, p_den))
         |SELECT event_type, 'q' || p_num || '_' || p_den AS q_label, n,
         |       value AS q_value
         |FROM r JOIN q ON rn = (n * p_num + p_den - 1) // p_den""".stripMargin, scaling = Sublinear),
    // last-touch attribution: latest preceding click per purchase, one
    // exchange + one sort via a prefix-max of struct(ts, id)
    Query("q_attribution", (s, d) =>
      Analytics.attribution(s, d, AttrTouch, AttrConv),
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         |                  event_type
         |           FROM events),
         |s AS (SELECT *, sum(CASE WHEN event_type = '$AttrTouch'
         |                         THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                     ROWS UNBOUNDED PRECEDING) AS seq
         |      FROM e),
         |t AS (SELECT user_id, seq, event_id AS touch_id,
         |             ts_us AS touch_ts_us
         |      FROM s WHERE event_type = '$AttrTouch'),
         |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts_us, seq
         |      FROM s WHERE event_type = '$AttrConv')
         |SELECT c.user_id, conv_id, conv_ts_us, touch_id, touch_ts_us,
         |       conv_ts_us - touch_ts_us AS gap_us
         |FROM c LEFT JOIN t ON c.user_id = t.user_id AND c.seq = t.seq""".stripMargin),
    // asof-tied attribution: a click AT the purchase's own timestamp
    // gets credit (inclusive touch_ts <= conv_ts, ties to max id) —
    // the batch half of the AttributionAsof streaming twin; the only
    // plan difference vs q_attribution is a RANGE prefix frame.
    // Input = events + planted same-µs ties (see AttrTieEvery), so the
    // hash gate exercises the inclusive tie q_attribution would miss
    Query("q_attribution_asof", (s, d) => {
      val base = Tables.events(s, d).select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
      val planted = base
        .filter(col("event_type") === AttrConv &&
          col("event_id") % AttrTieEvery === 0)
        .select(col("user_id"),
          (col("event_id") + AttrTieIdOffset).as("event_id"),
          col("ts_us"), lit(AttrTouch).as("event_type"))
      Analytics.attributionAsofOf(base.unionByName(planted),
        AttrTouch, AttrConv)
    },
      // same seq-ordinal trick, with touches ordered BEFORE conversions at
      // equal ts — a conversion's running touch count then includes every
      // touch with ts <= its own ts (the inclusive asof tie), and the
      // seq-th touch is the max-(ts, event_id) one
      s"""WITH b AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         |                  event_type
         |           FROM events),
         |e AS (SELECT * FROM b
         |      UNION ALL
         |      SELECT user_id, event_id + $AttrTieIdOffset AS event_id,
         |             ts_us, '$AttrTouch' AS event_type
         |      FROM b
         |      WHERE event_type = '$AttrConv'
         |        AND event_id % $AttrTieEvery = 0),
         |s AS (SELECT *, sum(CASE WHEN event_type = '$AttrTouch'
         |                         THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY user_id
         |                     ORDER BY ts_us,
         |                              CASE WHEN event_type = '$AttrTouch'
         |                                   THEN 0 ELSE 1 END,
         |                              event_id
         |                     ROWS UNBOUNDED PRECEDING) AS seq
         |      FROM e),
         |t AS (SELECT user_id, seq, event_id AS touch_id,
         |             ts_us AS touch_ts_us
         |      FROM s WHERE event_type = '$AttrTouch'),
         |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts_us, seq
         |      FROM s WHERE event_type = '$AttrConv')
         |SELECT c.user_id, conv_id, conv_ts_us, touch_id, touch_ts_us,
         |       conv_ts_us - touch_ts_us AS gap_us
         |FROM c LEFT JOIN t ON c.user_id = t.user_id AND c.seq = t.seq""".stripMargin),
    // incremental SCD2 maintenance: merge the newer half as a delta
    // batch into the SCD2 of the older half; the oracle is the FULL
    // rebuild — the merge path must be indistinguishable
    Query("q_scd2_merge", (s, d) => Analytics.scd2MergeQuery(s, d),
      // incremental merge vs the FULL rebuild: same oracle by design
      Scd2RebuildSql),
    // rolling 7-day distinct active users: per-user interval merge +
    // the sweep-line — never a |days| × |events| BETWEEN join; the
    // oracle IS that naive join (IEJoin handles it at gate scale)
    Query("q_rolling_active", (s, d) =>
      Analytics.rollingActiveQuery(s, d, RollingDays),
      RollingRebuildSql, scaling = Sublinear),
    // incremental DAU/WAU state maintenance: merged intervals are a
    // sufficient, order-independent state — fold the newer half in as
    // a delta; the oracle is the FULL recompute
    Query("q_rolling_merge", (s, d) =>
      Analytics.rollingMergeQuery(s, d, RollingDays),
      // incremental merge vs the FULL recompute: same oracle by design
      RollingRebuildSql, scaling = Sublinear),
    // first-order Markov transition counts over ordered user events;
    // per-from totals ride along as integers (no division on-surface)
    Query("q_transitions", (s, d) =>
      Analytics.transitions(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"))),
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_ns(ts) // 1000 AS ts_us
        |           FROM events),
        |p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts_us, event_id)
        |               AS to_type
        |      FROM e),
        |t AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       cast(sum(n) OVER (PARTITION BY from_type) AS bigint)
        |         AS n_from
        |FROM t""".stripMargin),
    // second-order path mining: top-k next events per (prev, cur)
    // context — two lead() taps on one window, WindowGroupLimit cut
    Query("q_top_paths", (s, d) =>
      Analytics.topPaths(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")), k = TopPathsK),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |p AS (SELECT event_type AS prev_type,
         |             lead(event_type, 1) OVER w AS cur_type,
         |             lead(event_type, 2) OVER w AS next_type
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY ts_us, event_id)),
         |t AS (SELECT prev_type, cur_type, next_type, count(*) AS n FROM p
         |      WHERE next_type IS NOT NULL GROUP BY 1, 2, 3)
         |SELECT prev_type, cur_type, next_type, n, cast(rn AS int) AS rnk
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY prev_type, cur_type
         |        ORDER BY n DESC, next_type) AS rn FROM t) x
         |WHERE rn <= $TopPathsK""".stripMargin),
    // weighted sweep-line: quantity in transit per order day — the
    // value-in-flight generalization of q_interval_count (weight ≡ 1)
    Query("q_weighted_interval", (s, d) =>
      // qty leg of the shared transit-delta memo; byte-identical to
      // weightedIntervalsAt over the same intervals
      Analytics.sweepFromDeltas(transitDeltasMemo(s, d), "qty")
        .select(col("day"), col("w_active").cast("double").as("w_active")),
      """WITH days AS (SELECT DISTINCT cast(o_orderdate AS date) AS day
        |              FROM orders),
        |iv AS (SELECT cast(l_shipdate AS date) AS ship,
        |              cast(l_shipdate AS date) + cast(l_orderkey % 30 AS int)
        |                AS receipt,
        |              cast(l_quantity AS decimal(18,2)) AS qty
        |       FROM lineitem)
        |SELECT day, cast(coalesce(sum(qty), 0) AS double) AS w_active
        |FROM days LEFT JOIN iv ON ship <= day AND receipt >= day
        |GROUP BY day""".stripMargin, scaling = Sublinear),
    // SLA funnel: each step must land within 24 h of the previous one —
    // same one-exchange HOF chain as q_funnel, bound composed in
    Query("q_funnel_within", (s, d) =>
      Analytics.funnel(Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps, maxGapUs = Some(FunnelMaxGapUs)),
      s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
         |           FROM events),
         |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(1)}'
         |         AND ts_us > t1 AND ts_us <= t1 + $FunnelMaxGapUs
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = '${FunnelSteps(2)}'
         |         AND ts_us > t2 AND ts_us <= t2 + $FunnelMaxGapUs
         |       GROUP BY e.user_id)
         |SELECT s1.user_id, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin, scaling = Sublinear),
    // per-VISIT funnel: the step chain scoped to gap-based sessions
    // over the funnel-relevant events; still one exchange (the session
    // window's partitioning is reused by the (user, session) agg)
    Query("q_session_funnel", (s, d) =>
      Analytics.sessionFunnel(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us")),
        FunnelSteps, gapUs = SessionFunnelGapUs),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  epoch_ns(ts) // 1000 AS ts_us
         |           FROM events
         |           WHERE event_type IN (${FunnelSteps
        .map(s => s"'$s'").mkString(", ")})),
         |b AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w
         |                       > $SessionFunnelGapUs
         |                     THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY ts_us, event_id)),
         |s AS (SELECT *, cast(sum(brk) OVER (PARTITION BY user_id
         |                       ORDER BY ts_us, event_id
         |                       ROWS UNBOUNDED PRECEDING) AS bigint)
         |                  AS session_idx
         |      FROM b),
         |s1 AS (SELECT user_id, session_idx, min(ts_us) AS t1 FROM s
         |       WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1, 2),
         |s2 AS (SELECT s.user_id, s.session_idx, min(ts_us) AS t2
         |       FROM s JOIN s1 ON s.user_id = s1.user_id
         |                     AND s.session_idx = s1.session_idx
         |       WHERE event_type = '${FunnelSteps(1)}' AND ts_us > t1
         |       GROUP BY 1, 2),
         |s3 AS (SELECT s.user_id, s.session_idx, min(ts_us) AS t3
         |       FROM s JOIN s2 ON s.user_id = s2.user_id
         |                     AND s.session_idx = s2.session_idx
         |       WHERE event_type = '${FunnelSteps(2)}' AND ts_us > t2
         |       GROUP BY 1, 2)
         |SELECT s1.user_id, s1.session_idx, t1, t2, t3
         |FROM s1 LEFT JOIN s2 USING (user_id, session_idx)
         |        LEFT JOIN s3 USING (user_id, session_idx)""".stripMargin),
    // degree-oriented triangle census over the thresholded co-occurrence
    // graph — wedge fan-out bounded by sqrt(m), never hub degree; the
    // oracle is the naive 3-way join the operator refuses to run
    Query("q_triangles", (s, d) =>
      Graph.triangleCensus(
        TextAnalysis.skipgramPairs(Tables.documents(s, d), SkipgramWindow)
          .groupBy(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .agg(sum(col("cnt")).as("pc"))
          .filter(col("a") =!= col("b") && col("pc") >= CooccurMinCount)
          .select(col("a"), col("b"))),
      s"""WITH t AS (SELECT doc_id, $DuckToks AS tk FROM documents),
         |p AS (SELECT tk, i FROM t,
         |      unnest(generate_series(1, len(tk))) AS u(i)),
         |pr AS (SELECT tk[i] AS w1, tk[j] AS w2 FROM p,
         |       unnest(generate_series(i + 1, least(i + $SkipgramWindow,
         |                                           len(tk)))) AS v(j)),
         |pc AS (SELECT least(w1, w2) AS u, greatest(w1, w2) AS v,
         |              count(*) AS c
         |       FROM pr WHERE w1 <> w2 GROUP BY 1, 2),
         |e AS (SELECT u, v FROM pc WHERE c >= $CooccurMinCount),
         |n AS (SELECT count(DISTINCT x) AS n_nodes FROM
         |      (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
         |tri AS (SELECT count(*) AS n_triangles
         |        FROM e e1
         |        JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
         |        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
         |SELECT n_nodes, (SELECT count(*) FROM e) AS n_edges, n_triangles
         |FROM n, tri""".stripMargin),
    // profile → pick → execute: the skew histogram chooses the physical
    // join (broadcast here — the urgent-orders dim is small); any picked
    // strategy returns the same rows, so the oracle is the plain join
    Query("q_adaptive_join", (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      AdaptiveSkewJoin.autoJoin(Tables.lineitem(s, d), "l_orderkey",
          urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      // the adaptive path is a physical choice only: whatever strategy the
      // profile picks, the rows equal the plain inner join
      """SELECT l_returnflag,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag""".stripMargin),
    Query("q_bloom_join", (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      BloomJoin.bloomPrunedSemiJoin(Tables.lineitem(s, d), "l_orderkey",
          urgent, "o_orderkey", BloomExpectedKeys, BloomFpp)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag,
        |       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin),
    // as-of join: each purchase picks up the latest prior (or same-µs)
    // view per user; the right side is deduped to one row per (user, ts)
    Query("q_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts_us"), col("view_id"),
          col("ts_us").as("view_ts_us"))
      graft.join.AsofJoin.asof(p, v, "user_id", "ts_us")
    },
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts_us, max(event_id) AS view_id, ts_us AS view_ts_us
        |      FROM (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events WHERE event_type = 'view') t
        |      GROUP BY user_id, ts_us)
        |SELECT p.user_id, p.ts_us, p.event_id, v.view_id, v.view_ts_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin),
    // the same as-of, through the CUSTOM PHYSICAL OPERATOR
    // (graft.plans.AsofMergeJoin via injectPlannerStrategy) — checked
    // against the same DuckDB native ASOF oracle as q_asof_join
    Query("q_asof_native", (s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_id"))
        .select(col("user_id"), col("ts_us"), col("view_id"),
          col("ts_us").as("view_ts_us"))
      graft.join.AsofJoin.asofNative(p, v, "user_id", "ts_us")
    },
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts_us, max(event_id) AS view_id, ts_us AS view_ts_us
        |      FROM (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id
        |            FROM events WHERE event_type = 'view') t
        |      GROUP BY user_id, ts_us)
        |SELECT p.user_id, p.ts_us, p.event_id, v.view_id, v.view_ts_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin),
  )
}
