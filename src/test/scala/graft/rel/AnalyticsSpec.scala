package graft.rel

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** The analytic-SQL surface: rollup level arithmetic, pivot == conditional
  * aggregation, top-k-per-group rank properties + the WindowGroupLimit
  * plan shape (the map-side top-k that makes the operator scale), and
  * lag-delta invariants. */
class AnalyticsSpec extends SparkSuite {
  // the scd2Merge validate=true test deliberately fails a task with a
  // contract-violation raise
  override protected def expectedTaskFailureSubstrings: Seq[String] =
    Seq("scd2Merge contract violation")


  private val sf = "/root/testdata/sf0.001"

  test("rollupPricing: subtotal levels are consistent sums of the detail level") {
    val rows = Analytics.rollupPricing(spark, sf).collect()
    val detail = rows.filter(_.getAs[Long]("gid") == 0L)
    val byFlag = rows.filter(_.getAs[Long]("gid") == 1L)
    val total = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(total.length == 1, "exactly one grand-total row")
    // grand total row count == sum of detail row counts == table size
    val n = Tables.lineitem(spark, sf).count()
    assert(total.head.getAs[Long]("n_rows") == n)
    assert(detail.map(_.getAs[Long]("n_rows")).sum == n)
    // per-flag subtotal == sum of its detail rows (qty is decimal-exact,
    // so double equality is safe)
    for (st <- byFlag) {
      val flag = st.getAs[String]("l_returnflag")
      val mine = detail.filter(_.getAs[String]("l_returnflag") == flag)
      assert(st.getAs[Long]("n_rows") == mine.map(_.getAs[Long]("n_rows")).sum)
      assert(st.getAs[Double]("sum_qty") == mine.map(_.getAs[Double]("sum_qty")).sum)
    }
    // subtotal rows mark the aggregated column NULL
    assert(byFlag.forall(_.isNullAt(1)) && total.head.isNullAt(0))
  }

  test("pivotStatusCounts equals the unpivoted conditional aggregation") {
    val piv = Analytics.pivotStatusCounts(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val manual = Tables.orders(spark, sf).groupBy("o_orderpriority")
      .agg(count(when(col("o_orderstatus") === "F", 1)).as("f"),
        count(when(col("o_orderstatus") === "O", 1)).as("o"),
        count(when(col("o_orderstatus") === "P", 1)).as("p"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(piv == manual)
    // every priority row sums to its total order count
    val totals = Tables.orders(spark, sf).groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((p, f, o, pr) <- piv) assert(f + o + pr == totals(p))
  }

  test("topOrdersPerPriority: k rows per group, ranked by price, map-side WindowGroupLimit") {
    val k = 3
    val df = Analytics.topOrdersPerPriority(spark, sf, k)
    val rows = df.collect()
    val groups = rows.groupBy(_.getString(0))
    assert(groups.size == 5)
    for ((_, g) <- groups) {
      assert(g.length == k)
      assert(g.map(_.getInt(3)).sorted.toSeq == (1 to k))
      val byRank = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "prices not descending within a group")
    }
    // each top row really is the group max
    val maxes = Tables.orders(spark, sf).groupBy("o_orderpriority")
      .agg(max("o_totalprice")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((p, g) <- groups)
      assert(g.minBy(_.getInt(3)).getDouble(2) == maxes(p))
    // the scale property: rank-limit filter rewritten to WindowGroupLimit
    // (per-group top-k BEFORE the exchange, not a full-table window sort)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"top-k per group did not plan as WindowGroupLimit:\n$plan")
  }

  test("lagDelta: exactly one NULL delta per user, delta == value - prev") {
    val df = Analytics.lagDelta(spark, sf)
    val n = Tables.events(spark, sf).count()
    assert(df.count() == n, "lag must preserve cardinality")
    val nullsPerUser = df.filter(col("delta").isNull)
      .groupBy("user_id").count().collect()
    assert(nullsPerUser.forall(_.getLong(1) == 1L),
      "exactly the first event per user has no predecessor")
    assert(df.filter(col("delta").isNotNull &&
      col("delta") =!= col("value") - col("prev_value")).count() == 0)
    assert(df.filter(col("delta").isNull =!= col("prev_value").isNull).count() == 0)
  }

  test("funnel: strictly-ordered chains, NULL tails where the chain breaks") {
    import spark.implicits._
    // u1 converts in order; u2 clicks BEFORE viewing (no conversion past
    // t1); u3 never does step 1 (absent from output); u4 views twice,
    // earliest counts, then clicks but never buys
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 8L), (2L, "purchase", 4L),
      (3L, "click", 1L), (3L, "purchase", 2L),
      (4L, "view", 40L), (4L, "view", 35L), (4L, "click", 50L)
    ).toDF("user_id", "event_type", "ts_us")
    val r = Analytics.funnel(ev, Seq("view", "click", "purchase"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(r.toSeq === Seq(
      (1L, 10L, Some(20L), Some(30L)),
      (2L, 8L, None, None), // click at 5 precedes view at 8 -> no step 2
      (4L, 35L, Some(50L), None)))
  }

  test("funnel maxGap: a step exactly at the bound converts, one past it breaks the chain") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      (2L, "view", 100L), (2L, "click", 201L), // gap 101 > 100 → chain breaks
      (3L, "view", 100L), (3L, "click", 200L), (3L, "purchase", 301L)
    ).toDF("user_id", "event_type", "ts_us")
    val r = Analytics.funnel(ev, Seq("view", "click", "purchase"),
        maxGapUs = Some(100L))
      .collect().map(x => x.getLong(0) ->
        (x.isNullAt(2), x.isNullAt(3))).toMap
    assert(r(1L) === ((false, false)), "gap == bound converts at both steps")
    assert(r(2L) === ((true, true)), "gap == bound + 1 breaks the chain")
    assert(r(3L) === ((false, true)), "second gap 101 breaks only step 3")
  }

  test("sessionFunnel: chain resets at session boundaries; cross-session steps never convert") {
    import spark.implicits._
    val ev = Seq(
      // user 1, session 0: full conversion
      (1L, 1L, "view", 100L), (1L, 2L, "click", 200L), (1L, 3L, "purchase", 300L),
      // user 1, session 1 (gap > 1000): view then click — no purchase
      (1L, 4L, "view", 5000L), (1L, 5L, "click", 5100L),
      // user 2: view in session 0, click only in session 1 → the click
      // must NOT convert the first session's view
      (2L, 6L, "view", 100L), (2L, 7L, "click", 9000L)
    ).toDF("user_id", "event_id", "event_type", "ts_us")
    val r = Analytics.sessionFunnel(ev, Seq("view", "click", "purchase"),
        gapUs = 1000L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.isNullAt(3), x.isNullAt(4))).toMap
    assert(r((1L, 0L)) === ((false, false)), "session 0 fully converts")
    assert(r((1L, 1L)) === ((false, true)), "session 1 stops at click")
    assert(r((2L, 0L)) === ((true, true)), "cross-session click must not convert")
    // user 2 session 1 has no view → no chain start → absent
    assert(!r.contains((2L, 1L)))
  }

  test("funnel: a same-timestamp later step does NOT convert (strict >)") {
    import spark.implicits._
    val ev = Seq((1L, "view", 10L), (1L, "click", 10L), (1L, "purchase", 11L))
      .toDF("user_id", "event_type", "ts_us")
    val r = Analytics.funnel(ev, Seq("view", "click", "purchase"))
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(r.toSeq === Seq((1L, 10L, None, None)))
  }

  test("cohortRetention: hand-computed triangle; offset-0 counts every cohort member") {
    import spark.implicits._
    // period = 10s. u1 first p0, active p0+p2; u2 first p0, active p0;
    // u3 first p2, active p2+p3. duplicate activity in one period counts once.
    val ev = Seq(
      (1L, 1L), (1L, 5L), (1L, 25L),
      (2L, 9L),
      (3L, 21L), (3L, 29L), (3L, 33L)
    ).toDF("user_id", "ts_sec")
    val r = Analytics.cohortRetention(ev, periodSec = 10L)
      .as[(Long, Long, Long)].collect().sortBy(x => (x._1, x._2))
    assert(r.toSeq === Seq(
      (0L, 0L, 2L),  // u1, u2 in cohort 0 at offset 0
      (0L, 2L, 1L),  // u1 returns in period 2
      (20L, 0L, 1L), // u3 cohort starts at 20s
      (20L, 1L, 1L)))
  }

  test("scd2: consecutive same-state rows compact; intervals chain with one " +
    "NULL-valid_to current row per user") {
    import spark.implicits._
    val rows = Analytics.scd2(spark, sf)
      .as[(Long, Long, String, Long, Option[Long], Boolean)].collect()
      .groupBy(_._1)
    rows.foreach { case (user, hist) =>
      val sorted = hist.sortBy(_._4)
      // exactly one open (current) interval, and it is the last
      assert(sorted.count(_._5.isEmpty) == 1, s"user $user open intervals")
      assert(sorted.last._5.isEmpty && sorted.last._6, s"user $user last row open")
      // intervals chain: valid_to == next valid_from; no same-state runs
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $user interval chain broken")
          assert(a._3 != b._3, s"user $user uncompacted same-state run")
        case _ =>
      }
    }
  }

  test("skewProfile: buckets partition the key set; log2 bucket bounds hold") {
    import spark.implicits._
    val df = Tables.orders(spark, sf)
    val prof = Analytics.skewProfile(df, "o_custkey")
      .as[(Int, Long, Long, Long)].collect()
    assert(prof.map(_._2).sum ==
      df.select("o_custkey").distinct().count())
    assert(prof.map(_._3).sum == df.count())
    prof.foreach { case (bucket, _, _, maxCnt) =>
      // max_cnt lies in [2^bucket, 2^(bucket+1))
      assert(maxCnt >= (1L << bucket) && maxCnt < (1L << (bucket + 1)),
        s"bucket $bucket max $maxCnt")
    }
  }

  test("windowRanks: per-type rank/cume_dist invariants at the group edges") {
    import spark.implicits._
    val r = Analytics.windowRanks(spark, sf, buckets = 4)
      .select("event_type", "rnk", "tile4", "pct_rank", "cdist")
      .as[(String, Long, Int, Double, Double)].collect().groupBy(_._1)
    r.foreach { case (tpe, rows) =>
      val n = rows.length
      assert(rows.map(_._2).min == 1L, s"$tpe min rank")
      assert(rows.map(_._5).max == 1.0, s"$tpe cume_dist tops at 1")
      assert(rows.map(_._3).distinct.sorted.toSeq == (1 to math.min(4, n)),
        s"$tpe ntile buckets")
      // rank 1 has pct_rank 0; ranks are dense in [1, n] for unique keys
      assert(rows.filter(_._2 == 1L).forall(_._4 == 0.0), s"$tpe pct_rank base")
    }
  }

  test("rankFamily: banded composition equals the monolithic window, ties included") {
    import spark.implicits._
    // 4k rows, ONE type, heavy value ties (value = i % 97) AND duplicated
    // full keys (every 10th row repeats the previous (value, event_id)) so
    // rank < row_number and dense_rank < rank genuinely diverge — the
    // compose must be exact for tie groups, not just unique keys.
    val rows = (0 until 4000).map { i =>
      val base = (i.toLong % 97).toDouble
      if (i % 10 == 9) (i.toLong - 1L, "solo", ((i - 1).toLong % 97).toDouble)
      else (i.toLong, "solo", base)
    }
    val ev = rows.toDF("event_id", "event_type", "value")
    val banded = Analytics.rankFamily(ev, buckets = 4, bands = 8, rowsPerBand = 100L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val mono = ev.select(col("event_id"), col("event_type"), col("value"),
      rank().over(w).cast("bigint").as("rnk"),
      dense_rank().over(w).cast("bigint").as("drnk"),
      ntile(4).over(w).cast("int").as("tile4"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cdist"))
    assert(banded.exceptAll(mono).count() == 0 &&
      mono.exceptAll(banded).count() == 0,
      "banded rank family diverged from the monolithic window")
  }

  test("rankFamily: integer value/id columns work on the banded path (casts up front)") {
    import spark.implicits._
    // the r6 ADVICE defect shape: an INT value + INT event_id input used
    // to pass on the effBands==1 shortcut but throw ClassCastException in
    // the cut-key collect once the input was large enough to band — an
    // input-size-dependent failure. Both paths must now accept it.
    val ev = (0 until 2000).map(i => (i, "solo", i * 7 % 113))
      .toDF("event_id", "event_type", "value")
    val banded = Analytics.rankFamily(ev, buckets = 4, bands = 8,
      rowsPerBand = 100L) // forces the banded path
    val shortcut = Analytics.rankFamily(ev, buckets = 4, bands = 8,
      rowsPerBand = 1L << 20) // effBands == 1 shortcut
    assert(banded.exceptAll(shortcut).count() == 0 &&
      shortcut.exceptAll(banded).count() == 0,
      "banded path diverged from the shortcut on integer inputs")
    assert(banded.schema("value").dataType.typeName === "double" &&
      banded.schema("event_id").dataType.typeName === "long",
      "working schema must be normalized identically on both paths")
  }

  test("funnel stepListCap: within-cap chains identical; past-cap hits under-report, never invent") {
    import spark.implicits._
    // a "bot" with 50 views then the conversion chain; cap 10 keeps only
    // the first 10 view timestamps — the chain's view hit (the FIRST
    // view) is inside the prefix, so conversion is unchanged
    val bot = (1 to 50).map(i => (1L, "view", i.toLong * 10)) ++
      Seq((1L, "click", 600L), (1L, "purchase", 700L))
    val ev = bot.toDF("user_id", "event_type", "ts_us")
    val capped = Analytics.funnel(ev, Seq("view", "click", "purchase"),
      stepListCap = 10)
    val full = Analytics.funnel(ev, Seq("view", "click", "purchase"))
    assert(capped.exceptAll(full).count() == 0 &&
      full.exceptAll(capped).count() == 0,
      "a chain within the cap prefix must convert identically")
    // adversarial case: the only qualifying click sits PAST the cap →
    // the capped funnel breaks the chain (under-reports) but must not
    // fabricate a different timestamp
    val lateHit = (1 to 20).map(i => (2L, "click", i.toLong)) ++ // 20 early clicks
      Seq((2L, "view", 100L), (2L, "click", 200L), (2L, "purchase", 300L))
    val ev2 = lateHit.toDF("user_id", "event_type", "ts_us")
    val capped2 = Analytics.funnel(ev2, Seq("view", "click", "purchase"),
        stepListCap = 10)
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(capped2.toSeq === Seq((2L, 100L, None, None)),
      "a qualifying hit past the cap must break the chain, not invent one")
    val full2 = Analytics.funnel(ev2, Seq("view", "click", "purchase"))
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(full2.toSeq === Seq((2L, 100L, Some(200L), Some(300L))),
      "the uncapped funnel converts via the post-cap click")
  }

  test("rankFamily property: banded == monolithic on seeded random inputs, any band count") {
    import scala.util.Random
    import spark.implicits._
    val rnd = new Random(20260813)
    for (c <- 1 to 6) {
      val nTypes = 1 + rnd.nextInt(3)
      val n = 50 + rnd.nextInt(900)
      // heavy value ties (small value domain) AND occasional duplicated
      // full keys (id collisions) — every compose path exercised
      val rows = (0 until n).map { _ =>
        (rnd.nextInt(20).toLong, s"t${rnd.nextInt(nTypes)}",
          rnd.nextInt(7).toDouble)
      }
      val ev = rows.toDF("event_id", "event_type", "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val buckets = 1 + rnd.nextInt(6)
      val mono = ev.select(col("event_id"), col("event_type"), col("value"),
        rank().over(w).cast("bigint").as("rnk"),
        dense_rank().over(w).cast("bigint").as("drnk"),
        ntile(buckets).over(w).cast("int").as(s"tile$buckets"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      for (bands <- Seq(1, 3, 8)) {
        val banded = Analytics.rankFamily(ev, buckets, bands, rowsPerBand = 16L)
        assert(banded.exceptAll(mono).count() == 0 &&
          mono.exceptAll(banded).count() == 0,
          s"case $c diverged at bands=$bands buckets=$buckets n=$n")
      }
    }
  }

  test("rankFamily: single-type input still sorts at bands-wide parallelism") {
    import spark.implicits._
    // the defect shape the sp1 lint can't see: ONE event_type. The plan
    // must hash-partition the window sort on (event_type, band) — not on
    // event_type alone — and the banding must actually spread the rows.
    val ev = (0 until 20000)
      .map(i => (i.toLong, "solo", (i * 31 % 9973).toDouble))
      .toDF("event_id", "event_type", "value")
    val df = Analytics.rankFamily(ev, buckets = 4, bands = 8, rowsPerBand = 1000L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("hashpartitioning(event_type") && plan.contains("band"),
      s"window sort is not partitioned on (event_type, band):\n$plan")
    // no (value, event_id)-ordered window may partition on type alone —
    // that is the monolithic sort. (The tiny |types|·bands-row offsets
    // frame legitimately exchanges on type; its windows order by `band`
    // or nothing, so they don't match this shape.)
    assert(!plan.linesIterator.exists(l =>
      l.contains("windowspecdefinition(event_type#") &&
        l.contains("value#") && !l.contains("band#")),
      s"found a type-only data window (parallelism = |type domain|):\n$plan")
    // execution-level: the composed ranks are still an exact permutation
    // of 1..n (the plan check above proves the sort ran banded, this
    // proves the bands composed back into one global ranking)
    val r = df.agg(max("rnk"), countDistinct("rnk")).head()
    assert(r.getLong(0) == 20000L && r.getLong(1) == 20000L)
  }

  test("sessionize: breaks strictly beyond the gap, == gap merges, sessions cover all events") {
    import spark.implicits._
    // u1: 0,10 | (gap 30 exactly merges) 40 | 100 breaks (60 > 30);
    // u2: single event
    val ev = Seq(
      (1L, 1L, 0L), (1L, 2L, 10L), (1L, 3L, 40L), (1L, 4L, 100L),
      (2L, 5L, 7L)
    ).toDF("user_id", "event_id", "ts_us")
    val r = Analytics.sessionize(ev, gapUs = 30L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(r === Seq(
      (1L, 0L, 3L, 0L, 40L, 40L),   // 0,10,40 one session (== gap merges)
      (1L, 1L, 1L, 100L, 100L, 0L), // 100 breaks
      (2L, 0L, 1L, 7L, 7L, 0L)))
    // real corpus: session event counts cover the table; one exchange
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
    val sess = Analytics.sessionize(events, gapUs = 30000000L)
    assert(sess.agg(sum("n_events")).head.getLong(0) == events.count())
    sess.collect()
    val plan = sess.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"sessionize grew beyond one exchange:\n$plan")
  }

  test("activeIntervalsAt: sweep-line equals the naive BETWEEN join; no global sort") {
    import spark.implicits._
    val iv = Seq(
      ("1994-01-02", "1994-01-10"), ("1994-01-05", "1994-01-05"),
      ("1994-12-30", "1995-01-03"), // interval crossing a YEAR boundary
      ("1995-06-01", "1995-06-02")
    ).toDF("s", "e").select(col("s").cast("date").as("s"), col("e").cast("date").as("e"))
    val pts = Seq("1994-01-01", "1994-01-05", "1994-12-31", "1995-01-02",
      "1995-03-03", "1995-06-02", "1995-06-02" // duplicate point: one output row
    ).toDF("p").select(col("p").cast("date").as("p"))
    val df = Analytics.activeIntervalsAt(iv, "s", "e", pts, "p")
    val got = df.select(col("day").cast("string"), col("n_active"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("1994-01-01", 0L), // before everything: zero-active day still emitted
      ("1994-01-05", 2L),
      ("1994-12-31", 1L),
      ("1995-01-02", 1L), // the cross-year interval is still open
      ("1995-03-03", 0L),
      ("1995-06-02", 1L)))
    // naive join agreement on the real tables at sf0.001 (same synthetic
    // receipt construction as q_interval_count)
    val li = Tables.lineitem(spark, sf).select(
      to_date(col("l_shipdate")).as("ship"),
      date_add(to_date(col("l_shipdate")),
        (col("l_orderkey") % 30).cast("int")).as("receipt"))
    val od = Tables.orders(spark, sf)
      .select(to_date(col("o_orderdate")).as("oday"))
    val sweep = Analytics.activeIntervalsAt(li, "ship", "receipt", od, "oday")
      .select(col("day").cast("string"), col("n_active"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val naive = od.select(col("oday").as("day")).distinct()
      .join(li, col("ship") <= col("day") &&
        col("receipt") >= col("day"), "left_outer")
      .groupBy(col("day")).agg(count(col("ship")).as("n_active"))
      .select(col("day").cast("string"), col("n_active"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(sweep === naive)
    // the whole point: no unbounded single-partition sort anywhere
    df.collect()
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(
      df.queryExecution.executedPlan) == 0)
  }

  test("urgentHighNotPending: algebra matches a hand-filtered computation") {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
      .as[(Long, String, Double, String)].collect()
    val urgent = o.filter(_._2 == "1-URGENT").map(_._1).toSet
    val high = o.filter(_._3 > 300000.0).map(_._1).toSet
    val pending = o.filter(_._4 == "P").map(_._1).toSet
    val expect = (urgent intersect high) diff pending
    val got = Analytics.urgentHighNotPending(spark, sf, 300000.0)
      .as[Long].collect().toSet
    assert(got === expect)
  }

  test("cohortRetention on real events: triangle mass equals distinct (user, period) count") {
    val ev = Tables.events(spark, sf)
    val r = Analytics.cohortRetention(ev, periodSec = 86400L)
    val mass = r.agg(sum("n_users")).head.getLong(0)
    val distinctUp = ev.selectExpr("user_id", "ts_sec div 86400 AS p")
      .distinct().count()
    assert(mass == distinctUp)
    // every user appears at offset 0 of their own cohort
    val offset0 = r.filter(col("period_offset") === 0)
      .agg(sum("n_users")).head.getLong(0)
    assert(offset0 == ev.select("user_id").distinct().count())
  }

  test("groupQuantilesOf: exact order-statistic targets; banded path identical") {
    import spark.implicits._
    // type a: 10 rows with values 1..10; type b: 5 rows with values 1..5
    // (inserted shuffled so nothing depends on input order)
    val ev = (Seq(7, 3, 10, 1, 5, 8, 2, 9, 4, 6).zipWithIndex
      .map { case (v, i) => (i.toLong, "a", v.toDouble) } ++
      Seq(4, 1, 5, 2, 3).zipWithIndex
        .map { case (v, i) => (100L + i, "b", v.toDouble) })
      .toDF("event_id", "event_type", "value")
    val qs = Seq((1, 4), (2, 4), (3, 4))
    def run(rowsPerBand: Long) =
      Analytics.groupQuantilesOf(ev, qs, bands = 4, rowsPerBand)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(3))).toSet
    // a (n=10): targets ceil(10p/4) = 3, 5, 8 → 3rd/5th/8th smallest
    // b (n=5):  targets ceil(5p/4)  = 2, 3, 4
    val expect = Set(
      ("a", "q1_4", 3.0), ("a", "q2_4", 5.0), ("a", "q3_4", 8.0),
      ("b", "q1_4", 2.0), ("b", "q2_4", 3.0), ("b", "q3_4", 4.0))
    assert(run(1L << 20) === expect, "monolithic path")
    assert(run(4L) === expect, "banded path (forced)")
  }

  test("attributionOf: latest preceding touch by (ts, id); NULLs without a touch") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 100L, "click"),
      (1L, 2L, 200L, "click"),
      // same µs as click 2 but a later event_id → the click precedes it
      (1L, 3L, 200L, "purchase"),
      (1L, 4L, 300L, "purchase"),
      (2L, 5L, 100L, "purchase"), // user 2 never clicked
      (3L, 6L, 100L, "view")      // not a conversion — absent from output
    ).toDF("user_id", "event_id", "ts_us", "event_type")
    val r = Analytics.attributionOf(ev, "click", "purchase").collect()
    assert(r.length == 3)
    val byConv = r.map(x => x.getLong(1) ->
      (if (x.isNullAt(3)) None else Some((x.getLong(3), x.getLong(5))))).toMap
    assert(byConv(3L) === Some((2L, 0L)), "same-µs earlier-id click attributed")
    assert(byConv(4L) === Some((2L, 100L)), "latest click wins, gap exact")
    assert(byConv(5L) === None, "no preceding touch → NULL columns")
  }

  test("scd2Merge: incremental merge == full rebuild; untouched users bypass the window") {
    import spark.implicits._
    val baseEv = Seq(
      (1L, 1L, 100L, "view"), (1L, 2L, 200L, "view"), (1L, 3L, 300L, "click"),
      (2L, 4L, 100L, "view"),
      (3L, 5L, 100L, "click") // user 3 gets no delta — must pass through
    ).toDF("user_id", "event_id", "ts_us", "event_type")
    val delta = Seq(
      (1L, 6L, 400L, "click"), // equals user 1's current state → absorbed
      (1L, 7L, 500L, "view"),  // real change → new current row
      (2L, 8L, 400L, "view"),  // absorbed
      (4L, 9L, 400L, "signup") // user seen for the first time in the delta
    ).toDF("user_id", "event_id", "ts_us", "event_type")
    val full = Analytics.scd2Core(baseEv.unionByName(delta))
    val merged = Analytics.scd2Merge(Analytics.scd2Core(baseEv), delta)
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "incremental merge diverged from the full rebuild")
    // the absorbed delta event must NOT open a new interval
    assert(merged.filter(col("event_id") === 6L).count() == 0)
    // delta-only user appears with a single current row
    val u4 = merged.filter(col("user_id") === 4L).collect()
    assert(u4.length == 1 && u4.head.getAs[Boolean]("is_current"))
  }

  test("scd2Merge validate: a late delta fails fast; contract-abiding deltas pass") {
    import spark.implicits._
    val baseEv = Seq(
      (1L, 1L, 100L, "view"), (1L, 2L, 300L, "click"),
      (2L, 3L, 100L, "view")
    ).toDF("user_id", "event_id", "ts_us", "event_type")
    val base = Analytics.scd2Core(baseEv).localCheckpoint()
    val good = Seq((1L, 4L, 400L, "view"), (3L, 5L, 50L, "signup"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    // validation on, contract held → identical to the unvalidated merge
    // (the delta-only user 3's early ts is fine: no base rows to precede)
    val checked = Analytics.scd2Merge(base, good, validate = true)
    val plain = Analytics.scd2Merge(base, good)
    assert(checked.exceptAll(plain).count() == 0 &&
      plain.exceptAll(checked).count() == 0)
    // a delta event ordering BEFORE user 1's last base change (ts 300)
    // must raise, not silently corrupt the table
    val late = Seq((1L, 6L, 250L, "view"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val err = intercept[Exception] {
      Analytics.scd2Merge(base, late, validate = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(err).exists(m =>
      m != null && m.contains("scd2Merge contract violation")),
      s"expected the contract-violation message, got: $err")
    // without validation the same late delta is silently absorbed
    // (documented hazard) — merely asserting it does NOT raise
    Analytics.scd2Merge(base, late).collect()
  }

  test("scd2MergeQuery on real events equals the full scd2 rebuild") {
    val merged = Analytics.scd2MergeQuery(spark, sf)
    val full = Analytics.scd2(spark, sf)
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0)
  }

  test("rollingActive: interval-merge sweep equals the naive BETWEEN join; no double count") {
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    // user 1: merge (1, 3), gap to 20; user 2: adjacent-day chain 5..8;
    // user 3: one day, shared with user 1's window
    val ev = Seq(
      (1L, 1), (1L, 3), (1L, 20), (1L, 3), // duplicate activity collapses
      (2L, 5), (2L, 6), (2L, 7), (2L, 8),
      (3L, 2))
      .map { case (u, day) => (u, d(day)) }.toDF("user_id", "day")
    val got = Analytics.rollingActive(ev, windowDays = 7)
      .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    // brute force on the same frame (tiny, test-only)
    val days = ev.select("day").distinct().as[Date].collect()
    val acts = ev.distinct().as[(Long, Date)].collect()
    val expect = days.map { day =>
      day -> acts.filter { case (_, a) =>
        !a.after(day) && a.toLocalDate.plusDays(6).compareTo(day.toLocalDate) >= 0
      }.map(_._1).distinct.length.toLong
    }.toMap
    assert(got === expect)
    // merged intervals are disjoint per user → nobody counts twice:
    // day 7 sits in user 1's [1,7] AND [3,9] pre-merge coverage but the
    // merged [1,9] counts once; users 2 ([5,14]) and 3 ([2,8]) also cover
    assert(got(d(7)) == 3L, "three users on day 7, user 1 exactly once")
  }

  test("rollingActive property: equals brute force on seeded random activity, several widths") {
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    val rnd = new scala.util.Random(20260813)
    for (c <- 1 to 4) {
      val acts = (for {
        u <- 1 to (2 + rnd.nextInt(4))
        _ <- 1 to (1 + rnd.nextInt(12))
      } yield (u.toLong, d(rnd.nextInt(40)))).distinct
      val ev = acts.toDF("user_id", "day")
      for (w <- Seq(1, 3, 7)) {
        val got = Analytics.rollingActive(ev, windowDays = w)
          .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
        val days = acts.map(_._2).distinct
        val expect = days.map { day =>
          day -> acts.filter { case (_, a) =>
            !a.after(day) &&
              a.toLocalDate.plusDays(w - 1).compareTo(day.toLocalDate) >= 0
          }.map(_._1).distinct.size.toLong
        }.toMap
        assert(got === expect, s"case $c width $w")
      }
    }
  }

  test("q_attribution_asof gate input: planted same-µs ties flip credit vs plain attribution") {
    // The inclusive tie is attributionAsof's entire reason to exist,
    // and the real events table carries no natural same-µs pairs at
    // gate SFs — so the gate query plants them (AnalyticsQueries: every
    // AttrTieEvery-th conversion gets a touch at exactly its own ts,
    // id-offset by 2^40). On that input the two operators MUST
    // disagree: asof credits the planted tie touch (gap 0), plain
    // attribution never sees it (ts-then-id order sorts it after the
    // conversion).
    val asof = graft.SparkEntry.queries("q_attribution_asof")(spark, sf)
      .select("conv_id", "touch_id", "gap_us")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))).toMap
    val plain = graft.SparkEntry.queries("q_attribution")(spark, sf)
      .select("conv_id", "touch_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val planted = asof.keys.filter(_ % 20L == 0).toSeq.sorted
    assert(planted.nonEmpty, "no planted-tie conversions at gate SF")
    planted.foreach { conv =>
      assert(asof(conv) === Some((conv + (1L << 40), 0L)),
        s"conv $conv: asof must credit its planted same-µs touch at gap 0")
      assert(plain(conv) !== Some(conv + (1L << 40)),
        s"conv $conv: plain attribution must NOT see the tie touch")
    }
    // and the ONLY divergence is the inclusive tie itself: on the SAME
    // augmented input (base + planted touches), strict-ordered plain
    // attribution agrees with asof for every unplanted conversion —
    // a planted touch may legitimately out-date a natural touch for a
    // LATER conversion of the same user, so comparing against the
    // base-input gate query would flag exactly that non-bug.
    val augmented = {
      val base = graft.core.Tables.events(spark, sf).select(
        col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
      val plantedTouches = base
        .filter(col("event_type") === "purchase" && col("event_id") % 20L === 0)
        .select(col("user_id"), (col("event_id") + (1L << 40)).as("event_id"),
          col("ts_us"), lit("click").as("event_type"))
      base.unionByName(plantedTouches)
    }
    val plainAug = Analytics.attributionOf(augmented, "click", "purchase")
      .select("conv_id", "touch_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val nonPlanted = asof.keys.filterNot(_ % 20L == 0)
    nonPlanted.foreach { conv =>
      assert(asof(conv).map(_._1) === plainAug(conv),
        s"conv $conv: unplanted conversions should agree on the augmented input")
    }
  }

  test("rollingActive dense keys: shuffled rows bounded by distinct (user, day) pairs, not events") {
    // The case GenScale replicas structurally cannot produce: per-key
    // history. A real clickstream runs 100–10⁴ events per (user, day);
    // the (user, day) pre-distinct ahead of mergeUserIntervals must
    // plan as a partial HashAggregate so duplicates die map-side —
    // a window exchange has NO map-side combine, so losing the
    // distinct would ship every raw event over the wire and sort a
    // hot user's whole history in one task. Pinned by telemetry, not
    // plan shape: total shuffle records written across the job must
    // track the 20 distinct pairs (× map partitions, × a handful of
    // calendar-bounded stages), never the 30 000 raw events.
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    val perPair = 1500
    val pairs = for { u <- 1 to 4; day <- Seq(1, 2, 3, 10, 20) } yield (u.toLong, d(day))
    val ev = pairs.flatMap { case (u, day) => Seq.fill(perPair)((u, day)) }
    assert(ev.size == 30000)
    val df = spark.createDataset(ev).toDF("user_id", "day")
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val out = Analytics.rollingActive(df, windowDays = 7)
        .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
      var last = -1L; var spins = 0
      while (records.get() != last && spins < 50) {
        last = records.get(); Thread.sleep(200); spins += 1
      }
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    // correctness unchanged under density: duplicates collapse entirely
    val expect = pairs.map(_._2).distinct.map { day =>
      day -> pairs.filter { case (_, a) =>
        !a.after(day) && a.toLocalDate.plusDays(6).compareTo(day.toLocalDate) >= 0
      }.map(_._1).distinct.size.toLong
    }.toMap
    assert(got === expect)
    // the regression signature is ≥ 30 000 shuffled rows (raw events
    // through the combine-less window exchange); the healthy plan
    // shuffles O(pairs × partitions) across its calendar-bounded
    // stages — orders of magnitude under the event count
    val shuffled = records.get()
    assert(shuffled > 0, "listener saw no shuffle at all — fixture broken")
    assert(shuffled < ev.size / 5,
      s"rollingActive shuffled $shuffled rows for ${ev.size} events / " +
        s"${pairs.size} distinct (user, day) pairs — the map-side " +
        "combining pre-distinct is gone")
  }

  test("transitions: adjacent pairs only, per-user, ordered; totals partition by from") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a", 100L), (1L, 2L, "b", 200L), (1L, 3L, "a", 300L),
      (2L, 4L, "a", 100L), (2L, 5L, "b", 50L) // user 2: b comes FIRST by ts
    ).toDF("user_id", "event_id", "event_type", "ts_us")
    val r = Analytics.transitions(ev)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    // user 1: a→b, b→a; user 2 (ordered by ts): b→a
    assert(r === Map(
      ("a", "b") -> ((1L, 1L)),
      ("b", "a") -> ((2L, 2L))))
  }

  test("topPaths: per-context top-k with deterministic ties; paths never cross users") {
    import spark.implicits._
    val ev = Seq(
      // user 1: a b a b a  → (a,b)→a ×2, (b,a)→b ×1
      (1L, 1L, "a", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L),
      (1L, 4L, "b", 4L), (1L, 5L, "a", 5L),
      // user 2: a b c — (a,b)→c ×1; its head must not chain onto user 1
      (2L, 6L, "a", 1L), (2L, 7L, "b", 2L), (2L, 8L, "c", 3L)
    ).toDF("user_id", "event_id", "event_type", "ts_us")
    val r = Analytics.topPaths(ev, k = 1)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getString(2), x.getLong(3))).toMap
    // (a,b) context: next ∈ {a ×2, c ×1} → top-1 is a
    assert(r(("a", "b")) === (("a", 2L)))
    assert(r(("b", "a")) === (("b", 1L)))
    // k=2 exposes the runner-up and the (count desc, name asc) tie rule
    val r2 = Analytics.topPaths(ev, k = 2)
      .filter(col("prev_type") === "a" && col("cur_type") === "b")
      .collect().map(x => (x.getString(2), x.getInt(4))).toSet
    assert(r2 === Set(("a", 1), ("c", 2)))
  }

  test("weightedIntervalsAt equals the naive weighted BETWEEN join; count is the weight-1 case") {
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    val iv = Seq((d(1), d(3), BigDecimal("2.50")), (d(2), d(2), BigDecimal("1.00")),
      (d(5), d(6), BigDecimal("4.00")))
      .toDF("s", "e", "w").select(col("s"), col("e"),
        col("w").cast("decimal(18,2)").as("w"))
    val pts = Seq(d(1), d(2), d(3), d(4), d(6)).toDF("day")
    val got = Analytics.weightedIntervalsAt(iv, "s", "e", "w", pts, "day")
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay.toInt ->
        r.getDecimal(1).doubleValue).toMap
    assert(got === Map(1 -> 2.5, 2 -> 3.5, 3 -> 2.5, 4 -> 0.0, 6 -> 4.0))
    // weight ≡ 1 delegates to the same core as activeIntervalsAt
    val cnt = Analytics.activeIntervalsAt(iv, "s", "e", pts, "day")
      .collect().map(r => r.getDate(0).toLocalDate.toEpochDay.toInt ->
        r.getLong(1)).toMap
    assert(cnt === Map(1 -> 1L, 2 -> 2L, 3 -> 1L, 4 -> 0L, 6 -> 1L))
  }

  test("multi-weight sweepDeltas legs are byte-identical to the single-weight sweeps") {
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    // cnt ≡ 1 and a qty weight over the same intervals — the exact shape
    // the q_interval_count / q_weighted_interval shared memo rides on,
    // including a year-crossing interval and a duplicate point day.
    val iv = Seq((d(1), d(3), BigDecimal("2.50")), (d(2), d(2), BigDecimal("1.00")),
      (d(360), d(370), BigDecimal("4.00")))
      .toDF("s", "e", "qty").select(col("s"), col("e"),
        lit(1L).cast("decimal(18,2)").as("cnt"),
        col("qty").cast("decimal(18,2)").as("qty"))
    val pts = Seq(d(1), d(2), d(4), d(364), d(368), d(368)).toDF("day")
    val shared = Analytics.sweepDeltas(iv, "s", "e", Seq("cnt", "qty"),
      pts, "day").localCheckpoint()
    val cntShared = Analytics.sweepFromDeltas(shared, "cnt")
      .select(col("day"), col("w_active").cast("bigint").as("n_active"))
    val qtyShared = Analytics.sweepFromDeltas(shared, "qty")
    val cntSingle = Analytics.activeIntervalsAt(iv, "s", "e", pts, "day")
    val qtySingle = Analytics.weightedIntervalsAt(iv, "s", "e", "qty", pts, "day")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(cntShared.schema === cntSingle.schema)
    assert(qtyShared.schema === qtySingle.schema)
    assert(rows(cntShared) === rows(cntSingle))
    assert(rows(qtyShared) === rows(qtySingle))
  }

  test("rollingActiveMerge: merged state == full rebuild, even with LATE delta days") {
    import spark.implicits._
    import java.sql.Date
    def d(n: Int) = Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong))
    val w = 7
    val base = Seq((1L, d(10)), (1L, d(20)), (2L, d(15)), (3L, d(5)))
      .toDF("user_id", "day")
    // delta: bridges user 1's two intervals AND contains a LATE day
    // (day 3 < every base day for user 1) — interval union is
    // order-independent, so even late data must fold in exactly
    val delta = Seq((1L, d(14)), (1L, d(3)), (4L, d(30)))
      .toDF("user_id", "day")
    val baseIv = Analytics.mergeUserIntervals(
      base.select(col("user_id"), col("day").as("iv_start"),
        date_add(col("day"), w - 1).as("iv_end")), "user_id")
    val merged = Analytics.rollingActiveMerge(baseIv, delta, w)
    val full = Analytics.mergeUserIntervals(
      base.unionByName(delta)
        .select(col("user_id"), col("day").as("iv_start"),
          date_add(col("day"), w - 1).as("iv_end")), "user_id")
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "incremental interval state diverged from the full rebuild")
    // user 1's bridged run [10,16]∪[14,20]∪[20,26] collapses to ONE row
    val u1 = merged.filter(col("user_id") === 1L)
      .collect().map(r => (r.getDate(1).toString, r.getDate(2).toString))
    assert(u1.toSet === Set(("1970-01-04", "1970-01-10"),
      ("1970-01-11", "1970-01-27")),
      s"user 1 intervals wrong: ${u1.toSeq}")
    // untouched user 3 passes through byte-identical
    assert(merged.filter(col("user_id") === 3L).exceptAll(
      baseIv.filter(col("user_id") === 3L)).count() == 0)
  }

  test("rollingActiveQuery on real events: window-1 equals plain daily distinct") {
    val daily = Analytics.rollingActiveQuery(spark, sf, windowDays = 1)
    val expect = Tables.events(spark, sf)
      .selectExpr("user_id",
        "date_add(DATE '1970-01-01', cast(ts_ns div 1000 div 86400000000 as int)) AS day")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("n_active"))
    assert(daily.exceptAll(expect).count() == 0 &&
      expect.exceptAll(daily).count() == 0)
  }
}
