package graft

import graft.core.Tables
import graft.ops.{RowOps, Tokenize}
import graft.rel.Relational

/** Plan audits: the scale properties claimed in SURVEY.md §8 as
  * executable assertions — filters reach the parquet scan, projections
  * prune columns at the reader, aggregation is map-side partial, and the
  * hot paths live inside WholeStageCodegen. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Runs the query first so AQE finalizes (isFinalPlan=true) and the
    * WholeStageCodegen wrappers appear in the plan string. */
  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_eq: predicate is pushed to the parquet scan, columns pruned") {
    val plan = executed(RowOps.filterEq(Tables.events(spark, sf), "event_type", "click")
      .select("event_id", "event_type", "value"))
    assert(plan.contains("PushedFilters: [IsNotNull(event_type)"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      s"scan reads more than it needs: $readSchema")
  }

  test("TPC-H q1: shipdate filter pushed down; aggregation is partial before the shuffle") {
    val df = Relational.q1(spark, sf)
    val plan = executed(df)
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(l_shipdate)"))
    assert(plan.contains("partial_sum"), "no map-side combine in q1")
    assert(plan.contains("*("), "q1 fell out of codegen")
  }

  test("TPC-H q3: small dimension broadcast, facts shuffled") {
    val plan = executed(Relational.q3(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "customer dim not broadcast")
  }

  test("TPC-H q7: nation-filtered dims broadcast into the fact scans; one fact shuffle") {
    // r12 sf100 finding: the left-deep order (li⋈ord first, nations
    // last) shuffled the full 600M-row fact chain and stepped 18.8× at
    // the sf10→sf100 bench. Filtering supplier/customer by nation FIRST
    // and broadcasting them cuts both fact scans to ~8% before the one
    // real shuffle (l_orderkey = o_orderkey); post-fix sf100 is 12.4 s.
    // Pin: the four dim joins stay broadcast, and the tree needs at most
    // the orderkey co-partitioning pair + final agg hash exchanges.
    // sf0.01, not sf0.001: at the smaller SF the nation pair yields zero
    // cross-nation rows and AQE collapses the whole tree to EmptyRelation.
    val plan = executed(Relational.q7(spark, "/root/testdata/sf0.01"))
      .split("== Initial Plan ==").head
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(bhj >= 4, s"q7 dim joins fell out of broadcast ($bhj):\n$plan")
    assert(ex <= 3, s"q7 grew to $ex hash exchanges (bound 3):\n$plan")
  }

  test("word count: explode pipeline stays in codegen with partial aggregation") {
    val plan = executed(Tokenize.wordCount(Tables.documents(spark, sf), "text"))
    assert(plan.contains("partial_count"), "no map-side combine")
    assert(plan.contains("*("), "pipeline fell out of codegen")
  }

  test("q_value_stats: no all-values-in-memory aggregate anywhere in the plan") {
    // the r2 verdict's scale-killer: `percentile` buffers every group
    // value (ObjectHashAggregate over a TypedImperativeAggregate); the
    // histogram formulation must keep everything in hash/sort aggs
    val plan = executed(graft.agg.Aggregations.valueStats(
      Tables.events(spark, sf), "event_type", "value", Seq(0.5, 0.9, 0.99)))
    assert(!plan.contains("percentile"), "exact percentile agg is back in the plan")
    assert(!plan.contains("ObjectHashAggregate"),
      "an object-buffering aggregate crept in — not bounded-memory")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "histogram agg lost its map-side combine")
  }

  test("new TPC-H shapes: exchange counts stay at their audited bounds") {
    // locks in the round-4 plan audit (executed plans at sf0.01): q8 and
    // q17 are single-exchange with every dimension broadcast; q11/q15
    // two (agg + scalar reuse); q21 three (join + countDistinct expand +
    // final agg). Upper bounds, not equalities: AQE may broadcast MORE
    // at tiny SF, never less.
    val bounds = Seq[(String, org.apache.spark.sql.DataFrame, Int)](
      ("q8", Relational.q8(spark, sf), 1),
      ("q17", Relational.q17(spark, sf), 1),
      ("q11", Relational.q11(spark, sf), 2),
      ("q15", Relational.q15(spark, sf), 2),
      ("q21", Relational.q21(spark, sf), 3))
    for ((name, df, maxEx) <- bounds) {
      val plan = executed(df).split("== Initial Plan ==").head
      val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex <= maxEx, s"$name grew to $ex exchanges (bound $maxEx):\n$plan")
    }
  }

  test("funnel: one hash exchange regardless of step count") {
    // the r5 nit: the old per-step (filter → join → agg) chain cost 10
    // exchanges for 3 steps and doubled the plan per fold level. The
    // collect-sorted-lists formulation is ONE user-key shuffle; a fourth
    // step must not add another.
    import org.apache.spark.sql.functions._
    for (steps <- Seq(Seq("view", "click", "purchase"),
                      Seq("view", "click", "purchase", "view"))) {
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("ts_us"))
      val df = graft.rel.Analytics.funnel(ev, steps)
      val plan = executed(df).split("== Initial Plan ==").head
      val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex <= 1, s"funnel(${steps.size} steps) grew to $ex exchanges:\n$plan")
    }
  }

  test("chunkDedup: rank filter is pushed below the shuffle (WindowGroupLimit)") {
    // the reason first-occurrence selection uses row_number + filter
    // rather than groupBy-min + join-back: Catalyst rewrites rank<=1
    // into a partial WindowGroupLimit, so each input partition ships at
    // most ONE candidate per chunk into the exchange
    val plan = executed(graft.dedup.Dedup.chunkDedup(
      Tables.documents(spark, sf), k = 10))
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed below the shuffle:\n$plan")
  }

  test("TPC-H q18: having-subquery aggregates partially; join with the survivors") {
    val plan = executed(Relational.q18(spark, sf))
    assert(plan.contains("partial_sum"), "quantity sums lost map-side combine")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"))
  }

  test("IVF: corpus list assignment adds no exchange before the probe join") {
    // r2 verdict #3's done-criterion: the N×nlist row_number window used
    // to sort-exchange 16× the corpus; assignment must now be map-side
    val df = graft.sim.Similarity.ivfTopK(
      Tables.embeddings(spark, sf), nQueries = 5, k = 3, nlist = 4)
    // AQE's toString appends an "Initial Plan" section — audit only the
    // final plan
    val plan = executed(df).split("== Initial Plan ==").head
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("reused"))
    // one exchange for the final per-query top-k window — nothing else
    assert(exchanges <= 1, s"IVF plan has $exchanges shuffle exchanges:\n$plan")
  }

  test("vocabEncode: vocabulary cut is a distributed top-k, not an unbounded global sort") {
    // the r4 verdict's one open scale defect: the old unpartitioned
    // row_number window moved EVERY min-df'd token type into one task.
    // The fix plans the vocabSize cut as TakeOrderedAndProject (map-side
    // per-partition top-k + bounded merge); only the <= vocabSize
    // survivors may pass through a single-partition ranking window.
    val df = graft.text.TextAnalysis.vocabEncode(
      Tables.documents(spark, sf), minDf = 2, vocabSize = 100)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"vocab cut did not plan as a distributed top-k:\n$plan")
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0,
      s"plan still has an unbounded single-partition sort:\n$plan")
  }

  test("vocabCoverage: top-k cut is bounded; corpus total joins as broadcast") {
    val df = graft.text.TextAnalysis.vocabCoverage(
      Tables.documents(spark, sf), Seq(5, 15, 40))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"coverage cut did not plan as a distributed top-k:\n$plan")
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0)
  }

  test("lmScore: no unbounded single-partition stage; doc agg is map-side partial") {
    val df = graft.text.TextAnalysis.lmScore(
      Tables.documents(spark, sf), rareMax = 0.0332, midMax = 0.0334)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0)
    assert(plan.toString.contains("partial_count"), "doc agg lost map-side combine")
  }

  test("mixtureSample: rate table joins back as a broadcast, big side unshuffled") {
    val df = graft.gen.Sampling.mixtureSample(
      Tables.documents(spark, sf).select("doc_id", "lang", "source"),
      "lang", "doc_id",
      Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
    val plan = executed(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold table not broadcast:\n$plan")
    // the DOCUMENT side must flow scan -> filter -> broadcast join inside
    // one codegen stage, never through an exchange; the only hash
    // exchanges allowed are the two |strata|-row count-agg subtrees
    // (counts and cap re-derive the tiny agg — irrelevant at any scale)
    val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex <= 2, s"mixture filter path grew to $ex hash exchanges:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(doc_id")),
      s"the document side got shuffled:\n$plan")
  }

  test("heavyHitters: candidates join back as broadcast; recount aggregates partially") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.text.TextAnalysis.toksCol(col("text"))).as("tok"))
    val df = graft.agg.HeavyHitters.heavyHitters(toks, "tok", 32)
    val plan = executed(df).split("== Initial Plan ==").head
    // the full token stream must meet the candidate set as a BROADCAST
    // semi-join (candidates are <= (k-1) x partitions rows); a shuffled
    // semi-join would defeat the whole bounded-shuffle design
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate semi-join not broadcast:\n$plan")
    assert(plan.contains("partial_count"), "recount lost map-side combine")
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(
      df.queryExecution.executedPlan) == 0)
  }

  test("dupSpanCoverage: interval-union window is doc-partitioned, never global") {
    val df = graft.dedup.Dedup.dupSpanCoverage(Tables.documents(spark, sf), n = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0,
      s"dup-span window went single-partition:\n$plan")
    // duplicate detection is min/max partial agg, not count_distinct
    assert(plan.toString.contains("partial_min") ||
      plan.toString.contains("min("), "dup detection lost partial min/max")
  }

  test("jaccardKnn: per-doc top-k is a map-side WindowGroupLimit") {
    val inter = graft.dedup.Dedup.ngramPairIntersections(
      Tables.documents(spark, sf), n = 2, maxDf = 20L)
    val df = graft.dedup.Dedup.jaccardKnn(inter, k = 3)
    val plan = executed(df)
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed below the exchange:\n$plan")
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(
      df.queryExecution.executedPlan) == 0)
  }

  test("funnel/cohort: no unbounded single-partition stages, partial aggs everywhere") {
    val ev = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("ts_ns div 1000").as("ts_us"))
    for (df <- Seq(
      graft.rel.Analytics.funnel(ev, Seq("view", "click", "purchase")),
      graft.rel.Analytics.cohortRetention(Tables.events(spark, sf), 86400L))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0)
      assert(plan.toString.contains("partial_"), "lost map-side partial aggregation")
    }
  }

  test("multimodal meta: payload-free projection prunes at the scan") {
    // The meta projection derives n_bytes from the payload, so `text`
    // must be read — but nothing else beyond the 4 used columns may be.
    val plan = executed(graft.multimodal.Multimodal.metaOnly(Tables.documents(spark, sf)))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("n_tokens") && !readSchema.contains("n_chars"),
      s"scan reads unused columns: $readSchema")
  }

  test("sessionFunnel: one hash exchange — the session window's partitioning is reused") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
    val df = graft.rel.Analytics.sessionFunnel(
      ev, Seq("view", "click", "purchase"), gapUs = 86400000000L)
    val plan = executed(df).split("== Initial Plan ==").head
    val ex = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex <= 1, s"session funnel grew to $ex exchanges:\n$plan")
  }

  test("filteredTopK: label pre-filter is pushed to the parquet scan") {
    val df = graft.sim.Similarity.filteredTopK(
      Tables.embeddings(spark, sf), nQueries = 5, k = 3, labels = Seq(1, 2))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val pushed = s.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(label") || pushed.contains("EqualTo(label"),
      s"label filter not pushed to the scan:\n$pushed")
  }

  test("centroidConfusion: decision runs in the scan; only the crosstab shuffles") {
    // r20 shape: the centroid matrix folds to ONE broadcast row and the
    // native centroid_argmax kernel classifies each vector inside the
    // scan projection — the per-dimension join, the vecs·dims·labels
    // score shuffle, and the typed argmax aggregate must never come
    // back. (CentroidKernelSpec pins the kernel's VALUES to the old
    // expression pipeline; this pins the plan SHAPE.)
    val df = graft.sim.Similarity.centroidConfusion(
      Tables.embeddings(spark, sf))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(s.contains("centroid_argmax"),
      s"native argmax kernel missing from the plan:\n$s")
    // the matrix side is a single-row broadcast (nested-loop cross of a
    // 1-row build side — not a per-dimension hash join fan-out)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"centroid matrix not broadcast:\n$s")
    // exactly THREE exchanges: the |labels|·dims centroid aggregate and
    // the |labels| matrix fold (both label-domain-sized, under the
    // broadcast) plus the |labels|² crosstab. The old shape's
    // per-(vec, label) score shuffle — corpus-sized — would be a 4th,
    // and its typed argmax aggregate must never come back.
    val exchanges = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 3,
      s"expected matrix + crosstab exchanges only, found $exchanges:\n$s")
    assert(!s.contains("rationalargmax"),
      s"typed argmax aggregate came back:\n$s")
    assert(s.contains("partial_count"), "crosstab lost map-side combine")
  }

  test("postings: per-token cap is a map-side WindowGroupLimit; df agg is partial") {
    // a stopword's postings must never flood the exchange: the rn <= k
    // filter has to plan as WindowGroupLimit so each map task ships at
    // most k (token, doc) pairs per token
    val plan = executed(graft.text.TextAnalysis.postings(
      Tables.documents(spark, sf), k = 8))
    assert(plan.contains("WindowGroupLimit"),
      s"postings cap not pushed below the shuffle:\n$plan")
    assert(plan.contains("partial_count"), "df lost map-side combine")
  }

  test("scd2Merge: untouched users bypass via broadcast anti-join, no window") {
    // the incremental promise: the merge must not re-run window work
    // over users the delta never touched — their rows flow through a
    // BroadcastHashJoin LeftAnti, and only the affected slice re-sorts
    import org.apache.spark.sql.functions._
    val plan = executed(graft.rel.Analytics.scd2MergeQuery(spark, sf))
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
      s"untouched-user bypass lost its broadcast anti-join:\n$plan")
  }

  test("rollingActive: no pair frame — every join keyed, no unbounded sort") {
    // the operator's reason to exist is NOT being the |days| × |events|
    // BETWEEN join: any nested-loop/cartesian join in the plan means
    // the pair frame crept back in
    val df = graft.rel.Analytics.rollingActiveQuery(spark, sf, 7)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val s = plan.toString.split("== Initial Plan ==").head
    assert(!s.contains("CartesianProduct"),
      s"rolling distinct fell back to a pair join:\n$s")
    // the ONE tolerated nested-loop join is activeIntervalsAt's
    // triangular year-offset compose — a ≤|years|-row frame by
    // construction; any other nested loop means the day×event pair
    // frame crept back in
    val bnlj = s.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.size <= 1 && bnlj.forall(_.contains("yr")),
      s"unexpected nested-loop join beyond the year compose:\n$s")
    assert(graft.core.PlanAudit.unboundedSinglePartitionSorts(plan) == 0)
  }

  test("triangleCensus: all joins keyed; degree agg partial before its exchange") {
    val edges = graft.text.TextAnalysis.skipgramPairs(
        Tables.documents(spark, sf), 5)
      .groupBy(org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.col("w1"),
          org.apache.spark.sql.functions.col("w2")).as("a"),
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.col("w1"),
          org.apache.spark.sql.functions.col("w2")).as("b"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .select("a", "b")
    val df = graft.rel.Graph.triangleCensus(edges)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the wedge and closing joins MUST be keyed (hash/sort-merge); the
    // only tolerated unkeyed joins are the two 1-row × 1-row crossJoins
    // assembling the census totals
    val unkeyed = s.linesIterator.filter(l =>
      l.contains("CartesianProduct") ||
        l.contains("BroadcastNestedLoopJoin")).size
    assert(unkeyed <= 2,
      s"an unkeyed join crept into the census itself:\n$s")
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"),
      "wedge/closing joins are not keyed joins")
    assert(s.contains("partial_count"), "degree count lost map-side combine")
  }
}
