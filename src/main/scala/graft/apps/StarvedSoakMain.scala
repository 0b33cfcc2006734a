package graft.apps

import org.apache.spark.sql.SparkSession

import graft.core.{Args, GraftSession}
import graft.streaming.StarvedRocksDBProvider

/** Deterministic starved-store soak (r17 verdict item 3): inject the
  * stochastic failure mode SOAK_MAINT proved undirectable — a single
  * store whose snapshot uploads never happen — and close the loop
  * end-to-end:
  *
  *  1. STARVED leg: a multi-restart drain (RecoveryChainProbe.runLeg's
  *     stop-at-batch-target phases) under [[StarvedRocksDBProvider]],
  *     which no-ops `doMaintenance()` for exactly the partition named
  *     by `graft.starved.partition` while every other store keeps an
  *     aggressive snapshot cadence (minDeltasForSnapshot=2, 2 s
  *     maintenance). The starved store's changelog chain then grows
  *     with the batch index while the rest stay short — the 10× soak's
  *     observed geometry, now by construction.
  *  2. ATTRIBUTION assert: the FunnelListener per-partition census
  *     (snapshotUploadMaxByPartition) must NAME the injected partition —
  *     max uploaded version 0 at a late batch — and every other
  *     reported instance must have uploaded a non-zero version. The
  *     detection machinery is thereby proven against a known-true
  *     injected fault, not just observed correlating with stochastic
  *     ones.
  *  3. RESUME-PRICE assert: recovery walls are measured at every
  *     resume in both legs (time from start() to first batch commit,
  *     exactly the probe's measurement). The starved leg's deepest
  *     resume must cost no more than the control's plus the modeled
  *     replay price with generous slack: chain × `model-ms-per-version`
  *     (default 3 ms, the sf30-measured upper band, RECOVERY_CHAIN_
  *     SF30_R17) × 4 + 1.5 s startup noise. A starved store whose
  *     resume blows past 4× the model is a cliff the model missed;
  *     within it, the census+changelog posture ("detect by name, price
  *     in ms/version") is verified end-to-end.
  *
  * Control leg = identical drain with no starved partition. Both legs
  * poll the query's own lastProgress for phase control (bus-loss-proof)
  * while the listener census accumulates from the bus + final
  * reconcile.
  *
  * Usage: --data /root/repo/testdata_sf30 --workdir /tmp/graft-starved
  *        [--files 150] [--targets 20,40,80] [--trigger-ms 150]
  *        [--partition 3] [--model-ms 3.0] [--dup-docs 500]
  * Prints ONE JSON line (metric "soak_starved"); exits 1 on violation.
  */
object StarvedSoakMain {

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = GraftSession.build("graft-starved-soak")
    val data = a.getOrElse("data", "/root/repo/testdata_sf30")
    val work = a.getOrElse("workdir", "/tmp/graft-starved")
    val files = a.getOrElse("files", "150").toInt
    val targets = a.getOrElse("targets", "20,40,80")
      .split(",").toSeq.map(_.trim.toLong)
    val triggerMs = a.getOrElse("trigger-ms", "150").toLong
    val starved = a.getOrElse("partition", "3").toInt
    val modelMs = a.getOrElse("model-ms", "3.0").toDouble
    val dupDocs = a.getOrElse("dup-docs", "500").toLong

    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(work), true)
    val in = s"$work/in"
    SoakMain.buildBacklog(spark, data, in, files, dupDocs)

    // Aggressive snapshot cadence for every NON-starved store, so the
    // injected store is the only long chain (suppress=false settings of
    // the probe, with the starved provider on top).
    RecoveryChainProbe.configure(spark, suppress = false)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      StarvedRocksDBProvider.ProviderClass)

    val listener = new graft.streaming.FunnelListener().register(spark)

    // ---- starved leg
    System.setProperty(StarvedRocksDBProvider.PartitionProp, starved.toString)
    val (starvedQuery, supSamples, supPhases) =
      RecoveryChainProbe.runLeg(spark, in, s"$work/starved", targets, triggerMs)
    val starvedCensusMax = listener.snapshotUploadMaxByPartition(starvedQuery)

    // ---- control leg (no starvation)
    System.clearProperty(StarvedRocksDBProvider.PartitionProp)
    val (_, ctlSamples, ctlPhases) =
      RecoveryChainProbe.runLeg(spark, in, s"$work/control", targets, triggerMs,
        maxChainAtStop = 8L)

    val violations = Seq.newBuilder[String]

    // ---- attribution: the injected store is NAMED, and only it.
    // Asserts run on the MAX census (highest uploaded version ever
    // observed): the gauge restarts at 0 on every checkpoint resume, so
    // a LAST-observation census sampled in a short post-restart phase
    // reads 0 for every reported store — this soak's first run showed
    // six such "never uploaded" stores whose checkpoint dirs held ~46
    // snapshot zips each. max==0 across the whole run is the honest
    // never-uploaded signal.
    val byPart = starvedCensusMax.toSeq
      .flatMap { case (k, (b, up, lg)) =>
        StarvedRocksDBProvider.partitionOf(k).map(p => (p, (k, b, up, lg))) }
    val starvedRows = byPart.filter(_._1 == starved).map(_._2)
    val otherRows = byPart.filter(_._1 != starved).map(_._2)
    if (starvedRows.isEmpty)
      violations += s"census never reported the starved partition $starved"
    starvedRows.foreach { case (k, b, up, lg) =>
      if (up != 0L)
        violations += s"starved store $k uploaded version $up (expected 0)"
      if (lg < targets.last)
        violations += s"starved store $k lag $lg at batch $b < deepest target ${targets.last}"
    }
    val othersUploaded = otherRows.count(_._3 > 0L)
    val maxNeverUploaded = otherRows.filter(_._3 == 0L).map(_._1).sorted
    if (otherRows.isEmpty)
      violations += "census reported no non-starved instances to compare against"
    else if (othersUploaded == 0)
      violations += "no non-starved store ever uploaded — cannot distinguish injection from global starvation"

    // ---- filesystem ground truth: snapshot zips per partition in the
    // checkpoint dir. Bus- and gauge-independent: the injected store
    // must hold (almost) no snapshot zips and an unpruned changelog
    // chain, every other store a healthy zip count — this is the check
    // that caught the fresh-gauge census artifact.
    val zipCounts = zipCountByPartition(s"$work/starved/checkpoint/state/0")
    val starvedZips = zipCounts.getOrElse(starved, -1L)
    val otherZips = zipCounts.filter(_._1 != starved).values.toSeq.sorted
    val otherZipMedian =
      if (otherZips.isEmpty) -1L else otherZips(otherZips.length / 2)
    // r18 advisory: an ABSENT starved-partition directory must be its
    // own violation — getOrElse(-1) is not > 2, so a wrong checkpoint
    // path or operator-id layout would otherwise silently degrade this
    // assertion to vacuously-true.
    if (starvedZips < 0L)
      violations += s"starved partition $starved directory missing from checkpoint state layout — zip ground truth could not be read"
    else if (starvedZips > 2L)
      violations += s"starved partition $starved has $starvedZips snapshot zips on disk — maintenance not suppressed"
    if (otherZipMedian < 3L)
      violations += s"median non-starved zip count $otherZipMedian < 3 — uploads not happening elsewhere (ground truth)"
    zipCounts.filter { case (p, z) => p != starved && z == 0L }.keys.toSeq.sorted
      .foreach { p =>
        violations += s"non-starved partition $p has ZERO snapshot zips on disk — genuine starvation outside the injection" }

    // ---- resume price vs the per-version model
    val sup = supSamples.sortBy(_._1)
    val ctl = ctlSamples.sortBy(_._1)
    val priced = for {
      (chain, rec) <- sup.lastOption
      (_, ctlRec) <- ctl.lastOption
    } yield {
      val delta = rec - ctlRec
      val model = chain * modelMs / 1000.0
      val bound = 4.0 * model + 1.5
      if (delta > bound)
        violations += f"deepest starved resume delta $delta%.2f s > bound $bound%.2f s (chain $chain versions x $modelMs ms x4 + 1.5 s)"
      (chain, rec, ctlRec, delta, model, bound)
    }
    if (priced.isEmpty) violations += "no resume samples to price"

    val v = violations.result()
    v.foreach(x => System.err.println(s"[starved-soak] VIOLATION: $x"))

    def fmtSamples(xs: Seq[(Long, Double)]): String = xs.map { case (c, s) =>
      s"[$c,${math.rint(s * 1000) / 1000}]" }.mkString("[", ",", "]")
    val censusMaxJson = starvedCensusMax.toSeq.sortBy(_._1).map { case (k, (b, up, lg)) =>
      s""""${graft.core.Json.escape(k)}":[$b,$up,$lg]""" }.mkString("{", ",", "}")
    val zipJson = zipCounts.toSeq.sorted.map { case (p, z) =>
      s""""$p":$z""" }.mkString("{", ",", "}")
    val pricedJson = priced.map { case (chain, rec, ctlRec, delta, model, bound) =>
      f"""{"chain":$chain,"starved_rec_sec":${math.rint(rec * 1000) / 1000},""" +
      f""""control_rec_sec":${math.rint(ctlRec * 1000) / 1000},""" +
      f""""delta_sec":${math.rint(delta * 1000) / 1000},""" +
      f""""model_sec":${math.rint(model * 1000) / 1000},""" +
      f""""bound_sec":${math.rint(bound * 1000) / 1000}}"""
    }.getOrElse("null")

    val json =
      s"""{"metric":"soak_starved","data":"$data","files":$files,""" +
      s""""targets":${targets.mkString("[", ",", "]")},"trigger_ms":$triggerMs,""" +
      s""""starved_partition":$starved,"model_ms_per_version":$modelMs,""" +
      s""""starved_chain_rec_sec":${fmtSamples(supSamples)},""" +
      s""""control_chain_rec_sec":${fmtSamples(ctlSamples)},""" +
      s""""starved_phase_batches":${supPhases.mkString("[", ",", "]")},""" +
      s""""control_phase_batches":${ctlPhases.mkString("[", ",", "]")},""" +
      s""""snapshot_upload_max_by_partition":$censusMaxJson,""" +
      s""""zip_files_by_partition":$zipJson,""" +
      s""""others_uploaded":$othersUploaded,""" +
      s""""max_never_uploaded":${maxNeverUploaded.map(x => "\"" + graft.core.Json.escape(x) + "\"").mkString("[", ",", "]")},""" +
      s""""resume_price":$pricedJson,""" +
      s""""violations":${v.map(x => "\"" + graft.core.Json.escape(x) + "\"").mkString("[", ",", "]")},""" +
      s""""ok":${v.isEmpty}}"""
    try spark.stop() catch { case _: Throwable => }
    println(json)
    if (v.nonEmpty) sys.exit(1)
  }

  /** Snapshot zip files per state partition directory (recursive count
    * of .zip under `<checkpoint>/state/0/<pid>`) — filesystem ground truth
    * for "did this store's snapshots upload", independent of the
    * listener bus AND of the per-run SnapshotLastUploaded gauge. A
    * partition directory that holds no file at all is absent. */
  private[apps] def zipCountByPartition(stateDir: String): Map[Int, Long] =
    LongSoakMain.checkpointFiles(java.nio.file.Path.of(stateDir))
      .filter(f => f.getNameCount > 1 && f.getName(0).toString.forall(_.isDigit))
      .groupBy(_.getName(0).toString.toInt)
      .map { case (p, fs) => p -> fs.count(_.getFileName.toString.endsWith(".zip")).toLong }
}
