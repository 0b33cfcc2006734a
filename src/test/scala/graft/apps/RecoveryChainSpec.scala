package graft.apps

import graft.SparkSuite

/** Spec-scale twin of the recovery-chain probe (r16 verdict item 2):
  * [[RecoveryChainProbe.runLeg]] with tiny stop targets, asserting the
  * MECHANISM — suppressing snapshot uploads actually grows the chain a
  * resume must replay, recovery is measured at every resume, and the
  * control leg's chain stays short — so the probe's artifact run prices
  * a real effect. The timing BOUNDS live in the probe main (a loaded
  * test host can't assert wall-clock ratios reliably). The probe polls
  * the query's own `lastProgress`, never the shared listener bus: under
  * full-suite load the bus drops events, which stalled an earlier form
  * of this spec for its whole budget while the query ran fine. */
class RecoveryChainSpec extends SparkSuite {

  test("suppressed snapshots grow the replay chain; control does not") { withTempDir("graft-recovery") { work =>
    val in = s"$work/in"
    SoakMain.buildBacklog(spark, "/root/testdata/sf0.01", in,
      files = 30, dupDocs = 50L)
    val (_, sup, supPhases) = withSQLConf(RecoveryChainProbe.legConfs(suppress = true): _*) {
      RecoveryChainProbe.runLeg(
        spark, in, s"$work/sup", targets = Seq(4L, 8L), triggerMs = 100L)
    }
    val (_, ctl, _) = withSQLConf(RecoveryChainProbe.legConfs(suppress = false): _*) {
      RecoveryChainProbe.runLeg(
        spark, in, s"$work/ctl", targets = Seq(4L, 8L),
        triggerMs = 100L, maxChainAtStop = 5L)
    }

    // one recovery sample per resume (stops at 4, 8, +1 final resume)
    assert(sup.length === 2, s"suppressed samples: $sup")
    assert(ctl.length === 2, s"control samples: $ctl")
    assert(supPhases.forall(_ >= 1L))
    // recovery walls are real measurements
    assert((sup ++ ctl).forall(_._2 > 0.0))
    // suppression grows the chain monotonically (lag ~ batch index,
    // i.e. NO snapshot ever absorbed any of it); the deepest
    // suppressed chain must be past the second stop target
    val supChains = sup.map(_._1)
    assert(supChains === supChains.sorted, s"chain not growing: $sup")
    assert(supChains.last >= 8L, s"deepest suppressed chain: $sup")
    // the suppressed-vs-control comparison is only decidable when the
    // control actually CAUGHT UP before its stops (its chains within
    // the catch-up bound): under parallel-suite load the RocksDB
    // maintenance thread can be starved past the bounded wait, during
    // which the stream keeps consuming backlog — the control then
    // carries a load artifact, not evidence (observed: ctl chain 32
    // with lag == batch index while uploads were starved). The probe
    // MAIN asserts this hard on a quiet host.
    val ctlChains = ctl.map(_._1)
    if (ctlChains.forall(c => c >= 0 && c <= 5L))
      assert(supChains.last > ctlChains.max,
        s"suppression had no effect: sup=$sup ctl=$ctl")
    else
      info(s"control catch-up starved under load (chains $ctlChains) — comparison skipped")
  }}
}
