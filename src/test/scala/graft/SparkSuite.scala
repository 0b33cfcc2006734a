package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** One SparkSession for the whole forked test JVM (suites run
  * sequentially under `Test / fork := true`); never stopped so later
  * suites can't hit a dead context. */
object TestSpark {

  /** Every ExceptionFailure task-end the shared session has seen, in
    * order. With maxFailures=2 a transiently failing task silently
    * retries and PASSES, so real intermittent nondeterminism would
    * otherwise leave no trace in a green run — SparkSuite's teardown
    * audits this log against each suite's declared expectations
    * (r14 ADVICE item 5). ConcurrentLinkedQueue: the listener bus posts
    * from its own thread. */
  val taskFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  lazy val spark: SparkSession = {
    // local[n,2]: permit ONE task retry, matching a real cluster's
    // spark.task.maxFailures > 1 — RetryDeterminismSpec injects a
    // transient first-attempt failure and asserts operator output is
    // unchanged, which local[n]'s maxFailures=1 cannot express.
    // TRADEOFF (stated accurately, r14 ADVICE): a DETERMINISTIC failure
    // in any other suite still fails its second attempt identically,
    // but a TRANSIENT one (a real intermittent bug) now retries and
    // passes silently — which is why every ExceptionFailure is logged
    // to [[taskFailures]] and audited in SparkSuite.afterAll: masked
    // flakiness surfaces as an unexpected-failure assert, not silence.
    val s = GraftSession.builder("graft-test")
      .master(s"local[${GraftSession.cpus},2]")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        t.reason match {
          case ef: org.apache.spark.ExceptionFailure =>
            taskFailures.add(ef.toErrorString): Unit
          case _ => // Success / TaskKilled (speculation, query stop): not failures
        }
    })
    s
  }
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll with TempDirs {
  lazy val spark: SparkSession = TestSpark.spark

  /** Substrings identifying task failures THIS suite deliberately
    * provokes (error-path tests: contract violations, injected
    * timeouts, overflow raises). Anything else that fails a task during
    * the suite — even if its retry passed and the tests went green — is
    * flagged in teardown as masked flakiness. */
  protected def expectedTaskFailureSubstrings: Seq[String] = Nil

  private var failuresBefore = 0

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark // force session + listener registration before counting
    failuresBefore = TestSpark.taskFailures.size
  }

  override protected def afterAll(): Unit = {
    try {
      // the listener bus is async — bounded stability poll before reading
      var last = -1; var spins = 0
      while (TestSpark.taskFailures.size != last && spins < 20) {
        last = TestSpark.taskFailures.size; Thread.sleep(50); spins += 1
      }
      import scala.jdk.CollectionConverters._
      val fresh = TestSpark.taskFailures.asScala.toSeq.drop(failuresBefore)
      val allowed = expectedTaskFailureSubstrings :+ "injected transient failure"
      val unexpected = fresh.filterNot(f => allowed.exists(f.contains))
      assert(unexpected.isEmpty,
        s"${unexpected.size} task failure(s) this suite did not declare " +
          "(maxFailures=2 may have masked a flaky retry-then-pass): " +
          unexpected.map(_.linesIterator.take(3).mkString(" | ")).mkString("\n---\n"))
    } finally super.afterAll()
  }

  /** Run `body` with the given SQL confs set, restoring prior values
    * after (the session is shared across suites — leaked conf would
    * bleed into later tests). */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

/** Temp directories for specs, with or without a session. */
trait TempDirs {

  /** Run `body` on a fresh temp directory named `prefix*`, deleting it
    * after: streaming checkpoints (RocksDB sst/zip/changelog files)
    * would otherwise pile up in tmp across runs. Stop any query writing
    * there inside `body`. RocksDB maintenance uploads a stopped query's
    * last snapshot in the background, up to one maintenance interval
    * later, which re-creates files under the deleted directory; the
    * directory is therefore deleted again when the JVM exits.
    * (`StateStore.stop()` would unload the stores first, but in Spark
    * 4.1.2 it waits for the maintenance pool while holding a lock the
    * pool's threads need, and can hang.) */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = tempDir(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** A fresh temp directory named `prefix*`, deleted when the JVM exits
    * (for fixtures made inside helpers or midway through a test). */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    TempDirs.dirs.add(dir)
    dir.toString
  }
}

object TempDirs {
  /** Every `tempDir` (and so `withTempDir`) directory, deleted again at exit. */
  private[graft] val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit))
}
