package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.SparkSuite

/** `Tables`' schema catalog: a table's schema is inferred by its first
  * read only, later reads pass it and launch no Spark job, a rewrite at
  * the same path re-infers, and everything built on the loaded schema
  * (self-joins, `conform`) behaves as with inference. */
class TablesCatalogSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String = tempDir(s"graft-catalog-$tag")

  /** `body`'s result and the Spark jobs it launched, counted by a
    * job-start listener once the listener bus has drained. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusAccess.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables.lineitem on the same dir launches no Spark job") {
    val dir = tmpDir("lineitem")
    Files.copy(Paths.get(s"$sfDir/lineitem.parquet"), Paths.get(s"$dir/lineitem.parquet"))
    val (cold, coldJobs) = jobsOf(Tables.lineitem(spark, dir))
    assert(coldJobs >= 1, "the first read infers the schema with a Spark job")
    val (warm, warmJobs) = jobsOf(Tables.lineitem(spark, dir))
    assert(warmJobs === 0)
    assert(warm.schema === cold.schema)
    assert(warm.count() === cold.count())
  }

  test("a table rewritten at the same path with a different column type is re-inferred") {
    import spark.implicits._
    val dir = tmpDir("rewrite")
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).schema("r_name").dataType === StringType)
    assert(jobsOf(Tables.region(spark, dir))._2 === 0)

    Seq((0, 10L), (1, 11L)).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val again = Tables.region(spark, dir)
    assert(again.schema("r_name").dataType === LongType)
    assert(again.orderBy("r_regionkey").as[(Int, Long)].collect().toSeq ===
      Seq((0, 10L), (1, 11L)))
  }

  test("a q7-shaped self-join of two cached Tables.nation reads returns the rows inference gives") {
    Tables.nation(spark, sfDir) // the catalog now holds nation's schema
    val n1 = Tables.nation(spark, sfDir)
    val n2 = Tables.nation(spark, sfDir)
    def ids(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(n1).intersect(ids(n2)).isEmpty, "each read must carry its own expression ids")
    def pairs(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.as("n1").join(b.as("n2"),
        col("n1.n_regionkey") === col("n2.n_regionkey") &&
          col("n1.n_nationkey") < col("n2.n_nationkey"))
        .select(col("n1.n_name"), col("n2.n_name"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val path = s"$sfDir/nation.parquet"
    val inferred = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(inferred.size === 50) // 5 regions x C(5, 2) nation pairs
    assert(pairs(n1, n2) === inferred)
  }

  test("conform still rejects an inconvertible drift when the schema comes from the catalog") {
    import spark.implicits._
    val dir = tmpDir("drift")
    Seq(("0", "AFRICA")).toDF("r_regionkey", "r_name").write.parquet(s"$dir/region.parquet")
    val cold = intercept[IllegalArgumentException](Tables.region(spark, dir))
    val (cached, jobs) = jobsOf(intercept[IllegalArgumentException](Tables.region(spark, dir)))
    assert(jobs === 0, "the second read used the cached schema")
    Seq(cold, cached).foreach { e =>
      assert(e.getMessage.contains("cannot conform column r_regionkey"), e.getMessage)
    }
    // and a convertible drift still conforms from the cached schema
    val ok = tmpDir("widened")
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name").write.parquet(s"$ok/region.parquet")
    Tables.region(spark, ok)
    val (region, okJobs) = jobsOf(Tables.region(spark, ok))
    assert(okJobs === 0)
    assert(region.schema("r_regionkey").dataType === IntegerType)
    assert(region.as[(Int, String)].collect().toSeq === Seq((0, "AFRICA")))
  }
}
