package graft.sources

import graft.SparkSuite
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Drift contracts for the NON-temporal columns (r10 verdict item 4):
  * r9's red round came from ONE dtype regeneration of the testdata, and
  * `normalizeTemporal` + the events twin-encoding test armor only the
  * timestamp columns. These tests write each table's fixture in every
  * plausible alternate physical encoding the driver's generator could
  * plausibly flip to — int32↔int64 ids, float↔double embedding lists,
  * BYTE_ARRAY-without-UTF8 text — and assert `Tables.*` yields the
  * SAME canonical schema and values from each. Un-conformable drift
  * (an id regenerated as a string) must throw naming the column, not
  * silently load a schema the 155 gated queries were never built for. */
class SchemaDriftSpec extends SparkSuite {
  // drift tests deliberately fail tasks: out-of-range narrowing raises
  // (ANSI cast overflow naming the column) and conform-failure raises
  override protected def expectedTaskFailureSubstrings: Seq[String] =
    Seq("r_regionkey", "CAST_OVERFLOW", "overflow")


  private def tmpDir(tag: String): String = tempDir(s"graft-$tag")

  /** Canonical-vs-drift harness: both fixtures written, both loaded
    * through the table loader, schemas must be identical (by full
    * StructType equality ignoring nothing — nullability included in
    * what queries observe) and row values equal. */
  private def assertTwin(canon: DataFrame, drift: DataFrame, sortCol: String): Unit = {
    assert(canon.schema.map(f => (f.name, f.dataType)) ===
      drift.schema.map(f => (f.name, f.dataType)))
    val a = canon.orderBy(sortCol).collect().map(_.toSeq).toSeq
    val b = drift.orderBy(sortCol).collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("documents: int32 doc_id/n_chars drift conforms to the int64 canon, values intact") {
    import spark.implicits._
    val rows = Seq((1, "alpha text", "en", "web", 10),
      (2, "beta", "de", "books", 4), (3, "gamma doc", "en", "web", 9))
    val tmp = tmpDir("docdrift")
    // canonical generation: int64 ids/counts (what ships today)
    rows.map { case (id, t, l, s, n) => (id.toLong, t, l, s, n.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/canon/documents.parquet")
    // drift generation: int32 ids/counts
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/i32/documents.parquet")
    val canon = Tables.documents(spark, s"$tmp/canon")
    val drift = Tables.documents(spark, s"$tmp/i32")
    assert(canon.schema("doc_id").dataType === LongType)
    assert(canon.schema("n_chars").dataType === LongType)
    assertTwin(canon, drift, "doc_id")
  }

  test("documents: text re-encoded as un-annotated BYTE_ARRAY conforms back to UTF-8 string") {
    import spark.implicits._
    val tmp = tmpDir("docbin")
    val rows = Seq((1L, "héllo wörld", "en", "web", 11L), (2L, "plain", "en", "web", 5L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/canon/documents.parquet")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .select($"doc_id", $"text".cast(BinaryType).as("text"), $"lang", $"source", $"n_chars")
      .write.mode("overwrite").parquet(s"$tmp/bin/documents.parquet")
    val canon = Tables.documents(spark, s"$tmp/canon")
    val drift = Tables.documents(spark, s"$tmp/bin")
    assert(drift.schema("text").dataType === StringType)
    assertTwin(canon, drift, "doc_id")
  }

  test("embeddings: double-list embedding + int64 label + int32 vec_id conform to " +
    "float-list/int32/int64 canon") {
    import spark.implicits._
    val tmp = tmpDir("embdrift")
    // element values chosen exactly representable in float32 so the
    // double→float canonicalization is lossless and value-comparable
    val rows = Seq((1, Seq(0.5f, -1.25f, 2.0f), 7), (2, Seq(3.75f, 0.0f, -8.5f), 9))
    rows.map { case (id, v, l) => (id.toLong, v, l) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/canon/embeddings.parquet")
    rows.map { case (id, v, l) => (id, v.map(_.toDouble), l.toLong) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/drift/embeddings.parquet")
    val canon = Tables.embeddings(spark, s"$tmp/canon")
    val drift = Tables.embeddings(spark, s"$tmp/drift")
    assert(drift.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType === FloatType)
    assert(drift.schema("vec_id").dataType === LongType)
    assert(drift.schema("label").dataType === IntegerType)
    assertTwin(canon, drift, "vec_id")
  }

  test("TPC-H ids: lineitem/orders/customer int32-key drift conforms to today's widths") {
    import spark.implicits._
    val tmp = tmpDir("tpchdrift")
    val li = Seq((1L, 10L, 100L, 1, 5.0, 1000.0, 0.05, 0.02, "N", "O",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
    li.write.mode("overwrite").parquet(s"$tmp/canon/lineitem.parquet")
    li.select($"l_orderkey".cast(IntegerType), $"l_partkey".cast(IntegerType),
      $"l_suppkey".cast(IntegerType), $"l_linenumber".cast(LongType),
      $"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax",
      $"l_returnflag", $"l_linestatus", $"l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/i32/lineitem.parquet")
    val canon = Tables.lineitem(spark, s"$tmp/canon")
    val drift = Tables.lineitem(spark, s"$tmp/i32")
    assert(drift.schema("l_orderkey").dataType === LongType)
    assert(drift.schema("l_linenumber").dataType === IntegerType)
    assertTwin(canon, drift, "l_orderkey")

    val cust = Seq((5L, "c5", 2, 10.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    cust.write.mode("overwrite").parquet(s"$tmp/canon/customer.parquet")
    cust.select($"c_custkey".cast(IntegerType), $"c_name",
      $"c_nationkey".cast(LongType), $"c_acctbal", $"c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/i32/customer.parquet")
    val cc = Tables.customer(spark, s"$tmp/canon")
    val cd = Tables.customer(spark, s"$tmp/i32")
    assert(cd.schema("c_custkey").dataType === LongType)
    assert(cd.schema("c_nationkey").dataType === IntegerType)
    assertTwin(cc, cd, "c_custkey")
  }

  test("money/value columns: float32 drift conforms to the double canon, values intact") {
    import spark.implicits._
    val tmp = tmpDir("moneydrift")
    // amounts exactly representable in float32 so float->double is lossless
    val li = Seq((1L, 10L, 100L, 1, 5.0, 1000.5, 0.25, 0.125, "N", "O",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
    li.write.mode("overwrite").parquet(s"$tmp/canon/lineitem.parquet")
    li.select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_linenumber",
      $"l_quantity".cast(FloatType), $"l_extendedprice".cast(FloatType),
      $"l_discount".cast(FloatType), $"l_tax".cast(FloatType),
      $"l_returnflag", $"l_linestatus", $"l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/f32/lineitem.parquet")
    val canon = Tables.lineitem(spark, s"$tmp/canon")
    val drift = Tables.lineitem(spark, s"$tmp/f32")
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach { c =>
      assert(drift.schema(c).dataType === DoubleType, c)
    }
    assertTwin(canon, drift, "l_orderkey")
  }

  test("events: id columns conform alongside the existing temporal dispatch") {
    import spark.implicits._
    val tmp = tmpDir("evdrift")
    val base = Seq((1L, 1723500000000000L, 42L, "click", 1.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    base.select($"event_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts"),
      $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$tmp/canon/events.parquet")
    base.select($"event_id".cast(IntegerType),
      timestamp_micros($"us").cast("timestamp_ntz").as("ts"),
      $"user_id".cast(IntegerType), $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$tmp/i32/events.parquet")
    val canon = Tables.events(spark, s"$tmp/canon")
    val drift = Tables.events(spark, s"$tmp/i32")
    assert(drift.schema("event_id").dataType === LongType)
    assert(drift.schema("user_id").dataType === LongType)
    assertTwin(canon, drift, "event_id")
  }

  test("un-conformable drift throws loudly, naming the column") {
    import spark.implicits._
    val tmp = tmpDir("baddrift")
    Seq(("not-a-number", "t", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.documents(spark, tmp).collect()
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("narrowing integral drift: out-of-range value raises naming the column, " +
    "never wraps silently") {
    import spark.implicits._
    val tmp = tmpDir("narrowdrift")
    // region's canon is int32 r_regionkey; ship int64 with one value past
    // Int.MaxValue — the non-ANSI cast would wrap it to a WRONG small id.
    Seq((0L, "R0"), (Int.MaxValue.toLong + 7L, "R1"))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    val e = intercept[Exception] { Tables.region(spark, tmp).collect() }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("r_regionkey")),
      s"expected raise naming r_regionkey, got: ${chain(e).mkString(" | ")}")
    // in-range narrowing still conforms exactly (the common case)
    val ok = tmpDir("narrowok")
    Seq((0L, "R0"), (4L, "R4")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$ok/region.parquet")
    val got = Tables.region(spark, ok)
    assert(got.schema("r_regionkey").dataType === IntegerType)
    assert(got.orderBy("r_regionkey").collect().map(_.getInt(0)).toSeq === Seq(0, 4))
  }

  test("canonical path adds no projection: conform on an already-canonical scan is plan-identical") {
    // The armor must be free when nothing drifted — same optimized plan
    // as a raw load, so pushdown/pruning behavior is untouched.
    val dir = "/root/testdata/sf0.001"
    val conformed = Tables.documents(spark, dir)
    val raw = Tables.load(spark, dir, "documents")
    def shape(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#_")
    assert(shape(conformed) === shape(raw))
  }
}
