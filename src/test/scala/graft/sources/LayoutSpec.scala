package graft.sources

import graft.SparkSuite
import graft.core.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-group pruning via range layout: the same narrow time-slice filter
  * over the same rows must READ FEWER BYTES from a range-clustered
  * parquet layout than from a random one — parquet min/max stats can
  * only skip row groups whose value range excludes the predicate, and
  * only the clustered layout has tight ranges. Asserted on executor
  * input metrics, not on plan text. */
class LayoutSpec extends SparkSuite {

  private def bytesReadOf(action: => Unit): Long =
    inputMetricOf(_.bytesRead)(action)

  private def recordsReadOf(action: => Unit): Long =
    inputMetricOf(_.recordsRead)(action)

  private def inputMetricOf(
      f: org.apache.spark.executor.InputMetrics => Long)(
      action: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        bytes.addAndGet(f(t.taskMetrics.inputMetrics))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // the listener bus is async and its drain API is private — wait
      // until no new task-end events have arrived for 200 ms
      var last = -1L
      var spins = 0
      while (bytes.get() != last && spins < 50) {
        last = bytes.get(); Thread.sleep(200); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get()
  }

  test("range-clustered layout reads a fraction of the bytes for a time-slice scan") { withTempDir("graft-layout") { tmp =>
    // 10 x sf0.1 (1M rows): big enough that row-group data dwarfs the
    // per-file footer/dictionary bytes every scan pays regardless of
    // pruning (at 100k rows the ~3.5 KB x 8 footers were most of the
    // pruned scan's bytes and hid the effect)
    val ev1 = Tables.events(spark, "/root/testdata/sf0.1")
      .select("event_id", "ts_ns", "user_id", "value")
    val ev = (1 to 10).map(_ => ev1).reduce(_ union _)
    // same rows, two layouts: random 8-way split vs range-clustered
    ev.repartition(8).write.mode("overwrite").parquet(s"$tmp/random")
    Layout.writeRangeLayout(ev, s"$tmp/ranged", "ts_ns", buckets = 8)

    val mm = ev.agg(min("ts_ns"), max("ts_ns")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // a ~3% slice of the time domain
    val cut = lo + (hi - lo) / 32
    def slice(df: DataFrame) =
      df.filter(col("ts_ns") >= lo && col("ts_ns") <= cut)

    val expected = slice(ev).count()
    var gotRandom = 0L; var gotRanged = 0L
    val bRandom = bytesReadOf { gotRandom = slice(spark.read.parquet(s"$tmp/random")).count() }
    val bRanged = bytesReadOf { gotRanged = slice(Layout.read(spark, s"$tmp/ranged")).count() }

    assert(gotRandom === expected && gotRanged === expected) // same answer
    assert(expected > 0)
    // random layout: every row group spans the whole ts domain -> no skip;
    // ranged: only ~1 of 8 groups overlaps the slice. Require a 2x margin
    // so footer/overhead noise can't flake the assert.
    assert(bRanged * 2 < bRandom,
      s"range layout did not prune: ranged=$bRanged random=$bRandom")
  }}

  test("z-order layout prunes on the SECOND dimension where a 1-D range layout cannot") { withTempDir("graft-zorder") { tmp =>
    val ev1 = Tables.events(spark, "/root/testdata/sf0.1")
      .select("event_id", "ts_ns", "user_id", "value")
    val ev = (1 to 10).map(_ => ev1).reduce(_ union _)
    val stats = ev.agg(min("ts_ns"), max("ts_ns"), min("user_id"), max("user_id")).head()
    val (tLo, tHi) = (stats.getLong(0), stats.getLong(1))
    val (uLo, uHi) = (stats.getLong(2), stats.getLong(3))
    // monotone bucketization of both dimensions into [0, 1024)
    val bits = 10
    def bucket(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lo) * (1L << bits) / (hi - lo + 1)).cast("long")

    Layout.writeRangeLayout(ev, s"$tmp/ts_only", "ts_ns", buckets = 32)
    Layout.writeZOrderLayout(ev, s"$tmp/zorder",
      bucket(col("user_id"), uLo, uHi), bucket(col("ts_ns"), tLo, tHi),
      bits = bits, buckets = 32)

    // a narrow USER slab — the dimension the ts-only layout knows nothing
    // about — over all time
    val uCut = uLo + (uHi - uLo) / 16
    def slabAgg(df: DataFrame): Long = {
      val r = df.filter(col("user_id") >= uLo && col("user_id") <= uCut)
        .agg(count(lit(1))).head()
      r.getLong(0)
    }
    val expected = slabAgg(ev)
    var gotZ = 0L; var gotT = 0L
    val bZ = bytesReadOf { gotZ = slabAgg(spark.read.parquet(s"$tmp/zorder")) }
    val bT = bytesReadOf { gotT = slabAgg(spark.read.parquet(s"$tmp/ts_only")) }
    assert(gotZ == expected && gotT == expected && expected > 0)
    // z-order: the user predicate's high bits prune most z-ranges; the
    // ts-only layout reads every file. 2x margin absorbs footer noise.
    assert(bZ * 2 < bT, s"z-order did not prune the user slab: z=$bZ tsOnly=$bT")
  }}

  test("compactRanged: many tiny files -> few row-sized files, rows intact, still clustered") { withTempDir("graft-compact") { tmp =>
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select("event_id", "ts_ns", "value")
    // simulate an incremental writer: 64 splinter files
    ev.repartition(64).write.mode("overwrite").parquet(s"$tmp/splintered")
    val splintered = spark.read.parquet(s"$tmp/splintered")
    def partFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(partFiles(s"$tmp/splintered") == 64)

    val n = ev.count()
    val target = n / 3
    val expectedFiles = ((n + target - 1) / target).toInt
    val written = Layout.compactRanged(splintered, s"$tmp/compacted", "ts_ns",
      targetRowsPerFile = target)
    assert(written == expectedFiles)
    assert(partFiles(s"$tmp/compacted") == written)
    val back = spark.read.parquet(s"$tmp/compacted")
    assert(back.count() == n)
    assert(back.select("event_id").collect().map(_.getLong(0)).sorted
      sameElements ev.select("event_id").collect().map(_.getLong(0)).sorted)
    // clustering survived compaction: the same time-slice aggregate reads
    // fewer bytes from the compacted-clustered files than from the
    // splintered (unclustered) ones — a real column agg, because a bare
    // parquet count() is answered from metadata and reads ~nothing
    val mm = ev.agg(min("ts_ns"), max("ts_ns")).head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 16
    def sliceAgg(df: DataFrame): Unit = {
      df.filter(col("ts_ns") <= cut).agg(sum("value")).collect(); ()
    }
    val bCompacted = bytesReadOf(sliceAgg(back))
    val bSplintered = bytesReadOf(sliceAgg(spark.read.parquet(s"$tmp/splintered")))
    assert(bCompacted * 2 < bSplintered,
      s"compacted layout lost clustering: compacted=$bCompacted splintered=$bSplintered")
  }}

  test("Tables.events schema-drift contract: timestamp[us] and INT64-nanos fixtures yield identical ts_ns/ts_sec") {
    // The driver has regenerated testdata once already, flipping events.ts
    // from parquet TIMESTAMP(NANOS) (read as BIGINT via nanosAsLong) to
    // timestamp[us]. Tables.events must dispatch on the loaded type and
    // yield the same BIGINT ts_ns/ts_sec contract from either encoding,
    // whether the schema was just inferred (first read) or is supplied
    // from Tables' catalog (every later read).
    import spark.implicits._
    val micros = Seq(0L, 999999L, 1000000L, 1723500000123456L, 4102444799999999L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
    withTempDir("graft-tsdrift") { tmp =>
      // generation 2: timestamp[us] without timezone (TIMESTAMP_NTZ), the
      // current driver encoding
      base.select($"event_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts"))
        .write.mode("overwrite").parquet(s"$tmp/us/events.parquet")
      // generation 1: INT64 epoch nanoseconds (what TIMESTAMP(NANOS) loads
      // as under spark.sql.legacy.parquet.nanosAsLong)
      base.select($"event_id", ($"us" * 1000L).as("ts"))
        .write.mode("overwrite").parquet(s"$tmp/ns/events.parquet")
      // generation 1 as shipped: an INT64 annotated TIMESTAMP(NANOS), which
      // Spark cannot write, so it goes through parquet-mr's example writer
      locally {
        import org.apache.parquet.example.data.simple.SimpleGroupFactory
        import org.apache.parquet.hadoop.example.ExampleParquetWriter
        import org.apache.parquet.schema.MessageTypeParser
        val schema = MessageTypeParser.parseMessageType(
          "message events { required int64 event_id; " +
            "required int64 ts (TIMESTAMP(NANOS,false)); }")
        val writer = ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(s"$tmp/nanos/events.parquet/part-0.parquet"))
          .withType(schema).build()
        val groups = new SimpleGroupFactory(schema)
        try micros.zipWithIndex.foreach { case (us, i) =>
          writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", us * 1000L))
        } finally writer.close()
      }

      def loaded(dir: String) = Tables.events(spark, dir)
        .select("event_id", "ts_ns", "ts_sec").orderBy("event_id")
      val expected = micros.zipWithIndex.map { case (us, i) =>
        (i.toLong, us * 1000L, us / 1000000L)
      }
      val fromUs = loaded(s"$tmp/us")
      Seq("us", "ns", "nanos").foreach { enc =>
        // each fixture dir is fresh: the first read infers, the second is
        // served the catalog's schema
        val cold = loaded(s"$tmp/$enc")
        val cached = loaded(s"$tmp/$enc")
        Seq(cold, cached).foreach { df =>
          assert(df.schema == fromUs.schema, s"enc=$enc")
          assert(df.schema("ts_ns").dataType.typeName == "long", s"enc=$enc")
          assert(df.schema("ts_sec").dataType.typeName == "long", s"enc=$enc")
          assert(df.as[(Long, Long, Long)].collect().toSeq == expected, s"enc=$enc")
        }
      }
    }
  }

  test("normalizeTemporal: o_orderdate drift encodings (ntz/ltz/date/int64-nanos) all load as identical TIMESTAMP_NTZ") {
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampNTZType
    // midnight-aligned so the DATE encoding carries the same instant
    val days = Seq(0L, 10957L, 19000L) // 1970-01-01, 2000-01-01, 2022-01-18
    val micros = days.map(_ * 86400L * 1000000L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toDF("o_orderkey", "us")
    withTempDir("graft-odrift") { tmp =>
      base.select($"o_orderkey", timestamp_micros($"us").cast("timestamp_ntz").as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$tmp/ntz/orders.parquet")
      base.select($"o_orderkey", timestamp_micros($"us").as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$tmp/ltz/orders.parquet")
      base.select($"o_orderkey", timestamp_micros($"us").cast("date").as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$tmp/date/orders.parquet")
      base.select($"o_orderkey", ($"us" * 1000L).as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$tmp/ns/orders.parquet")

      val loaded = Seq("ntz", "ltz", "date", "ns").map { enc =>
        enc -> Tables.orders(spark, s"$tmp/$enc")
          .select("o_orderkey", "o_orderdate").orderBy("o_orderkey")
      }
      loaded.foreach { case (enc, df) =>
        assert(df.schema("o_orderdate").dataType == TimestampNTZType, s"enc=$enc")
      }
      val expect = loaded.head._2.collect().map(_.toSeq).toSeq
      loaded.tail.foreach { case (enc, df) =>
        assert(df.collect().map(_.toSeq).toSeq == expect, s"enc=$enc")
      }
      // the literal-predicate shape every TPC-H query uses keeps working
      loaded.foreach { case (enc, df) =>
        assert(df.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .count() == 2, s"enc=$enc")
      }
    }
  }

  test("bloom-filter layout prunes an id point-probe that min/max stats cannot") { withTempDir("graft-bloom") { tmp =>
    // The probe column must be UNCORRELATED with write order — a
    // monotone id gets page-level column-index pruning for free and
    // needs no bloom. The production shape blooms exist for is a random
    // high-cardinality UNIQUE id (uuid, content hash): every page and
    // row group spans the whole id domain, so neither stats nor the
    // column index can skip anything. xxhash64 over a unique range
    // models exactly that; 1M rows so row-group data dwarfs footers AND
    // the input-metrics granularity (both tests above hit the same
    // floor at 100k). Dictionary encoding is off on the id column in
    // BOTH layouts (see writeWithBloom's scaladoc) — blooms are the
    // only pruner in play.
    val n = 1000000L
    val ev = spark.range(n)
      .select(xxhash64(col("id")).as("doc_hash"),
        (col("id") % 997).cast("double").as("value"))
    ev.repartition(8).write.mode("overwrite")
      .option("parquet.enable.dictionary#doc_hash", "false")
      .parquet(s"$tmp/plain")
    Layout.writeWithBloom(ev, s"$tmp/bloomed", "doc_hash",
      expectedNdv = n / 8, files = 8)

    // probe an INTERIOR id (an arbitrary row's hash) — an extreme value
    // (global min/max) would be prunable by plain stats after all
    val probeId = ev.head.getLong(0)
    def probe(df: DataFrame): Long = {
      val r = df.filter(col("doc_hash") === probeId).agg(
        count(lit(1)), sum("value")).head
      r.getLong(0)
    }
    val expected = probe(ev)
    var gotPlain = 0L; var gotBloom = 0L
    // assert on RECORDS DECODED, not bytes: executor bytesRead
    // under-reports for these local snappy files (a full 9 MB scan
    // reports ~40 KB), while recordsRead is exact — the plain probe
    // must decode every row (no mechanism can prune a random interior
    // id), the bloomed probe only the groups whose bloom answers
    // "maybe" (1 true hit + false positives at the default 1% fpp).
    val rPlain = recordsReadOf { gotPlain = probe(spark.read.parquet(s"$tmp/plain")) }
    val rBloom = recordsReadOf { gotBloom = probe(spark.read.parquet(s"$tmp/bloomed")) }
    assert(gotPlain == expected && gotBloom == expected && expected > 0)
    assert(rPlain == n, s"plain layout unexpectedly pruned: $rPlain of $n")
    // 1 of 8 groups is a true hit; allow one more as bloom FP slack
    assert(rBloom * 4 <= n,
      s"bloom filter did not prune the point probe: bloom=$rBloom plain=$rPlain")
  }}
}
