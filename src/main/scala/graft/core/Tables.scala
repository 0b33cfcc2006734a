package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata (TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and load through here so that column
  * pruning + predicate pushdown reach the parquet scan (the scan node should
  * show `ReadSchema` with only the referenced columns and `PushedFilters`
  * for any literal predicate above it).
  *
  * Each table's schema is inferred once per session and file set, then
  * supplied to every later read: the [[catalog]] caches the schema only
  * (no data, no plan), keyed on the session and the table's qualified
  * path, and re-infers when a leaf file's name, length or mtime changes.
  * Memo and Dataset-cache resets never clear it.
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Every table the loaders below read, as `<dir>/<name>.parquet`. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def region(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "region"), "r_regionkey" -> IntegerType)
  def nation(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "nation"),
      "n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType)
  def customer(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "customer"),
      "c_custkey" -> LongType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType)
  def supplier(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "supplier"),
      "s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType)
  def part(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "part"),
      "p_partkey" -> LongType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType)
  def orders(spark: SparkSession, dir: String): DataFrame =
    conform(normalizeTemporal(load(spark, dir, "orders"), "o_orderdate"),
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType)
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    conform(normalizeTemporal(load(spark, dir, "lineitem"), "l_shipdate"),
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType)
  /** The events table's `ts` column has shipped in two physical encodings
    * across testdata generations:
    *   - parquet TIMESTAMP(NANOS): Spark can't represent nanos as
    *     TimestampType, so `GraftSession` sets
    *     `spark.sql.legacy.parquet.nanosAsLong` and the column loads as an
    *     exact BIGINT of epoch nanoseconds;
    *   - parquet timestamp[us]: loads as TIMESTAMP / TIMESTAMP_NTZ, which we
    *     convert via `unix_micros` (exact — the session timezone is UTC, so
    *     the NTZ→timestamp cast is a no-op reinterpretation).
    * We dispatch on the loaded schema so both generations yield the same
    * contract:
    *   - `ts_ns`  — BIGINT epoch nanoseconds (exact, total ordering)
    *   - `ts_sec` — BIGINT epoch seconds (floor), for window buckets
    * The DuckDB oracle mirrors these as `epoch_ns(ts)` / `epoch_ns(ts) //
    * 1e9` (epoch_ns handles both encodings natively). All arithmetic stays
    * in integer space — no double rounding at any scale. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(spark, dir, "events")
    val tsNs = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case _        => unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
    }
    conform(raw
      .withColumn("ts", tsNs) // in-place replace keeps the column position
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts_sec", expr("ts_ns div 1000000000")),
      "event_id" -> LongType, "user_id" -> LongType,
      "value" -> DoubleType)
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "documents"),
      "doc_id" -> LongType, "n_chars" -> LongType, "text" -> StringType)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    conform(load(spark, dir, "embeddings"),
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)

  /** The one place a table is read. The first read of a table infers its
    * schema, which costs one Spark job (the parquet footer merge); every
    * later read of the same files passes that schema and runs none. At
    * sf0.1 on 4 CPUs a `Tables.<table>` call measured 54-57 ms cold and
    * 3-6 ms served from the [[catalog]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    signature(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some((key, sig)) =>
        val schemas = catalog.synchronized {
          catalog.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap)
        }
        Option(schemas.get(key)) match {
          case Some((`sig`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (sig, df.schema))
            df
        }
    }
  }

  /** Schema catalog: for each session and absolute table path, the
    * schema inferred at the first read, with the signature it was
    * inferred under. It holds schemas only, never data, a DataFrame or a
    * plan, so a stale entry can only ever cost a re-inference, never a
    * wrong row.
    *   - Key: the session (weakly held; inference depends on its conf)
    *     and the qualified path.
    *   - Signature: every leaf file's (name, length, mtime) plus the
    *     session's schema-inference confs. A rewritten or regenerated
    *     table, or a changed conf, no longer matches and the next read
    *     re-infers and replaces the entry.
    *   - Never cleared by `SparkEntry.clearMemos` or
    *     `spark.catalog.clearCache()`: those drop data, and the
    *     signature alone decides whether a schema still holds.
    * Each read still builds a fresh relation with fresh expression ids,
    * so self-joins (q7's two nation scans) analyze as before, and
    * `conform` / `normalizeTemporal` / the events `ts` dispatch run on
    * the same schema inference would have produced. */
  private val catalog = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Signature, StructType)]]

  private type Signature = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** Confs that change what parquet schema inference yields. */
  private val inferenceConfs = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (qualified path, signature) of a table, None when the path is absent.
    * One driver-side listing; no Spark job. */
  private def signature(spark: SparkSession, path: String): Option[(String, Signature)] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(q: Path): Seq[FileStatus] = fs.listStatus(q).toSeq.flatMap { s =>
      if (s.isDirectory) leaves(s.getPath) else Seq(s)
    }
    try {
      val files = leaves(p).map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      Some(fs.makeQualified(p).toString ->
        (files.sortBy(_._1), inferenceConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Parallelism floor for a STARVED stage feeding heavy per-row compute
    * (optimization guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read"). The driver testdata ships every table
    * as ONE parquet file with ONE row group, so a scan — and the whole
    * codegen stage above it, which after r20 carries the engine's kernel
    * compute — runs as a single task no matter how many cores the
    * session has. Fanning such a frame out spreads that stage across the
    * cluster for the price of one bounded exchange.
    *
    * Deliberately NOT applied in [[load]]: an r21 A/B over a 14-query
    * subset measured a blanket loader-level rebalance as a net LOSS
    * (8.67 s → 12.57 s) — each added exchange costs a fixed ~0.1-0.4 s
    * stage barrier at gate scale, which only pays for itself where the
    * serial scan-stage compute above it is heavier than that (the
    * minhash/SimHash/decode kernel family: q_minhash_sig alone measured
    * 2.3×). Call sites are therefore chosen per measured win, never
    * blanket.
    *
    * Scale-adaptive: the gate requires every leaf of the frame to be a
    * file relation at most `spark.graft.scan.fanoutMaxBytes` (default
    * 256 MB) on disk, so a production-sized input (100 TB arrives as
    * thousands of row groups and parallelizes natively) passes through
    * untouched — the exchange only exists where the bytes are small
    * enough that moving them once is free relative to idling the
    * cluster. Round-robin keeps sizes even; its deterministic
    * sort-before-repartition (on by default, SPARK-23207) keeps row
    * placement replayable under task retry. Filters and column pruning
    * push through Repartition nodes, so PushedFilters/ReadSchema at the
    * scan are unchanged. `spark.graft.scan.fanoutMaxBytes=0` disables
    * every site at once. */
  def fanout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    if (n <= 1 || !leavesSmall(df)) df else df.repartition(n)
  }

  /** Metadata-only smallness gate shared by [[fanout]] and
    * [[shareSmall]] (never plans or runs anything physical): every leaf
    * must be a file relation whose on-disk size is at most
    * `spark.graft.scan.fanoutMaxBytes` (default 256 MB). In-memory
    * frames (tests, fixtures) report MaxValue and fail the gate; so
    * does any production-sized scan. `fanoutMaxBytes=0` disables every
    * gated site at once. */
  private def leavesSmall(df: DataFrame): Boolean = {
    val maxB = df.sparkSession.conf.get("spark.graft.scan.fanoutMaxBytes",
      "268435456").toLong
    if (maxB <= 0) false
    else {
      val leafBytes = df.queryExecution.analyzed.collectLeaves().map {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.sizeInBytes
        case _ => Long.MaxValue
      }
      leafBytes.nonEmpty && leafBytes.forall(_ <= maxB)
    }
  }

  /** Size-gated LAZY share of a frame consumed by several branches or
    * sequential jobs of ONE query invocation (the `agg(scalar)` →
    * `crossJoin(broadcast)` + main-branch shape, rollingMergeQuery's
    * four state jobs, the multimodal gates' twice-consumed batch
    * synth). The first consumer materializes the frame once; every
    * other consumer of the SAME invocation reads the shared partitions.
    *
    * `persist()` (columnar InMemoryRelation — measured far cheaper to
    * materialize and re-read than the RDD-level
    * `localCheckpoint(eager=false)` alternative, which pays a per-row
    * UnsafeRow copy and deserialized caching: q_tpch_q11 1.27 s lazy-
    * checkpointed vs well under half that persisted). A Dataset persist
    * registers in the session CacheManager, which plan-matches across
    * invocations — so Bench clears the Dataset cache before EVERY timed
    * run (Bench.scala, disclosed in OPTIMIZATION_r21.md): a later run
    * can never ride an earlier run's cache, and each timed run pays the
    * full build. Within one invocation the sharing is exactly the
    * honest saving: the duplicated pipeline planning/execution.
    *
    * At production scale caching a corpus-sized input to local disk
    * would be slower than re-scanning columnar parquet, so the same
    * [[leavesSmall]] gate passes big inputs through untouched. */
  def shareSmall(df: DataFrame): DataFrame =
    if (leavesSmall(df)) df.persist() else df

  /** Schema-drift armor for NON-temporal columns (the r9 lesson,
    * generalized past `normalizeTemporal`): each loader declares the
    * canonical type of its id / numeric-width / embedding / text
    * columns — the types every query and oracle in this repo was built
    * and gated against — and `conform` dispatches on what the parquet
    * actually shipped:
    *   - exact match (ignoring nullability): column untouched, so the
    *     canonical path adds NO projection and scan-level pushdown /
    *     pruning behave exactly as before this armor existed;
    *   - integral↔integral drift (int32 ids regenerated as int64 or
    *     vice versa): cast to the canonical width — key and label
    *     domains here are small (≤ millions), so narrowing is exact,
    *     and a per-row range guard raises (naming the column) if that
    *     assumption is ever violated rather than letting the non-ANSI
    *     cast wrap silently;
    *   - float↔double list drift (`embeddings.embedding`): cast the
    *     element type — the float32 canon is what every similarity
    *     kernel and its gated oracle compute in;
    *   - scalar float↔double drift (the money/value columns —
    *     `l_extendedprice`, `o_totalprice`, `events.value`, …): cast to
    *     the double canon every aggregate was gated against;
    *   - binary→string drift (`documents.text` re-encoded as BYTE_ARRAY
    *     without the UTF8 annotation): reinterpret as UTF-8 string;
    *   - anything else: throw, loudly naming the column — a silent
    *     best-effort cast here is how a drift becomes a wrong-answer
    *     round instead of a one-line fix.
    */
  private[graft] def conform(df: DataFrame, want: (String, org.apache.spark.sql.types.DataType)*): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    // nullability-insensitive equality (DataType.sameType is private[sql])
    def stripNull(t: DataType): DataType = t match {
      case ArrayType(e, _)    => ArrayType(stripNull(e), containsNull = true)
      case MapType(k, v, _)   => MapType(stripNull(k), stripNull(v), valueContainsNull = true)
      case StructType(fields) => StructType(fields.map(f =>
        f.copy(dataType = stripNull(f.dataType), nullable = true)))
      case other              => other
    }
    // An ABSENT column is not policed here: partial fixtures (tests,
    // projected exports) load fine, and a query referencing the missing
    // column already fails loudly at analysis with the column name.
    want.filter { case (name, _) => df.columns.contains(name) }
      .foldLeft(df) { case (d, (name, tgt)) =>
      val have = d.schema(name).dataType
      if (stripNull(have) == stripNull(tgt)) d
      else {
        val convertible = (have, tgt) match {
          case (h, t) if integral(h) && integral(t) => true
          case (FloatType, DoubleType) | (DoubleType, FloatType) => true
          case (ArrayType(he, _), ArrayType(te, _)) =>
            Set[DataType](FloatType, DoubleType)(he) &&
              Set[DataType](FloatType, DoubleType)(te)
          case (BinaryType, StringType) => true
          case _                        => false
        }
        if (!convertible)
          throw new IllegalArgumentException(
            s"cannot conform column $name: loaded $have, canonical $tgt")
        val rank = Map[DataType, Int](
          ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
        val casted =
          if (integral(have) && integral(tgt) && rank(have) > rank(tgt)) {
            // NARROWING integral drift: with ANSI off, a drifted id above
            // the target range would WRAP to a wrong value silently —
            // contradicting the throw-loudly policy above. Guard per row
            // (codegen'd, no extra pass over the data) and raise naming
            // the column; in-range values cast exactly as before.
            val (lo, hi) = tgt match {
              case ByteType  => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
              case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
              case _         => (Int.MinValue.toLong, Int.MaxValue.toLong)
            }
            when(col(name).isNull, lit(null).cast(tgt))
              .when(col(name).between(lo, hi), col(name).cast(tgt))
              .otherwise(raise_error(format_string(
                s"conform: column $name value %s out of range for $tgt",
                col(name).cast("string"))).cast(tgt))
          } else col(name).cast(tgt)
        d.withColumn(name, casted)
      }
    }
  }

  /** Schema-drift armor for temporal columns (the drift class that broke
    * the events loader when the driver regenerated testdata): whatever
    * physical encoding a date-ish column ships in, queries see
    * TIMESTAMP_NTZ. A column already NTZ is left untouched — no extra
    * projection, so scan-level filter pushdown is unchanged on the
    * canonical path. Conversions are exact: the session timezone is UTC
    * (LTZ→NTZ is a reinterpretation), DATE midnight-extends, and a
    * BIGINT column here can only be epoch nanoseconds read via
    * `nanosAsLong` (floor-divided to µs). */
  private[graft] def normalizeTemporal(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (d, name) =>
      d.schema(name).dataType match {
        case TimestampNTZType => d
        case TimestampType | DateType =>
          d.withColumn(name, col(name).cast(TimestampNTZType))
        case LongType =>
          d.withColumn(name,
            timestamp_micros(expr(s"$name div 1000")).cast(TimestampNTZType))
        case other =>
          throw new IllegalArgumentException(
            s"cannot normalize temporal column $name of type $other")
      }
    }
  }
}
