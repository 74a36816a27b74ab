package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Explicit-schema readers for the harness tables (FIXTURES.md).
  *
  * Schemas are declared, never inferred — the reference hard-codes its column
  * layouts the same way (`app/src/crypto_data_pipeline_clickhouse.py:238-242,
  * 383-387,444-518`). At 100 TB an explicit schema also skips the driver-side
  * parquet footer-merge step entirely (no `mergeSchemasInParallel` job) and
  * guards against silent schema drift between ingest batches.
  *
  * All timestamps are UTC (`spark.sql.session.timeZone=UTC`), mirroring the
  * reference's DateTime-in-UTC discipline
  * (`crypto_data_pipeline_clickhouse.py:181-182`).
  */
object Tables {

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** Parquet layout facts (row groups, rows) per file, memoized like
    * [[eventsGen]]: a footer read is driver-side metadata on an
    * immutable input — the same class of fact Spark's FileStatusCache
    * holds, never data or results.
    */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()

  private def parquetLayout(spark: SparkSession, p: String): (Int, Long) =
    layoutCache.computeIfAbsent(p, _ =>
      try {
        val conf = spark.sessionState.newHadoopConf()
        val fsPath = new org.apache.hadoop.fs.Path(p)
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(fsPath, conf))
        try {
          val rgs = rdr.getRowGroups
          (rgs.size, rdr.getRecordCount)
        } finally rdr.close()
      } catch {
        // directories / exotic layouts: report "wide enough" so the
        // spread below is skipped and the scan runs as Spark planned it
        case _: Throwable => (Int.MaxValue, 0L)
      })

  /** Scale-adaptive scan spread (guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"): the
    * parquet reader parallelizes at ROW-GROUP granularity, and this
    * harness' inputs ship as a single file with ONE row group per
    * table, so every scan pipeline — and all compute fused into it
    * (hashing, tokenizing, date math) — executes as one task no matter
    * the core count (profiled: q119's whole melt ran 2.8 s on 1 task
    * of 32). When the file layout yields fewer scan tasks than cores
    * AND the table is big enough for balance to matter, hash-spread on
    * the table's unique key right after the scan: deterministic under
    * retries (no round-robin sort, SPARK-23207), balanced (unique
    * key), and column pruning / predicate pushdown still reach the
    * scan below the exchange. On a properly-laid-out table (many files
    * / row groups — the 100 TB case) the condition is false and no
    * exchange is added: the adaptivity IS the point, a constant
    * repartition would be pure overhead at scale.
    *
    * PER-QUERY OPT-IN (round 13): round 12 applied this to every read
    * of 7 tables and the full-surface A/B (spread off vs on,
    * sf0.1/32 cores, 3-rep mins) measured a per-query geomean of 0.90
    * AGAINST the blanket spread: ~54 fused-compute-heavy queries win
    * big (q274 3.15→0.57, q119 2.18→0.53, q99 1.85→0.70, q01
    * 1.89→0.84) while ~150 scan-light aggregates each pay 0.1–0.4 s —
    * the exchange ships whole (pruned) rows below what was map-side
    * partial aggregation, and the repartition keys widen every
    * ReadSchema (q84 needs 2 lineitem columns, the spread dragged in
    * the 2-column key too). So the readers take `spread = true` only
    * at the measured winner call sites; the default read plans exactly
    * what Spark would plan.
    */
  private def spread(spark: SparkSession, df: DataFrame, p: String,
                     keys: Seq[String], on: Boolean): DataFrame = {
    if (!on) return df
    val cores = spark.sparkContext.defaultParallelism
    val (rowGroups, rows) = parquetLayout(spark, p)
    if (rowGroups < cores && rows >= 32L * cores)
      df.repartition(cores, keys.map(col): _*)
    else df
  }

  // ---- star schema (dimension side ≈ bn_spot_symbols / bn_perp_symbols) ----

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  // ---- fact side ≈ kline time-series tables ----

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  /** Legacy `events.parquet` generations carry TIMESTAMP(NANOS) which Spark's
    * parquet reader rejects; those are read as raw int64 nanos (legacy
    * nanosAsLong). Newer generations store plain `timestamp[us]`. [[events]]
    * sniffs which one the file is and normalizes to the same three columns
    * either way: `ts` (nanos, long), `ts_us` (micros, long — exactly what
    * DuckDB's µs TIMESTAMP holds, so the oracle agrees bit-for-bit), and
    * `tstamp` (TimestampType at µs precision).
    */
  val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Reader schema for the `timestamp[us]` generation of events.parquet. */
  val eventsTsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def region(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(regionSchema).parquet(path(dir, "region"))
  def nation(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(nationSchema).parquet(path(dir, "nation"))
  def customer(spark: SparkSession, dir: String,
               spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(customerSchema)
      .parquet(path(dir, "customer")), path(dir, "customer"),
      Seq("c_custkey"), spread)
  def supplier(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(supplierSchema).parquet(path(dir, "supplier"))
  def part(spark: SparkSession, dir: String,
           spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(partSchema)
      .parquet(path(dir, "part")), path(dir, "part"), Seq("p_partkey"),
      spread)
  def orders(spark: SparkSession, dir: String,
             spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(ordersSchema)
      .parquet(path(dir, "orders")), path(dir, "orders"),
      Seq("o_orderkey"), spread)
  def lineitem(spark: SparkSession, dir: String,
               spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(lineitemSchema)
      .parquet(path(dir, "lineitem")), path(dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"), spread)
  def documents(spark: SparkSession, dir: String,
                spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(documentsSchema)
      .parquet(path(dir, "documents")), path(dir, "documents"),
      Seq("doc_id"), spread)
  def embeddings(spark: SparkSession, dir: String,
                 spread: Boolean = false): DataFrame =
    this.spread(spark, spark.read.schema(embeddingsSchema)
      .parquet(path(dir, "embeddings")), path(dir, "embeddings"),
      Seq("vec_id"), spread)

  /** Events with `ts` = raw nanos (long), `ts_us` = micros (long), and
    * `tstamp` = TimestampType at micro precision for window/date functions.
    * Always order/compare on `ts_us` (not raw nanos) so results align with
    * µs-precision consumers — sub-µs ordering ties are broken by `event_id`.
    */
  /** The on-disk reader schema for this generation of events.parquet —
    * streaming file sources need it declared up front. Pair with
    * [[withTstamp]] to normalize the time columns after the scan.
    */
  /** Which physical generation `events.parquet` is, memoized per data
    * directory: the sniff is a DRIVER-side footer schema inference
    * (list + read one parquet footer, single-threaded), and 112 queries
    * construct `events` — at 3 bench reps that is ~300 redundant footer
    * inferences per run for a fact about an immutable input file. This
    * caches only the file's PHYSICAL SCHEMA (metadata, the same thing
    * Spark's own FileStatusCache holds), never data or results; the
    * nanosAsLong conf is still (re)set on every read because the legacy
    * reader path checks it at scan time.
    */
  private val eventsGen =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def eventsNativeSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsGen.computeIfAbsent(path(dir, "events"), p =>
      spark.read.parquet(p).schema("ts").dataType match {
        case LongType => eventsRawSchema
        case _        => eventsTsSchema
      })
  }

  /** Adds `ts_us` (micros long) + `tstamp` (µs TimestampType) to a DF scanned
    * with either events schema generation.
    */
  def withTstamp(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts_us", expr("ts DIV 1000"))
        .withColumn("tstamp", timestamp_micros(expr("ts DIV 1000")))
    case _ =>
      df.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
        .withColumn("tstamp", col("ts").cast(TimestampType))
  }

  def events(spark: SparkSession, dir: String,
             spread: Boolean = false): DataFrame = {
    // One footer read decides which physical generation this file is:
    // TIMESTAMP(NANOS) surfaces as LongType under nanosAsLong; timestamp[us]
    // surfaces as a timestamp type. Both normalize to identical columns
    // (`ts` nanos long, `ts_us` micros long, `tstamp` µs timestamp), so
    // every consumer — queries, probes, replica writers — is generation-blind.
    // Session tz is UTC, so the NTZ→TZ cast inside withTstamp is a re-label,
    // not a shift.
    val schema = eventsNativeSchema(spark, dir)
    val df = withTstamp(this.spread(spark,
      spark.read.schema(schema).parquet(path(dir, "events")),
      path(dir, "events"), Seq("event_id"), spread))
    if (schema eq eventsRawSchema) df
    else df
      .withColumn("ts", col("ts_us") * lit(1000L))
      .select("event_id", "ts", "user_id", "event_type", "value", "props",
        "ts_us", "tstamp")
  }
}
