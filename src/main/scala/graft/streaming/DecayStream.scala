package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize}

/** Incrementally-maintained time-decay engagement scores (q198's
  * streaming form): per key, the half-life-weighted activity score stays
  * fresh per micro-batch without ever rescanning the stream.
  *
  * State design: the decayed score itself is NOT the state — a stored
  * float/ppm score would need rescaling by the elapsed decay on every
  * batch, and the floor-divisions would make the result depend on batch
  * boundaries. Instead the state is the EXACT bounded daily ledger: per
  * key, (day → cents) for the trailing `horizon` days (the q198 decay
  * table is zero beyond day 27, so anything older cannot contribute to
  * any future read). Sums and maxima are associative, so the resolved
  * ledger after ANY batching of the same rows is bit-identical —
  * exact batch-invariance, stronger than what a stored-score design
  * offers (the [[MgStream]] contrast) — and the score is derived at read
  * time from the ledger and the same printed ppm weights q198 uses.
  *
  * Pruning correctness: entries older than perKeyMaxDay − horizon are
  * dropped. Any read anchors at the GLOBAL max day A ≥ perKeyMaxDay, so
  * a dropped day d has A − d > horizon ⇒ weight 0 — the drop can never
  * change a score.
  *
  * Versioning follows [[SketchStream]]/[[MgStream]]: one row per key
  * (ledger as a bounded map column), batches merge against store state
  * AS OF versions < batchId (at-least-once replay re-appends identical
  * rows), readers resolve keep-last, untouched keys are never read
  * (semi-join prune) or rewritten.
  *
  * Scale shape: per-batch cost is the batch's (key, day) collapse +
  * |touched keys| × horizon ledger rows; store size is |keys| × horizon
  * entries regardless of stream length.
  */
object DecayStream {

  /** q198's half-life-7-day curve floor(1e6·0.5^(d/7)), d = 0..27. */
  val decayPpm: Seq[Long] =
    (0 to 27).map(d => math.floor(1e6 * math.pow(0.5, d / 7.0)).toLong)

  val horizon: Int = decayPpm.size - 1   // weight 0 beyond this age

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCol: String,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, keyCol, storeDir)
      }
      .start()

  /** Batch rows need (keyCol, ts nanos long `ts`, double `value`) — the
    * raw events shape; day/cents derivation matches q198.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      storeDir: String): Unit = {
    val bp = Materialize.eager(batch
      .select(col(keyCol).as("__k"),
        expr("(ts div 1000) div 86400000000").as("__day"),
        floor(col("value") * 100).cast("long").as("__cents"))
      .groupBy(col("__k"), col("__day"))
      .agg(sum(col("__cents")).as("__cents")))
    try {
      val combined =
        if (!Files.exists(Paths.get(storeDir))) bp
        else {
          val touched = Dedup.keepLast(
              spark.read.parquet(storeDir).filter(col("__v") < batchId),
              Seq("__k"), Seq("__v"))
            .join(bp.select(col("__k")).distinct(), Seq("__k"), "left_semi")
            .select(col("__k"),
              explode(col("__ledger")).as(Seq("__day", "__cents")))
          touched.unionByName(bp)
            .groupBy(col("__k"), col("__day"))
            .agg(sum(col("__cents")).as("__cents"))
        }
      val merged = combined
        .withColumn("__mx", max(col("__day")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))))
        .filter(col("__day") >= col("__mx") - horizon)
        .groupBy(col("__k"))
        .agg(map_from_entries(collect_list(
          struct(col("__day"), col("__cents")))).as("__ledger"))
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(storeDir)
    } finally Materialize.release(bp)
  }

  /** Resolved per-key decayed scores, anchored at the store's global max
    * day — score = Σ cents · w(anchor − day), the q198 arithmetic over
    * the ledger. Returns (key, n_days, score_ppm_cents).
    */
  def scores(spark: SparkSession, storeDir: String,
             keyCol: String): DataFrame = {
    val wArr = expr(s"array(${decayPpm.mkString("L, ")}L)")
    val led = Dedup.keepLast(spark.read.parquet(storeDir),
        Seq("__k"), Seq("__v"))
      .select(col("__k"),
        explode(col("__ledger")).as(Seq("__day", "__cents")))
    // one bounded driver scalar (the q198 anchor discipline — a 1-row
    // crossJoin would plan a BroadcastNestedLoopJoin)
    val mxRow = led.agg(max(col("__day"))).head()
    val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    led
      .withColumn("__d", lit(mx) - col("__day"))
      .withColumn("__w", when(col("__d") > horizon, 0L)
        .otherwise(element_at(wArr, (col("__d") + 1).cast("int"))))
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__cents") * col("__w")).as("score_ppm_cents"))
  }
}
