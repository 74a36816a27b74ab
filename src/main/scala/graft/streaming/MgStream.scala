package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Materialize}

/** Incrementally-maintained heavy-hitters store — bounded-state frequent
  * items per key via the MERGEABLE Misra–Gries summary: at most `k`
  * (item, count) counters per key, kept fresh per micro-batch, so "top
  * talkers per partition key" is a store read, never a rescan of the
  * stream.
  *
  * Merge rule (the mergeable-summaries form: sum counters, then subtract
  * the (k+1)-th largest combined count from all and keep the positive
  * remainder): after any batching of an n-row stream, every stored count
  * undercounts its item's true frequency by at most n/(k+1), and any item
  * with true frequency > n/(k+1) is GUARANTEED present. Unlike the HLL
  * store ([[SketchStream]]) the surviving low-count tail depends on batch
  * boundaries — the spec pins the guarantee (presence + error band, exact
  * when distinct items ≤ k), not bitwise batch-invariance, which is the
  * strongest property the summary itself offers.
  *
  * Versioning follows [[SketchStream]]: state is ONE row per key (items
  * as a bounded map column), a batch merges against the store AS OF
  * versions `< batchId` (at-least-once replay re-reads the same pre-batch
  * state → re-appends identical rows), readers resolve keep-last per key,
  * and untouched keys are never read (semi-join prune) or rewritten.
  *
  * Scale shape: per-batch cost is the batch count-collapse + |touched
  * keys| × (k + batch distinct items per key) rows through one bounded
  * window; store size is |keys| × k counters regardless of stream length.
  */
object MgStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      keyCols: Seq[String],
      itemCol: String,
      k: Int,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, keyCols, itemCol, k, storeDir)
      }
      .start()

  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      keyCols: Seq[String],
      itemCol: String,
      k: Int,
      storeDir: String): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = keyCols.map(col)
    // batch partial: exact (key, item) counts — map-side combinable
    Materialize.scoped(batch
      .groupBy(keys :+ col(itemCol).as("__item"): _*)
      .agg(count(lit(1)).as("__cnt"))) { bp =>
      val combined =
        if (!Files.exists(Paths.get(storeDir))) bp
        else {
          val touched = Dedup.keepLast(
              spark.read.parquet(storeDir).filter(col("__v") < batchId),
              keyCols, Seq("__v"))
            .join(bp.select(keys: _*).distinct(), keyCols, "left_semi")
            .select(keys :+ explode(col("__mg")).as(Seq("__item", "__cnt")): _*)
          touched.unionByName(bp)
            .groupBy(keys :+ col("__item"): _*)
            .agg(sum(col("__cnt")).as("__cnt"))
        }
      // MG compression: subtract the (k+1)-th largest count (item asc
      // tie-break for determinism), keep the positive remainder — the
      // window sees at most k + |batch items| rows per key, never the
      // stream
      val wKey = Window.partitionBy(keys: _*)
        .orderBy(col("__cnt").desc, col("__item"))
      val wAll = Window.partitionBy(keys: _*)
      // collect_list skips the NULLs the `when` leaves for non-survivors,
      // so a key whose counters ALL cancel still emits a row (empty map)
      // — otherwise keep-last would resurrect its pre-batch state
      val merged = combined
        .withColumn("__rn", row_number().over(wKey))
        .withColumn("__d", coalesce(
          max(when(col("__rn") === k + 1, col("__cnt"))).over(wAll),
          lit(0L)))
        .groupBy(keys: _*)
        .agg(map_from_entries(collect_list(
          when(col("__cnt") > col("__d"),
            struct(col("__item"),
              (col("__cnt") - col("__d")).as("__cnt"))))).as("__mg"))
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(storeDir)
    }
  }

  /** Resolved (key, item, count) counters — keep-last state, exploded. */
  def counters(spark: SparkSession, storeDir: String,
               keyCols: Seq[String]): DataFrame =
    Dedup.keepLast(spark.read.parquet(storeDir), keyCols, Seq("__v"))
      .select(keyCols.map(col) :+
        explode(col("__mg")).as(Seq("item", "cnt")): _*)
}
