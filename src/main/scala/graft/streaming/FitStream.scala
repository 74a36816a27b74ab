package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.ops.{Dedup, Materialize}

/** Online linear-probe maintenance — the streaming form of q346's
  * normal-equations fit: the nine moment sums (n, Σx1, Σx2, Σy, Σx1²,
  * Σx1x2, Σx2², Σx1y, Σx2y) are SUFFICIENT STATISTICS and every one is
  * additive, so a per-language moment store absorbs each micro-batch with
  * a 9-column add and the exact OLS coefficients are available at any
  * moment from the |langs|-row store — no training pass, no corpus
  * rescan, ever. This is "online model fitting" done the mergeable-
  * statistics way: the fit after N batches is BIT-IDENTICAL to a
  * from-scratch batch fit over the concatenated corpus (spec-pinned),
  * because decimal addition is exact — there is no drift to bound.
  *
  * Replay safety follows [[MvStream]]/[[BpeStream]]: sums are additive
  * (not idempotent), so a batch merges against the store AS OF versions
  * `< batchId` and readers resolve keep-last; untouched languages are
  * never read or rewritten.
  *
  * Scale shape: per-batch cost is the batch scan + |touched langs| rows;
  * store size is |langs| × 9 decimals regardless of stream length.
  */
object FitStream {

  private val d38 = DecimalType(38, 0)
  private val momentCols = Seq("n", "s1", "s2", "sy", "s11", "s12",
    "s22", "s1y", "s2y")

  /** The nine per-language moment sums of a (lang, x1, x2, y) frame. */
  def moments(features: DataFrame): DataFrame =
    features.groupBy(col("lang")).agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x1").cast(d38)).as("s1"),
      sum(col("x2").cast(d38)).as("s2"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x1").cast(d38) * col("x1").cast(d38)).as("s11"),
      sum(col("x1").cast(d38) * col("x2").cast(d38)).as("s12"),
      sum(col("x2").cast(d38) * col("x2").cast(d38)).as("s22"),
      sum(col("x1").cast(d38) * col("y").cast(d38)).as("s1y"),
      sum(col("x2").cast(d38) * col("y").cast(d38)).as("s2y"))

  /** Per-doc probe features from a raw document batch (q346's contract:
    * x1 = token count, x2 = vocab size, y = n_chars).
    */
  def features(batch: DataFrame): DataFrame = {
    val toks = graft.functions.TextFunctions
      .tokens(coalesce(col("text"), lit("")))
    batch.select(col("lang"),
      size(toks).cast("long").as("x1"),
      size(array_distinct(toks)).cast("long").as("x2"),
      col("n_chars").as("y"))
  }

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      storeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        processBatch(spark, batch.toDF(), id, storeDir)
      }
      .start()

  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      storeDir: String): Unit = {
    val bp = Materialize.eager(moments(features(batch)))
    try {
      val merged =
        if (!Files.exists(Paths.get(storeDir))) bp
        else {
          val touched = Dedup.keepLast(
              spark.read.parquet(storeDir).filter(col("__v") < batchId),
              Seq("lang"), Seq("__v")).drop("__v")
            .join(bp.select(col("lang")), Seq("lang"), "left_semi")
          touched.unionByName(bp)
            .groupBy(col("lang"))
            .agg(sum(col("n")).as("n"),
              momentCols.tail.map(c => sum(col(c)).as(c)): _*)
        }
      merged.withColumn("__v", lit(batchId))
        .write.mode("append").parquet(storeDir)
    } finally Materialize.release(bp)
  }

  /** The live per-language moment table: keep-last per lang. */
  def currentMoments(spark: SparkSession, storeDir: String): DataFrame =
    Dedup.keepLast(spark.read.parquet(storeDir), Seq("lang"), Seq("__v"))
      .select((col("lang") +: momentCols.map(col)): _*)

  /** The exact Cramer determinants (det, d0, d1, d2) from a moment
    * frame — β_j = d_j/det; same algebra as q346's batch fit.
    */
  def fit(m: DataFrame): DataFrame =
    m.select(col("lang"), col("n"),
      (col("n") * (col("s11") * col("s22") - col("s12") * col("s12"))
        - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
        .as("det"),
      (col("sy") * (col("s11") * col("s22") - col("s12") * col("s12"))
        - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
        + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
        .as("d0"),
      (col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
        - col("sy") * (col("s1") * col("s22") - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
        .as("d1"),
      (col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12"))
        - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
        + col("sy") * (col("s1") * col("s12") - col("s11") * col("s2")))
        .as("d2"))
}
