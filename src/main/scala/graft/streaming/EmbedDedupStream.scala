package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.Materialize

/** Continuous EMBEDDING dedup: the streaming composition of
  * [[graft.ops.Knn.srpIncrementalPairs]] — each micro-batch of vectors is
  * near-dup checked against the PERSISTED vector store (batch-touching
  * SRP buckets only; the store×store quadrant never re-pairs), the pairs
  * are appended, and the batch's vectors join the store. The embedding
  * twin of [[DedupStream]] (text minhash), with the same ordering
  * discipline: pairs are durably written BEFORE the batch joins the
  * store, so a replayed at-least-once batch re-reads the same store
  * state and re-emits identical rows — readers dedup with `distinct()`.
  *
  * The store holds (id, vector): the vector doubles as the signature
  * (SRP signatures are a deterministic function of it, recomputed per
  * batch join) and as the verification payload. At scale, persist the
  * banded signature table alongside if signature recompute over the
  * store ever dominates — the join shape is unchanged.
  */
object EmbedDedupStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      vecCol: String,
      storeDir: String,
      pairsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      threshold: Double = 0.95,
      nPlanes: Int = 48,
      rowsPerBand: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        processBatch(spark, batch.toDF(), idCol, vecCol, storeDir, pairsDir,
          threshold, nPlanes, rowsPerBand)
      }
      .start()

  /** One batch: pairs vs store → append pairs → append vectors. Public so
    * a non-streaming scheduler can drive the identical per-batch logic.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      storeDir: String,
      pairsDir: String,
      threshold: Double = 0.95,
      nPlanes: Int = 48,
      rowsPerBand: Int = 8): Unit = {
    // Materialize once: the batch feeds the pair join (banding + verify,
    // both sides) AND the store append; streaming source files must not
    // be re-read after the micro-batch ends.
    Materialize.scoped(batch.select(batch(idCol), batch(vecCol))
      .filter(batch(vecCol).isNotNull)) { vecs =>
      if (!vecs.isEmpty) {
        val store: DataFrame =
          if (new java.io.File(storeDir).exists())
            spark.read.parquet(storeDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], vecs.schema)
        graft.ops.Knn.srpIncrementalPairs(vecs, store, idCol, vecCol,
            threshold, nPlanes, rowsPerBand)
          .write.mode("append").parquet(pairsDir)
        // Only after the pairs are durably written does the batch join the
        // store — a replayed batch re-reads the same store state.
        vecs.write.mode("append").parquet(storeDir)
      }
    }
  }
}
