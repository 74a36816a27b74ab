package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Knn, Materialize}

/** Incremental kNN-GRAPH maintenance — the streaming form of the ANN index
  * upkeep q332/q344 audit in batch: each micro-batch of vectors joins the
  * persisted vector store, and the maintained graph stays the EXACT top-k
  * cosine graph over everything seen so far.
  *
  * Why exactness (not incremental NN-descent): a true NN-descent insert is
  * arrival-order-dependent, so "streamed ≡ batch rebuild" could only be
  * pinned approximately. Built instead from [[Knn.cellTopKJoin]] with
  * nProbe = kCells — provably exact regardless of quantizer training
  * (q66's device) — the maintained graph is a deterministic function of
  * the vector SET, and the equality pin is literal. The cell join is also
  * the scale shape: per batch the work is (|B|-corpus exact join) +
  * (store-queries vs |B|-corpus join), both cell-pruned and k-bounded,
  * never store×store.
  *
  * Per batch (all before the streaming checkpoint commits):
  *  1. new = batch ∖ store (id anti-join — makes replays no-ops);
  *  2. eNew = exact top-k of each new vector over store ∪ new
  *     (k+1 then drop self: an exact-duplicate clique can rank the self
  *     pair below k, so "ask k, drop self" would lose a true neighbor);
  *  3. eUpd = exact top-k of each STORE vector over the new batch alone;
  *     merged with its current graph edges by one rank window — exact by
  *     induction: any batch vector that belongs in a store vector's new
  *     top-k must be in its top-k-vs-batch;
  *  4. graph := merged ∪ eNew, OVERWRITTEN (it is a maintained index, not
  *     a log) — written before the store append, and the merge is
  *     idempotent (re-merging an already-updated graph with the same eUpd
  *     changes nothing), so an at-least-once replay converges to the same
  *     graph whether it died before or after either write.
  *
  * Graph schema: (qa, cb, cos) — q332/q344's edge shape, so the
  * connectivity/health audits consume this store unchanged.
  */
object KnnGraphStream {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      idCol: String,
      vecCol: String,
      storeDir: String,
      graphDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      k: Int = 5,
      kCells: Int = 4,
      iters: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        processBatch(spark, batch.toDF(), idCol, vecCol, storeDir, graphDir,
          k, kCells, iters)
      }
      .start()

  /** One batch of the maintenance loop; public so a non-streaming
    * scheduler can drive the identical logic.
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      storeDir: String,
      graphDir: String,
      k: Int = 5,
      kCells: Int = 4,
      iters: Int = 2): Unit = {
    var pinned = List.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val m = Materialize.eager(df)
      pinned ::= m
      m
    }
    try {
      val vecs = pin(batch.select(batch(idCol), batch(vecCol))
        .filter(batch(vecCol).isNotNull))
      if (vecs.isEmpty) return
      def readOr(dir: String, like: DataFrame): DataFrame =
        if (new java.io.File(dir).exists()) spark.read.parquet(dir)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], like.schema)
      val store = readOr(storeDir, vecs)
      val newVecs = pin(vecs.join(store.select(col(idCol)), Seq(idCol), "left_anti"))
      if (newVecs.isEmpty) return    // full replay: both writes already landed
      val all = store.unionByName(newVecs)
      val eNew = topK(Knn.cellTopKJoin(newVecs, all, idCol, vecCol,
        idCol, vecCol, k + 1, kCells, nProbe = kCells, iters = iters)
        .filter(col("query_id") =!= col("vec_id")), k)
      val eUpd = Knn.cellTopKJoin(store, newVecs, idCol, vecCol,
        idCol, vecCol, k, kCells, nProbe = kCells, iters = iters)
        .select(col("query_id").as("qa"), col("vec_id").as("cb"), col("cos"))
      // eager read BEFORE the overwrite below (the IncrementalIngest
      // read-overwrite barrier)
      val oldGraph = pin(readOr(graphDir, eUpd))
      val merged = topK(oldGraph.unionByName(eUpd)
        .select(col("qa").as("query_id"), col("cb").as("vec_id"), col("cos")), k)
      val newGraph = pin(merged.unionByName(eNew))
      newGraph.write.mode("overwrite").parquet(graphDir)
      newVecs.write.mode("append").parquet(storeDir)
    } finally Materialize.release(pinned: _*)
  }

  /** Exact kNN graph over one vector frame — the batch-rebuild reference
    * the spec pins the streamed store against (and the single-batch path
    * of the loop itself).
    */
  def rebuild(vectors: DataFrame, idCol: String, vecCol: String,
              k: Int = 5, kCells: Int = 4, iters: Int = 2): DataFrame =
    topK(Knn.cellTopKJoin(vectors, vectors, idCol, vecCol, idCol, vecCol,
      k + 1, kCells, nProbe = kCells, iters = iters)
      .filter(col("query_id") =!= col("vec_id")), k)

  /** (query_id, vec_id, cos) → top-k per query by (cos desc, id asc) as
    * (qa, cb, cos) — the deterministic rank shared by every path above.
    */
  private def topK(edges: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    edges.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id").as("qa"), col("vec_id").as("cb"), col("cos"))
  }
}
