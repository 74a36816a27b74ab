package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Call-scoped materialization of operator intermediates — the one place
  * operators "materialize, then release".
  *
  * An operator that feeds one subtree to several consumers must compute it
  * once, but `persist` is the wrong tool inside a function that returns a
  * lazy plan: it registers a `CacheManager` entry the operator can never
  * safely drop (the caller still reads it), so every call leaves its blocks
  * in the session and every later query's cache lookup walks a longer list.
  *
  * [[eager]] takes an eager `localCheckpoint` instead. The blocks belong to
  * the checkpointed RDD that the returned plan scans, not to the session:
  * once the caller drops the result, Spark's `ContextCleaner` frees them at
  * the next GC. The checkpoint also truncates lineage, so no consumer can
  * recompute the subtree (no repeated scan, no re-sampled range
  * boundaries). The price is the repo-wide one for local checkpoints: an
  * executor lost mid-query loses its blocks; rerun the query.
  */
private[graft] object Materialize {

  /** Compute `df` now into block storage owned by the returned frame. */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Frees now, rather than at the next GC, the blocks behind a frame from
    * [[eager]] (or any `localCheckpoint`). `Dataset.unpersist` only clears
    * `CacheManager` entries; checkpoint blocks live on the `LogicalRDD`'s
    * backing RDD. Call only once no plan still reads them: the lineage is
    * gone, so a later read fails instead of recomputing.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
}
