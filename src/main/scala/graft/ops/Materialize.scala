package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Call-scoped materialization of intermediates — the one place in
  * `ops`, `streaming` and `sources` that pins or frees a frame.
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
  * boundaries), and an iterative loop's plan stays constant-size. The
  * price is the repo-wide one for local checkpoints: an executor lost
  * mid-query loses its blocks; rerun the query.
  *
  * A frame that is only needed inside the call (a pinned edge list, a
  * finished round of an iterative loop) is handed to [[release]] as soon
  * as nothing reads it, so a long-lived session's block storage does not
  * grow with every call until a GC happens.
  */
private[graft] object Materialize {

  /** Compute `df` now into block storage owned by the returned frame. */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** [[eager]] without the job: the blocks are written by the first action
    * that scans the returned frame, for a loop whose own next action (a
    * convergence count) is the one job that must run anyway.
    */
  def lazily(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Frees now, rather than at the next GC, the blocks behind frames from
    * [[eager]] or [[lazily]]. `Dataset.unpersist` only clears
    * `CacheManager` entries; checkpoint blocks live on the `LogicalRDD`'s
    * backing RDD, and every `LogicalRDD` in the plan is released — so pass
    * only the frames those methods returned. Call only once no plan still
    * reads them: the lineage is gone, so a later read fails instead of
    * recomputing.
    */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    })
}
