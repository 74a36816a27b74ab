package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Last-write-wins dedup — the engine's identity operator.
  *
  * Reproduces the reference's two dedup layers as one explicit operator:
  * pandas `drop_duplicates(subset=[...], keep='last')` after a time sort
  * (`app/src/crypto_data_pipeline_clickhouse.py:293-294`) and ClickHouse
  * `ReplacingMergeTree` collapse-by-sort-key-at-merge-time
  * (`crypto_data_pipeline_clickhouse.py:541,552,567,579`). Both are
  * "keep the latest version per key"; unlike pandas we require an explicit,
  * total version ordering (Spark has no stable physical row order — see
  * SURVEY.md §7 risk #1), so callers pass `version` columns whose tuple is
  * unique per key (e.g. `(ts_us, event_id)` or `(ingest_seq)`).
  */
object Dedup {

  /** Aggregation-based keep-last: `groupBy(keys).agg(max_by(payload, version))`.
    *
    * Preferred at scale: hash aggregation with map-side partial combine — each
    * input partition reduces to ≤ |distinct keys| rows *before* the exchange,
    * so the shuffle moves one row per (partition, key), not the full fact
    * table. No sort, no full-row window buffer. This is the same asymptotic
    * win ClickHouse gets from merging sorted parts lazily.
    */
  def keepLast(df: DataFrame, keys: Seq[String], version: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val ord     = struct(version.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__last"))
      .select("__last.*")
  }

  /** Window-based keep-last (`row_number() === 1` over a desc version sort).
    * Same semantics as [[keepLast]]; needs a full sort of each key's rows, so
    * it shuffles the whole payload — use when the caller also needs ranks or
    * the top-N versions, otherwise prefer [[keepLast]].
    */
  def keepLastWindow(df: DataFrame, keys: Seq[String], version: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(version.map(col(_).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate removal by content hash: groups rows whose `contentCols`
    * are identical and keeps the row with the smallest `keeper` value — the
    * canonical exact-dedup pass of an LLM training-data pipeline. One
    * hash-shuffle on the 16-byte digest, not on the full text.
    *
    * The fingerprint hashes `to_json(struct(cols))`: field names + JSON
    * quoting make the encoding prefix-free, so neither boundary shifts
    * (("a b","c") vs ("a","b c")) nor NULL placement ((a,NULL,b) vs
    * (a,b,NULL) — to_json drops null fields WITH their names) can make
    * distinct rows collide, unlike any separator-joined concat (concat_ws
    * silently skips NULLs entirely).
    */
  def exactByContent(df: DataFrame, contentCols: Seq[String], keeper: String): DataFrame = {
    val fp = fingerprint(contentCols)
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(fp.as("__fp"))
      .agg(min_by(payload, col(keeper)).as("__keep"))
      .select("__keep.*")
  }

  /** The content fingerprint of [[exactByContent]]. */
  private def fingerprint(contentCols: Seq[String]): Column =
    md5(to_json(struct(contentCols.map(col): _*)))

  /** Exact-duplicate collapse that KEEPS the group structure: one
    * representative row per distinct content (minimum `idCol` — so
    * deterministic) plus a (canonical_id, member_id) membership map.
    *
    * This is the mandatory pre-pass before ANY bucketed near-dup operator
    * on a duplicate-heavy corpus: a group of g identical documents collides
    * in every LSH band / SimHash chunk / shingle posting by construction,
    * forcing C(g,2) bucket work that no banding parameter avoids (measured
    * 10×-duplicated corpus: 25-140× slowdowns; see SCALING.md). Compose as
    * `val (canon, members) = Dedup.collapseByContent(...)` then run
    * MinHashLSH / SimHash / Knn passes on `canon` — a canonical pair
    * (a, b) extends to every member of a's group × every member of b's.
    * Same unambiguous to_json fingerprint as [[exactByContent]].
    */
  def collapseByContent(
      df: DataFrame, contentCols: Seq[String], idCol: String): (DataFrame, DataFrame) = {
    // pin the membership (16 bytes/doc): it is returned, and it also
    // yields the canonical ids of the semi-join below, so a lazy one would
    // read the source corpus twice
    val membership = Materialize.eager(withCanonical(
        df.select(col(idCol).as("__id"), fingerprint(contentCols).as("__fp")))
      .select(col("canonical_id"), col("__id").as("member_id")))
    val canonicalRows = df.join(
      membership.filter(col("member_id") === col("canonical_id"))
        .select(col("member_id").as(idCol)), Seq(idCol), "left_semi")
    (canonicalRows, membership)
  }

  /** The collapse step of [[collapseByContent]] and [[nearDupGroups]]:
    * `frame` (`__id`, `__fp`, …) plus `canonical_id`, the smallest `__id`
    * among the rows sharing the row's fingerprint `__fp`. A window over the
    * fingerprint, so every row carries its canonical id without a join
    * back; rows already hash-partitioned by `__fp` are not shuffled again.
    */
  private def withCanonical(frame: DataFrame): DataFrame =
    frame.withColumn("canonical_id",
      min(col("__id")).over(Window.partitionBy(col("__fp"))))

  /** The COMPLETE near-duplicate grouping pipeline in one call — what a
    * corpus dedup actually runs (q61): collapse exact duplicates, generate
    * exact-Jaccard near-dup pairs on the canonical documents only (the
    * C(g,2)-per-bucket guard), connected-components the pair graph, expand
    * back through membership. Output: (doc_id, group_id) for EVERY input
    * document; keep min(doc_id) per group downstream and the corpus is
    * deduplicated. 10× dup-heavy probe: 3.1 s where the naive banded pass
    * takes 103.6 s (SCALING.md).
    *
    * The corpus is read ONCE, and only canonical docs are hashed: the
    * rows are hash-partitioned by the content fingerprint of
    * [[collapseByContent]], so each one learns its canonical id (the
    * smallest id of its content) in the same pass, and a canonical row's
    * shingle set ([[MinHashLSH.exactNearDuplicates]]') is computed there.
    * (id, canonical id, set or null) is pinned for the call, and the pin's
    * own job observes the row count and the posting total. While both are
    * at most `driverThreshold`, the ids are distinct non-null longs and
    * the canonical docs' pair emissions Σ C(df, 2) are at most
    * `driverThreshold` too, the rest runs on the driver: the exact pair
    * pass's inverted index over the canonical sets, the same Jaccard
    * expression on a local frame (evaluated without a job), the union-find
    * of [[ConnectedComponents]] and the expansion; the result is a local
    * frame. Otherwise the pair pass over the pinned canonical sets,
    * [[ConnectedComponents.run]] and the expansion run distributed, the
    * pair pass and components each still choosing their own path by size,
    * and the result is pinned before the call's pin is released. Both
    * paths return identical rows (spec-pinned); `driverThreshold = 0`
    * forces every step distributed. Each distinct content lands whole in
    * one task, so one very large exact-duplicate group is one long task.
    */
  def nearDupGroups(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.5, maxDf: Int = 256,
      driverThreshold: Long = 1L << 20): DataFrame = {
    require(maxDf >= 0, s"maxDf=$maxDf must be >= 0")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val hashed = withCanonical(df.select(col(idCol).as("__id"),
          fingerprint(Seq(textCol)).as("__fp"), col(textCol).as("__text"))
        .repartition(par, col("__fp")))
      .select(col("__id"), col("canonical_id"),
        when(col("__id") === col("canonical_id"),
          MinHashLSH.shingleSets(col("__text"), w)).as("__th"))
    Materialize.scopedObserving(hashed, count(lit(1)), MinHashLSH.postingTotal) {
      (docs, seen) =>
        val postings = seen.getLong(1)
        // exact copies hold no set, so the rows are bounded on their own
        val driver =
          if (seen.getLong(0) <= driverThreshold &&
              MinHashLSH.postingsFit(postings, driverThreshold) &&
              docs.schema("__id").dataType == LongType)
            groupsOnDriver(docs, idCol, threshold, maxDf, driverThreshold)
          else None
        driver.getOrElse(
          groupsDistributed(docs, postings, idCol, threshold, maxDf, driverThreshold))
    }
  }

  /** [[nearDupGroups]] on the driver over the pinned (__id, canonical_id,
    * __th) rows, or None when the ids are not distinct non-null longs or
    * the canonical docs' pair emissions exceed `bound`.
    */
  private def groupsOnDriver(docs: DataFrame, idCol: String, threshold: Double,
                             maxDf: Int, bound: Long): Option[DataFrame] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.as[(java.lang.Long, java.lang.Long, Array[Long])].collect()
    MinHashLSH.sortedDistinct(rows.map(_._1)).flatMap { _ =>
      val canonical = rows.filter(_._3 != null).sortBy(_._1.longValue)
      MinHashLSH.indexCandidates(spark, canonical.map(_._1.longValue),
          canonical.map(_._3), threshold, maxDf, bound).map { candidates =>
        val comp = ConnectedComponents.components(
          MinHashLSH.jaccardPairs(candidates, threshold)
            .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect())
        val groups = rows.map { case (id, c, _) => Row(id, comp.getOrElse(c, c.longValue)) }
        spark.createDataFrame(java.util.Arrays.asList(groups: _*), StructType(Seq(
          StructField(idCol, LongType, docs.schema("__id").nullable),
          StructField("group_id", LongType))))
      }
    }
  }

  /** [[nearDupGroups]] distributed over the pinned (__id, canonical_id,
    * __th) rows holding `postings` postings: the exact pair pass over the
    * canonical sets, [[ConnectedComponents.run]], the expansion through
    * canonical_id. The result is pinned, so it outlives the caller's
    * release of `docs`.
    */
  private def groupsDistributed(docs: DataFrame, postings: Long, idCol: String,
                                threshold: Double, maxDf: Int,
                                driverThreshold: Long): DataFrame = {
    val pairs = MinHashLSH.exactPairs(
      docs.filter(col("__th").isNotNull).select(col("__id"), col("__th")),
      postings, threshold, maxDf, driverThreshold)
    // neither CC path's result reads `pairs` lazily, so the pair pass's
    // own pin (the distributed postings) can go as soon as CC returns
    val comp =
      try ConnectedComponents.run(pairs, "doc_a", "doc_b", driverThreshold = driverThreshold)
      finally Materialize.release(pairs)
    try Materialize.eager(docs
        .join(comp.withColumnRenamed("v", "canonical_id"), Seq("canonical_id"), "left")
        .select(col("__id").as(idCol),
          coalesce(col("comp"), col("canonical_id")).as("group_id")))
    finally Materialize.release(comp)
  }
}
