package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    val fp = md5(to_json(struct(contentCols.map(col): _*)))
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(fp.as("__fp"))
      .agg(min_by(payload, col(keeper)).as("__keep"))
      .select("__keep.*")
  }

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
    val fp = md5(to_json(struct(contentCols.map(col): _*)))
    // pin the (id, fingerprint) frame — 40 bytes/doc: canon, membership,
    // and the canonical-row semi-join each re-scanned the source corpus
    // when this was left lazy (round-9 measured scan audit: q61's grouping
    // pipeline read documents 4×, now 2 — this pin and the canonical-text
    // fetch)
    val withFp = Materialize.eager(
      df.select(col(idCol).as("member_id"), fp.as("__fp")))
    // pin canon too (round-13): it has TWO lazy consumers — the
    // membership join and the canonical-row semi-join — so the group-min
    // aggregate over withFp ran twice (profiled at q117: two ~3.3 s-task-
    // time stages computing identical ~3.6k rows); one row per distinct
    // content, so the materialization is tiny
    val canon = Materialize.eager(withFp.groupBy(col("__fp"))
      .agg(min(col("member_id")).as("canonical_id")))
    val membership = withFp.join(canon, "__fp")
      .select(col("canonical_id"), col("member_id"))
    val canonicalRows = df.join(
      canon.select(col("canonical_id").as(idCol)), Seq(idCol), "left_semi")
    (canonicalRows, membership)
  }

  /** The COMPLETE near-duplicate grouping pipeline in one call — what a
    * corpus dedup actually runs (q61): collapse exact duplicates, generate
    * exact-Jaccard near-dup pairs on the canonical documents only (the
    * C(g,2)-per-bucket guard), connected-components the pair graph, expand
    * back through membership. Output: (doc_id, group_id) for EVERY input
    * document; keep min(doc_id) per group downstream and the corpus is
    * deduplicated. 10× dup-heavy probe: 3.1 s where the naive banded pass
    * takes 103.6 s (SCALING.md).
    *
    * Both inner passes choose their execution by input size: the pair pass
    * builds its inverted index on the driver while the canonical docs'
    * shingle postings and pair emissions are at most `driverThreshold`
    * ([[MinHashLSH.exactNearDuplicates]]), and connected components
    * solves on the driver while the pair graph has at most
    * `driverThreshold` edges. Either falls back to its distributed form
    * above the bound; `driverThreshold = 0` forces both distributed.
    */
  def nearDupGroups(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.5, maxDf: Int = 256,
      driverThreshold: Long = 1L << 20): DataFrame = {
    val (pairs, membership) = MinHashLSH.exactNearDuplicatesCollapsed(
      df, idCol, textCol, w, threshold, maxDf, driverThreshold)
    // neither CC path's result reads `pairs` lazily, so the pair pass's
    // own pin (the distributed postings) can go as soon as CC returns
    val comp =
      try ConnectedComponents.run(pairs, "doc_a", "doc_b", driverThreshold = driverThreshold)
      finally Materialize.release(pairs)
    membership
      .join(comp.withColumnRenamed("v", "canonical_id"),
        Seq("canonical_id"), "left")
      .select(col("member_id").as(idCol),
        coalesce(col("comp"), col("canonical_id")).as("group_id"))
  }
}
