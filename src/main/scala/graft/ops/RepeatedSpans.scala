package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Variable-length repeated-span deduplication — the Lee et al. 2022
  * "exact substring" tier (Deduplicating Training Data Makes Language
  * Models Better, §4.1): remove every token that lies inside a span of
  * ≥ `width` tokens occurring MORE THAN ONCE in the corpus, across
  * documents or within one. This is the dedup tier the fixed-window
  * siblings don't cover: [[SpanDedup]] strips fixed non-overlapping
  * windows seen in ≥ maxDf documents (boilerplate), and q338's extent
  * ladder only MEASURES cross-document runs — neither removes a
  * variable-length verbatim passage repeated twice, the memorization
  * vector Lee et al. target.
  *
  * Exactness without suffix arrays or pairwise extension: the union of
  * all repeated spans of length ≥ w equals the union of all repeated
  * w-windows. (⊆: a repeated span of length ≥ w is covered by its own
  * w-windows, and each of those windows repeats wherever the span does.
  * ⊇: a repeated w-window IS a repeated span of length w.) So marking
  * every position covered by a w-window whose corpus-wide occurrence
  * count is ≥ 2, then merging the marked intervals, yields EXACTLY the
  * token set Lee et al.'s suffix-array pass removes — with equi-joins
  * and per-document windows only. The merged intervals are maximal
  * duplicated STRETCHES (adjacent distinct repeated spans fuse), the
  * quantity memorization studies bucket by; removal semantics are
  * unaffected by the fusing since the union is the same.
  *
  * Scale shape (the [[SpanDedup]] discipline):
  *   - the window lattice is one row per (doc, pos) keyed by the fused
  *     60-bit rolling hash ([[graft.functions.HashExpressions
  *     .positionalShingleHash60]]) — the string itself never shuffles;
  *     the ~2⁻⁶⁰ per-pair collision odds are the documented q70/
  *     SnapshotDiff trade (a collision can only over-remove);
  *   - occurrence counts are a two-stage hash agg on the hash (Zipf
  *     head collapses map-side); the verdict join-back is one shuffle
  *     where every lattice row matches ≤ 1 verdict row (no fan-out);
  *   - interval merge is a per-document gaps-and-islands window —
  *     O(doc) state, never O(corpus);
  *   - the lattice is pinned (Materialize) because it feeds both the
  *     count agg and the join-back (the q331/q338 re-tokenize lesson).
  */
object RepeatedSpans {

  /** Per-document repeated-span removal stats + the deduplicated text.
    *
    * @param docs  input with `idCol` (unique) and `toksCol`
    *              (array&lt;string&gt; tokens)
    * @param width minimum span length w (Lee et al. use 50 BPE tokens;
    *              tests use 8 to match the q75/q338 family)
    * @return one row per input document: idCol, n_tok, n_dup_windows,
    *         n_spans, covered_tokens, max_span_len, removed_ppm,
    *         tokens_kept, kept_text
    */
  def dedupStats(docs: DataFrame, idCol: String, toksCol: String,
                 width: Int): DataFrame = {
    require(width >= 2, s"width must be >= 2: $width")
    val base = docs.select(col(idCol), col(toksCol).as("__toks"))
    val wnd = Materialize.eager(base
      .select(col(idCol), posexplode(graft.functions.HashExpressions
        .positionalShingleHash60(col("__toks"), width))
        .as(Seq("__p0", "__h")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("__h")))
    // corpus-wide occurrence count — plain count, NOT countDistinct(doc):
    // a passage repeated inside one document is a duplicate too
    val dupH = wnd.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select(col("__h"))
    val dup = wnd.join(dupH, "__h").select(col(idCol), col("pos"))
    // merge overlapping/adjacent [pos, pos+w-1] intervals: fixed-width
    // intervals sorted by start merge exactly when the start gap ≤ w
    // (gap = w means the windows touch end-to-start: still one stretch)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = dup
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= width, 0)
          .otherwise(1))
      .withColumn("__grp", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("__s"),
        (max(col("pos")) + lit(width - 1)).as("__e"))
    val perDoc = spans.groupBy(col(idCol)).agg(
      count(lit(1)).as("__n_spans"),
      sum(col("__e") - col("__s") + 1).as("__covered"),
      max(col("__e") - col("__s") + 1).as("__max_span"),
      sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__ivs"))
    val dupCnt = dup.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_dup_windows"))
    val emptyIvs = array().cast("array<struct<__s:int,__e:int>>")
    base
      .join(perDoc, Seq(idCol), "left")
      .join(dupCnt, Seq(idCol), "left")
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(coalesce(col("__ivs"), emptyIvs),
          iv => (i + 1) >= iv("__s") && (i + 1) <= iv("__e"))))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tok"),
        coalesce(col("__n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("__covered"), lit(0L)).cast("long")
          .as("covered_tokens"),
        coalesce(col("__max_span"), lit(0L)).cast("long")
          .as("max_span_len"),
        size(col("__kept")).cast("long").as("tokens_kept"),
        array_join(col("__kept"), " ").as("kept_text"))
      .withColumn("removed_ppm",
        expr("(covered_tokens * 1000000) div greatest(n_tok, 1)"))
      .select(col(idCol), col("n_tok"), col("n_dup_windows"),
        col("n_spans"), col("covered_tokens"), col("max_span_len"),
        col("removed_ppm"), col("tokens_kept"), col("kept_text"))
  }
}
